package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def emb(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")

  test("quantize/qdot/qnorm2 are exact integer arithmetic") {
    val p = Similarity.prepared(
      emb((1L, Seq(1.0f, 2.0f)), (2L, Seq(0.5f, -0.5f))),
      "vec_id", "embedding")
    val rows = p.orderBy("vec_id").collect()
    assert(rows(0).getSeq[Long](1) === Seq(1000000L, 2000000L))
    assert(rows(0).getAs[Long]("n2") === 5000000000000L)
    assert(rows(1).getSeq[Long](1) === Seq(500000L, -500000L))
  }

  test("native qdot/signBucket agree with the composed HOF forms (property)") {
    val rnd = new scala.util.Random(7)
    val dims = 16
    val vecs = (0L until 60L).map(i =>
      (i, Seq.fill(dims)((rnd.nextDouble() * 20 - 10).toFloat)))
    val p = Similarity.prepared(vecs.toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    // qdot: native == composed on all pairs of a small slice
    val pairs = p.as("a").crossJoin(p.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
    val diff = pairs.select(
      Similarity.qdot(col("a.qv"), col("b.qv")).as("nat"),
      Similarity.qdotComposed(col("a.qv"), col("b.qv")).as("comp"))
      .filter($"nat" =!= $"comp").count()
    assert(diff === 0L)
    // signBucket: native == composed per vector
    val bDiff = p.select(
      Similarity.signBucket($"qv", 6, dims).as("nat"),
      Similarity.signBucketComposed($"qv", 6, dims).as("comp"))
      .filter($"nat" =!= $"comp").count()
    assert(bDiff === 0L)
    // qnorm2 == qdot(v, v) == composed self-dot
    val nDiff = p.select($"n2",
      Similarity.qdotComposed($"qv", $"qv").as("comp"))
      .filter($"n2" =!= $"comp").count()
    assert(nDiff === 0L)
  }

  test("knnBrute: correct neighbor ranking, self excluded") {
    val p = Similarity.prepared(emb(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.0f, 1.0f)), (3L, Seq(-1.0f, 0.0f))),
      "vec_id", "embedding")
    val res = Similarity.knnBrute(p, p.filter($"vec_id" === 0L), k = 2)
      .orderBy("rank").collect()
    assert(res.map(_.getAs[Long]("neighbor_id")).toSeq === Seq(1L, 2L))
    assert(res.forall(_.getAs[Long]("query_id") == 0L))
    assert(res(0).getAs[Double]("cos_sim") > 0.99)
  }

  test("preparedPrefix: ranks on the prefix only; full-width prefix is identity") {
    // vectors built so the 2-dim PREFIX ordering disagrees with the
    // full 4-dim ordering: neighbor 1 matches the query's prefix
    // exactly but diverges in the tail; neighbor 2 the reverse
    val p = Similarity.prepared(emb(
      (0L, Seq(1.0f, 0.0f, 1.0f, 0.0f)),
      (1L, Seq(1.0f, 0.0f, -1.0f, 0.0f)),   // prefix-identical, tail opposite
      (2L, Seq(0.6f, 0.2f, 1.0f, 0.0f)),    // prefix off, tail matches
      (3L, Seq(-1.0f, 0.0f, 0.0f, 0.0f))),
      "vec_id", "embedding")
    val full = Similarity.knnBrute(p, p.filter($"vec_id" === 0L), 1)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(full === Seq(2L), "full-dim ranking prefers the tail match")
    val pp = Similarity.preparedPrefix(p, 2)
    val pre = Similarity.knnBrute(pp, pp.filter($"vec_id" === 0L), 1)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(pre === Seq(1L), "prefix ranking sees only the first dims")
    // norm recomputed over the prefix: cos of the prefix-identical
    // neighbor is exactly 1.0
    val cos = Similarity.knnBrute(pp, pp.filter($"vec_id" === 0L), 1)
      .select("cos_sim").as[Double].collect().head
    assert(math.abs(cos - 1.0) < 1e-12)
    // full-width prefix is the identity view
    val idAll = Similarity.preparedPrefix(p, 4)
    val a = Similarity.knnBrute(p, p.filter($"vec_id" === 0L), 3)
      .select("neighbor_id", "rank").as[(Long, Long)].collect().toSeq
    val b = Similarity.knnBrute(idAll, idAll.filter($"vec_id" === 0L), 3)
      .select("neighbor_id", "rank").as[(Long, Long)].collect().toSeq
    assert(a === b)
  }

  test("knnPrefixRerank: shortlist from the prefix, final order from full vectors") {
    // prefix ranking puts the prefix-identical neighbor first, but a
    // large-enough shortlist lets the exact re-rank restore the true
    // full-dim winner
    val p = Similarity.prepared(emb(
      (0L, Seq(1.0f, 0.0f, 1.0f, 0.0f)),
      (1L, Seq(1.0f, 0.0f, -1.0f, 0.0f)),
      (2L, Seq(0.6f, 0.2f, 1.0f, 0.0f)),
      (3L, Seq(-1.0f, 0.0f, 0.0f, 0.0f))),
      "vec_id", "embedding")
    val got = Similarity.knnPrefixRerank(p, p.filter($"vec_id" === 0L),
        dims = 2, k = 1, shortlist = 3)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(got === Seq(2L), "re-rank must restore the full-dim winner")
    // with shortlist = 1 the true winner never reaches the re-rank —
    // the documented funnel loss
    val tight = Similarity.knnPrefixRerank(p, p.filter($"vec_id" === 0L),
        dims = 2, k = 1, shortlist = 1)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(tight === Seq(1L))
    intercept[IllegalArgumentException] {
      Similarity.knnPrefixRerank(p, p, dims = 2, k = 5, shortlist = 3)
    }
  }

  test("preparedInt8: codes in [-127,127], zero-vector safe, kNN-compatible") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 40L).map(i =>
      (i, Seq.fill(8)((rnd.nextDouble() * 4 - 2).toFloat))) :+
      (40L, Seq.fill(8)(0.0f))
    val p = Similarity.prepared(vecs.toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val p8 = Similarity.preparedInt8(p)
    // every code fits int8; the storage column is genuinely tinyint
    val outOfRange = p8.select(explode($"qv").as("c"))
      .filter($"c" > 127L || $"c" < -127L).count()
    assert(outOfRange === 0L)
    assert(p8.schema("codes").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType ===
      org.apache.spark.sql.types.ByteType)
    // the max-|component| of every nonzero vector maps to exactly ±127
    val maxAbs = p8.filter($"vec_id" < 40L)
      .select(array_max(transform($"qv", c => abs(c))).as("m"))
      .filter($"m" =!= 127L).count()
    assert(maxAbs === 0L)
    // zero vector → all-zero codes, and scoring through cosine is NaN-free
    val z = p8.filter($"vec_id" === 40L).select($"qv").head.getSeq[Long](0)
    assert(z.forall(_ == 0L))
    // drop-in for knnBrute: int8 top-3 broadly agrees with exact top-3
    val exact = Similarity.knnBrute(p, p.filter($"vec_id" === 0L), 3)
      .select($"neighbor_id").as[Long].collect().toSet
    val approx = Similarity.knnBrute(p8, p8.filter($"vec_id" === 0L), 3)
      .select($"neighbor_id").as[Long].collect().toSet
    assert((exact & approx).size >= 2,
      s"int8 recall collapsed: exact=$exact approx=$approx")
  }

  test("bucketed cosineDupPairs is a subset of exact all-pairs, finds near-dups") {
    val p = Similarity.prepared(emb(
      (0L, Seq(1.0f, 0.0f, 0.5f)), (1L, Seq(0.99f, 0.01f, 0.5f)),
      (2L, Seq(-1.0f, 0.2f, -0.4f)), (3L, Seq(0.1f, -0.9f, 0.3f))),
      "vec_id", "embedding")
    val exact = Similarity.cosineDupPairsExact(p, 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val bucketed = Similarity.cosineDupPairs(p, 0.9, nBits = 2, dims = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(bucketed.subsetOf(exact))
    assert(exact.contains((0L, 1L)))
    assert(bucketed.contains((0L, 1L))) // near-identical -> same bucket
  }

  test("signBucket is deterministic and nBits chars long") {
    val p = Similarity.prepared(emb((7L, Seq(0.3f, -0.2f, 0.9f, 0.1f))),
      "vec_id", "embedding")
    val b1 = p.select(Similarity.signBucket($"qv", 6, 4)).as[String].head()
    val b2 = p.select(Similarity.signBucket($"qv", 6, 4)).as[String].head()
    assert(b1 === b2)
    assert(b1.length === 6 && b1.forall(c => c == '0' || c == '1'))
  }

  test("knnIvf: probed lists contain the true neighbor for clustered data") {
    // two clear clusters; centroids = stride sample (vec_id % 2 == 0)
    val p = Similarity.prepared(emb(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.98f, 0.02f)), (3L, Seq(0.97f, 0.01f)),
      (2L, Seq(-1.0f, 0.0f)), (5L, Seq(-0.99f, -0.02f))),
      "vec_id", "embedding")
    val res = Similarity.knnIvf(p, p.filter($"vec_id" === 1L), k = 2,
      stride = 2L, nProbe = 1)
      .orderBy("rank").collect()
    // query 1 probes the +x centroid list; 3=(0.97,0.01) is angularly
    // closer to 1=(0.98,0.02) than 0=(1,0) is
    assert(res.map(_.getAs[Long]("neighbor_id")).toSeq === Seq(3L, 0L))
    assert(res.head.getAs[Double]("cos_sim") > 0.99)
  }

  test("kmeansCentroids: deterministic across partitionings, separates clusters") {
    // three tight, well-separated directions; 20 points each
    val rnd = new scala.util.Random(5)
    def jitter(base: Seq[Float]): Seq[Float] =
      base.map(v => v + (rnd.nextFloat() - 0.5f) * 0.05f)
    val bases = Seq(Seq(1.0f, 0.0f, 0.0f), Seq(0.0f, 1.0f, 0.0f),
      Seq(0.0f, 0.0f, 1.0f))
    val rows = for {
      (b, c) <- bases.zipWithIndex
      i <- 0 until 20
    } yield ((c * 20 + i).toLong, jitter(b))
    val p = Similarity.prepared(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding").cache()
    // stride 20 seeds exactly one vector per true cluster (ids 0,20,40)
    val cents = Similarity.kmeansCentroids(p, stride = 20L, iters = 3)
      .orderBy("cent_id").collect()
    assert(cents.length === 3)
    // converged centroids point along the cluster axes: dominant
    // component is the cluster's base direction
    cents.foreach { r =>
      val qv = r.getSeq[Long](1)
      assert(qv.indexOf(qv.max) === (r.getLong(0) / 20L).toInt)
    }
    // bit-deterministic under a different input partitioning
    val cents2 = Similarity.kmeansCentroids(p.repartition(7), 20L, 3)
      .orderBy("cent_id").collect()
    assert(cents2.map(_.toString).toSeq === cents.map(_.toString).toSeq)
    // IVF probe over the learned centroids finds the true neighbor
    val q = p.filter($"vec_id" === 0L)
    val knn = Similarity.knnIvfWith(p, q,
      Similarity.kmeansCentroids(p, 20L, 3), k = 3, nProbe = 1)
      .orderBy("rank").collect()
    assert(knn.nonEmpty)
    // every returned neighbor is from cluster 0 (ids 0..19)
    assert(knn.forall(_.getAs[Long]("neighbor_id") < 20L))
  }

  test("pqEncode: seed vectors encode to their own codebook entries; codes are m long") {
    val rnd = new scala.util.Random(11)
    val dims = 8
    val rows = (0L until 40L).map(i =>
      (i, Seq.fill(dims)((rnd.nextDouble() * 2 - 1).toFloat)))
    val p = Similarity.prepared(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val cb = Similarity.pqCodebooks(p, m = 4, dims = dims, stride = 10L)
    // stride 10 over ids 0..39 -> seeds {0,10,20,30}, 4 codebook
    // entries per subspace
    assert(cb.select("sub_id").distinct().count() === 4L)
    assert(cb.count() === 16L)
    val codes = Similarity.pqEncode(p, cb, m = 4, dims = dims)
    assert(codes.count() === 40L)
    assert(codes.filter(size($"codes") =!= 4).count() === 0L)
    // a seed vector's subvectors are AT distance 0 from its own
    // entries, so every code must be its own cent_id
    val seedCodes = codes.filter($"vec_id".isin(0L, 10L, 20L, 30L))
      .select($"vec_id", $"codes").collect()
    seedCodes.foreach { r =>
      assert(r.getSeq[Long](1).forall(_ === r.getLong(0)),
        s"seed ${r.getLong(0)} encoded as ${r.getSeq[Long](1)}")
    }
  }

  test("knnPq: ADC ranks the query's cluster on top; self excluded, k respected") {
    val rnd = new scala.util.Random(13)
    val dims = 8
    // 4 well-separated clusters of 10, one seed per cluster at
    // stride 10 (ids 0/10/20/30). Every cluster-0 member encodes to
    // seed 0's entries in all subspaces, so its reconstruction is
    // seed 0 exactly — identical ADC cosine for all of them.
    // centers separated by 10 in EVERY component, so each member's
    // nearest codebook entry per subspace is its own cluster's seed
    // (noise is ±0.01 — never enough to flip a code)
    val centers = (0 until 4).map(c =>
      Seq.tabulate(dims)(d => (c * 10 + d).toFloat))
    val rows = for (c <- 0 until 4; j <- 0 until 10) yield {
      val noise = Seq.fill(dims)((rnd.nextDouble() * 0.02 - 0.01).toFloat)
      ((c * 10 + j).toLong,
        centers(c).zip(noise).map { case (a, b) => a + b })
    }
    val p = Similarity.prepared(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val cb = Similarity.pqCodebooks(p, m = 4, dims = dims, stride = 10L)
    val res = Similarity.knnPq(p, p.filter($"vec_id" === 0L), cb,
      m = 4, dims = dims, k = 5)
    val got = res.orderBy($"rank").collect()
    assert(got.length === 5)
    assert(got.forall(_.getAs[Long]("neighbor_id") !== 0L))
    // all top-5 from the query's cluster (ids 1..9), all at the SAME
    // reconstructed cosine (identical codes), ties broken by id asc
    assert(got.forall(r => (1L to 9L).contains(r.getAs[Long]("neighbor_id"))))
    assert(got.map(_.getAs[Long]("neighbor_id")).toSeq === Seq(1L, 2L, 3L, 4L, 5L))
    assert(got.map(_.getAs[Double]("cos_sim")).distinct.length === 1)
    assert(got.head.getAs[Double]("cos_sim") > 0.9)
  }

  test("knnIvfPq: probe restriction keeps the query's cluster; rerank is exact there") {
    val rnd = new scala.util.Random(17)
    val dims = 8
    val centers = (0 until 4).map(c =>
      Seq.tabulate(dims)(d => (c * 10 + d + 1).toFloat))
    val rows = for (c <- 0 until 4; j <- 0 until 10) yield {
      val noise = Seq.fill(dims)((rnd.nextDouble() * 0.02 - 0.01).toFloat)
      ((c * 10 + j).toLong,
        centers(c).zip(noise).map { case (a, b) => a + b })
    }
    val p = Similarity.prepared(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val cb = Similarity.pqCodebooks(p, m = 4, dims = dims, stride = 10L)
    val coarse = Similarity.strideCentroids(p, 10L)
    // nProbe=1: only the query's own list is ADC-scanned, so every
    // neighbor is from cluster 0 (ids 1..9)
    val res = Similarity.knnIvfPq(p, p.filter($"vec_id" === 0L), coarse, cb,
      m = 4, dims = dims, k = 5, nProbe = 1)
    val ids = res.orderBy($"rank").collect().map(_.getAs[Long]("neighbor_id"))
    assert(ids.length === 5)
    assert(ids.forall(n => n >= 1L && n <= 9L))
    // rerank within the probed list equals brute force restricted to it
    val rr = Similarity.knnIvfPqRerank(p, p.filter($"vec_id" === 0L),
        coarse, cb, m = 4, dims = dims, k = 5, nProbe = 1, shortlist = 9)
      .orderBy($"rank").collect().map(_.getAs[Long]("neighbor_id"))
    val brute = Similarity.knnBrute(
        p.filter($"vec_id" <= 9L), p.filter($"vec_id" === 0L), 5)
      .orderBy($"rank").collect().map(_.getAs[Long]("neighbor_id"))
    assert(rr.toSeq === brute.toSeq)
  }

  test("pqCodebooksTrained: deterministic across partitionings; entries move to cluster means") {
    val rnd = new scala.util.Random(23)
    val dims = 8
    // 4 clusters whose stride seeds (ids 0/10/20/30) are OFF-center
    // members: training must pull each subspace entry toward the
    // cluster's true mean, and determinism must hold on any layout
    val centers = (0 until 4).map(c =>
      Seq.tabulate(dims)(d => (c * 10 + d).toFloat))
    val rows = for (c <- 0 until 4; j <- 0 until 10) yield {
      val noise = Seq.fill(dims)((rnd.nextDouble() * 0.4 - 0.2).toFloat)
      ((c * 10 + j).toLong,
        centers(c).zip(noise).map { case (a, b) => a + b })
    }
    val p = Similarity.prepared(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding").cache()
    val cb = Similarity.pqCodebooksTrained(p, m = 4, dims = dims,
      stride = 10L, iters = 2)
    // m * ksub entries at most (empty entries may drop), dsub-long
    val got = cb.orderBy($"sub_id", $"cent_id").collect()
    assert(got.nonEmpty && got.length <= 16)
    assert(got.forall(_.getSeq[Long](2).length === 2))
    // bit-deterministic under a different input partitioning
    val got2 = Similarity.pqCodebooksTrained(p.repartition(7), m = 4,
        dims = dims, stride = 10L, iters = 2)
      .orderBy($"sub_id", $"cent_id").collect()
    assert(got2.map(_.toString).toSeq === got.map(_.toString).toSeq)
    // iters = 0 degenerates to the stride-seed codebooks exactly
    val seed = Similarity.pqCodebooks(p, m = 4, dims = dims, stride = 10L)
      .orderBy($"sub_id", $"cent_id").collect()
    val zero = Similarity.pqCodebooksTrained(p, m = 4, dims = dims,
        stride = 10L, iters = 0)
      .orderBy($"sub_id", $"cent_id").collect()
    assert(zero.map(_.toString).toSeq === seed.map(_.toString).toSeq)
    // training strictly improves the total encode distortion (the
    // k-means objective): sum of min squared-L2 over the corpus
    def distortion(book: org.apache.spark.sql.DataFrame): Long = {
      val ve = p.select($"vec_id", posexplode(
          transform(sequence(lit(1), lit(4)),
            i => slice($"qv", (i - lit(1)) * lit(2) + lit(1), lit(2)))))
        .select($"vec_id", ($"pos" + 1).cast("long").as("sub_id"),
          $"col".as("v_sub"))
      ve.join(broadcast(book), Seq("sub_id"))
        .select($"vec_id", $"sub_id",
          (Similarity.qdot($"v_sub", $"v_sub") + $"c_n2"
            - lit(2L) * Similarity.qdot($"v_sub", $"c_sub")).as("d2"))
        .groupBy($"vec_id", $"sub_id").agg(min($"d2").as("d2"))
        .agg(sum($"d2")).head.getLong(0)
    }
    val dSeed = distortion(Similarity.pqCodebooks(p, 4, dims, 10L))
    val dTrained = distortion(cb)
    assert(dTrained < dSeed,
      s"training must reduce distortion: seed=$dSeed trained=$dTrained")
  }

  test("IVF-PQ served from the persisted index equals the inline composition") {
    val rnd = new scala.util.Random(17)
    val dims = 8
    val centers = (0 until 4).map(c =>
      Seq.tabulate(dims)(d => (c * 10 + d + 1).toFloat))
    val rows = for (c <- 0 until 4; j <- 0 until 10) yield {
      val noise = Seq.fill(dims)((rnd.nextDouble() * 0.02 - 0.01).toFloat)
      ((c * 10 + j).toLong,
        centers(c).zip(noise).map { case (a, b) => a + b })
    }
    val p = Similarity.prepared(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val cb = Similarity.pqCodebooks(p, m = 4, dims = dims, stride = 10L)
    val coarse = Similarity.strideCentroids(p, 10L)
    val qs = p.filter($"vec_id".isin(0L, 11L))
    Similarity.writePqIndex(p, coarse, cb, m = 4, dims = dims,
      "pq_index_spec", numBuckets = 4)
    try {
      def collectRows(df: org.apache.spark.sql.DataFrame) =
        df.select($"query_id", $"neighbor_id", $"cos_sim", $"rank")
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
          .sortBy(t => (t._1, t._4))
      val inline = collectRows(Similarity.knnIvfPqRerank(p, qs, coarse, cb,
        m = 4, dims = dims, k = 5, nProbe = 2, shortlist = 9))
      val served = collectRows(Similarity.knnIvfPqRerankOnIndex(spark,
        "pq_index_spec", p, qs, coarse, cb,
        m = 4, dims = dims, k = 5, nProbe = 2, shortlist = 9))
      assert(served.nonEmpty)
      assert(served.toSeq === inline.toSeq)
      // and the raw-ADC form agrees too (no rerank masking a drift)
      val inlineAdc = collectRows(Similarity.knnIvfPq(p, qs, coarse, cb,
        m = 4, dims = dims, k = 5, nProbe = 2))
      val servedAdc = collectRows(Similarity.knnIvfPqOnIndex(spark,
        "pq_index_spec", qs, coarse, cb,
        m = 4, dims = dims, k = 5, nProbe = 2))
      assert(servedAdc.toSeq === inlineAdc.toSeq)
    } finally spark.sql("DROP TABLE IF EXISTS pq_index_spec")
  }

  test("filtered kNN: pre-filter is exact and full-recall where post-filter collapses") {
    val rnd = new scala.util.Random(23)
    val dims = 8
    // 4 tight clusters of 25; queries sit in cluster 0
    val centers = (0 until 4).map(c =>
      Seq.tabulate(dims)(d => (c * 10 + d + 1).toFloat))
    val rows = for (c <- 0 until 4; j <- 0 until 25) yield {
      val noise = Seq.fill(dims)((rnd.nextDouble() * 0.02 - 0.01).toFloat)
      ((c * 25 + j).toLong,
        centers(c).zip(noise).map { case (a, b) => a + b })
    }
    val p = Similarity.prepared(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val cb = Similarity.pqCodebooks(p, m = 4, dims = dims, stride = 25L)
    val coarse = Similarity.strideCentroids(p, 25L)
    val qs = p.filter($"vec_id" === 0L)
    Similarity.writePqIndex(p, coarse, cb, m = 4, dims = dims,
      "pqf_index_spec", numBuckets = 4)
    try {
      // selective predicate: ~10% of ids, ~2 eligible per cluster
      val allowed = p.filter($"vec_id" % 10 === 3).select($"vec_id")
      val allowedSet = allowed.as[Long].collect().toSet
      val k = 5
      val pre = Similarity.knnIvfPqRerankFiltered(spark, "pqf_index_spec",
          p, qs, coarse, cb, m = 4, dims = dims, k = k, nProbe = 4,
          shortlist = 10, allowed = allowed)
        .select($"neighbor_id").as[Long].collect().toSeq
      // exactness: nothing outside the allowed set can appear
      assert(pre.nonEmpty && pre.forall(allowedSet))
      // recall vs the filtered brute force at the same k
      val exact = Similarity.knnBrute(
          p.join(allowed, Seq("vec_id"), "left_semi"), qs, k)
        .select($"neighbor_id").as[Long].collect().toSet
      assert(exact.size === k)
      val preRecall = pre.count(exact)
      // POST-filter with the same shortlist budget: rank unfiltered
      // top-10, then filter — at 10% selectivity ~1 survivor expected
      val post = Similarity.knnIvfPqRerankOnIndex(spark, "pqf_index_spec",
          p, qs, coarse, cb, m = 4, dims = dims, k = 10, nProbe = 4,
          shortlist = 10)
        .filter($"neighbor_id".isin(allowedSet.toSeq: _*))
        .limit(k).select($"neighbor_id").as[Long].collect().toSeq
      val postRecall = post.count(exact)
      assert(preRecall >= k - 1,
        s"pre-filter recall $preRecall/$k should be near-perfect")
      assert(postRecall < preRecall,
        s"post-filter ($postRecall) should lose recall vs pre ($preRecall)")
    } finally spark.sql("DROP TABLE IF EXISTS pqf_index_spec")
  }

  test("residual IVF-PQ: stride-1 coarse zeroes residuals making ADC exactly brute force; index serve matches on-codes") {
    val rnd = new scala.util.Random(23)
    val dims = 8
    val rows = (0L until 30L).map(i =>
      (i, Seq.fill(dims)((rnd.nextDouble() * 2 - 1).toFloat)))
    val p = Similarity.prepared(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    def collectRows(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"neighbor_id", $"cos_sim", $"rank")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .sortBy(t => (t._1, t._4)).toSeq
    // stride 1: every vector is its own coarse centroid, so every
    // residual is EXACTLY zero (self-cosine 1.0 beats any other
    // direction on this random corpus), every residual-codebook entry
    // is the zero vector, reconstruction is x̂ = c + 0 = x, and the
    // three-term ADC (q·c + q·r̂; ‖c‖² + 2·c·r̂ + ‖r̂‖²) degenerates to
    // the exact cosine — full-probe residual IVF-PQ IS brute force,
    // cosines included. This pins all three ADC terms at once.
    val self = Similarity.strideCentroids(p, 1L)
    val res0 = Similarity.residualCorpus(p, self)
    assert(res0.filter($"n2" =!= 0L).count() === 0L)
    assert(res0.filter($"cent_id" =!= $"vec_id").count() === 0L)
    val rcb0 = Similarity.pqCodebooks(res0, m = 4, dims = dims, stride = 7L)
    val idx0 = Similarity.pqIndexRowsResidual(p, self, rcb0,
      m = 4, dims = dims)
    val qs = p.filter($"vec_id" < 3)
    val adc = collectRows(Similarity.knnIvfPqResidualOnCodes(idx0, qs,
      self, rcb0, m = 4, dims = dims, k = 5, nProbe = 30))
    val brute = collectRows(Similarity.knnBrute(p, qs, 5))
    assert(adc === brute)
    // a real (stride-10) coarse quantizer: the persisted-table serve
    // path is row-identical to the on-codes form it wraps
    val coarse = Similarity.strideCentroids(p, 10L)
    val rcb = Similarity.pqCodebooks(Similarity.residualCorpus(p, coarse),
      m = 4, dims = dims, stride = 7L)
    Similarity.writePqIndexResidual(p, coarse, rcb, m = 4, dims = dims,
      "pq_residx_spec", numBuckets = 4)
    try {
      val onCodes = collectRows(Similarity.knnIvfPqResidualOnCodes(
        Similarity.pqIndexRowsResidual(p, coarse, rcb, m = 4, dims = dims),
        qs, coarse, rcb, m = 4, dims = dims, k = 5, nProbe = 2))
      val served = collectRows(Similarity.knnIvfPqResidualOnIndex(spark,
        "pq_residx_spec", qs, coarse, rcb, m = 4, dims = dims,
        k = 5, nProbe = 2))
      assert(served.nonEmpty)
      assert(served === onCodes)
      // the re-ranked form respects k and self-exclusion
      val rr = Similarity.knnIvfPqResidualRerankOnIndex(spark,
        "pq_residx_spec", p, qs, coarse, rcb, m = 4, dims = dims,
        k = 5, nProbe = 2, shortlist = 9).collect()
      assert(rr.nonEmpty)
      assert(rr.forall(r => r.getAs[Long]("rank") <= 5L &&
        r.getAs[Long]("neighbor_id") != r.getAs[Long]("query_id")))
    } finally spark.sql("DROP TABLE IF EXISTS pq_residx_spec")
  }

  test("writePqIndexResidual refuses the stride-collision degenerate codebook") {
    // coarse stride == residual-codebook stride: the codebook seeds
    // land on the SAME residue class as the coarse centroids, every
    // seed's residual is the zero vector, and the whole codebook
    // degenerates to zeros (the measured 29->16/50 recall collapse,
    // PROFILE r6). Round 6 pinned this only by a comment; the build
    // must fail fast, not ship a useless index (VERDICT r6 #4).
    val rnd = new scala.util.Random(41)
    val dims = 8
    val rows = (0L until 40L).map(i =>
      (i, Seq.fill(dims)((rnd.nextDouble() * 2 - 1).toFloat)))
    val p = Similarity.prepared(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val coarse = Similarity.strideCentroids(p, 10L)
    val degenerate = Similarity.pqCodebooks(
      Similarity.residualCorpus(p, coarse), m = 4, dims = dims,
      stride = 10L)
    // the stats row sees the collapse: every entry all-zero
    val st = Similarity.pqCodebookStats(degenerate).collect().head
    assert(st.getAs[Long]("n_zero") === st.getAs[Long]("n_entries"))
    val e = intercept[IllegalArgumentException] {
      Similarity.writePqIndexResidual(p, coarse, degenerate,
        m = 4, dims = dims, "pq_residx_degen", numBuckets = 2)
    }
    assert(e.getMessage.contains("degenerate"))
    assert(!spark.catalog.tableExists("pq_residx_degen"))
    // a coprime stride passes the same guard and builds normally
    val healthy = Similarity.pqCodebooks(
      Similarity.residualCorpus(p, coarse), m = 4, dims = dims,
      stride = 7L)
    Similarity.writePqIndexResidual(p, coarse, healthy,
      m = 4, dims = dims, "pq_residx_ok", numBuckets = 2)
    try assert(spark.table("pq_residx_ok").count() === 40L)
    finally spark.sql("DROP TABLE IF EXISTS pq_residx_ok")
  }

  test("coarseForCorpus: caps at nLists, deterministic across partitionings, equals the explicit sample-trained loop") {
    val rnd = new scala.util.Random(59)
    val dims = 8
    val rows = (0L until 80L).map(i =>
      (i, Seq.fill(dims)((rnd.nextDouble() * 2 - 1).toFloat)))
    val p = Similarity.prepared(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select($"cent_id", $"c_qv").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    val c1 = Similarity.coarseForCorpus(p, nLists = 4,
      samplePermille = 500, iters = 2)
    assert(c1.count() <= 4L)
    // partitioning-independent (the exact-int64 kmeans property
    // extended through the sample + seed selection)
    val c2 = Similarity.coarseForCorpus(p.repartition(7), nLists = 4,
      samplePermille = 500, iters = 2)
    assert(key(c1) === key(c2))
    // by construction: the hash sample's 4 HASH-smallest ids as seeds
    // (decorrelated from insertion order), trained by
    // kmeansCentroidsFrom over the capped train set (the cap is a
    // no-op here: 4 × 64 > the sample)
    import org.apache.spark.sql.functions.{md5 => fmd5, concat => fcat, lit => flit}
    def hashOrd(tag: String) =
      fmd5(fcat(flit(tag), $"vec_id".cast("string")))
    val sample = p.filter(Sessions.sampleBucket($"vec_id") < 500)
    val seeds = sample
      .orderBy(hashOrd("coarse-seed"), $"vec_id")
      .limit(4)
      .select($"vec_id".as("cent_id"), $"qv".as("c_qv"), $"n2".as("c_n2"))
    assert(key(c1) === key(
      Similarity.kmeansCentroidsFrom(sample, seeds, iters = 2)))
    // the training cap binds when trainPerList is small: deterministic
    // across partitionings and equal to the explicit loop over the
    // hash-capped train prefix
    val c3 = Similarity.coarseForCorpus(p, nLists = 2,
      samplePermille = 500, iters = 1, trainPerList = 3)
    assert(c3.count() <= 2L)
    assert(key(c3) === key(Similarity.coarseForCorpus(p.repartition(5),
      nLists = 2, samplePermille = 500, iters = 1, trainPerList = 3)))
    val train = sample.orderBy(hashOrd("coarse-train"), $"vec_id").limit(6)
    val seeds2 = train.orderBy(hashOrd("coarse-seed"), $"vec_id").limit(2)
      .select($"vec_id".as("cent_id"), $"qv".as("c_qv"), $"n2".as("c_n2"))
    assert(key(c3) === key(
      Similarity.kmeansCentroidsFrom(train, seeds2, iters = 1)))
  }

  test("index manifest: serve-time compatibility check rejects foreign quantizers") {
    val rnd = new scala.util.Random(79)
    val dims = 8
    val rows = (0L until 40L).map(i =>
      (i, Seq.fill(dims)((rnd.nextDouble() * 2 - 1).toFloat)))
    val p = Similarity.prepared(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val coarse = Similarity.strideCentroids(p, 10L)
    val cb = Similarity.pqCodebooks(p, m = 4, dims = dims, stride = 7L)
    Similarity.writePqIndex(p, coarse, cb, m = 4, dims = dims,
      "pq_manifest_idx", numBuckets = 2)
    try {
      // the quantizers it was built with pass...
      Similarity.requirePqIndexCompatible(spark, "pq_manifest_idx",
        coarse, cb, m = 4, dims = dims)
      // ...a codebook from a DIFFERENT seeding does not (this is the
      // silent-garbage footgun: probes and LUT would decode against
      // entries the codes were never assigned to)
      val foreign = Similarity.pqCodebooks(p, m = 4, dims = dims,
        stride = 9L)
      val e = intercept[IllegalArgumentException] {
        Similarity.requirePqIndexCompatible(spark, "pq_manifest_idx",
          coarse, foreign, m = 4, dims = dims)
      }
      assert(e.getMessage.contains("incompatible"))
      // wrong geometry fails on the parameter row, not a checksum
      intercept[IllegalArgumentException] {
        Similarity.requirePqIndexCompatible(spark, "pq_manifest_idx",
          coarse, cb, m = 2, dims = dims)
      }
      // a missing manifest is an explicit error, not a silent pass
      intercept[IllegalArgumentException] {
        Similarity.requirePqIndexCompatible(spark, "no_such_index",
          coarse, cb, m = 4, dims = dims)
      }
    } finally Seq("pq_manifest_idx", "pq_manifest_idx__manifest")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("pqCodebooksForCorpus pins ksub: entries per subspace bounded, equal to the stride form") {
    val rnd = new scala.util.Random(71)
    val dims = 8
    val rows = (0L until 100L).map(i =>
      (i, Seq.fill(dims)((rnd.nextDouble() * 2 - 1).toFloat)))
    val p = Similarity.prepared(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val cb = Similarity.pqCodebooksForCorpus(p, m = 4, dims = dims,
      ksub = 10)
    // stride = n/ksub = 10 → ceil(100/10) = 10 entries per subspace,
    // and the helper IS pqCodebooks at that stride
    val perSub = cb.groupBy($"sub_id").count()
      .as[(Long, Long)].collect().toMap
    assert(perSub.values.forall(_ <= 10L))
    val explicit = Similarity.pqCodebooks(p, m = 4, dims = dims,
      stride = 10L)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select($"sub_id", $"cent_id", $"c_sub").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
    assert(key(cb) === key(explicit))
    // tiny corpus: stride clamps to 1 (every vector a seed), no crash
    val tiny = Similarity.prepared(rows.take(3).toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    assert(Similarity.pqCodebooksForCorpus(tiny, m = 4, dims = dims,
      ksub = 10).count() > 0L)
  }

  test("rotate: signed permutation is orthogonal — norms and exact kNN preserved bit-for-bit") {
    val rnd = new scala.util.Random(67)
    val dims = 16
    val rows = (0L until 40L).map(i =>
      (i, Seq.fill(dims)((rnd.nextDouble() * 2 - 1).toFloat)))
    val p = Similarity.prepared(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    // the spec is a bijection over 1..dims with ±1 signs, stable
    val spec = Similarity.rotationSpec("rotspec", dims)
    assert(spec.map(_._1).sorted === (1 to dims))
    assert(spec.forall(s => s._2 == 1 || s._2 == -1))
    assert(spec.count(_._2 == -1) > 0) // a seed that flips something
    assert(spec === Similarity.rotationSpec("rotspec", dims))
    val r = Similarity.rotate(p, "rotspec", dims)
    // ±1 entries keep everything in int64: norms are IDENTICAL...
    val n2 = p.select($"vec_id", $"n2").as[(Long, Long)].collect().toMap
    Similarity.rotate(p, "rotspec", dims).select($"vec_id", $"n2")
      .as[(Long, Long)].collect()
      .foreach { case (id, v) => assert(v === n2(id)) }
    // ...and exact kNN — ids, ranks, AND the double cosines — is
    // unchanged (dot products of int64 rotated pairs are bitwise
    // equal, so the one double division at the end is too)
    val qs = p.filter($"vec_id" < 3)
    val rqs = r.filter($"vec_id" < 3)
    def knn(c: org.apache.spark.sql.DataFrame,
            q: org.apache.spark.sql.DataFrame) =
      Similarity.knnBrute(c, q, 5)
        .select($"query_id", $"neighbor_id", $"cos_sim", $"rank")
        .as[(Long, Long, Double, Long)].collect().toSet
    assert(knn(r, rqs) === knn(p, qs))
  }

  test("knnLsh only pairs within buckets and ranks like brute force there") {
    val p = Similarity.prepared(emb(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.95f, 0.05f)), (2L, Seq(-1.0f, -0.1f))),
      "vec_id", "embedding")
    val res = Similarity.knnLsh(p, p.filter($"vec_id" === 0L), k = 5,
      nBits = 3, dims = 2).collect()
    // neighbor 1 shares the bucket (nearly parallel); 2 is opposite-sign
    assert(res.map(_.getAs[Long]("neighbor_id")).toSet === Set(1L))
  }

  // ------------------------------------------------------ trained OPQ

  private val q20 = 1L << 20

  test("polarQ20: permutation input is its own polar factor; orthogonality holds for a generic matrix") {
    // a signed permutation times a positive scalar: polar factor = the
    // permutation itself
    val n = 8
    val perm = Array.tabulate(n, n)((i, j) =>
      if (j == (i * 3 + 1) % n) (if (i % 2 == 0) 5000L else -5000L) else 0L)
    val r = Similarity.polarQ20(perm, 40)
    for (i <- 0 until n; j <- 0 until n) {
      val want = if (perm(i)(j) == 0L) 0L else math.signum(perm(i)(j)) * q20
      assert(math.abs(r(i)(j) - want) <= 2L, s"($i,$j)")
    }
    // generic deterministic matrix: RᵀR ≈ I to Q20 precision
    val rnd = new scala.util.Random(11)
    val m = Array.fill(n, n)((rnd.nextInt(200001) - 100000).toLong)
    val r2 = Similarity.polarQ20(m, 40)
    val rtr = Similarity.matmulQ20(r2.transpose, r2)
    for (i <- 0 until n; j <- 0 until n) {
      val want = if (i == j) q20 else 0L
      assert(math.abs(rtr(i)(j) - want) <= 16L, s"RtR($i,$j)=${rtr(i)(j)}")
    }
  }

  test("rotateDense: identity Q20 is the exact identity; trained rotation preserves norms to quantization precision") {
    val dims = 16
    val rnd = new scala.util.Random(3)
    val vecs = (0L until 40L).map(i =>
      (i, Seq.fill(dims)((rnd.nextDouble() * 2 - 1).toFloat)))
    val p = Similarity.prepared(vecs.toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val ident = Seq.tabulate(dims, dims)((i, j) => if (i == j) q20 else 0L)
    val rot = Similarity.rotateDense(p, ident)
    val a = p.orderBy("vec_id").select("qv").as[Seq[Long]].collect()
    val b = rot.orderBy("vec_id").select("qv").as[Seq[Long]].collect()
    assert(a.toSeq === b.toSeq)
  }

  test("opqRotations: bit-deterministic across partitionings; distortion decreases across alternations (the q117 property)") {
    val dims = 16
    val m = 4
    val rnd = new scala.util.Random(5)
    // correlated channels so a rotation has something to gain
    val vecs = (0L until 120L).map { i =>
      val base = Seq.fill(dims / 2)((rnd.nextDouble() * 2 - 1).toFloat)
      val noise = Seq.fill(dims / 2)((rnd.nextDouble() * 0.2 - 0.1).toFloat)
      (i, base.lazyZip(noise).flatMap((b, nz) => Seq(b, b + nz)).toSeq)
    }
    val p = Similarity.prepared(vecs.toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val rots = Similarity.opqRotations(p, m, dims, stride = 7L,
      pqIters = 2, opqIters = 2)
    val rots2 = Similarity.opqRotations(p.repartition(7), m, dims,
      stride = 7L, pqIters = 2, opqIters = 2)
    assert(rots === rots2)
    // distortion ladder: perm-free baseline vs each trained rotation
    def dist(f: org.apache.spark.sql.DataFrame): Long = {
      val cb = Similarity.pqCodebooksTrained(f, m, dims, 7L, 2)
      Similarity.pqDistortion(f, cb, m, dims).collect()(0)
        .getAs[Long]("distortion")
    }
    val d0 = dist(p)
    val d1 = dist(Similarity.rotateDense(p, rots.head))
    val d2 = dist(Similarity.rotateDense(p, rots.last))
    assert(d1 < d0, s"alternation 1 must cut distortion: $d1 vs $d0")
    assert(d2 <= d1, s"alternation 2 must not regress: $d2 vs $d1")
    // the trained rotation is orthogonal to Q20 precision
    val rq = rots.last.map(_.toArray).toArray
    val rtr = Similarity.matmulQ20(rq.transpose, rq)
    for (i <- 0 until dims; j <- 0 until dims) {
      val want = if (i == j) q20 else 0L
      assert(math.abs(rtr(i)(j) - want) <= 16L)
    }
  }

  test("SQ8: codes in [0,255] (clamped for out-of-range), decode within one cell") {
    val rnd = new scala.util.Random(23)
    val dims = 8
    val vecs = (0L until 50L).map(i =>
      (i, Seq.fill(dims)((rnd.nextDouble() * 4 - 2).toFloat)))
    val p = Similarity.prepared(vecs.toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val coarse = Similarity.strideCentroids(p, 10L)
    val res = Similarity.residualCorpus(p, coarse)
    // bounds trained on HALF the corpus: the other half's residuals
    // can fall outside the trained range and must clamp, not wrap
    val stats = Similarity.sqResidualStats(res.filter($"vec_id" < 25L))
    val enc = Similarity.sqEncodeResiduals(res, stats)
    val codeVals = enc.select(explode($"codes")).as[Long].collect()
    assert(codeVals.forall(c => c >= 0L && c <= 255L))
    // in-training-range rows decode to within one cell of the residual:
    // |r − r̂| ≤ w/255 + 1 per dim (midpoint rule; +1 for the floors)
    val full = Similarity.sqEncodeResiduals(res,
      Similarity.sqResidualStats(res))
    val fullStats = Similarity.sqResidualStats(res)
    val err = full.crossJoin(broadcast(fullStats))
      .join(res.select($"vec_id", $"qv".as("r")), Seq("vec_id"))
      .select($"vec_id", posexplode(zip_with(
        Similarity.sqRecon($"codes", $"vmins", $"ws"), $"r",
        (a, b) => a - b)).as(Seq("d", "diff")), $"ws")
      .select($"diff",
        element_at($"ws", ($"d" + 1).cast("int")).as("w"))
      .filter(abs($"diff") > $"w" / lit(255L) + lit(1L))
      .count()
    assert(err === 0L)
  }

  test("SQ8: serve-from-index == inline, manifest rejects wrong coarse") {
    val rnd = new scala.util.Random(29)
    val dims = 8
    val centers = (0 until 4).map(c =>
      Seq.tabulate(dims)(d => (c * 10 + d + 1).toFloat))
    val rows = for (c <- 0 until 4; j <- 0 until 10) yield {
      val noise = Seq.fill(dims)((rnd.nextDouble() * 0.02 - 0.01).toFloat)
      ((c * 10 + j).toLong,
        centers(c).zip(noise).map { case (a, b) => a + b })
    }
    val p = Similarity.prepared(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val coarse = Similarity.strideCentroids(p, 10L)
    val qs = p.filter($"vec_id".isin(0L, 11L))
    Similarity.writeSqIndex(p, coarse, "sq_index_spec", numBuckets = 4)
    try {
      Similarity.requireSqIndexCompatible(spark, "sq_index_spec", coarse)
      def collectRows(df: org.apache.spark.sql.DataFrame) =
        df.select($"query_id", $"neighbor_id", $"cos_sim", $"rank")
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
          .sortBy(t => (t._1, t._4))
      val inline = collectRows(
        Similarity.knnIvfSq(p, qs, coarse, k = 5, nProbe = 2))
      val served = collectRows(Similarity.knnIvfSqOnIndex(spark,
        "sq_index_spec", qs, coarse, k = 5, nProbe = 2))
      assert(served.nonEmpty)
      assert(served.toSeq === inline.toSeq)
      // near-identical cluster-mates reconstruct well enough that the
      // probed exact ranking survives the codec on separated data
      val exact = collectRows(
        Similarity.knnIvfWith(p, qs, coarse, k = 5, nProbe = 2))
      assert(served.map(t => (t._1, t._2)).toSeq ===
        exact.map(t => (t._1, t._2)).toSeq)
      // wrong coarse set → fail fast, not silent garbage
      val wrong = Similarity.strideCentroids(p.filter($"vec_id" < 30L), 7L)
      val ex = intercept[IllegalArgumentException] {
        Similarity.requireSqIndexCompatible(spark, "sq_index_spec", wrong)
      }
      assert(ex.getMessage.contains("incompatible"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS sq_index_spec")
      spark.sql("DROP TABLE IF EXISTS sq_index_spec__sqstats")
      spark.sql("DROP TABLE IF EXISTS sq_index_spec__manifest")
    }
  }

  test("pqReconstruct: codes decode to their codebook entries in subspace order") {
    val dims = 4
    val p = Similarity.prepared(emb(
      (0L, Seq(1.0f, 2.0f, 3.0f, 4.0f)),
      (1L, Seq(-1.0f, 0.5f, -0.5f, 2.0f)),
      (2L, Seq(0.1f, 0.2f, 0.3f, 0.4f))),
      "vec_id", "embedding")
    val cb = Similarity.pqCodebooks(p, m = 2, dims = dims, stride = 1L)
    val rec = Similarity.pqReconstruct(
        Similarity.pqEncode(p, cb, 2, dims), cb)
      .orderBy("vec_id").as[(Long, Seq[Long])].collect()
    // stride 1 → every vector is a codebook entry → exact round-trip
    val orig = p.orderBy("vec_id").select("vec_id", "qv")
      .as[(Long, Seq[Long])].collect()
    assert(rec.toSeq === orig.toSeq)
  }

  test("knnGraphMutual: edges are exactly the reciprocal top-k pairs") {
    val rnd = new scala.util.Random(59)
    val dims = 8
    val vecs = (0L until 40L).map(i =>
      (i, Seq.fill(dims)((rnd.nextDouble() * 2 - 1).toFloat)))
    val p = Similarity.prepared(vecs.toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val cents = Similarity.strideCentroids(p, 10L)
    // nProbe = centroid count -> IVF candidates == everything, so the
    // directed top-k equals brute force and the mutual graph must be
    // exactly the reciprocal pairs of the brute top-k
    val nCents = cents.count().toInt
    val k = 4
    val directed = Similarity.knnBrute(p, p, k)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = directed.filter { case (a, b) =>
      a < b && directed((b, a)) }
    val got = Similarity.knnGraphMutual(p, cents, k, nProbe = nCents)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    assert(want.nonEmpty && want.size < directed.size / 2,
      "fixture must have both reciprocal and one-way neighbor pairs")
  }

  test("semDedup: drops lower-id epsilon-neighbors within clusters only") {
    // stride 2 over ids 0..5 → centroids 0, 2, 4.
    val p = Similarity.prepared(emb(
      (0L, Seq(1.0f, 0.0f)),       // centroid, cluster 0
      (1L, Seq(0.71f, 0.703f)),    // cluster 0; cos to 0 ≈ 0.71 → kept
      (2L, Seq(0.0f, 1.0f)),       // centroid, cluster 2
      (3L, Seq(0.703f, 0.71f)),    // cluster 2; near-dup of 1 (cos ≈
                                   // 0.999) but a DIFFERENT cluster →
                                   // kept (cluster-scoped compare)
      (4L, Seq(-1.0f, 0.0f)),      // centroid, cluster 4
      (5L, Seq(0.99f, 0.01f))),    // cluster 0; cos to 0 ≈ 0.99995 →
                                   // dropped by the smaller id
      "vec_id", "embedding")
    val cents = Similarity.strideCentroids(p, 2L)
    val res = Similarity.semDedup(p, cents, tau = 0.95)
      .orderBy("vec_id").collect()
    assert(res.map(r => (r.getAs[Long]("vec_id"),
      r.getAs[Long]("cent_id"), r.getAs[Boolean]("is_kept"))).toSeq ===
      Seq((0L, 0L, true), (1L, 0L, true), (2L, 2L, true),
        (3L, 2L, true), (4L, 4L, true), (5L, 0L, false)))
  }

  test("semDedup == assignment + exact same-cluster pairs (property)") {
    val rnd = new scala.util.Random(23)
    val dims = 16
    val vecs = (0L until 60L).map(i =>
      (i, Seq.fill(dims)((rnd.nextDouble() * 2 - 1).toFloat)))
    val p = Similarity.prepared(vecs.toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val cents = Similarity.strideCentroids(p, 7L)
    val tau = 0.5
    val got = Similarity.semDedup(p, cents, tau)
      .collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Long]("cent_id"), r.getAs[Boolean]("is_kept"))).toSet
    // independent reference: exact all-pairs cosine, restricted to
    // same-cluster pairs of the same assignment
    val asg = Similarity.assignClusters(p, cents)
      .select("vec_id", "cent_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dropped = Similarity.cosineDupPairsExact(p, tau)
      .select("id_a", "id_b").collect()
      .filter(r => asg(r.getLong(0)) == asg(r.getLong(1)))
      .map(_.getLong(1)).toSet
    val want = asg.map { case (id, c) => (id, c, !dropped(id)) }.toSet
    assert(got === want)
    assert(dropped.nonEmpty) // the fixture must actually exercise drops
  }

  test("thresholdNeighbors: exact radius semantics; index-served subset honest under a tight shortlist") {
    val rnd = new scala.util.Random(23)
    val dims = 8
    val centers = (0 until 4).map(c =>
      Seq.tabulate(dims)(d => (c * 10 + d + 1).toFloat))
    val rows = for (c <- 0 until 4; j <- 0 until 10) yield {
      val noise = Seq.fill(dims)((rnd.nextDouble() * 0.02 - 0.01).toFloat)
      ((c * 10 + j).toLong,
        centers(c).zip(noise).map { case (a, b) => a + b })
    }
    val p = Similarity.prepared(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    // eval copies of two vectors under offset ids (the q253 shape)
    val test = p.filter($"vec_id".isin(0L, 11L))
      .select(($"vec_id" + 1000L).as("vec_id"), $"qv", $"n2")
    val brute = Similarity.thresholdNeighbors(p, test, tau = 0.9999)
      .as[(Long, Long, Double)].collect()
    // the verbatim copies surface at (numerically) cos 1 — the double
    // sqrt(n2)*sqrt(n2) denominator can land an ulp off exact 1.0
    assert(brute.exists(r => r._1 == 1000L && r._2 == 0L && r._3 > 0.99999))
    assert(brute.exists(r => r._1 == 1011L && r._2 == 11L && r._3 > 0.99999))
    // and every match stays within the copy's own cluster
    assert(brute.forall(r => (r._2 / 10) == ((r._1 - 1000L) / 10)),
      "a radius match crossed clusters")
    val cb = Similarity.pqCodebooks(p, m = 4, dims = dims, stride = 10L)
    val coarse = Similarity.strideCentroids(p, 10L)
    Similarity.writePqIndex(p, coarse, cb, m = 4, dims = dims,
      "thr_index_spec", numBuckets = 4)
    try {
      // a generous shortlist recovers the exact radius set
      val served = Similarity.thresholdNeighborsOnIndex(spark,
          "thr_index_spec", p, test, coarse, cb, m = 4, dims = dims,
          nProbe = 2, shortlist = 40, tau = 0.9999)
        .as[(Long, Long, Double)].collect()
      assert(served.sorted.toSeq === brute.sorted.toSeq)
      // a 1-row shortlist is a SUBSET that still finds the exact copy
      // (identical codes rank first in ADC) — the documented trade
      val tight = Similarity.thresholdNeighborsOnIndex(spark,
          "thr_index_spec", p, test, coarse, cb, m = 4, dims = dims,
          nProbe = 2, shortlist = 1, tau = 0.9999)
        .as[(Long, Long, Double)].collect()
      assert(tight.toSet.subsetOf(brute.toSet))
      assert(tight.exists(r => r._1 == 1000L && r._2 == 0L))

      // round-15 ADVICE pin: with query ids OVERLAPPING the corpus id
      // space (no offset), the served form excludes the self pair at
      // cos ~1.0 exactly like the exact form — the two radius faces
      // share self-exclusion semantics.
      val overlap = p.filter($"vec_id".isin(0L, 11L))
        .select($"vec_id", $"qv", $"n2")
      val bruteO = Similarity.thresholdNeighbors(p, overlap, tau = 0.9999)
        .as[(Long, Long, Double)].collect()
      val servedO = Similarity.thresholdNeighborsOnIndex(spark,
          "thr_index_spec", p, overlap, coarse, cb, m = 4, dims = dims,
          nProbe = 2, shortlist = 40, tau = 0.9999)
        .as[(Long, Long, Double)].collect()
      assert(bruteO.forall(r => r._1 != r._2), "exact form self-paired")
      assert(servedO.forall(r => r._1 != r._2), "served form self-paired")
      assert(servedO.sorted.toSeq === bruteO.sorted.toSeq)
    } finally spark.sql("DROP TABLE IF EXISTS thr_index_spec")
  }


  // ---------------------------------------- served IVF-PQ == inline

  private val sdims = 8

  /** 40 vectors in 4 tight clusters plus exact copies of 0..3 under ids
    * 40..43 (their cosines tie exactly; 40 also duplicates centroid 0),
    * indexed as `table`. Returns (corpus, coarse, codebooks).
    */
  private def servedFixture(table: String) = {
    val rnd = new scala.util.Random(31)
    val centers = (0 until 4).map(c =>
      Seq.tabulate(sdims)(d => (c * 10 + d + 1).toFloat))
    val base = for (c <- 0 until 4; j <- 0 until 10) yield {
      val noise = Seq.fill(sdims)((rnd.nextDouble() * 0.02 - 0.01).toFloat)
      ((c * 10 + j).toLong, centers(c).zip(noise).map { case (a, b) => a + b })
    }
    val dups = base.take(4).map { case (i, v) => (i + 40L, v) }
    val p = Similarity.prepared((base ++ dups).toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val coarse = Similarity.strideCentroids(p, 10L)
    val cb = Similarity.pqCodebooks(p, m = 4, dims = sdims, stride = 10L)
    Similarity.writePqIndex(p, coarse, cb, m = 4, dims = sdims, table,
      numBuckets = 4)
    (p, coarse, cb)
  }

  private def ranked(df: org.apache.spark.sql.DataFrame) =
    df.select($"query_id", $"neighbor_id", $"cos_sim", $"rank")
      .as[(Long, Long, Double, Long)].collect()
      .sortBy(t => (t._1, t._4)).toSeq

  test("served IVF-PQ equals the inline forms exactly (member, tied, zero and several queries)") {
    val t = "pq_served_eq_spec"
    val (p, coarse, cb) = servedFixture(t)
    try {
      // two corpus members, an all-zero vector, an off-cluster vector
      val extra = Similarity.prepared(emb(
          (500L, Seq.fill(sdims)(0.0f)),
          (501L, Seq.tabulate(sdims)(d => (d % 3 - 1).toFloat))),
        "vec_id", "embedding")
      val qs = p.filter($"vec_id".isin(0L, 11L)).unionByName(extra)
      val adcInline = ranked(Similarity.knnIvfPq(p, qs, coarse, cb,
        m = 4, dims = sdims, k = 5, nProbe = 2))
      val adcServed = ranked(Similarity.knnIvfPqOnIndex(spark, t, qs,
        coarse, cb, m = 4, dims = sdims, k = 5, nProbe = 2))
      assert(adcServed.map(_._1).distinct.sorted === Seq(0L, 11L, 500L, 501L))
      assert(adcServed === adcInline)
      // the cases are exercised: exact cos ties, the zero query at 0.0,
      // and the member query never matching itself
      assert(adcServed.groupBy(r => (r._1, r._3)).exists(_._2.size > 1),
        "fixture must produce an exact cos tie")
      assert(adcServed.filter(_._1 == 500L).forall(_._3 == 0.0))
      assert(adcServed.forall(r => r._1 != r._2))
      val rrInline = ranked(Similarity.knnIvfPqRerank(p, qs, coarse, cb,
        m = 4, dims = sdims, k = 5, nProbe = 2, shortlist = 9))
      val rrServed = ranked(Similarity.knnIvfPqRerankOnIndex(spark, t, p,
        qs, coarse, cb, m = 4, dims = sdims, k = 5, nProbe = 2,
        shortlist = 9))
      assert(rrServed === rrInline)
      // a shortlist larger than the probed candidates: fewer than k rows
      val bigInline = ranked(Similarity.knnIvfPqRerank(p, qs, coarse, cb,
        m = 4, dims = sdims, k = 40, nProbe = 2, shortlist = 500))
      val bigServed = ranked(Similarity.knnIvfPqRerankOnIndex(spark, t, p,
        qs, coarse, cb, m = 4, dims = sdims, k = 40, nProbe = 2,
        shortlist = 500))
      assert(bigServed === bigInline)
      assert(bigServed.groupBy(_._1).values.exists(_.size < 40))
      // every index row twice (table and delta both holding a vec_id):
      // a neighbor keeps its one best score, nothing doubles
      val twice = spark.table(t).unionByName(spark.table(t))
      assert(ranked(Similarity.knnIvfPqOnCodes(twice, qs, coarse, cb,
        m = 4, dims = sdims, k = 5, nProbe = 2)) === adcInline)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("served filtered kNN equals the inline pre-filtered form; an allowed set missing every probed list returns no rows") {
    val t = "pq_served_filt_spec"
    val (p, coarse, cb) = servedFixture(t)
    try {
      val qs = p.filter($"vec_id".isin(0L, 11L, 23L))
      def both(allowed: org.apache.spark.sql.DataFrame, nProbe: Int) = (
        ranked(Similarity.knnIvfPqRerank(
          p.join(allowed, Seq("vec_id"), "left_semi"), qs, coarse, cb,
          m = 4, dims = sdims, k = 5, nProbe = nProbe, shortlist = 9)),
        ranked(Similarity.knnIvfPqRerankFiltered(spark, t, p, qs, coarse,
          cb, m = 4, dims = sdims, k = 5, nProbe = nProbe, shortlist = 9,
          allowed = allowed)))
      val (inl, srv) = both(p.filter($"vec_id" % 3 =!= 0).select($"vec_id"), 2)
      assert(srv.nonEmpty && srv === inl)
      assert(srv.forall(_._2 % 3 != 0))
      // cluster 3 only, while nProbe = 1 keeps every query in its own
      // cluster's list (the three queries sit in clusters 0, 1 and 2)
      val (inl0, srv0) = both(p.filter($"vec_id".between(30L, 39L))
        .select($"vec_id"), 1)
      assert(inl0.isEmpty && srv0.isEmpty)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("hybridRrfBatchFromIndex equals fuseRrfRankedPerQuery over the inline vector leg") {
    val t = "pq_served_hyb_spec"
    val (p, coarse, cb) = servedFixture(t)
    val (post, df, st) = ("hyb_spec_post", "hyb_spec_df", "hyb_spec_stats")
    try {
      val docs = (0L until 44L).map(i =>
        (i, s"w${i % 5} w${i % 7} w${i % 3} common")).toDF("doc_id", "text")
      graft.search.Search.writeBm25Index(docs, "doc_id", Seq("text"),
        post, df, st, numBuckets = 2)
      val qToks = Seq((0L, "w1"), (0L, "w3"), (11L, "w2"), (11L, "w6"))
        .toDF("query_id", "tok")
      val qVecs = p.filter($"vec_id".isin(0L, 11L))
      val served = graft.search.Search.hybridRrfBatchFromIndex(spark, post,
        df, st, "text", qToks, t, p, qVecs, coarse, cb, m = 4, dims = sdims,
        n = 8, k = 5, nProbe = 2, shortlist = 12)
      val inline = graft.search.Search.fuseRrfRankedPerQuery(
        graft.search.Search.bm25MultiQueryFromIndex(spark, post, df, st,
          "text", qToks),
        Similarity.knnIvfPqRerank(p, qVecs, coarse, cb, m = 4, dims = sdims,
          k = 8, nProbe = 2, shortlist = 12), n = 8, k = 5)
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.select($"query_id", $"id", $"rrf_fp", $"rank")
          .as[(Long, Long, Long, Long)].collect().sorted.toSeq
      val s = rows(served)
      assert(s.map(_._1).distinct === Seq(0L, 11L))
      assert(s === rows(inline))
    } finally Seq(t, post, df, st).foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("served IVF-PQ compiles no code per request (InSet probe and shortlist filters)") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(41)
    val rows = (0L until 240L).map(i =>
      (i, Seq.fill(sdims)((rnd.nextDouble() * 2 - 1).toFloat)))
    val p = Similarity.prepared(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val (t, coarseT, cbT) = ("pq_codegen_spec", "pq_codegen_coarse", "pq_codegen_cb")
    // 40 lists probed 3 at a time: nearly every request a new probe set
    graft.Tables.writeTable(Similarity.strideCentroids(p, 6L), coarseT)
    graft.Tables.writeTable(Similarity.pqCodebooks(p, 4, sdims, 12L), cbT)
    Similarity.writePqIndex(p, spark.table(coarseT), spark.table(cbT), 4,
      sdims, t, numBuckets = 4)
    val allowed = p.filter($"vec_id" % 3 =!= 0).select($"vec_id")
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    def request(i: Int): Unit = {
      val q = Similarity.prepared(spark.createDataFrame(
        java.util.Collections.singletonList(Row(100000L + i,
          Seq.fill(sdims)((rnd.nextDouble() * 2 - 1).toFloat))), schema),
        "vec_id", "embedding")
      val (coarse, cb) = (spark.table(coarseT), spark.table(cbT))
      assert(Similarity.knnIvfPqRerankOnIndex(spark, t, p, q, coarse, cb,
        4, sdims, 5, 3, 12).collect().length === 5)
      Similarity.knnIvfPqRerankFiltered(spark, t, p, q, coarse, cb, 4,
        sdims, 5, 3, 12, allowed).collect()
    }
    def pass(reqs: Range): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      reqs.foreach(request)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    try {
      pass(0 until 20)
      val second = pass(20 until 40) // 20 new vectors, new probe sets
      assert(second === 0L, s"second pass compiled $second classes")
    } finally Seq(t, coarseT, cbT).foreach(x =>
      spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

}
