package graft
package ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.sql.util.QueryExecutionListener

/** Similarity search over an embedding column (`array<float>`).
  *
  * Determinism design: float components are quantized to integers
  * (floor(x * 1e6) as long) before any arithmetic, so dot products and
  * norms are EXACT int64 sums — order-independent, shuffle-layout-
  * independent, and bit-identical in any engine. The final cosine is a
  * single IEEE double division. At 64 dims and |x| < 100 the products
  * stay far below int64 range. Quantization error (~1e-6 per component,
  * relative) is far below any meaningful similarity threshold.
  *
  * Scale posture: brute force is the small-side baseline (and stays the
  * right answer when the QUERY set is small: broadcast queries x corpus
  * scan is one pass, no shuffle). The LSH variant (random-hyperplane
  * signs, Charikar STOC'02) buckets the corpus so candidate generation
  * is an equi-join on the bucket key — the 100 TB path.
  */
object Similarity {

  /** Quantized integer vector: floor(x * 1e6) per component. */
  def quantize(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * lit(1000000.0)).cast("long"))

  /** Exact int64 dot product of two quantized vectors. Native
    * single-pass expression; `qdotComposed` below is the executable
    * spec it is property-tested against (SimilaritySpec) — the HOF
    * form walks the interpreter per component and dominated every
    * scoring join (PROFILE.md).
    */
  def qdot(a: Column, b: Column): Column = graft.plans.Native.qdot(a, b)

  /** The composed built-in form of [[qdot]] (kept as specification). */
  def qdotComposed(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Exact int64 squared norm of a quantized vector. */
  def qnorm2(v: Column): Column = graft.plans.Native.qdot(v, v)

  /** Cosine similarity from exact integer dot/norms (double at the very
    * end only; norms multiplied in double to dodge int64 overflow).
    * Zero (or quantized-to-zero) vectors score 0.0 — without the guard
    * 0/0 = NaN, and Spark sorts NaN above every double, so a single
    * failed embedding would out-rank all real neighbors and pass every
    * `>= tau` filter.
    */
  def cosine(dot: Column, na2: Column, nb2: Column): Column =
    when(na2 === 0L || nb2 === 0L, lit(0.0))
      .otherwise(dot.cast("double") /
        (sqrt(na2.cast("double")) * sqrt(nb2.cast("double"))))

  /** Corpus with quantized vector + cached squared norm. */
  def prepared(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).as("vec_id"), quantize(col(vecCol)).as("qv"))
      .withColumn("n2", qnorm2($"qv"))

  /** Matryoshka prefix view of a [[prepared]] corpus: rank on only
    * the FIRST `dims` components of the quantized vector (Kusupati et
    * al., "Matryoshka Representation Learning", NeurIPS 2022 —
    * MRL-trained embeddings concentrate meaning in the prefix, so
    * serving trades dimensions for cost AT QUERY TIME without
    * re-embedding: 16 of 64 dims = 4× less ranking arithmetic and
    * scan bytes). The norm is recomputed over the prefix so cosine
    * stays a true cosine in the truncated space. Recall vs the
    * full-dim exact ranking is gate-measured (q227), the q74 int8
    * protocol on the DIMENSION axis instead of the precision axis.
    */
  def preparedPrefix(p: DataFrame, dims: Int): DataFrame = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    p.select($"vec_id", slice($"qv", 1, dims).as("qv"))
      .withColumn("n2", qnorm2($"qv"))
  }

  /** The ONE ranking tail every kNN variant ends in: per-query
    * top-k over (query_id, neighbor_id, cos_sim) rows with the
    * (cos desc, neighbor_id asc) tie-break. Single definition so the
    * brute / LSH / IVF / ADC / residual-ADC / re-rank paths cannot
    * drift on ordering or tie-break semantics (a change here IS the
    * engine's ranking contract, applied everywhere at once).
    */
  private[graft] def topKByCos(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy($"query_id")
      .orderBy($"cos_sim".desc, $"neighbor_id".asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
  }

  /** Brute-force top-k cosine neighbors for a (small, broadcastable)
    * query set: one corpus scan, no shuffle before the per-query top-k.
    * Output: (query_id, neighbor_id, cos_sim, rank), rank 1..k.
    */
  def knnBrute(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select($"vec_id".as("query_id"),
      $"qv".as("q_qv"), $"n2".as("q_n2")))
    val scored = corpus.join(q, $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        cosine(qdot($"qv", $"q_qv"), $"n2", $"q_n2").as("cos_sim"))
    topKByCos(scored, k)
  }

  /** Embedding near-duplicate pairs at scale: candidates are generated
    * by a random-hyperplane sign-bucket equi-join (only bucket-mates
    * are compared — linear in the corpus), then verified with the exact
    * cosine. Recall is governed by nBits: P(same bucket) =
    * (1 - θ/π)^nBits for angle θ, so keep nBits small (2–6) for dup
    * detection (near-identical vectors have θ ≈ 0 and survive any
    * nBits). Returns (id_a, id_b, cos_sim) with id_a < id_b.
    */
  def cosineDupPairs(corpus: DataFrame, tau: Double, nBits: Int,
                     dims: Int,
                     mat: Materializer = Materialize.LocalLazy): DataFrame = {
    // Materialize once: both sides of the candidate self-join read the
    // bucketed corpus (same barrier rationale as Dedup.minhashLshPairs).
    val b = mat(corpus.withColumn("bucket", signBucket($"qv", nBits, dims)))
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        cosine(qdot(col("a.qv"), col("b.qv")),
          col("a.n2"), col("b.n2")).as("cos_sim"))
      .filter($"cos_sim" >= tau)
  }

  /** All-pairs exact cosine pairs — VERIFICATION / SMALL-SLICE ONLY:
    * a non-equi self cross-join, O(n²) by construction. Never run this
    * on a full corpus; use [[cosineDupPairs]] (bucketed) at scale.
    */
  def cosineDupPairsExact(corpus: DataFrame, tau: Double): DataFrame =
    corpus.as("a").join(corpus.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        cosine(qdot(col("a.qv"), col("b.qv")),
          col("a.n2"), col("b.n2")).as("cos_sim"))
      .filter($"cos_sim" >= tau)

  /** The ±1 sign vector of hyperplane p (length dims): component d is
    * +1/-1 from a bit of md5(p|d) — deterministic, engine-portable, no
    * stored plane matrix.
    */
  def planeSigns(p: Int, dims: Int): Seq[Long] =
    (0 until dims).map { d =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$p|$d".getBytes("UTF-8"))
      if ((h(0) & 1) == 1) 1L else -1L
    }

  /** Random-hyperplane sign bucket key (nBits-char '0'/'1' string).
    * sign(h_p · v) uses the exact quantized sum, so bucket assignment
    * is deterministic. The sign vector is a single array literal per
    * plane folded into one zip_with/aggregate pair — plan size is
    * O(nBits), not O(nBits × dims), so 768-dim embeddings don't bloat
    * the expression tree.
    */
  def signBucket(qv: Column, nBits: Int, dims: Int): Column =
    graft.plans.Native.signBucket(qv, nBits, dims)

  /** The composed built-in form of [[signBucket]] (kept as
    * specification; property-tested equal in SimilaritySpec).
    */
  def signBucketComposed(qv: Column, nBits: Int, dims: Int): Column = {
    val bitChars = (0 until nBits).map { p =>
      val signs = array(planeSigns(p, dims).map(lit): _*)
      val dotExpr = aggregate(
        zip_with(qv, signs, (x, sgn) => x * sgn), lit(0L), (acc, v) => acc + v)
      when(dotExpr > 0, "1").otherwise("0")
    }
    concat(bitChars: _*)
  }

  /** Per-vector symmetric int8 quantization of a quantized (int64
    * micro-unit) vector: codes = floor(x * 127.0 / max|x| + 0.5),
    * range [-127, 127]. The arithmetic is (exact int) × double ÷
    * double + double → floor — a fixed IEEE expression tree, so codes
    * are bit-identical in any engine (the q74 oracle replays it in
    * SQL). An all-zero vector maps to all-zero codes.
    *
    * Scale rationale: at 100 TB an `array<float>` embedding column is
    * the dominant storage/shuffle cost of every ANN stage; int8 codes
    * cut vector bytes 4× (float32 → int8) while cosine ordering is
    * preserved to ~1/127 relative resolution — the standard
    * scalar-quantization trade (FAISS SQ8). [[preparedInt8]] keeps the
    * (vec_id, qv, n2) contract so brute/LSH/IVF run on codes
    * unchanged, and q74 measures the recall cost against the exact
    * path.
    */
  def quantizeInt8(qv: Column): Column = {
    val maxabs = array_max(transform(qv, x => abs(x)))
    when(maxabs === 0L, transform(qv, _ => lit(0L)))
      .otherwise(transform(qv, x =>
        floor(x.cast("double") * lit(127.0) / maxabs.cast("double")
          + lit(0.5)).cast("long")))
  }

  /** Int8-quantized corpus in [[prepared]]'s (vec_id, qv, n2) shape —
    * drop-in for [[knnBrute]]/[[knnLsh]]/[[knnIvf]]. `codes` is the
    * actual `array<tinyint>` storage column (what a 100 TB index
    * persists); `qv` carries the same values widened to int64 because
    * the exact-dot kernel ([[qdot]]) operates on int64 arrays.
    */
  def preparedInt8(corpus: DataFrame): DataFrame = {
    val q8 = corpus.select($"vec_id", quantizeInt8($"qv").as("qv"))
    q8.withColumn("codes", transform($"qv", _.cast("tinyint")))
      .withColumn("n2", qnorm2($"qv"))
  }

  /** IVF-style approximate top-k (the inverted-file ANN family): the
    * corpus is partitioned into centroid lists — each vector assigned
    * to its nearest centroid — and a query only scans the lists of its
    * `nProbe` closest centroids. Centroids here are a deterministic
    * stride-sample of the corpus (`vec_id % stride == 0`); production
    * swaps in k-means centers without touching the assignment / probe
    * / candidate machinery, which is the engine part.
    *
    * Scale shape: assignment is a broadcast nested-loop against the
    * (tiny) centroid set folded by a skew-immune max_by aggregate —
    * one corpus scan, one shuffle on vec_id; the probe join is an
    * equi-join on cent_id with the query side broadcast. Recall is
    * governed by nProbe / centroid count, never corpus size.
    */
  /** Deterministic seed centroids: the smallest populated residue
    * class mod stride (not a bare `% stride == 0`, which silently
    * yields ZERO centroids — and an empty result — when no id happens
    * to be a multiple). Computed lazily in-plan via a broadcast 1-row
    * aggregate. Output: (cent_id, c_qv, c_n2).
    */
  def strideCentroids(corpus: DataFrame, stride: Long): DataFrame = {
    val minMod = broadcast(corpus
      .agg(min(pmod($"vec_id", lit(stride))).as("_mm")))
    corpus.crossJoin(minMod)
      .filter(pmod($"vec_id", lit(stride)) === $"_mm")
      .select($"vec_id".as("cent_id"), $"qv".as("c_qv"), $"n2".as("c_n2"))
  }

  /** Distributed Lloyd's k-means over the quantized corpus — the
    * centroid-training step the IVF index wants (seed = [[
    * strideCentroids]]; `knnIvf` keeps the seed path so its oracle
    * stays engine-portable). Every step is deterministic: assignment
    * is the exact-int64 cosine argmax with the same (cos, -cent_id)
    * tie-break as the probe path; the update is the element-wise
    * integer mean (exact int64 sums via a typed Aggregator —
    * partial+final, skew-immune, no explode — then truncating
    * division), so centroids stay quantized and bit-identical on any
    * partitioning. Clusters that lose all members are dropped (the
    * deterministic empty-cluster policy). Per iteration: one broadcast
    * of the (tiny) centroid set + one shuffle for the aggregate.
    */
  def kmeansCentroids(corpus: DataFrame, stride: Long,
                      iters: Int,
                      mat: Materializer = Materialize.LocalLazy): DataFrame =
    kmeansCentroidsFrom(corpus, strideCentroids(corpus, stride), iters, mat)

  /** [[kmeansCentroids]] with an EXPLICIT seed table (cent_id, c_qv,
    * c_n2) — the shared Lloyd's loop behind the stride-seeded form
    * and [[coarseForCorpus]] (sample-trained seeds). Same exact-int64
    * assignment / truncating-mean update / empty-cluster drop rules.
    */
  def kmeansCentroidsFrom(corpus: DataFrame, seeds: DataFrame,
                          iters: Int,
                          mat: Materializer = Materialize.LocalLazy): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    // named encoders instead of spark.implicits._ (its $-interpolator
    // would clash with the package-level ColStr one this file uses)
    implicit val keyEnc: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
    implicit val vecEnc: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
    implicit val rowEnc: org.apache.spark.sql.Encoder[(Long, Seq[Long])] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Seq[Long])]()
    var cents = mat(seeds)
    for (_ <- 1 to iters) {
      val assigned = corpus.crossJoin(broadcast(cents))
        .select($"vec_id", $"qv", $"cent_id",
          cosine(qdot($"qv", $"c_qv"), $"n2", $"c_n2").as("cos_c"))
        .groupBy($"vec_id")
        .agg(max_by(struct($"qv", $"cent_id"),
          struct($"cos_c", -$"cent_id")).as("_a"))
        .select($"_a.cent_id".as("cent_id"), $"_a.qv".as("qv"))
      val updated = assigned.as[(Long, Seq[Long])]
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(vecSumCount.toColumn)
        .map { case (cid, (s, n)) => (cid, s.map(_ / n)) }
        .toDF("cent_id", "c_qv")
        .withColumn("c_n2", qnorm2($"c_qv"))
      cents = mat(updated)
    }
    cents
  }

  /** Production coarse-quantizer sizing (VERDICT r6 #1): `nLists`
    * centroids trained on a deterministic hash-SAMPLE of the corpus —
    * the FAISS recipe (nlist ≈ √n, train on ~a few × nlist points,
    * never the full corpus). This is the helper that makes the
    * O(n^1.5) build the path of least resistance: with |coarse| fixed
    * at √n by the CALLER (who knows n), the corpus-wide assignment
    * costs n × √n exact cosines, while TRAINING touches only the
    * sample (samplePermille‰ of the corpus per iteration). The
    * fixed-stride demo parameterization this replaces made |coarse|
    * ∝ n and the build quadratic (measured 3.7 → 27.1 s across a 10×
    * corpus, PROFILE r6).
    *
    * The TRAINING set is additionally capped at
    * `trainPerList × nLists` points (the FAISS guidance band —
    * 39…256 points per centroid): a permille fraction alone still
    * grows with the corpus, so at 10⁹ vectors a 10% sample would put
    * 10⁸ rows through every Lloyd iteration (sample × √n cosines —
    * the build-side blow-up all of round 7 is about). The cap keeps
    * training cost O(nLists² × trainPerList), independent of corpus
    * size, while the corpus-wide assignment in the index build stays
    * the only O(n × √n) pass.
    *
    * Determinism / oracle portability: the sample is the shared md5
    * permille bucket ([[Sessions.sampleBucket]] — engine-portable,
    * nests with every other sampler); the training cap and the seeds
    * are HASH-smallest prefixes of it (ordered by
    * md5("coarse-train"/"coarse-seed" || vec_id) — smallest-RAW-id
    * prefixes would correlate with insertion order, which at crawl
    * scale means one time slice of the corpus training every list;
    * TakeOrderedAndProject either way — distributed top-k, no global
    * sort); training is [[kmeansCentroidsFrom]]'s exact-int64 Lloyd
    * loop over the capped train set. Every step replays in SQL
    * (q103/q109's oracles).
    */
  def coarseForCorpus(corpus: DataFrame, nLists: Int,
                      samplePermille: Int = 100, iters: Int = 2,
                      trainPerList: Int = 64,
                      mat: Materializer = Materialize.LocalLazy): DataFrame = {
    require(nLists >= 1, s"nLists must be >= 1, got $nLists")
    require(trainPerList >= 1, s"trainPerList must be >= 1, got $trainPerList")
    val sample = corpus.filter(
      Sessions.sampleBucket($"vec_id") < samplePermille)
    val cap = math.min(nLists.toLong * trainPerList,
      Int.MaxValue.toLong).toInt
    val train = sample
      .orderBy(md5(concat(lit("coarse-train"), $"vec_id".cast("string"))),
        $"vec_id")
      .limit(cap)
    val seeds = train
      .orderBy(md5(concat(lit("coarse-seed"), $"vec_id".cast("string"))),
        $"vec_id")
      .limit(nLists)
      .select($"vec_id".as("cent_id"), $"qv".as("c_qv"), $"n2".as("c_n2"))
    kmeansCentroidsFrom(train, seeds, iters, mat)
  }

  /** Exact element-wise int64 vector sum + count (partial+final
    * aggregate; addition is associative+commutative, so the result is
    * partitioning-independent). Keying is the caller's groupByKey —
    * [[kmeansCentroids]] folds per cent_id, [[pqCodebooksTrained]]
    * per (sub_id, cent_id).
    */
  private val vecSumCount =
    new org.apache.spark.sql.expressions.Aggregator[
        Seq[Long], (Seq[Long], Long), (Seq[Long], Long)] {
      private def add(a: Seq[Long], b: Seq[Long]): Seq[Long] =
        if (a.isEmpty) b else if (b.isEmpty) a
        else a.lazyZip(b).map(Math.addExact)
      def zero: (Seq[Long], Long) = (Seq.empty, 0L)
      def reduce(b: (Seq[Long], Long), r: Seq[Long]): (Seq[Long], Long) =
        (add(b._1, r), b._2 + 1L)
      def merge(x: (Seq[Long], Long), y: (Seq[Long], Long)): (Seq[Long], Long) =
        (add(x._1, y._1), x._2 + y._2)
      def finish(r: (Seq[Long], Long)): (Seq[Long], Long) = r
      def bufferEncoder: org.apache.spark.sql.Encoder[(Seq[Long], Long)] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Seq[Long], Long)]()
      def outputEncoder: org.apache.spark.sql.Encoder[(Seq[Long], Long)] =
        bufferEncoder
    }

  def knnIvf(corpus: DataFrame, queries: DataFrame, k: Int,
             stride: Long, nProbe: Int): DataFrame =
    knnIvfWith(corpus, queries, strideCentroids(corpus, stride), k, nProbe)

  /** IVF probe against an explicit centroid table (cent_id, c_qv,
    * c_n2) — e.g. [[kmeansCentroids]] output. The assignment / probe /
    * candidate machinery is identical to [[knnIvf]]; only the centroid
    * source differs.
    */
  def knnIvfWith(corpus: DataFrame, queries: DataFrame,
                 centroids: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val cents = broadcast(centroids)
    val assigned = corpus.crossJoin(cents)
      .select($"vec_id", $"qv", $"n2", $"cent_id",
        cosine(qdot($"qv", $"c_qv"), $"n2", $"c_n2").as("cos_c"))
      .groupBy($"vec_id")
      .agg(max_by(struct($"qv", $"n2", $"cent_id"),
        struct($"cos_c", -$"cent_id")).as("_a"))
      .select($"vec_id", $"_a.qv".as("qv"), $"_a.n2".as("n2"),
        $"_a.cent_id".as("cent_id"))
    val wp = Window.partitionBy($"query_id")
      .orderBy($"cos_c".desc, $"cent_id".asc)
    val probes = queries.crossJoin(cents)
      .select($"vec_id".as("query_id"), $"qv".as("q_qv"), $"n2".as("q_n2"),
        $"cent_id",
        cosine(qdot($"qv", $"c_qv"), $"n2", $"c_n2").as("cos_c"))
      .withColumn("pr", row_number().over(wp))
      .filter($"pr" <= nProbe)
      .select($"query_id", $"q_qv", $"q_n2", $"cent_id")
    val scored = assigned.join(broadcast(probes), Seq("cent_id"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        cosine(qdot($"qv", $"q_qv"), $"n2", $"q_n2").as("cos_sim"))
    topKByCos(scored, k)
  }

  // ------------------------------------------- OPQ-style rotation

  /** The signed-permutation rotation table for `seed`: output
    * position i takes source dimension π(i) with sign σ(π(i)), where
    * π ranks the dimensions by md5(seed || d) and σ(d) flips on the
    * parity of that hash's first hex digit. Derivation is pure
    * string/hash arithmetic so any engine replays it (the q106
    * oracle re-derives it in SQL with the same md5 text).
    */
  def rotationSpec(seed: String, dims: Int): Seq[(Int, Int)] = {
    def hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (1 to dims).sortBy(d => hex(seed + d)).map { d =>
      (d, if (Character.digit(hex(seed + d).charAt(0), 16) % 2 == 0) 1
          else -1)
    }
  }

  /** OPQ-style rotation of a [[prepared]] corpus: a deterministic
    * SIGNED PERMUTATION of the dimensions (the OPQ family's
    * random-rotation member — Ge et al., "Optimized Product
    * Quantization", CVPR 2013, the R-init FAISS's OPQMatrix also
    * starts from). A signed permutation is an orthogonal matrix, so
    * dot products, norms, and therefore EXACT kNN are preserved
    * bit-for-bit (entries are ±1 — the arithmetic stays in int64; no
    * float rotation error enters, unlike a learned dense rotation).
    * What changes is the PQ SUBSPACE PARTITION: `m` consecutive
    * blocks of the rotated layout mix dimensions the raw layout
    * grouped together, decorrelating per-subspace energy — the
    * variance-balancing effect the OPQ paper measures for its random
    * baseline. Everything downstream ([[pqCodebooks]],
    * [[pqCodebooksTrained]], [[pqEncode]], the index builders)
    * consumes the rotated frame UNCHANGED; queries must be rotated
    * with the same seed.
    *
    * Scale shape: a per-row projection — no shuffle, no UDF, stays
    * inside whole-stage codegen.
    */
  def rotate(corpus: DataFrame, seed: String, dims: Int): DataFrame =
    corpus.select($"vec_id",
      array(rotationSpec(seed, dims).map { case (d, s) =>
        element_at($"qv", d) * lit(s.toLong)
      }: _*).as("qv"),
      $"n2")

  // ------------------------------------- TRAINED OPQ rotation (round 8)
  //
  // The full OPQ alternation (Ge et al. CVPR'13 §3.2; FAISS OPQMatrix):
  // repeat { train PQ codebooks on the rotated corpus; re-solve the
  // rotation as the orthogonal Procrustes optimum against the PQ
  // reconstruction }. The Procrustes solution R = UVᵀ of the
  // cross-covariance M = Σ x̂ xᵀ is the POLAR FACTOR of M, computed
  // here by the Newton–Schulz iteration X ← (3X − XXᵀX)/2 — matrix
  // products only, no SVD — in Q20 FIXED-POINT int64 arithmetic. That
  // choice is load-bearing: every multiply/floor is exact integer
  // math, so the training is bit-deterministic on any partitioning and
  // a DuckDB oracle replays the entire loop (q117) — the same reason
  // the k-means family quantizes to int64.

  /** Q20 fixed-point scale of the trained rotation entries. */
  val opqShift: Int = 20
  private val opqOne: Long = 1L << opqShift

  /** Q20 matrix product with per-entry floor: c_ij = floor(Σ_k a_ik·
    * b_kj / 2^20). Entry magnitudes stay ≤ 2^55 for Q20 inputs ≤ 2^28
    * at dims ≤ 64 — inside int64.
    */
  private[graft] def matmulQ20(a: Array[Array[Long]],
                               b: Array[Array[Long]]): Array[Array[Long]] = {
    val n = a.length
    Array.tabulate(n, n) { (i, j) =>
      var s = 0L
      var k = 0
      while (k < n) { s += a(i)(k) * b(k)(j); k += 1 }
      s >> opqShift
    }
  }

  /** Polar factor (= the orthogonal Procrustes optimum) of `m` in Q20
    * fixed point via `nsIters` Newton–Schulz steps. Initial scaling
    * divides by the smallest power of two ≥ dims·max|m_ij| (an exact
    * integer upper bound on the spectral norm, so every singular value
    * lands in (0, 1] where the iteration converges); the fixed
    * iteration count is part of the model spec, like the k-means
    * iteration counts the oracles replay.
    */
  private[graft] def polarQ20(m: Array[Array[Long]],
                              nsIters: Int): Array[Array[Long]] = {
    val n = m.length
    require(n >= 1 && m.forall(_.length == n), "square matrix required")
    val maxabs = m.iterator.flatten.map(math.abs).max
    require(maxabs > 0L, "degenerate cross-covariance: all-zero matrix")
    require(maxabs < (1L << 55), s"cross-covariance too large: $maxabs")
    var s = 1L
    while (n.toLong * maxabs > s) s *= 2L
    val sh = java.lang.Long.numberOfTrailingZeros(s) - opqShift
    var x = m.map(_.map(v => if (sh >= 0) v >> sh else v << (-sh)))
    for (_ <- 1 to nsIters) {
      val t = matmulQ20(x, matmulQ20(x.transpose, x))
      x = Array.tabulate(n, n)((i, j) =>
        Math.floorDiv(3L * x(i)(j) - t(i)(j), 2L))
    }
    x
  }

  /** Apply a Q20 rotation to a [[prepared]] corpus: y_j = floor(
    * Σ_i R[j][i]·x_i / 2^20) — stays in the quantized int64 frame, so
    * everything downstream (codebooks, encode, ADC, brute force)
    * consumes the rotated corpus unchanged. Per-row projection against
    * a literal matrix: no shuffle, no join, no driver involvement at
    * apply time — the 100 TB shape (the rotation is a model constant;
    * FAISS ships it with the index).
    */
  def rotateDense(corpus: DataFrame, rq: Seq[Seq[Long]]): DataFrame = {
    val dims = rq.length
    require(rq.forall(_.length == dims), "square rotation required")
    val rlit = array(rq.map(row => array(row.map(lit(_)): _*)): _*)
    corpus.select($"vec_id",
      transform(sequence(lit(1), lit(dims)), j =>
        shiftright(aggregate(
          zip_with($"qv", element_at(rlit, j), (x, r) => x * r),
          lit(0L), (acc, v) => acc + v), opqShift)).as("qv"))
      .withColumn("n2", qnorm2($"qv"))
  }

  /** PQ reconstruction x̂ = concat of the coded codebook entries —
    * the decode half of [[pqEncode]], feeding the OPQ cross-covariance.
    */
  private[graft] def pqReconstruct(codes: DataFrame,
                                   codebooks: DataFrame): DataFrame =
    codes.select($"vec_id", posexplode($"codes"))
      .select($"vec_id", ($"pos" + 1).cast("long").as("sub_id"),
        $"col".as("cent_id"))
      .join(broadcast(codebooks.select($"sub_id", $"cent_id", $"c_sub")),
        Seq("sub_id", "cent_id"))
      .groupBy($"vec_id")
      .agg(flatten(transform(
        array_sort(collect_list(struct($"sub_id", $"c_sub"))),
        s => s.getField("c_sub"))).as("xh"))

  /** Deterministic OPQ training sample: md5-ordered prefix (the
    * [[coarseForCorpus]] seed-selection pattern). Capping the sample
    * bounds BOTH the training cost and the exact-int64 cross-
    * covariance magnitude (≤ cap · (qscale·|x|max)² per entry)
    * independently of corpus size — rotation training is sample-scale
    * work, exactly as FAISS trains OPQMatrix on a train set, while the
    * APPLY ([[rotateDense]]) streams over the full corpus.
    */
  def opqTrainSample(corpus: DataFrame, cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    corpus.orderBy(md5(concat(lit("opq-train"), $"vec_id".cast("string"))),
      $"vec_id").limit(cap)
  }

  /** The trained OPQ rotation: `opqIters` alternations of per-subspace
    * codebook training ([[pqCodebooksTrained]]) and the Procrustes
    * rotation update ([[polarQ20]] of M = Σ x̂ xᵀ). Returns the Q20
    * rotation matrix R[j][i] (y = Rx); callers apply it with
    * [[rotateDense]] and train final codebooks on the rotated corpus.
    *
    * Scale shape: each iteration is one rotation projection + the
    * codebook-training aggregates over the TRAIN SAMPLE, one encode,
    * one broadcast reconstruction join, and one (j, i, Σ x̂_j·x_i)
    * partial+final aggregate whose output is dims² rows — the only
    * driver materialization is that dims²-bounded model matrix (the
    * same order as the codebook tables the k-means family already
    * broadcasts; nothing corpus-sized ever reaches the driver).
    */
  def opqRotationTrained(train: DataFrame, m: Int, dims: Int, stride: Long,
                         pqIters: Int, opqIters: Int, nsIters: Int = 40,
                         mat: Materializer = Materialize.LocalLazy): Seq[Seq[Long]] =
    opqRotations(train, m, dims, stride, pqIters, opqIters, nsIters, mat).last

  /** [[opqRotationTrained]] exposing the rotation AFTER EACH
    * alternation (1..opqIters) — the q117 distortion audit replays the
    * whole ladder. Each iteration rotates the ORIGINAL train frame by
    * the current total rotation (M is the cross-covariance between the
    * input frame and the reconstruction, so polar(M) is always the
    * full input→codebook-frame map, not an increment).
    */
  def opqRotations(train: DataFrame, m: Int, dims: Int, stride: Long,
                   pqIters: Int, opqIters: Int, nsIters: Int = 40,
                   mat: Materializer = Materialize.LocalLazy): Seq[Seq[Seq[Long]]] = {
    require(opqIters >= 1, s"opqIters must be >= 1, got $opqIters")
    require(nsIters >= 1, s"nsIters must be >= 1, got $nsIters")
    var rq: Array[Array[Long]] =
      Array.tabulate(dims, dims)((i, j) => if (i == j) opqOne else 0L)
    val out = Seq.newBuilder[Seq[Seq[Long]]]
    val x = mat(train)
    for (_ <- 1 to opqIters) {
      val y = mat(rotateDense(x, rq.map(_.toSeq).toSeq))
      val cb = mat(pqCodebooksTrained(y, m, dims, stride, pqIters, mat))
      val xh = pqReconstruct(pqEncode(y, cb, m, dims), cb)
      val xe = x.select($"vec_id", posexplode($"qv"))
        .select($"vec_id", ($"pos" + 1).cast("int").as("i"),
          $"col".as("xv"))
      val he = xh.select($"vec_id", posexplode($"xh"))
        .select($"vec_id", ($"pos" + 1).cast("int").as("j"),
          $"col".as("hv"))
      val mm = Array.ofDim[Long](dims, dims)
      he.join(xe, "vec_id").groupBy($"j", $"i")
        .agg(sum($"hv" * $"xv").as("v"))
        .collect() // dims²-bounded model matrix — see scaladoc
        .foreach(r => mm(r.getAs[Int]("j") - 1)(r.getAs[Int]("i") - 1) =
          r.getAs[Long]("v"))
      rq = polarQ20(mm, nsIters)
      out += rq.map(_.toSeq).toSeq
    }
    out.result()
  }

  /** Total PQ reconstruction distortion Σ_v ‖x_v − x̂_v‖² of a corpus
    * under `codebooks` — exact int64 (the OPQ training objective; per-
    * vector d² ≤ dims·(2·qscale·|x|max)², far inside int64 at gate
    * scale). One encode + one broadcast reconstruction join + one
    * partial+final aggregate.
    */
  def pqDistortion(corpus: DataFrame, codebooks: DataFrame, m: Int,
                   dims: Int): DataFrame =
    corpus.join(pqReconstruct(pqEncode(corpus, codebooks, m, dims),
        codebooks), Seq("vec_id"))
      .select(aggregate(zip_with($"qv", $"xh",
        (a, b) => (a - b) * (a - b)), lit(0L), (acc, v) => acc + v)
        .as("d2"))
      .agg(sum($"d2").as("distortion"))

  // ------------------------------------------------ product quantization

  /** Product-quantization codebooks (Jégou et al. 2011; the FAISS PQ
    * shape): each `dims`-dim vector is split into `m` subvectors of
    * dims/m components, and each subspace gets its own codebook. Here
    * the codebook entries are the subvectors of the deterministic
    * stride-seed vectors ([[strideCentroids]] — the same
    * oracle-portable seed selection the IVF path uses; production
    * swaps in per-subspace k-means without touching the
    * encode/ADC machinery). Output: (sub_id 1..m, cent_id, c_sub,
    * c_n2) — m × (corpus/stride) rows, tiny, broadcastable.
    */
  /** Production codebook sizing — the ksub analog of
    * [[coarseForCorpus]] (round-7 soak finding): a FIXED stride makes
    * ksub = n/stride grow with the corpus, so the encode —
    * corpus × m × ksub argmin lookups — and the per-query LUT go
    * QUADRATIC/linear where FAISS holds ksub constant (256 entries =
    * 8-bit codes). The re-soaked 1×→10× build was flat-per-row only
    * after fixing ksub; with stride=25 it measured 27 s at 10× even
    * with √n coarse lists. One count() at build time sizes the
    * stride; everything downstream is [[pqCodebooks]] unchanged.
    */
  def pqCodebooksForCorpus(corpus: DataFrame, m: Int, dims: Int,
                           ksub: Int): DataFrame = {
    require(ksub >= 1, s"ksub must be >= 1, got $ksub")
    pqCodebooks(corpus, m, dims,
      stride = math.max(1L, corpus.count() / ksub))
  }

  def pqCodebooks(corpus: DataFrame, m: Int, dims: Int,
                  stride: Long): DataFrame = {
    require(m >= 1 && dims % m == 0,
      s"m must divide dims, got m=$m dims=$dims")
    val dsub = dims / m
    strideCentroids(corpus, stride)
      .select($"cent_id", posexplode(
        transform(sequence(lit(1), lit(m)),
          i => slice($"c_qv", (i - lit(1)) * lit(dsub) + lit(1), lit(dsub)))))
      .select(($"pos" + 1).cast("long").as("sub_id"), $"cent_id",
        $"col".as("c_sub"))
      .withColumn("c_n2", qnorm2($"c_sub"))
  }

  /** Per-subspace k-means-TRAINED PQ codebooks — the FAISS training
    * step the stride-seed [[pqCodebooks]] stands in for: each of the
    * `m` subspaces runs its own deterministic Lloyd's loop over the
    * corpus' subvectors, seeded by the stride-seed entries. Assignment
    * uses the SAME exact-int64 squared-L2 argmin and (d2, cent_id asc)
    * tie-break as [[pqEncode]]; the update is the element-wise exact
    * int64 mean (truncating division) via the same partial+final
    * Aggregator as [[kmeansCentroids]], so codebooks are quantized
    * int64 vectors, bit-identical on any partitioning (SimilaritySpec
    * determinism property), and the q93 oracle replays every
    * iteration in SQL. Entries that lose all members are dropped
    * (the deterministic empty-cluster policy).
    *
    * Why it matters at scale: PROFILE.md's measured recall ladder
    * (raw ADC 0–4/10 on the gate corpus with stride seeds) is the
    * cost of UNTRAINED codebooks — the code budget is spent on
    * arbitrary corpus points instead of subspace centroids. Training
    * is per-subspace k-means on dsub-dim vectors: one broadcast of
    * the (m × ksub)-entry codebook + two partial+final aggregates per
    * iteration, never a corpus self-join. The output feeds
    * [[pqEncode]] / [[writePqIndex]] / the ADC family unchanged.
    */
  def pqCodebooksTrained(corpus: DataFrame, m: Int, dims: Int,
                         stride: Long, iters: Int,
                         mat: Materializer = Materialize.LocalLazy): DataFrame = {
    require(m >= 1 && dims % m == 0,
      s"m must divide dims, got m=$m dims=$dims")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val dsub = dims / m
    implicit val keyEnc: org.apache.spark.sql.Encoder[(Long, Long)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Long)]()
    implicit val vecEnc: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
    implicit val rowEnc: org.apache.spark.sql.Encoder[(Long, Long, Seq[Long])] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Long, Seq[Long])]()
    // the (vec_id, sub_id, v_sub) subvector table feeds every
    // iteration's assignment — materialize the explode once
    val ve = mat(corpus.select($"vec_id", posexplode(
        transform(sequence(lit(1), lit(m)),
          i => slice($"qv", (i - lit(1)) * lit(dsub) + lit(1), lit(dsub)))))
      .select($"vec_id", ($"pos" + 1).cast("long").as("sub_id"),
        $"col".as("v_sub")))
    var cb = mat(pqCodebooks(corpus, m, dims, stride))
    for (_ <- 1 to iters) {
      val assigned = ve.join(broadcast(cb), Seq("sub_id"))
        .select($"vec_id", $"sub_id", $"v_sub", $"cent_id",
          ($"c_n2" - lit(2L) * qdot($"v_sub", $"c_sub")).as("d2p"))
        .groupBy($"vec_id", $"sub_id")
        .agg(min_by(struct($"cent_id", $"v_sub"),
          struct($"d2p", $"cent_id")).as("_a"))
        .select($"sub_id", $"_a.cent_id".as("cent_id"),
          $"_a.v_sub".as("v_sub"))
      val updated = assigned.as[(Long, Long, Seq[Long])]
        .groupByKey(r => (r._1, r._2))
        .mapValues(_._3)
        .agg(vecSumCount.toColumn)
        .map { case ((sub, cent), (s, n)) => (sub, cent, s.map(_ / n)) }
        .toDF("sub_id", "cent_id", "c_sub")
        .withColumn("c_n2", qnorm2($"c_sub"))
      cb = mat(updated)
    }
    cb
  }

  /** PQ encoding: each vector becomes `m` small codes — the nearest
    * codebook entry per subspace by EXACT int64 squared L2 distance
    * (argmin over c_n2 − 2·dot; the vector's own subnorm is constant
    * per row and drops out), ties to the smaller cent_id. Output
    * (vec_id, codes array<long>) — at 100 TB this is the index
    * column: m bytes-ish per vector instead of dims × 8, the same
    * storage story as [[preparedInt8]] but at a much deeper
    * compression point.
    *
    * Scale shape: one corpus scan, a ×m Generate (no shuffle), a
    * broadcast join against the codebook, then two partial+final
    * aggregates (argmin per (vec, sub), assembly per vec) — the
    * second aggregate's input is m rows per vector, already tiny.
    */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame, m: Int,
               dims: Int): DataFrame = {
    require(m >= 1 && dims % m == 0,
      s"m must divide dims, got m=$m dims=$dims")
    val dsub = dims / m
    corpus.select($"vec_id", posexplode(
        transform(sequence(lit(1), lit(m)),
          i => slice($"qv", (i - lit(1)) * lit(dsub) + lit(1), lit(dsub)))))
      .select($"vec_id", ($"pos" + 1).cast("long").as("sub_id"),
        $"col".as("v_sub"))
      .join(broadcast(codebooks), Seq("sub_id"))
      .select($"vec_id", $"sub_id", $"cent_id",
        ($"c_n2" - lit(2L) * qdot($"v_sub", $"c_sub")).as("d2p"))
      .groupBy($"vec_id", $"sub_id")
      .agg(min_by($"cent_id", struct($"d2p", $"cent_id")).as("code"))
      .groupBy($"vec_id")
      .agg(transform(
        array_sort(collect_list(struct($"sub_id", $"code"))),
        s => s.getField("code")).as("codes"))
  }

  /** The broadcast ADC lookup table: per (query, subspace, codebook
    * entry), the exact int64 partial dot q_sub · c_sub plus the
    * entry's subnorm — (queries × m × ksub) rows, tiny.
    */
  private def pqLut(queries: DataFrame, codebooks: DataFrame, m: Int,
                    dims: Int): DataFrame = {
    val dsub = dims / m
    broadcast(queries
      .select($"vec_id".as("query_id"), $"n2".as("q_n2"), posexplode(
        transform(sequence(lit(1), lit(m)),
          i => slice($"qv", (i - lit(1)) * lit(dsub) + lit(1), lit(dsub)))))
      .select($"query_id", $"q_n2",
        ($"pos" + 1).cast("long").as("sub_id"), $"col".as("q_sub"))
      .join(codebooks, Seq("sub_id"))
      .select($"query_id", $"q_n2", $"sub_id", $"cent_id",
        qdot($"q_sub", $"c_sub").as("pdot"), $"c_n2"))
  }

  /** ADC scoring + top-k over an exploded code table (vec_id, sub_id,
    * cent_id) — shared tail of [[knnPq]] and [[knnIvfPq]]. The code
    * table may carry a query_id column (IVF-restricted candidates);
    * then the LUT join includes it so each candidate scores only
    * against its probing queries.
    */
  /** ADC scoring WITHOUT the final top-k: (query_id, neighbor_id,
    * cos_sim) for every probed candidate. Factored from [[adcTopK]]
    * so the compacted-state serve path can score the bucketed index
    * table and the small uncompacted delta separately and merge the
    * two candidate-sized frames BEFORE ranking — duplicates across
    * the two sources are value-identical rows (frozen quantizers), so
    * a max-per-(query, neighbor) merge is exact and never shuffles
    * anything corpus-sized ([[graft.streaming.StreamingUpsert]]).
    */
  private[graft] def adcScores(codeRows: DataFrame,
                               lut: DataFrame): DataFrame = {
    val joinKeys =
      if (codeRows.columns.contains("query_id"))
        Seq("query_id", "sub_id", "cent_id")
      else Seq("sub_id", "cent_id")
    codeRows.join(lut, joinKeys)
      .filter($"vec_id" =!= $"query_id")
      .groupBy($"query_id", $"vec_id")
      .agg(sum($"pdot").as("rdot"), sum($"c_n2").as("r_n2"),
        max($"q_n2").as("q_n2"))
      .select($"query_id", $"vec_id".as("neighbor_id"),
        cosine($"rdot", $"r_n2", $"q_n2").as("cos_sim"))
  }

  private def adcTopK(codeRows: DataFrame, lut: DataFrame,
                      k: Int): DataFrame =
    topKByCos(adcScores(codeRows, lut), k)

  /** PQ top-k via asymmetric distance computation (ADC): the query
    * keeps its full vector; each candidate's dot product and norm are
    * reconstructed from per-(subspace, code) lookup tables
    * (q·x̂ = Σ_j q_sub_j · c(j, code_j), ‖x̂‖² = Σ_j c_n2 — both exact
    * int64 since reconstruction is concatenation), cosine taken at
    * the very end in double. The corpus side touches ONLY the codes
    * column: the scan/shuffle volume of the ranking stage is the
    * compressed index, never the raw vectors — the whole point of PQ
    * at 100 TB. LUTs are (queries × m × ksub) rows — broadcast.
    */
  def knnPq(corpus: DataFrame, queries: DataFrame, codebooks: DataFrame,
            m: Int, dims: Int, k: Int): DataFrame =
    knnPqOnCodes(pqEncode(corpus, codebooks, m, dims), queries,
      codebooks, m, dims, k)

  /** ADC top-k over a PRECOMPUTED (vec_id, codes) table — the serve
    * path when the codes are a persisted index asset (encode once at
    * build time, like [[graft.ops.Dedup.writeLshAssets]]); per-query
    * cost is then the codes scan + broadcast LUT join only.
    */
  def knnPqOnCodes(codes: DataFrame, queries: DataFrame,
                   codebooks: DataFrame, m: Int, dims: Int,
                   k: Int): DataFrame =
    topKByCos(pqAdcScores(codes, queries, codebooks, m, dims), k)

  /** [[knnPqOnCodes]] WITHOUT the final top-k — the flat-PQ member of
    * the join-form scorer family (with [[residualAdcScores]]), for
    * the compacted-state serve's table+delta merge.
    */
  private[graft] def pqAdcScores(codes: DataFrame, queries: DataFrame,
                                 codebooks: DataFrame, m: Int,
                                 dims: Int): DataFrame = {
    val codeRows = codes
      .select($"vec_id", posexplode($"codes"))
      .select($"vec_id", ($"pos" + 1).cast("long").as("sub_id"),
        $"col".as("cent_id"))
    adcScores(codeRows, pqLut(queries, codebooks, m, dims))
  }

  /** IVF-PQ: the production index composition (FAISS IVFPQ) — a
    * coarse quantizer partitions the corpus into centroid lists, a
    * query ADC-scans ONLY its `nProbe` closest lists, and each
    * candidate is scored from its PQ codes. At 100 TB this multiplies
    * the two savings: the probe restriction cuts the scanned ROWS to
    * nProbe/nLists of the corpus, and PQ cuts the BYTES per scanned
    * row to the code width — the full-vector column is never read.
    * Both centroid sets broadcast; the candidate restriction is an
    * equi-join on cent_id.
    */
  /** Coarse-quantizer assignment: each corpus vector to its nearest
    * centroid by the (cos desc, cent_id asc) rule — one broadcast
    * nested-loop + a skew-immune max_by fold. Output (vec_id, cent_id).
    * Shared by [[knnIvfPq]] (inline) and [[writePqIndex]] (build time),
    * so the persisted index's lists are bit-identical to the inline
    * path's.
    */
  private def coarseAssign(corpus: DataFrame, cents: DataFrame): DataFrame =
    corpus.crossJoin(cents)
      .select($"vec_id", $"cent_id",
        cosine(qdot($"qv", $"c_qv"), $"n2", $"c_n2").as("cos_c"))
      .groupBy($"vec_id")
      .agg(max_by($"cent_id", struct($"cos_c", -$"cent_id")).as("cent_id"))

  /** Per-query probe lists: the `nProbe` closest centroids of each
    * query vector. Output (query_id, cent_id) — queries × nProbe rows,
    * broadcastable.
    */
  private def probeLists(queries: DataFrame, cents: DataFrame,
                         nProbe: Int): DataFrame = {
    val wp = Window.partitionBy($"query_id")
      .orderBy($"cos_c".desc, $"cent_id".asc)
    queries.crossJoin(cents)
      .select($"vec_id".as("query_id"), $"cent_id",
        cosine(qdot($"qv", $"c_qv"), $"n2", $"c_n2").as("cos_c"))
      .withColumn("pr", row_number().over(wp))
      .filter($"pr" <= nProbe)
      .select($"query_id", $"cent_id")
  }

  def knnIvfPq(corpus: DataFrame, queries: DataFrame,
               coarse: DataFrame, codebooks: DataFrame,
               m: Int, dims: Int, k: Int, nProbe: Int): DataFrame = {
    val cents = broadcast(coarse)
    val assigned = coarseAssign(corpus, cents)
    val probes = probeLists(queries, cents, nProbe)
    val cand = assigned.join(broadcast(probes), Seq("cent_id"))
      .select($"vec_id", $"query_id")
    val codeRows = pqEncode(corpus, codebooks, m, dims)
      .join(cand, Seq("vec_id"))
      .select($"vec_id", $"query_id", posexplode($"codes"))
      .select($"vec_id", $"query_id",
        ($"pos" + 1).cast("long").as("sub_id"), $"col".as("cent_id"))
    adcTopK(codeRows, pqLut(queries, codebooks, m, dims), k)
  }

  /** Persist the IVF-PQ index as a BUCKETED catalog table — the ANN
    * analog of [[graft.ops.Dedup.writeLshAssets]]: (vec_id, cent_id,
    * codes), bucketed by cent_id. Pay the coarse assignment, the PQ
    * encode, and their corpus scans ONCE at build time; every later
    * [[knnIvfPqOnIndex]] query reads only this table — m small codes
    * per vector, never the raw vector column. At 100 TB the serve
    * path IS the operator: the raw `qv` column (dims × 8 bytes/row)
    * is exactly what the PQ index exists to avoid reading per query,
    * and before this asset existed the query path re-encoded the
    * corpus per run (VERDICT r5 "What's wrong" #1).
    *
    * Sizing `coarse` (measured, ScaleSoakIndex/PROFILE r6): the build
    * cost is corpus × |coarse| exact cosines, so a stride-derived
    * centroid set (|coarse| ∝ n) makes the build quadratic while a
    * fixed stride keeps LIST SIZE constant — which is why the serve
    * path measured flat across a 10× corpus. Production picks
    * |coarse| ≈ √n (the FAISS nlist guidance) or trains
    * [[kmeansCentroids]] on a sample; any (cent_id, c_qv, c_n2)
    * table works — the stride seed here is the oracle-portable demo
    * parameterization.
    */
  def writePqIndex(corpus: DataFrame, coarse: DataFrame,
                   codebooks: DataFrame, m: Int, dims: Int,
                   indexTable: String, numBuckets: Int = 32): Unit = {
    Tables.writeBucketed(pqIndexRows(corpus, coarse, codebooks, m, dims),
      indexTable, Seq("cent_id"), numBuckets)
    Tables.writeTable(pqIndexManifest(coarse, codebooks, m, dims),
      indexTable + "__manifest")
  }

  /** One-row provenance manifest written next to every persisted PQ
    * index: the build parameters plus exact-int64 content checksums
    * of the two quantizer tables. Serving an index against the WRONG
    * coarse set or codebooks silently returns garbage rankings (the
    * probes address lists that were assigned under different
    * centroids; the LUT decodes codes against different entries) —
    * [[requirePqIndexCompatible]] turns that into a fail-fast check a
    * serving session runs ONCE at startup, off the per-query path.
    * Checksums are order-independent sums over the broadcast-size
    * tables, so the check costs two tiny aggregates.
    */
  def pqIndexManifest(coarse: DataFrame, codebooks: DataFrame,
                      m: Int, dims: Int): DataFrame = {
    val coarseSum = coarse.agg(
      count(lit(1)).as("n_lists"),
      sum($"cent_id" * 31L + $"c_n2").as("coarse_checksum"))
    val cbSum = codebooks.agg(
      count(lit(1)).as("n_cb_entries"),
      sum($"sub_id" * 131L + $"cent_id" * 31L + $"c_n2")
        .as("cb_checksum"))
    coarseSum.crossJoin(cbSum)
      .select(lit(m).as("m"), lit(dims).as("dims"),
        $"n_lists", $"coarse_checksum", $"n_cb_entries", $"cb_checksum")
  }

  /** Fail fast when a persisted PQ index is about to be served with
    * quantizers it was not built with — see [[pqIndexManifest]].
    * No-op (with a warning condition impossible to hit silently) for
    * pre-manifest indexes: absence of the manifest table throws, so
    * rebuild or skip the check explicitly.
    */
  def requirePqIndexCompatible(spark: org.apache.spark.sql.SparkSession,
                               indexTable: String, coarse: DataFrame,
                               codebooks: DataFrame, m: Int,
                               dims: Int): Unit = {
    val manTable = indexTable + "__manifest"
    require(spark.catalog.tableExists(manTable),
      s"no manifest $manTable — index predates manifests; rebuild " +
        "with writePqIndex/writePqIndexResidual")
    val want = pqIndexManifest(coarse, codebooks, m, dims).head()
    val have = spark.table(manTable).head()
    Seq("m", "dims", "n_lists", "coarse_checksum", "n_cb_entries",
      "cb_checksum").foreach { f =>
      require(want.getAs[Any](f) == have.getAs[Any](f),
        s"index $indexTable is incompatible with the supplied " +
          s"quantizers: manifest $f = ${have.getAs[Any](f)}, " +
          s"supplied $f = ${want.getAs[Any](f)}")
    }
  }

  /** The (vec_id, cent_id, codes) index rows for `corpus` — the
    * shared build step of [[writePqIndex]] (batch, bucketed catalog
    * table) and [[graft.streaming.StreamingUpsert.pqIndexBatch]]
    * (incremental, per-batch state), so the two index forms are
    * row-identical by construction.
    */
  def pqIndexRows(corpus: DataFrame, coarse: DataFrame,
                  codebooks: DataFrame, m: Int, dims: Int): DataFrame =
    coarseAssign(corpus, broadcast(coarse))
      .join(pqEncode(corpus, codebooks, m, dims), Seq("vec_id"))

  // ------------------------------------------ served IVF-PQ (index)
  //
  // The persisted-index serve runs as three round trips and no
  // shuffle. (1) The small operands — query vectors, coarse centroids,
  // codebooks — are collected to the driver, which picks each query's
  // `nProbe` lists and builds its ADC lookup table. (2) ONE scan stage
  // reads the index filtered to the probed lists (bucket pruning
  // applies), scores each row against the queries that probe its list
  // and keeps a bounded per-query top list per partition; the driver
  // merges the partition lists. (3) The re-rank fetches only the
  // shortlisted vectors and ranks them exactly. Every number comes
  // from the inline plans' arithmetic — the qdot kernel's own eval
  // (ShingleUtil.qdot), the [[cosine]] rule, [[topKByCos]]'s
  // (cos desc, id asc) order under Spark's double ordering — so the
  // served results equal [[knnIvfPq]] / [[knnIvfPqRerank]] exactly
  // (SimilaritySpec), in four jobs per request and no shuffle.
  //
  // The served functions therefore run their jobs when CALLED and
  // return a local DataFrame (query_id, neighbor_id, cos_sim, rank).
  // Driver traffic is O(queries × (nLists·dims + m·ksub)) operands in,
  // O(partitions × queries × shortlist) candidates back — the volume
  // the broadcasts of the join form shipped. Query, centroid, codebook
  // and corpus vectors must agree in length (a mismatch fails the
  // call; the inline plans would rank such rows as NULL) and query
  // ids must be distinct.

  /** A vector resolved on the driver: id, quantized components (as
    * the qdot kernel's ArrayData) and squared norm.
    */
  private final case class DVec(id: Long, qv: ArrayData, n2: Long)

  /** (id, quantized vector, squared norm) from the three columns named. */
  private def vecRows(df: DataFrame, id: String, qv: String,
                      n2: String): DataFrame =
    df.select(col(id).cast("long"), col(qv).cast("array<bigint>"),
      col(n2).cast("long"))

  /** The [[vecRows]] frame collected to the driver. */
  private def collectVecs(rows: DataFrame): Array[DVec] =
    rows.collect().map { r =>
      require(!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2),
        s"NULL in a served vector row: $r")
      DVec(r.getLong(0),
        UnsafeArrayData.fromPrimitiveArray(r.getSeq[Long](1).toArray),
        r.getLong(2))
    }

  /** The qdot kernel's eval (the same code the compiled plans call). */
  private def dot(a: ArrayData, b: ArrayData): Long = {
    val d = org.apache.spark.sql.graftnative.ShingleUtil.qdot(a, b)
    require(d != null, s"vector length mismatch: ${a.numElements()} vs " +
      s"${b.numElements()} components (or a NULL component)")
    d.longValue
  }

  /** [[cosine]] on the driver: the same IEEE operations, same order. */
  private def cosineEval(dot: Long, na2: Long, nb2: Long): Double =
    if (na2 == 0L || nb2 == 0L) 0.0
    else dot.toDouble / (math.sqrt(na2.toDouble) * math.sqrt(nb2.toDouble))

  /** [[topKByCos]]'s order over (neighbor_id, cos_sim): cos desc under
    * Spark's double ordering (-0.0 equals 0.0, NaN largest), id asc.
    */
  private val byCos: Ordering[(Long, Double)] = (a, b) => {
    val c = SQLOrderingUtil.compareDoubles(b._2, a._2)
    if (c != 0) c else java.lang.Long.compare(a._1, b._1)
  }

  /** The best `depth` (neighbor_id, cos_sim) pairs offered, one per
    * neighbor: a neighbor offered twice keeps its larger cos (the
    * max-per-(query, neighbor) merge of table and delta rows). Exact
    * for any split of the offers: a pair in the global top-`depth` is
    * in the top-`depth` of every subset that contains it.
    */
  private final class TopList(depth: Int) {
    private val ranked = new java.util.TreeSet[(Long, Double)](byCos)
    private val best = scala.collection.mutable.HashMap[Long, Double]()
    def offer(id: Long, cos: Double): Unit = {
      val prev = best.get(id)
      if (prev.forall(c => SQLOrderingUtil.compareDoubles(c, cos) < 0)) {
        prev.foreach(c => ranked.remove((id, c)))
        ranked.add((id, cos))
        best(id) = cos
        if (ranked.size > depth) best.remove(ranked.pollLast()._1)
      }
    }
    def result: Seq[(Long, Double)] = ranked.asScala.toSeq
  }

  /** `df` filtered to `ids` in its long column `name` through an
    * InSet ([[graft.plans.Native.longInSet]]): one compiled class for
    * every id set, bucket pruning and parquet pushdown kept.
    */
  private def whereIdIn(df: DataFrame, name: String,
                        ids: Iterable[Long]): DataFrame = {
    val c = if (df.schema(name).dataType == LongType) col(name)
      else col(name).cast("long")
    df.filter(graft.plans.Native.longInSet(c, ids))
  }

  /** The driver-resolved operands of one serve call: per query its
    * probe lists and ADC table — `pdot(q)(j)(e)` is the exact int64
    * q_sub_j · c(j, e), `cn2(j)(e)` the entry's subnorm, `entry(j)`
    * maps subspace j's codebook cent_id to e.
    */
  private final class AdcOperands(val qs: Array[DVec],
                                  val probesOf: Map[Long, Array[Int]],
                                  val entry: Array[Map[Long, Int]],
                                  val pdot: Array[Array[Array[Long]]],
                                  val cn2: Array[Array[Long]])
      extends Serializable {

    /** One scan partition's (query index, neighbor_id, cos_sim)
      * bounded top lists over (vec_id, cent_id, codes) rows — the
      * inline ADC: per-subspace LUT lookups summed as exact int64
      * (a code without a codebook entry contributes nothing, as the
      * inner LUT join drops it), self-matches excluded.
      */
    def scorePartition(rows: Iterator[InternalRow],
                       depth: Int): Iterator[(Int, Long, Double)] = {
      val tops = Array.fill(qs.length)(new TopList(depth))
      val m = entry.length
      rows.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2))
          probesOf.get(r.getLong(1)).foreach { probing =>
            val vid = r.getLong(0)
            val codes = r.getArray(2)
            // (subspace, entry) of every code with a codebook entry
            val hits = (0 until math.min(codes.numElements(), m)).flatMap(j =>
              if (codes.isNullAt(j)) None
              else entry(j).get(codes.getLong(j)).map(e => (j, e)))
            def sum(v: (Int, Int) => Long) =
              hits.foldLeft(0L) { case (a, (j, e)) => Math.addExact(a, v(j, e)) }
            if (hits.nonEmpty) {
              val rn2 = sum((j, e) => cn2(j)(e))
              probing.foreach { qi =>
                val q = qs(qi)
                if (q.id != vid)
                  tops(qi).offer(vid,
                    cosineEval(sum((j, e) => pdot(qi)(j)(e)), rn2, q.n2))
              }
            }
          }
      }
      tops.iterator.zipWithIndex.flatMap {
        case (t, qi) => t.result.map { case (id, c) => (qi, id, c) }
      }
    }
  }

  /** Step 1: collect the operands, pick each query's `nProbe` lists
    * by [[probeLists]]' rule and build its ADC table by [[pqLut]]'s.
    * The three collects run one after the other: overlapping the
    * codebook collect on a helper thread saved about 10 ms a request
    * once run-to-run drift is taken out (PROFILE.md), inside the spread.
    */
  private def adcOperands(queries: DataFrame, coarse: DataFrame,
                          codebooks: DataFrame, m: Int, dims: Int,
                          nProbe: Int): AdcOperands = {
    require(m >= 1 && dims % m == 0,
      s"m must divide dims, got m=$m dims=$dims")
    val dsub = dims / m
    val qFrame = vecRows(queries, "vec_id", "qv", "n2")
    val cFrame = vecRows(coarse, "cent_id", "c_qv", "c_n2")
    val cbFrame = codebooks.select(col("sub_id").cast("long"),
      col("cent_id").cast("long"), col("c_sub").cast("array<bigint>"),
      col("c_n2").cast("long"))
    val qs = collectVecs(qFrame)
    val cents = collectVecs(cFrame)
    val cbRows = cbFrame.collect()
    require(qs.map(_.id).distinct.length == qs.length,
      "served IVF-PQ needs distinct query vec_ids")
    val probesOf = qs.indices
      .flatMap { qi =>
        val q = qs(qi)
        cents.map(c => (c.id, cosineEval(dot(q.qv, c.qv), q.n2, c.n2)))
          .sorted(byCos).take(nProbe).map { case (cid, _) => (cid, qi) }
      }
      .groupBy(_._1).map { case (cid, qis) => cid -> qis.map(_._2).toArray }
    val bySub = cbRows.filter(r => !r.isNullAt(0) && r.getLong(0) >= 1L &&
        r.getLong(0) <= m.toLong)
      .groupBy(_.getLong(0).toInt - 1)
    val subs = (0 until m).map(j => bySub.getOrElse(j, Array.empty[Row]))
    val entry = subs.map { rows =>
      val ids = rows.map(_.getLong(1))
      require(ids.distinct.length == ids.length,
        "codebook has a duplicated (sub_id, cent_id) entry")
      ids.zipWithIndex.toMap
    }.toArray
    val cn2 = subs.map(_.map(_.getLong(3))).toArray
    val cSub = subs.map(_.map(r =>
      UnsafeArrayData.fromPrimitiveArray(r.getSeq[Long](2).toArray))).toArray
    val pdot = qs.map { q =>
      val v = q.qv.toLongArray()
      Array.tabulate(m) { j =>
        val qSub = UnsafeArrayData.fromPrimitiveArray(
          v.slice(j * dsub, j * dsub + dsub))
        cSub(j).map(c => dot(qSub, c))
      }
    }
    new AdcOperands(qs, probesOf, entry, pdot, cn2)
  }

  /** Step 2: the ADC top-`depth` of every query over the probed lists
    * of `idx` — one scan stage, merged on the driver. Returns the
    * ranked (neighbor_id, cos_sim) lists in query order.
    */
  private def adcTop(ops: AdcOperands, idx: DataFrame,
                     depth: Int): Array[Seq[(Long, Double)]] = {
    val merged = Array.fill(ops.qs.length)(new TopList(depth))
    if (ops.probesOf.nonEmpty) {
      val scan = whereIdIn(idx, "cent_id", ops.probesOf.keys)
        .select(col("vec_id").cast("long"), col("cent_id").cast("long"),
          col("codes").cast("array<bigint>"))
      val qe = scan.queryExecution
      val parts = SQLExecution.withNewExecutionId(qe, Some(ScanExecution)) {
        qe.toRdd.mapPartitions(rows => ops.scorePartition(rows, depth))
          .collect()
      }
      parts.foreach { case (qi, id, c) => merged(qi).offer(id, c) }
    }
    merged.map(_.result)
  }

  /** The SQL execution name of the served scan (step 2). */
  private[graft] val ScanExecution = "graft.ivfpq.scan"

  /** The QueryExecutions of the served scans that `body` runs — what
    * plan tests and audits read, since a served result is a local
    * frame. Waits (up to 30 s) for the listener bus to deliver one.
    */
  private[graft] def servedScans(spark: org.apache.spark.sql.SparkSession)(
      body: => Unit): Seq[QueryExecution] = {
    val got = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val l = new QueryExecutionListener {
      def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        if (name == ScanExecution) got.add(qe)
      def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (got.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
      got.asScala.toSeq
    } finally spark.listenerManager.unregister(l)
  }

  private val rankedSchema = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("neighbor_id", LongType, nullable = false),
    StructField("cos_sim", DoubleType, nullable = false),
    StructField("rank", LongType, nullable = false)))

  /** Ranked lists as the (query_id, neighbor_id, cos_sim, rank) frame
    * [[topKByCos]] returns.
    */
  private def rankedFrame(spark: org.apache.spark.sql.SparkSession,
                          qs: Array[DVec],
                          lists: Array[Seq[(Long, Double)]]): DataFrame = {
    val rows = qs.indices.flatMap { qi =>
      lists(qi).zipWithIndex.map { case ((id, c), i) =>
        Row(qs(qi).id, id, c, i + 1L)
      }
    }
    spark.createDataFrame(rows.asJava, rankedSchema)
  }

  /** Step 3: exact re-rank of each query's shortlist, fetching only
    * the shortlisted vectors of `corpus` (by [[exactScores]]' rule).
    */
  private def rerankShortlists(corpus: DataFrame, ops: AdcOperands,
                               shortlists: Array[Seq[(Long, Double)]],
                               k: Int): DataFrame = {
    val ids = shortlists.iterator.flatMap(_.map(_._1)).toSet
    val fetched =
      if (ids.isEmpty) Map.empty[Long, Array[DVec]]
      else collectVecs(vecRows(whereIdIn(corpus, "vec_id", ids), "vec_id",
        "qv", "n2")).groupBy(_.id)
    val ranked = ops.qs.zip(shortlists).map { case (q, sl) =>
      sl.flatMap { case (id, _) =>
        fetched.getOrElse(id, Array.empty[DVec]).toSeq.map(v =>
          (id, cosineEval(dot(v.qv, q.qv), v.n2, q.n2)))
      }.sorted(byCos).take(k)
    }
    rankedFrame(corpus.sparkSession, ops.qs, ranked)
  }

  /** IVF-PQ top-k over an index persisted by [[writePqIndex]] —
    * result-identical to [[knnIvfPq]] (same coarse rule, same codes;
    * q94 proves it against q91's oracle), served in the three round
    * trips above: the scan reads only the probed lists' vec_id /
    * cent_id / codes (PlanSpec pins it: bucket-pruned, no Exchange),
    * never a raw vector. Runs its jobs when called.
    */
  def knnIvfPqOnIndex(spark: org.apache.spark.sql.SparkSession,
                      indexTable: String, queries: DataFrame,
                      coarse: DataFrame, codebooks: DataFrame,
                      m: Int, dims: Int, k: Int, nProbe: Int): DataFrame =
    knnIvfPqOnCodes(spark.table(indexTable), queries, coarse, codebooks,
      m, dims, k, nProbe)

  /** [[knnIvfPqOnIndex]] over an explicit (vec_id, cent_id, codes)
    * DataFrame — the same serve for index rows that are not a catalog
    * table, e.g. [[graft.streaming.StreamingUpsert.pqIndexFromState]]
    * or the compacted table ∪ delta of
    * [[graft.streaming.StreamingUpsert.pqIndexServe]]: a vec_id found
    * in several rows keeps its best cos. Runs its jobs when called.
    */
  def knnIvfPqOnCodes(idx: DataFrame, queries: DataFrame,
                      coarse: DataFrame, codebooks: DataFrame,
                      m: Int, dims: Int, k: Int, nProbe: Int): DataFrame = {
    val ops = adcOperands(queries, coarse, codebooks, m, dims, nProbe)
    rankedFrame(queries.sparkSession, ops.qs, adcTop(ops, idx, k))
  }

  /** [[knnIvfPqRerank]] served from the persisted index: the ADC
    * shortlist of [[knnIvfPqOnIndex]], then an exact re-rank that
    * fetches full vectors for ONLY the queries × shortlist winners.
    * Runs its jobs when called.
    */
  def knnIvfPqRerankOnIndex(spark: org.apache.spark.sql.SparkSession,
                            indexTable: String, corpus: DataFrame,
                            queries: DataFrame, coarse: DataFrame,
                            codebooks: DataFrame, m: Int, dims: Int,
                            k: Int, nProbe: Int,
                            shortlist: Int): DataFrame =
    servedRerank(spark.table(indexTable), corpus, queries, coarse,
      codebooks, m, dims, k, nProbe, shortlist)

  private def servedRerank(idx: DataFrame, corpus: DataFrame,
                           queries: DataFrame, coarse: DataFrame,
                           codebooks: DataFrame, m: Int, dims: Int,
                           k: Int, nProbe: Int,
                           shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist must be >= k, got $shortlist < $k")
    val ops = adcOperands(queries, coarse, codebooks, m, dims, nProbe)
    rerankShortlists(corpus, ops, adcTop(ops, idx, shortlist), k)
  }

  /** FILTERED vector search — the "metadata predicate + kNN" serve
    * every production vector store needs (FAISS IDSelector, the
    * filtered-search face of Vespa/Qdrant/Milvus): top-k among ONLY
    * the vectors in `allowed` (the ids surviving a metadata
    * predicate — at scale, a pushed-down scan of the metadata table).
    *
    * PRE-filter semantics: the scanned code rows are restricted by a
    * semi-join on vec_id BEFORE ADC ranking, so the shortlist spends
    * its whole budget on eligible vectors and the filter is EXACT (a
    * non-allowed id can never appear). The alternative —
    * post-filtering an unfiltered top-k — silently returns fewer than
    * k rows and loses recall as selectivity grows (at 1% selectivity
    * an unfiltered top-50 shortlist expects ~0.5 eligible survivors);
    * SimilaritySpec measures that collapse against this form. The
    * price of pre-filtering is the usual IVF caveat: a highly
    * selective predicate thins every probed list, so recall at fixed
    * nProbe degrades toward brute-force-on-survivors — raise nProbe
    * with selectivity (the FAISS guidance; the q139 audit pins recall
    * vs FILTERED brute force at the gate parameters).
    *
    * Scale shape: [[knnIvfPqRerankOnIndex]]'s three round trips with
    * the vec_id semi-join inside the scan stage (AQE broadcasts the
    * allowed side when small); the exact re-rank fetches full vectors
    * for queries × shortlist survivors only, all of them eligible.
    * Runs its jobs when called.
    */
  def knnIvfPqRerankFiltered(spark: org.apache.spark.sql.SparkSession,
                             indexTable: String, corpus: DataFrame,
                             queries: DataFrame, coarse: DataFrame,
                             codebooks: DataFrame, m: Int, dims: Int,
                             k: Int, nProbe: Int, shortlist: Int,
                             allowed: DataFrame): DataFrame =
    servedRerank(spark.table(indexTable)
        .join(allowed.select($"vec_id"), Seq("vec_id"), "left_semi"),
      corpus, queries, coarse, codebooks, m, dims, k, nProbe, shortlist)

  // ------------------------------------------------ residual encoding

  /** The residual corpus — each vector minus its coarse centroid
    * (FAISS IVFPQ's `by_residual`, the default in production FAISS):
    * output (vec_id, cent_id, qv = x − c(cent_id), n2 = ‖residual‖²).
    * The assignment rule is bit-identical to [[coarseAssign]] (argmax
    * cosine, ties to the smaller cent_id) so an index built from this
    * frame lands vectors in the same lists as the non-residual path.
    * Residuals of quantized int64 vectors are exact int64 element-wise
    * differences — no new approximation enters here.
    *
    * Why residuals: within a list, vectors share their centroid's
    * direction, so residuals concentrate near the origin with far less
    * variance than raw vectors — the same m-byte code budget quantizes
    * a much smaller cell of space, which is where FAISS IVFPQ's recall
    * advantage over flat PQ comes from. Measured here the same way
    * (q101 vs q91's recall audit protocol, PROFILE round 6).
    *
    * Scale shape: one corpus scan (broadcast nested-loop against the
    * tiny centroid set), one shuffle for the skew-immune max_by fold —
    * identical to [[coarseAssign]]; the subtraction rides the same
    * projection. The output feeds [[pqCodebooks]] /
    * [[pqCodebooksTrained]] / [[pqEncode]] UNCHANGED (it has the same
    * (vec_id, qv, n2) contract as [[prepared]]).
    */
  def residualCorpus(corpus: DataFrame, coarse: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(coarse))
      .select($"vec_id", $"qv", $"cent_id", $"c_qv",
        cosine(qdot($"qv", $"c_qv"), $"n2", $"c_n2").as("cos_c"))
      .groupBy($"vec_id")
      .agg(max_by(struct($"cent_id", $"qv", $"c_qv"),
        struct($"cos_c", -$"cent_id")).as("_a"))
      .select($"vec_id", $"_a.cent_id".as("cent_id"),
        zip_with($"_a.qv", $"_a.c_qv", (x, c) => x - c).as("qv"))
      .withColumn("n2", qnorm2($"qv"))

  /** The (vec_id, cent_id, codes) index rows of the RESIDUAL IVF-PQ
    * index: codes are [[pqEncode]] over [[residualCorpus]], the list
    * id is the coarse assignment the residual was taken against —
    * same schema as [[pqIndexRows]], so the bucketed-asset and
    * incremental-state plumbing is shared. `rcb` must be codebooks
    * over the SAME residual frame (stride-seeded or trained).
    */
  def pqIndexRowsResidual(corpus: DataFrame, coarse: DataFrame,
                          rcb: DataFrame, m: Int, dims: Int,
                          mat: Materializer = Materialize.LocalLazy): DataFrame = {
    // both join branches (the assignment keys and the encode input)
    // consume the residual frame — without a barrier each branch
    // re-runs the corpus × centroids assignment (build-time cost ×2)
    val res = mat(residualCorpus(corpus, coarse))
    res.select($"vec_id", $"cent_id")
      .join(pqEncode(res, rcb, m, dims), Seq("vec_id"))
  }

  /** Codebook health audit: ONE row — entry count, all-zero entries,
    * within-subspace duplicate entries. A zero or duplicated entry is
    * a wasted slot of the 2^bits-per-subspace code budget; a codebook
    * that is MOSTLY zeros/duplicates means the training input was
    * degenerate (the measured failure: residual codebook seeds taken
    * at the SAME stride as the coarse quantizer — every seed is its
    * own centroid, every residual seed is the zero vector, recall
    * collapses 29→16/50). Cost: one aggregate over the
    * broadcast-size codebook table.
    */
  def pqCodebookStats(cb: DataFrame): DataFrame =
    cb.groupBy($"sub_id")
      .agg(count(lit(1)).as("n"),
        sum(when($"c_n2" === 0L, 1L).otherwise(0L)).as("n_zero"),
        countDistinct($"c_sub").as("n_distinct"))
      .agg(sum($"n").as("n_entries"),
        sum($"n_zero").as("n_zero"),
        sum($"n" - $"n_distinct").as("n_dup"))

  /** Build-time guard (VERDICT r6 #4): fail the index BUILD — not the
    * first degraded query weeks later — when over half the codebook
    * is zero or duplicate entries. One driver-side action over the
    * broadcast-size codebook table (same cost class as the k≤500
    * demo collects; the corpus is never touched).
    */
  private def requireHealthyCodebook(cb: DataFrame, what: String): Unit = {
    val r = pqCodebookStats(cb).head()
    val n = r.getAs[Long]("n_entries")
    val z = r.getAs[Long]("n_zero")
    val d = r.getAs[Long]("n_dup")
    require(n > 0 && 2 * (z + d) < n,
      s"degenerate $what PQ codebook: $n entries, $z all-zero, $d " +
        "within-subspace duplicates — for a residual codebook this " +
        "usually means its seed stride collides with the coarse " +
        "quantizer's (every coarse seed has a zero residual); pick " +
        "coprime strides or train with pqCodebooksTrained")
  }

  /** Persist the residual IVF-PQ index as a bucketed catalog table —
    * [[writePqIndex]]'s residual twin; serve with
    * [[knnIvfPqResidualOnIndex]]. Refuses a degenerate residual
    * codebook ([[requireHealthyCodebook]] — the stride-collision
    * footgun is a build-time error now, not a silent recall collapse).
    */
  def writePqIndexResidual(corpus: DataFrame, coarse: DataFrame,
                           rcb: DataFrame, m: Int, dims: Int,
                           indexTable: String, numBuckets: Int = 32): Unit = {
    requireHealthyCodebook(rcb, "residual")
    Tables.writeBucketed(pqIndexRowsResidual(corpus, coarse, rcb, m, dims),
      indexTable, Seq("cent_id"), numBuckets)
    Tables.writeTable(pqIndexManifest(coarse, rcb, m, dims),
      indexTable + "__manifest")
  }

  /** Per-query probe lists that KEEP the exact query·centroid dot —
    * the residual ADC needs it (q·x̂ = q·c + q·r̂). Output (query_id,
    * list_id, qc_dot); same probe rule as [[probeLists]].
    */
  private def probeListsWithDot(queries: DataFrame, cents: DataFrame,
                                nProbe: Int): DataFrame = {
    val wp = Window.partitionBy($"query_id")
      .orderBy($"cos_c".desc, $"list_id".asc)
    queries.crossJoin(cents)
      .select($"vec_id".as("query_id"), $"cent_id".as("list_id"),
        qdot($"qv", $"c_qv").as("qc_dot"),
        cosine(qdot($"qv", $"c_qv"), $"n2", $"c_n2").as("cos_c"))
      .withColumn("pr", row_number().over(wp))
      .filter($"pr" <= nProbe)
      .select($"query_id", $"list_id", $"qc_dot")
  }

  /** The centroid × residual-codebook cross table the residual norm
    * needs (‖x̂‖² = ‖c‖² + 2·c·r̂ + ‖r̂‖², and c·r̂ decomposes per
    * subspace because subspaces partition the dims): per (list_id,
    * sub_id, code) the exact dot of the centroid's subvector with the
    * codebook entry, plus the centroid's norm. |lists| × m × ksub
    * rows — FAISS precomputes exactly this table; broadcast.
    */
  private def coarseCross(coarse: DataFrame, rcb: DataFrame,
                          m: Int, dims: Int): DataFrame = {
    val dsub = dims / m
    coarse
      .select($"cent_id".as("list_id"), $"c_n2".as("l_n2"), posexplode(
        transform(sequence(lit(1), lit(m)),
          i => slice($"c_qv", (i - lit(1)) * lit(dsub) + lit(1), lit(dsub)))))
      .select($"list_id", $"l_n2",
        ($"pos" + 1).cast("long").as("sub_id"), $"col".as("l_sub"))
      .join(rcb.select($"sub_id", $"cent_id", $"c_sub"), Seq("sub_id"))
      .select($"list_id", $"l_n2", $"sub_id", $"cent_id",
        qdot($"l_sub", $"c_sub").as("cdot"))
  }

  /** Residual-encoded IVF-PQ top-k over an explicit (vec_id, cent_id,
    * codes) index (built by [[pqIndexRowsResidual]]): reconstruction
    * is x̂ = c + r̂, so q·x̂ = qc_dot + Σ_j q_sub·r̂_sub (probe table +
    * LUT) and ‖x̂‖² = ‖c‖² + 2·Σ_j c_sub·r̂_sub + Σ_j ‖r̂_sub‖² (cross
    * table + LUT) — every term an exact int64 lookup, cosine taken
    * once in double at the end. Per-query shape: broadcast probes →
    * equi-join on the list id against the codes table → ADC over m
    * codes per candidate (the join form; the plain family's
    * [[knnIvfPqOnCodes]] resolves probes on the driver instead); the
    * raw vector column is never read. The two extra joins (qc_dot,
    * cross) are against broadcast tables of probe/codebook size.
    */
  def knnIvfPqResidualOnCodes(idx: DataFrame, queries: DataFrame,
                              coarse: DataFrame, rcb: DataFrame,
                              m: Int, dims: Int, k: Int,
                              nProbe: Int): DataFrame =
    topKByCos(
      residualAdcScores(idx, queries, coarse, rcb, m, dims, nProbe), k)

  /** [[knnIvfPqResidualOnCodes]] WITHOUT the final top-k, for the
    * compacted-state serve's index+delta merge.
    */
  private[graft] def residualAdcScores(idx: DataFrame, queries: DataFrame,
                                       coarse: DataFrame, rcb: DataFrame,
                                       m: Int, dims: Int,
                                       nProbe: Int): DataFrame = {
    val probes = broadcast(probeListsWithDot(queries, broadcast(coarse),
      nProbe))
    val cross = broadcast(coarseCross(coarse, rcb, m, dims))
    val codeRows = idx
      .withColumnRenamed("cent_id", "list_id")
      .join(probes, Seq("list_id"))
      .select($"vec_id", $"query_id", $"list_id", $"qc_dot",
        posexplode($"codes"))
      .select($"vec_id", $"query_id", $"list_id", $"qc_dot",
        ($"pos" + 1).cast("long").as("sub_id"), $"col".as("cent_id"))
    codeRows
      .join(pqLut(queries, rcb, m, dims), Seq("query_id", "sub_id", "cent_id"))
      .join(cross, Seq("list_id", "sub_id", "cent_id"))
      .filter($"vec_id" =!= $"query_id")
      .groupBy($"query_id", $"vec_id")
      .agg((max($"qc_dot") + sum($"pdot")).as("rdot"),
        (max($"l_n2") + lit(2L) * sum($"cdot") + sum($"c_n2")).as("r_n2"),
        max($"q_n2").as("q_n2"))
      .select($"query_id", $"vec_id".as("neighbor_id"),
        cosine($"rdot", $"r_n2", $"q_n2").as("cos_sim"))
  }

  /** [[knnIvfPqResidualOnCodes]] over a table persisted by
    * [[writePqIndexResidual]].
    */
  def knnIvfPqResidualOnIndex(spark: org.apache.spark.sql.SparkSession,
                              indexTable: String, queries: DataFrame,
                              coarse: DataFrame, rcb: DataFrame,
                              m: Int, dims: Int, k: Int,
                              nProbe: Int): DataFrame =
    knnIvfPqResidualOnCodes(spark.table(indexTable), queries, coarse, rcb,
      m, dims, k, nProbe)

  /** Residual IVF-PQ shortlist + exact re-rank from the persisted
    * index — the full FAISS-default serving shape (IVFPQ with
    * by_residual + refine).
    */
  def knnIvfPqResidualRerankOnIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexTable: String, corpus: DataFrame, queries: DataFrame,
      coarse: DataFrame, rcb: DataFrame, m: Int, dims: Int,
      k: Int, nProbe: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist must be >= k, got $shortlist < $k")
    val cand = knnIvfPqResidualOnIndex(spark, indexTable, queries, coarse,
        rcb, m, dims, shortlist, nProbe)
      .select($"query_id", $"neighbor_id")
    rerankExact(cand, corpus, queries, k)
  }

  /** Observability audit of a persisted IVF-PQ index
    * ([[writePqIndex]] output): ONE row — list count, vector count,
    * min/max/singleton list populations — the
    * [[graft.ops.Dedup.lshBucketStats]] analog for the ANN tier.
    * Probe cost and tail latency are governed by list-population
    * skew (a hot list makes every probe touching it slow; empty and
    * singleton lists waste the centroid budget), so a production
    * build records this next to the index asset. Linear: one
    * codes-free index scan + a two-level aggregate.
    */
  def pqIndexStats(spark: org.apache.spark.sql.SparkSession,
                   indexTable: String): DataFrame =
    spark.table(indexTable)
      .groupBy($"cent_id").agg(count(lit(1)).as("pop"))
      .agg(count(lit(1)).as("n_lists"),
        sum($"pop").as("n_vecs"),
        min($"pop").as("min_pop"),
        max($"pop").as("max_pop"),
        sum(when($"pop" === 1L, 1L).otherwise(0L)).as("n_singleton"))

  /** IVF-PQ shortlist + exact re-rank — the full production serving
    * shape (IVFPQ + refine): [[knnIvfPq]] ranks a `shortlist` from
    * codes within the probed lists; only those rows fetch full
    * vectors for the exact cosine top-k.
    */
  def knnIvfPqRerank(corpus: DataFrame, queries: DataFrame,
                     coarse: DataFrame, codebooks: DataFrame,
                     m: Int, dims: Int, k: Int, nProbe: Int,
                     shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist must be >= k, got $shortlist < $k")
    val cand = knnIvfPq(corpus, queries, coarse, codebooks, m, dims,
        shortlist, nProbe)
      .select($"query_id", $"neighbor_id")
    rerankExact(cand, corpus, queries, k)
  }

  /** Matryoshka ADAPTIVE-RETRIEVAL serve (the funnel Kusupati et al.
    * 2022 propose MRL embeddings for): shortlist on the CHEAP prefix
    * ranking ([[preparedPrefix]] — dims/64 of the arithmetic and scan
    * bytes), then exact full-dim re-rank of only the shortlist rows
    * via the shared [[rerankExact]] fetch. Prefix recall loss is
    * confined to true neighbors that never reach the shortlist —
    * q228 measures the recovery against q227's raw-prefix audit, the
    * q85→q86 protocol on the dimension axis.
    */
  def knnPrefixRerank(corpus: DataFrame, queries: DataFrame, dims: Int,
                      k: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist must be >= k, got $shortlist < $k")
    val pp = preparedPrefix(corpus, dims)
    val qp = preparedPrefix(queries, dims)
    val cand = knnBrute(pp, qp, shortlist)
      .select($"query_id", $"neighbor_id")
    rerankExact(cand, corpus, queries, k)
  }

  /** Exact cosine re-rank of a (query_id, neighbor_id) candidate
    * table: only candidate rows fetch full vectors (selective
    * equi-join), shared by the PQ and IVF-PQ refine paths.
    */
  private[graft] def rerankExact(cand: DataFrame, corpus: DataFrame,
                                 queries: DataFrame, k: Int): DataFrame =
    topKByCos(exactScores(cand, corpus, queries), k)

  /** Exact cosine of every (query_id, neighbor_id) candidate — the
    * selective full-vector fetch shared by the top-k re-rank
    * ([[rerankExact]]) and the THRESHOLD verify
    * ([[thresholdNeighborsOnIndex]]).
    */
  private def exactScores(cand: DataFrame, corpus: DataFrame,
                          queries: DataFrame): DataFrame = {
    val q = broadcast(queries.select($"vec_id".as("query_id"),
      $"qv".as("q_qv"), $"n2".as("q_n2")))
    broadcast(cand)
      .join(corpus, $"neighbor_id" === $"vec_id")
      .join(q, Seq("query_id"))
      .select($"query_id", $"neighbor_id",
        cosine(qdot($"qv", $"q_qv"), $"n2", $"q_n2").as("cos_sim"))
  }

  /** ALL neighbors above a similarity THRESHOLD — the radius-query
    * face of the vector tier (every store's `range_search`), and the
    * semantic half of decontamination: a training vector within
    * cosine `tau` of an eval vector leaks that eval item even when no
    * n-gram survives paraphrase. Exact brute form: one broadcast-query
    * corpus scan, no shuffle, no cap on matches per query. Output:
    * (query_id, neighbor_id, cos_sim), cos_sim >= tau; a query's own
    * vec_id is excluded (callers with disjoint id spaces are
    * unaffected).
    */
  def thresholdNeighbors(corpus: DataFrame, queries: DataFrame,
                         tau: Double): DataFrame = {
    val q = broadcast(queries.select($"vec_id".as("query_id"),
      $"qv".as("q_qv"), $"n2".as("q_n2")))
    corpus.join(q, $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        cosine(qdot($"qv", $"q_qv"), $"n2", $"q_n2").as("cos_sim"))
      .filter($"cos_sim" >= tau)
  }

  /** [[thresholdNeighbors]] served from the persisted IVF-PQ index:
    * ADC shortlist per query from the codes ([[knnIvfPqOnIndex]]'s
    * driver-resolved serve — no corpus scan; its jobs run when this
    * is called), then the exact cosine THRESHOLD over only the
    * shortlist rows. Approximation is the shortlist
    * bound, stated honestly: a true above-tau neighbor outside the
    * query's ADC top-`shortlist` is missed (raise `shortlist` /
    * `nProbe` with expected match counts — identical-content leaks
    * rank at the top of ADC by construction, so the decontamination
    * use survives small shortlists). Self-exclusion matches the
    * exact form (round-14 ADVICE): a query whose `vec_id` also lives
    * in the corpus never reports itself at cos ~1.0, so swapping the
    * exact radius query for this served form never introduces
    * spurious self-pairs.
    */
  def thresholdNeighborsOnIndex(spark: org.apache.spark.sql.SparkSession,
                                indexTable: String, corpus: DataFrame,
                                queries: DataFrame, coarse: DataFrame,
                                codebooks: DataFrame, m: Int, dims: Int,
                                nProbe: Int, shortlist: Int,
                                tau: Double): DataFrame = {
    val cand = knnIvfPqOnIndex(spark, indexTable, queries, coarse,
        codebooks, m, dims, shortlist, nProbe)
      .select($"query_id", $"neighbor_id")
      .filter($"neighbor_id" =!= $"query_id")
    exactScores(cand, corpus, queries).filter($"cos_sim" >= tau)
  }

  /** PQ shortlist + exact re-rank — the production PQ serving shape
    * (FAISS's ADC + refine): [[knnPq]] ranks a `shortlist` of
    * candidates from the compressed codes alone, then ONLY those
    * shortlist rows fetch their full vectors for an exact cosine
    * re-rank. At 100 TB the full-vector column is touched for
    * queries × shortlist rows instead of the whole corpus — the scan
    * stays on the codes, the fetch is a selective equi-join. Recall
    * recovers most of the ADC approximation loss (q85 measures raw
    * ADC, q86 measures this re-ranked form, same audit protocol).
    */
  def knnPqRerank(corpus: DataFrame, queries: DataFrame,
                  codebooks: DataFrame, m: Int, dims: Int, k: Int,
                  shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist must be >= k, got $shortlist < $k")
    val cand = knnPq(corpus, queries, codebooks, m, dims, shortlist)
      .select($"query_id", $"neighbor_id")
    rerankExact(cand, corpus, queries, k)
  }

  /** LSH-bucketed approximate top-k: queries only compare against
    * corpus vectors in the same sign bucket (plus the per-query exact
    * re-rank). Recall depends on nBits; with small nBits and clustered
    * data this is a strict candidate superset of near-identical pairs.
    */
  def knnLsh(corpus: DataFrame, queries: DataFrame, k: Int,
             nBits: Int, dims: Int): DataFrame = {
    val cb = corpus.withColumn("bucket", signBucket($"qv", nBits, dims))
    val qb = broadcast(queries
      .withColumn("bucket", signBucket($"qv", nBits, dims))
      .select($"vec_id".as("query_id"), $"qv".as("q_qv"),
        $"n2".as("q_n2"), $"bucket"))
    val scored = cb.join(qb, Seq("bucket"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        cosine(qdot($"qv", $"q_qv"), $"n2", $"q_n2").as("cos_sim"))
    topKByCos(scored, k)
  }

  // ------------------------------------------- scalar quantizer (SQ8)
  //
  // The OTHER FAISS workhorse codec besides PQ: each residual
  // dimension is quantized independently to 8 bits against TRAINED
  // per-dim bounds ("IVF,SQ8"). 8× smaller than raw int64 storage
  // (one byte/dim vs eight) at near-exact recall — the codec FAISS
  // recommends when recall matters more than the deepest compression
  // (PQ at m=8 is 8× smaller again but pays real recall; q85 vs q121
  // measure the two points of that trade under one protocol).
  //
  // Exactness: every stage is int64 arithmetic. The two divisions
  // (encode's ×255/w, reconstruct's ×w/510) are floor divisions of
  // non-negative int64s computed as floor(double-quotient) — exact
  // because the numerators stay below 2^53 and the true quotient's
  // distance from any integer it does not attain is ≥ 1/w ≈ 2^-23,
  // many orders above the 2^-53-relative double rounding error, so
  // the floor can never cross an integer boundary. The oracle replays
  // the same divisions with DuckDB's `//`.

  /** Per-dim bounds of the trained 8-bit scalar quantizer over a
    * [[residualCorpus]]: ONE row (vmins: array<long>, ws: array<long>)
    * with ws[d] = max(vmax[d] − vmin[d], 1) — the model the codec
    * needs at serve time, carried as an in-plan broadcast aggregate
    * (the BM25-avgdl pattern), never a driver collect.
    *
    * Scale shape: the posexplode produces n×dims rows but the
    * groupBy(d) partial-aggregates them map-side to dims rows per
    * task before the (tiny) shuffle; the final fold is dims rows to
    * one. Training is one pass over the corpus, independent of list
    * count.
    */
  def sqResidualStats(residuals: DataFrame): DataFrame =
    residuals.select(posexplode($"qv").as(Seq("d", "x")))
      .groupBy($"d")
      .agg(min($"x").as("vmin"), max($"x").as("vmax"))
      .select($"d", $"vmin",
        greatest($"vmax" - $"vmin", lit(1L)).as("w"))
      .agg(
        transform(array_sort(collect_list(struct($"d", $"vmin"))),
          s => s.getField("vmin")).as("vmins"),
        transform(array_sort(collect_list(struct($"d", $"w"))),
          s => s.getField("w")).as("ws"))

  /** code[d] = clamp(floor((r[d] − vmin[d]) · 255 / w[d]), 0, 255).
    * Training-corpus residuals land in [0, 255] by construction (the
    * bounds ARE their min/max); the clamp is for vectors encoded
    * after training (streaming arrivals) whose residuals may fall
    * outside the trained range.
    */
  def sqEncodeResiduals(residuals: DataFrame,
                        stats: DataFrame): DataFrame =
    residuals.crossJoin(broadcast(stats))
      .select($"vec_id", $"cent_id",
        transform($"qv", (x, i) =>
          least(greatest(
            floor((x - element_at($"vmins", i + 1)).cast("double") *
              255.0 / element_at($"ws", i + 1).cast("double"))
              .cast("long"),
            lit(0L)), lit(255L))).as("codes"))

  /** Midpoint decode: r̂[d] = vmin[d] + floor((2·code[d]+1) · w[d] /
    * 510) — the center of the code's cell, FAISS's reconstruction
    * rule, in exact int64.
    */
  private[graft] def sqRecon(codes: Column, vmins: Column,
                             ws: Column): Column =
    transform(codes, (cd, i) =>
      element_at(vmins, i + 1) +
        floor(((cd * lit(2L) + lit(1L)) * element_at(ws, i + 1))
          .cast("double") / 510.0).cast("long"))

  /** IVF-SQ8 top-k over explicit (vec_id, cent_id, codes) rows: probe
    * the query's nProbe lists, reconstruct v̂ = c + r̂ for ONLY the
    * probed candidates, score the exact cosine of the reconstruction,
    * and rank with the shared [[topKByCos]] tail. The raw vector
    * column is never touched — the serve scan reads one byte per
    * dimension.
    *
    * Scale shape: reconstruction is a per-candidate projection (no
    * shuffle); the probe join broadcasts queries × nProbe rows; the
    * only shuffle is the per-query top-k window over candidate rows.
    */
  def knnIvfSqOnCodes(idx: DataFrame, stats: DataFrame,
                      queries: DataFrame, coarse: DataFrame,
                      k: Int, nProbe: Int): DataFrame = {
    val probes = probeLists(queries, broadcast(coarse), nProbe)
    val qf = broadcast(queries.select($"vec_id".as("query_id"),
      $"qv".as("q_qv"), $"n2".as("q_n2")))
    val rec = idx.crossJoin(broadcast(stats))
      .join(broadcast(coarse.select($"cent_id", $"c_qv")),
        Seq("cent_id"))
      .select($"vec_id", $"cent_id",
        zip_with($"c_qv", sqRecon($"codes", $"vmins", $"ws"),
          (c, r) => c + r).as("rv"))
      .withColumn("rn2", qnorm2($"rv"))
    val scored = rec.join(broadcast(probes), Seq("cent_id"))
      .join(qf, Seq("query_id"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        cosine(qdot($"rv", $"q_qv"), $"rn2", $"q_n2").as("cos_sim"))
    topKByCos(scored, k)
  }

  /** Inline IVF-SQ8: train bounds on the corpus residuals, encode,
    * serve — the composition [[writeSqIndex]] persists.
    */
  def knnIvfSq(corpus: DataFrame, queries: DataFrame,
               coarse: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val res = residualCorpus(corpus, coarse)
    val stats = sqResidualStats(res)
    knnIvfSqOnCodes(sqEncodeResiduals(res, stats), stats, queries,
      coarse, k, nProbe)
  }

  /** Persist the IVF-SQ8 index: codes bucketed by cent_id (the
    * [[writePqIndex]] layout, so the probe join is bucket-pruned),
    * the 1-row trained bounds, and a provenance manifest. Build pays
    * the coarse assignment + training + encode once; serving reads
    * one byte per dimension and never the raw vectors.
    */
  def writeSqIndex(corpus: DataFrame, coarse: DataFrame,
                   indexTable: String, numBuckets: Int = 32): Unit = {
    val res = residualCorpus(corpus, coarse)
    val stats = sqResidualStats(res)
    Tables.writeBucketed(sqEncodeResiduals(res, stats), indexTable,
      Seq("cent_id"), numBuckets)
    Tables.writeTable(stats, indexTable + "__sqstats")
    Tables.writeTable(sqIndexManifest(coarse, stats),
      indexTable + "__manifest")
  }

  /** One-row provenance manifest of a persisted SQ index — the
    * [[pqIndexManifest]] pattern: serving against the wrong coarse
    * set or bounds silently mis-decodes every code, so
    * [[requireSqIndexCompatible]] fails fast instead.
    */
  def sqIndexManifest(coarse: DataFrame, stats: DataFrame): DataFrame = {
    val coarseSum = coarse.agg(
      count(lit(1)).as("n_lists"),
      sum($"cent_id" * 31L + $"c_n2").as("coarse_checksum"))
    // Position-weighted linear sums (the pqIndexManifest family):
    // |vmin| ≲ 4e6 quantized units × weight ≤ 64 × 64 dims ≈ 1.6e10,
    // ×131 ≈ 2e12 — far inside int64 under ANSI mode, unlike a
    // multiplicative 31^64 rolling hash.
    def weighted(a: Column): Column =
      aggregate(
        transform(a, (x, i) => (i + 1).cast("long") * x),
        lit(0L), (acc, v) => acc + v)
    val sqSum = stats.select(
      size($"vmins").cast("long").as("dims"),
      (weighted($"vmins") + weighted($"ws") * 131L).as("sq_checksum"))
    coarseSum.crossJoin(sqSum)
      .select($"dims", $"n_lists", $"coarse_checksum", $"sq_checksum")
  }

  /** Fail-fast compatibility check for [[knnIvfSqOnIndex]] callers —
    * run once at serving-session startup, off the per-query path.
    */
  def requireSqIndexCompatible(spark: org.apache.spark.sql.SparkSession,
                               indexTable: String,
                               coarse: DataFrame): Unit = {
    val manTable = indexTable + "__manifest"
    require(spark.catalog.tableExists(manTable),
      s"no manifest $manTable — rebuild with writeSqIndex")
    val want = sqIndexManifest(coarse,
      spark.table(indexTable + "__sqstats")).head()
    val have = spark.table(manTable).head()
    Seq("dims", "n_lists", "coarse_checksum", "sq_checksum").foreach { f =>
      require(want.getAs[Any](f) == have.getAs[Any](f),
        s"index $indexTable is incompatible with the supplied " +
          s"quantizers: manifest $f = ${have.getAs[Any](f)}, " +
          s"supplied $f = ${want.getAs[Any](f)}")
    }
  }

  /** IVF-SQ8 top-k served from an index persisted by [[writeSqIndex]]. */
  def knnIvfSqOnIndex(spark: org.apache.spark.sql.SparkSession,
                      indexTable: String, queries: DataFrame,
                      coarse: DataFrame, k: Int,
                      nProbe: Int): DataFrame =
    knnIvfSqOnCodes(spark.table(indexTable),
      spark.table(indexTable + "__sqstats"), queries, coarse, k, nProbe)

  /** Mutual k-NN graph over the corpus: an undirected edge (a, b)
    * exists iff a is in b's IVF top-k AND b is in a's — the mutuality
    * filter that strips hub-induced false edges, the standard base
    * graph for density clustering and graph-based dedup. Built from
    * ONE all-corpus IVF pass ([[knnIvfWith]] with the corpus as its
    * own query set): probes are generated per vector against the
    * (broadcast) centroid table and candidates only within probed
    * lists, so the build is O(n · list-size · nProbe) — the standard
    * n·√n knn-graph recipe, never n². The per-query top-k window
    * ranks each vector's own candidate set (bounded by probed-list
    * sizes), and the mutuality check is one self-join of the directed
    * edge list on the reversed pair. Output: (id_a, id_b, cos_sim)
    * with id_a < id_b, cosine exact-int64 as everywhere.
    */
  def knnGraphMutual(corpus: DataFrame, centroids: DataFrame, k: Int,
                     nProbe: Int,
                     mat: Materializer = Materialize.LocalLazy): DataFrame = {
    val nn = mat(knnIvfWith(corpus, corpus, centroids, k, nProbe)
      .select($"query_id", $"neighbor_id", $"cos_sim"))
    nn.as("x").join(nn.as("y"),
        col("x.query_id") === col("y.neighbor_id") &&
          col("x.neighbor_id") === col("y.query_id") &&
          col("x.query_id") < col("x.neighbor_id"))
      .select(col("x.query_id").as("id_a"),
        col("x.neighbor_id").as("id_b"), col("x.cos_sim"))
  }

  // ------------------------------------------------------------------
  // SemDeDup: cluster-then-compare semantic deduplication
  // ------------------------------------------------------------------

  /** Nearest-centroid assignment of every corpus vector — the shared
    * first half of [[semDedup]] (and structurally the same argmax as
    * the IVF `coarseAssign`, exposed because SemDeDup's OUTPUT keeps
    * the cluster id). Tie-break: (cos desc, cent_id asc), the engine's
    * single assignment contract. One broadcast of the centroid set +
    * one partial+final max_by — no shuffle of the corpus beyond the
    * aggregate, skew-immune by construction.
    * Output: (vec_id, qv, n2, cent_id).
    */
  def assignClusters(corpus: DataFrame, centroids: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(centroids))
      .select($"vec_id", $"qv", $"n2", $"cent_id",
        cosine(qdot($"qv", $"c_qv"), $"n2", $"c_n2").as("cos_c"))
      .groupBy($"vec_id")
      .agg(max_by(struct($"qv", $"n2", $"cent_id"),
        struct($"cos_c", -$"cent_id")).as("_a"))
      .select($"vec_id", $"_a.qv".as("qv"), $"_a.n2".as("n2"),
        $"_a.cent_id".as("cent_id"))

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * near-duplicate removal by clustering the embedding space and
    * comparing only WITHIN clusters — the trick that makes
    * epsilon-ball dedup linear-ish instead of all-pairs quadratic.
    *
    * Semantics (deterministic, order-free): a vector is DROPPED iff
    * some SMALLER-id vector in the same cluster has cosine >= tau to
    * it. This is the parallel, partitioning-independent relaxation of
    * the paper's greedy sequential scan (which compares only against
    * previously KEPT vectors): it never depends on scan order, is
    * identical under any shuffle layout, and replays exactly in SQL —
    * at the price of occasionally dropping a vector whose only
    * epsilon-neighbor was itself dropped (a strictly more aggressive,
    * still epsilon-sound dedup). Keeper choice within a duplicate
    * neighborhood is the smallest id, matching the exact-dedup /
    * clean-corpus keeper rule everywhere else in the engine.
    *
    * Scale: the centroid table is broadcast (caller sizes it —
    * [[coarseForCorpus]]'s √n rule keeps expected cluster size √n, so
    * the within-cluster self-join is O(n·√n) worst-case and far less
    * on real clustered data; this is the published algorithm's cost
    * shape). The pairwise stage shuffles both sides ONCE on cent_id;
    * nothing is ever compared across clusters. The epsilon test uses
    * the exact int64 quantized cosine, so drops are bit-stable.
    * Output: (vec_id, cent_id, is_kept) for every corpus vector.
    */
  def semDedup(corpus: DataFrame, centroids: DataFrame, tau: Double,
               mat: Materializer = Materialize.LocalLazy): DataFrame = {
    // Materialize once: the assignment feeds both sides of the
    // within-cluster self-join (same barrier rationale as
    // cosineDupPairs / minhashLshPairs).
    val assigned = mat(assignClusters(corpus, centroids))
    val drops = assigned.as("a").join(assigned.as("b"),
        col("a.cent_id") === col("b.cent_id") &&
          col("a.vec_id") < col("b.vec_id") &&
          cosine(qdot(col("a.qv"), col("b.qv")),
            col("a.n2"), col("b.n2")) >= tau)
      .select(col("b.vec_id").as("vec_id"))
      .distinct()
    assigned
      .join(drops.withColumn("_drop", lit(true)), Seq("vec_id"), "left")
      .select($"vec_id", $"cent_id", $"_drop".isNull.as("is_kept"))
  }
}
