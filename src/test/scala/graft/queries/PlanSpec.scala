package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import graft.SparkSpec
import graft.recipes.Recipes
import graft.search.Search
import graft.ops.TextAnalysis
import org.apache.spark.sql.functions._

/** Physical-plan shape assertions — the 100 TB posture encoded as
  * tests: filters must reach the parquet scan, dimension joins must
  * broadcast, top-k must plan as TakeOrderedAndProject (not a global
  * sort), and per-row text analysis must stay shuffle-free.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("simple"))

  test("q01: ship-date filter is pushed to the parquet scan; columns pruned") {
    val p = plan(Relational.q01(spark, dir))
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("LessThan(l_shipdate"), p)
    assert(!p.contains("l_partkey"), "unused columns must be pruned from the scan")
  }

  test("q02: top-k plans as TakeOrderedAndProject, no global sort") {
    val p = plan(Relational.q02(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("PushedFilters:"), p)
  }

  test("q03/q04: dimension sides broadcast (no shuffle of the fact table for dims)") {
    assert(plan(Relational.q03(spark, dir)).contains("BroadcastHashJoin"))
    val p4 = plan(Relational.q04(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(p4).length >= 3, p4)
  }

  test("q05/q06: semi/anti joins plan as LeftSemi/LeftAnti (no row multiplication)") {
    assert(plan(Relational.q05(spark, dir)).contains("LeftSemi"))
    assert(plan(Relational.q06(spark, dir)).contains("LeftAnti"))
  }

  test("q07: per-group top-n truncates MAP-SIDE (partial WindowGroupLimit below the exchange)") {
    // Spark 3.5+'s InferWindowGroupLimit turns `row_number() <= k`
    // into a partial group-limit under the window's shuffle, so q07
    // ships <= k rows per key per task instead of the whole orders
    // table (TopKSpec measures the record counts). Pin the shape: if
    // a rewrite of the rank filter ever breaks the inference, the
    // benched window face silently reverts to a corpus shuffle.
    val p = plan(Relational.q07(spark, dir))
    assert(p.contains("WindowGroupLimit"), p)
    val ex = p.indexOf("Exchange")
    assert(ex >= 0 && p.indexOf("WindowGroupLimit", ex) > ex,
      s"partial WindowGroupLimit must sit below the exchange:\n$p")
  }

  test("q13: projection-only query reads a pruned schema") {
    val p = plan(Relational.q13(spark, dir))
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("p_retailprice"), "q13 must not read unused part columns")
  }

  test("text stats are shuffle-free (linear, codegen-resident)") {
    val docs = graft.Tables.load(spark, dir, "documents")
    val p = plan(docs.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n"),
      TextAnalysis.qualityScore(col("text")).as("q")))
    assert(!p.contains("Exchange"), "per-document stats must not shuffle")
  }

  test("q209 dead-letter routing is shuffle-free (one scan, filter, projection)") {
    // the reasons array + quarantine filter must stay a per-row gate:
    // a regression introducing an Exchange turns the 100 TB ingest
    // split into a corpus shuffle. (The HOF-built reasons array
    // evaluates interpreted — array/filter lambdas sit outside
    // whole-stage codegen — so the pin is structural: map-only.)
    val p = plan(OpsQueries.q209(spark, dir))
    assert(!p.contains("Exchange"), s"row routing must not shuffle:\n$p")
    assert("FileScan".r.findAllIn(p).length == 1, s"one scan only:\n$p")
  }

  test("classic search: one scan into TakeOrderedAndProject, no join/shuffle before top-k") {
    val view = Recipes.searchView(Recipes.dedupByKey(Recipes.loadRaw(spark)))
    val p = plan(Search.classic(view, "chocolat"))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("bucketed tables join without a shuffle (co-located fact-fact join)") {
    val o = graft.Tables.load(spark, dir, "orders")
    val c = graft.Tables.load(spark, dir, "customer")
    graft.Tables.writeBucketed(o, "orders_b", "o_custkey", 4)
    graft.Tables.writeBucketed(c, "customer_b", "c_custkey", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("orders_b").join(spark.table("customer_b"),
        org.apache.spark.sql.functions.col("o_custkey") ===
          org.apache.spark.sql.functions.col("c_custkey"))
      val p = plan(joined)
      assert(!p.contains("Exchange"),
        s"bucketed join must not shuffle:\n$p")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }

  test("q84: persisted LSH assets — candidate self-join and cap aggregate plan no Exchange") {
    val docs = graft.Tables.load(spark, dir, "documents")
    graft.ops.Dedup.writeLshAssets(docs, "doc_id", "text", 3, 4, 2,
      "lsh_sets_plan", "lsh_buckets_plan", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      // disable broadcast so the assert proves the BUCKETED distribution
      // (not a broadcast) is what removes the shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val b = spark.table("lsh_buckets_plan")
      val selfJoin = b.as("a").join(b.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      val pJoin = plan(selfJoin)
      assert(!pJoin.contains("Exchange"),
        s"bucketed candidate self-join must not shuffle:\n$pJoin")
      // population-cap aggregate keys on exactly the bucket columns
      val pAgg = plan(b.groupBy("band", "bkey").count())
      assert(!pAgg.contains("Exchange"),
        s"cap aggregate over bucketed scan must not shuffle:\n$pAgg")
      assert(selfJoin.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS lsh_sets_plan")
      spark.sql("DROP TABLE IF EXISTS lsh_buckets_plan")
    }
  }

  test("q232/q238 RRF: every row_number window rides WindowGroupLimit (VERDICT r13 #6)") {
    // fuseRanked's `row_number() <= n` windows must never plan as
    // UNBOUNDED single-partition sorts. Spark bounds them two ways:
    // the GLOBAL (empty-partition-spec) rank windows become
    // TakeOrderedAndProject(limit=n) feeding a re-window over n rows,
    // and the per-query windows get a partial+final WindowGroupLimit
    // under the exchange (InferWindowGroupLimit). Pin: every Window
    // node in the physical plan is fed by one of the two bounded
    // forms — TakeOrderedAndProject or a Final WindowGroupLimit — on
    // both the brute-leg (q232) and ANN-leg (q238) hybrids.
    def pin(name: String, df: DataFrame): Unit = {
      val p = plan(df)
      val wins = "\\+- Window ".r.findAllIn(p).length
      val top = "TakeOrderedAndProject".r.findAllIn(p).length
      val wglFinal = "WindowGroupLimit .*, Final".r.findAllIn(p).length
      assert(wins >= 2, s"$name: expected the RRF rank windows:\n$p")
      assert(top + wglFinal >= wins,
        s"$name: a rank window lost its bound ($top TakeOrdered + " +
          s"$wglFinal WindowGroupLimit for $wins windows):\n$p")
    }
    pin("q232", OpsQueries.q232(spark, dir))
    pin("q238", OpsQueries.q238(spark, dir))
    // the batch-serving form: every window carries a query_id
    // partition, so ALL of them must plan as WindowGroupLimit (no
    // TakeOrderedAndProject — there is no global rank anywhere)
    val p245 = plan(OpsQueries.q245(spark, dir))
    val wins245 = "\\+- Window ".r.findAllIn(p245).length
    val wgl245 = "WindowGroupLimit .*, Final".r.findAllIn(p245).length
    // (the vector leg is served on the driver as a ranked local frame,
    // so the BM25 rank and the fused rank are the windows left)
    assert(wins245 >= 2 && wgl245 >= wins245,
      s"q245: a per-query rank window lost its WindowGroupLimit " +
        s"($wgl245 for $wins245):\n$p245")
    assert(!p245.contains("TakeOrderedAndProject"),
      s"q245 must have no GLOBAL rank at all:\n$p245")
  }

  test("q238: the vector leg serves from the persisted codes index, not a corpus rank scan") {
    // the vector leg runs when q238 is built: its one served scan reads
    // the bucketed (vec_id, cent_id, codes) table (the ADC candidate
    // source), and the fused plan left behind reads no raw vectors —
    // the re-rank fetched only the shortlist, on the driver
    var df: DataFrame = null
    val (_, scanLine, _) = servedScan("graft_pq_srv104") {
      df = OpsQueries.q238(spark, dir)
    }
    assert(!scanLine.contains("qv"), scanLine)
    val p = plan(df)
    assert(!p.contains("embeddings"),
      s"the fused plan must not scan the raw vectors:\n$p")
  }

  test("q250 decontamination: bipartite candidate join is an equi-join; eval side broadcasts") {
    // the train×test candidate join must meet on the rare shingle
    // (hash equi-join, never a cartesian), and the eval-side index —
    // small by nature — must come in as a broadcast, so the train
    // corpus is never reshuffled for the check
    val p = plan(OpsQueries.q250(spark, dir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"decontamination must never plan a cross product:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the eval side must broadcast into the candidate join:\n$p")
  }

  test("q87 shuffle rank: no single-partition window over the corpus") {
    // the corpus-sized window must be partitioned by the hash bucket;
    // the only global (empty-partition-spec) window allowed is the
    // one over the 256-row bucket aggregate. Asserted on the logical
    // Window nodes directly — a string match on the plan text was
    // vacuous (ADVICE r5): any plan mentioning _sbkt passed.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val docs = graft.Tables.load(spark, dir, "documents")
    val df = graft.ops.Sessions.shuffleRank(docs, "doc_id", "s")
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.size === 2, s"expected rank + offsets windows, got $wins")
    val (globalWins, bucketWins) = wins.partition(_.partitionSpec.isEmpty)
    // the corpus rank window partitions by the hash bucket
    assert(bucketWins.size === 1 &&
      bucketWins.head.partitionSpec.exists(_.toString.contains("_sbkt")),
      s"corpus rank window lost its bucket partition spec:\n$wins")
    // the one global window runs over the bucket-count AGGREGATE
    // (256 rows), never over corpus-sized input
    assert(globalWins.size === 1 && globalWins.head.child.collectFirst {
        case a: Aggregate
          if a.groupingExpressions.exists(_.toString.contains("_sbkt")) => a
      }.isDefined,
      s"a single-partition window runs over non-aggregated input:\n$wins")
    // broadcast offsets: the corpus side must not sort-merge-join the
    // (tiny) offset table
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("PQ serve path reads ONLY the codes column from the index (q85/q91 byte claim)") {
    import graft.ops.Similarity
    val p = Similarity.prepared(
      graft.Tables.load(spark, dir, "embeddings"), "vec_id", "embedding")
    val cb = Similarity.pqCodebooks(p, m = 8, dims = 64, stride = 25L)
    val out = java.nio.file.Files.createTempDirectory("pq_codes").toString
    // the persisted index: (vec_id, codes) next to the raw vectors —
    // the serve scan must prune the vector column away entirely
    Similarity.pqEncode(p, cb, 8, 64)
      .join(p.select(col("vec_id"), col("qv")), Seq("vec_id"))
      .write.mode("overwrite").parquet(out)
    val codes = spark.read.parquet(out)
    val served = Similarity.knnPqOnCodes(
      codes, p.filter(col("vec_id") < 5), cb, 8, 64, 10)
    val scanLine = plan(served).linesIterator
      .find(l => l.contains("ReadSchema") && l.contains(out))
      .getOrElse(fail("no parquet scan of the codes table in the plan"))
    assert(scanLine.contains("codes"), scanLine)
    assert(!scanLine.contains("qv"),
      s"serve scan must prune the raw-vector column:\n$scanLine")
  }

  /** The one served IVF-PQ scan `body` runs (the served result itself
    * is a local frame): its physical plan, its scan line of `table`,
    * and how many buckets it reads. A join-free scan is planned as a
    * non-bucketed read (autoBucketedScan), so its explain string omits
    * SelectedBucketsCount; the scan still reads only the files of its
    * bucket set, whose size is the count returned.
    */
  private def servedScan(table: String)(body: => Unit): (String, String, Int) = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = graft.ops.Similarity.servedScans(spark)(body)
    assert(scans.size == 1, s"expected one served scan, got ${scans.size}")
    val qe = scans.head
    val pl = qe.explainString(ExplainMode.fromString("simple"))
    val scanLine = pl.linesIterator
      .find(l => l.contains("ReadSchema") && l.contains(table))
      .getOrElse(fail(s"no scan of $table in the plan:\n$pl"))
    val fs = qe.executedPlan.collect { case f: FileSourceScanExec => f }
    assert(fs.size == 1, s"expected one file scan:\n$pl")
    val buckets = fs.head.optionalBucketSet.map(_.cardinality())
      .getOrElse(fail(s"scan is not bucket-pruned:\n$pl"))
    (pl, scanLine, buckets)
  }

  test("q94 IVF-PQ index serve: one bucket-pruned codes-only scan, no Exchange") {
    import graft.ops.Similarity
    val p = Similarity.prepared(
      graft.Tables.load(spark, dir, "embeddings"), "vec_id", "embedding")
    val cb = Similarity.pqCodebooks(p, m = 8, dims = 64, stride = 25L)
    val coarse = Similarity.strideCentroids(p, 25L)
    Similarity.writePqIndex(p, coarse, cb, m = 8, dims = 64,
      "pq_index_plan", numBuckets = 8)
    try {
      // one query probing 2 of the 20 lists: the probes are resolved on
      // the driver, so the scan reads at most 2 of the 8 buckets
      val (pl, scanLine, nb) = servedScan("pq_index_plan") {
        Similarity.knnIvfPqOnIndex(spark, "pq_index_plan",
          p.filter(col("vec_id") === 0L), coarse, cb,
          m = 8, dims = 64, k = 10, nProbe = 2)
      }
      assert(nb >= 1 && nb <= 2, s"read $nb of 8 buckets for 2 probed lists")
      // no probe join and no shuffle: scoring and the per-partition
      // top-k run inside the scan stage
      assert(!pl.contains("Exchange") && !pl.contains("Join"),
        s"the served scan must not shuffle or join:\n$pl")
      // the index scan reads keys + codes only — never a raw vector
      assert(scanLine.contains(
        "ReadSchema: struct<vec_id:bigint,cent_id:bigint,codes:array<bigint>>"),
        scanLine)
      assert(!scanLine.contains("qv"), scanLine)
    } finally spark.sql("DROP TABLE IF EXISTS pq_index_plan")
  }

  test("q122 IVF-SQ8 index serve: probe join broadcasts; index scan prunes to codes") {
    import graft.ops.Similarity
    val p = Similarity.prepared(
      graft.Tables.load(spark, dir, "embeddings"), "vec_id", "embedding")
    val coarse = Similarity.strideCentroids(p, 25L)
    Similarity.writeSqIndex(p, coarse, "sq_index_plan", numBuckets = 8)
    try {
      val served = Similarity.knnIvfSqOnIndex(spark, "sq_index_plan",
        p.filter(col("vec_id") < 5), coarse, k = 10, nProbe = 2)
      val pl = plan(served)
      // probe restriction broadcasts; the index side never shuffles
      // on cent_id to meet it
      assert(pl.contains("BroadcastHashJoin"), pl)
      assert(!pl.contains("Exchange hashpartitioning(cent_id"),
        s"index side must not shuffle for the probe join:\n$pl")
      // the serve scan reads codes + keys only — the raw-vector
      // column is not in the index table at all
      val scanLine = pl.linesIterator
        .find(l => l.contains("ReadSchema") && l.contains("sq_index_plan"))
        .getOrElse(fail(s"no scan of the index table in the plan:\n$pl"))
      assert(scanLine.contains("codes"), scanLine)
      assert(!scanLine.contains("qv"), scanLine)
    } finally {
      spark.sql("DROP TABLE IF EXISTS sq_index_plan")
      spark.sql("DROP TABLE IF EXISTS sq_index_plan__sqstats")
      spark.sql("DROP TABLE IF EXISTS sq_index_plan__manifest")
    }
  }

  test("q101 residual IVF-PQ index serve: probe join broadcasts; index scan prunes to codes") {
    import graft.ops.Similarity
    val p = Similarity.prepared(
      graft.Tables.load(spark, dir, "embeddings"), "vec_id", "embedding")
    val coarse = Similarity.strideCentroids(p, 25L)
    val rcb = Similarity.pqCodebooks(Similarity.residualCorpus(p, coarse),
      m = 8, dims = 64, stride = 13L)
    Similarity.writePqIndexResidual(p, coarse, rcb, m = 8, dims = 64,
      "pq_residx_plan", numBuckets = 8)
    try {
      val served = Similarity.knnIvfPqResidualOnIndex(spark,
        "pq_residx_plan", p.filter(col("vec_id") < 5), coarse, rcb,
        m = 8, dims = 64, k = 10, nProbe = 2)
      val pl = plan(served)
      // the residual serve adds two more broadcast-side tables (q·c
      // probe dots, centroid × codebook cross) — the index side must
      // STILL never shuffle to meet any of them
      assert(pl.contains("BroadcastHashJoin"), pl)
      assert(!pl.contains("Exchange hashpartitioning(list_id") &&
        !pl.contains("Exchange hashpartitioning(cent_id"),
        s"index side must not shuffle for the probe/cross joins:\n$pl")
      val scanLine = pl.linesIterator
        .find(l => l.contains("ReadSchema") && l.contains("pq_residx_plan"))
        .getOrElse(fail(s"no scan of the index table in the plan:\n$pl"))
      assert(scanLine.contains("codes"), scanLine)
      assert(!scanLine.contains("qv"), scanLine)
    } finally spark.sql("DROP TABLE IF EXISTS pq_residx_plan")
  }

  test("post-compaction streaming serve: the scan IS the zero-Exchange bucket-pruned index read") {
    import graft.ops.Similarity
    import graft.streaming.StreamingUpsert
    val p = Similarity.prepared(
      graft.Tables.load(spark, dir, "embeddings"), "vec_id", "embedding")
    val cb = Similarity.pqCodebooks(p, m = 8, dims = 64, stride = 25L)
    val coarse = Similarity.strideCentroids(p, 25L)
    val base = java.nio.file.Files.createTempDirectory("compact_plan")
      .toString
    // two streamed batches, then compaction folds them into the
    // bucketed asset and truncates state (VERDICT r6 #2) — from here
    // serve must NOT pay the old full-state .distinct() shuffle
    val (b0, b1) = (p.filter(col("vec_id") % 2 === 0),
      p.filter(col("vec_id") % 2 === 1))
    Seq(b0, b1).zipWithIndex.foreach { case (b, i) =>
      Similarity.pqIndexRows(b, coarse, cb, 8, 64)
        .write.mode("overwrite").parquet(s"$base/index/batch=$i")
    }
    StreamingUpsert.compactPqIndexState(spark, base,
      "compact_plan_tbl", numBuckets = 8)
    try {
      // the delta is empty after compaction: the scan is the compacted
      // table's alone, bucket-pruned, with no distinct over the index
      // (the retired state path shuffled the whole index per query)
      val (pl, scanLine, nb) = servedScan("compact_plan_tbl") {
        StreamingUpsert.pqIndexServe(spark, base, "compact_plan_tbl",
          p.filter(col("vec_id") === 0L), coarse, cb,
          m = 8, dims = 64, k = 10, nProbe = 2)
      }
      assert(nb >= 1 && nb <= 2, s"read $nb of 8 buckets for 2 probed lists")
      assert(!pl.contains("Exchange"),
        s"post-compaction serve must not shuffle the index:\n$pl")
      assert(scanLine.contains("codes"), scanLine)
      assert(!scanLine.contains("qv"), scanLine)
    } finally spark.sql("DROP TABLE IF EXISTS compact_plan_tbl")
  }

  test("q95 BM25 index serve: no corpus tokenize, token filter pushed to postings scan") {
    val docs = graft.Tables.load(spark, dir, "documents")
    Search.writeBm25Index(docs, "doc_id", Seq("text"),
      "bm25_plan_post", "bm25_plan_df", "bm25_plan_stats", numBuckets = 4)
    try {
      val served = Search.bm25MultiFieldFromIndex(spark,
        "bm25_plan_post", "bm25_plan_df", "bm25_plan_stats",
        Seq("text"), Seq("spark", "table", "window"))
      val pl = plan(served)
      // no explode anywhere: the query must never re-tokenize text —
      // inline BM25 plans carry two Generate nodes
      assert(!pl.contains("Generate"),
        s"index serve path must not tokenize the corpus:\n$pl")
      // the exact-token predicate reaches the postings parquet scan
      val scanLine = pl.linesIterator
        .find(l => l.contains("PushedFilters") && l.contains("bm25_plan_post"))
        .getOrElse(fail(s"no pushed filter on the postings scan:\n$pl"))
      assert(scanLine.contains("In(tok"), scanLine)
    } finally Seq("bm25_plan_post", "bm25_plan_df", "bm25_plan_stats")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("q92 weighted sampling stays scan-shaped (no shuffle)") {
    val p = plan(OpsQueries.q92(spark, dir))
    assert(!p.contains("Exchange"), p)
  }

  test("q58 exact jaccard: candidate join is an equi-join, never cartesian") {
    val p = plan(OpsQueries.q58(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q61 collocations: top-k plans as TakeOrderedAndProject") {
    val p = plan(OpsQueries.q61(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q59/q60/q62: sampling and per-doc scoring stay scan-shaped") {
    // stratified sample: a filter on the scan, no join/aggregate
    val p59 = plan(OpsQueries.q59(spark, dir))
    assert(!p59.contains("Join"), p59)
    assert(!p59.contains("Exchange"), p59)
    // repetition score: per-document, shuffle-free
    val p62 = plan(OpsQueries.q62(spark, dir))
    assert(!p62.contains("Exchange"), p62)
  }

  test("band-bucket candidate joins run under AQE with skew-join enabled") {
    // the verify/bench session source of truth — a hot band bucket at
    // the maxBucket boundary must be AQE-skew-splittable at runtime
    val s = graft.LocalSession.build("4")
    assert(s.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(s.conf.get("spark.sql.adaptive.skewJoin.enabled") === "true")
    // and the candidate joins themselves are plain equi-joins (the
    // shape AQE can skew-split), never cartesian
    val docs = graft.Tables.load(s, dir, "documents")
    val p = plan(graft.ops.Dedup.minhashLshPairs(docs, "doc_id", "text",
      3, 4, 2, 0.5))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q65 bm25: corpus stats and df sides broadcast; one real shuffle family") {
    val docs = graft.Tables.load(spark, dir, "documents")
    val p = plan(Search.bm25Search(docs, "doc_id", "text",
      Seq("spark", "table")))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("bm25MultiField: 2 corpus scans total (not per field) and df reuses the tf exchange") {
    // AQE defers exchange reuse to runtime stages; disable it so the
    // static plan exposes the ReuseExchange decision for the assert
    // (runtime AQE reuses the same canonically-equal stage).
    val docs = graft.Tables.load(spark, dir, "documents")
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val p = plan(Search.bm25MultiField(docs, "doc_id",
        Seq("text", "lang", "source"), Seq("spark", "table")))
      assert("Scan parquet".r.findAllIn(p).length === 2,
        "corpus must scan exactly twice (stats + tagged explode), not per field:\n" + p)
      assert(p.contains("ReusedExchange"),
        "df must be served from the tf exchange, not a corpus re-scan:\n" + p)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("bm25ClassicScores keeps the single-pass shape under the fuzzy predicate") {
    val docs = graft.Tables.load(spark, dir, "documents")
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val p = plan(Search.bm25ClassicScores(docs, "doc_id",
        Seq("text", "lang"), "spark tables"))
      assert("Scan parquet".r.findAllIn(p).length === 2, p)
      assert(p.contains("ReusedExchange"), p)
      assert(!p.contains("CartesianProduct"), p)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("idfSearch: df-stats and corpus-count sides are broadcast") {
    val docs = graft.Tables.load(spark, dir, "documents")
    val p = plan(Search.idfSearch(docs, "doc_id", "text", Seq("spark", "table")))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q76 temperature mix: rate table broadcasts back; no sort-merge join") {
    val docs = graft.Tables.load(spark, dir, "documents")
    val p = plan(graft.ops.Sessions.sqrtTemperatureMix(docs, "lang", "doc_id"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "the corpus must not shuffle for the rate join:\n" + p)
  }

  test("q77 span dedup: joins are equi-joins, never cartesian") {
    val docs = graft.Tables.load(spark, dir, "documents")
    val p = plan(graft.ops.Dedup.dropRepeatedSpans(docs, "doc_id", "text",
      8, 2L, mat = graft.ops.Materialize.Off))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q114/q116 media decode: partition-local, no shuffle, no join") {
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("bin"))
    val pImg = plan(graft.ops.Media.decodeImages(docs, "doc_id", "bin"))
    assert(!pImg.contains("Exchange"),
      "image decode must stream partition-local:\n" + pImg)
    val pWav = plan(graft.ops.Media.decodeWavPcm16(docs, "doc_id", "bin"))
    assert(!pWav.contains("Exchange"),
      "PCM decode must stream partition-local:\n" + pWav)
    val pThumb = plan(graft.ops.Media.downsampleBox(docs, "doc_id", "bin", 2))
    assert(!pThumb.contains("Exchange"),
      "thumbnailing must stream partition-local:\n" + pThumb)
  }

  test("rotateDense: per-row projection, no shuffle, no join") {
    val emb = graft.Tables.load(spark, dir, "embeddings")
    val p0 = graft.ops.Similarity.prepared(emb, "vec_id", "embedding")
    val ident = Seq.tabulate(64, 64)((i, j) => if (i == j) 1L << 20 else 0L)
    val p = plan(graft.ops.Similarity.rotateDense(p0, ident))
    assert(!p.contains("Exchange"),
      "the trained rotation is a literal-matrix projection:\n" + p)
    assert(!p.contains("Join"), p)
  }

  test("q123: bloom reduction filters the fact side BELOW the join's exchange") {
    import org.apache.spark.sql.catalyst.expressions.{ElementAt, XxHash64}
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    import graft.tools.PlanWalk
    // structural walk (ADVICE r9: string indexOf broke on any explain
    // formatting change): find the ShuffledHashJoin, then require a
    // bloom Filter under one of its ShuffleExchanges — i.e. the
    // predicate runs BEFORE rows enter the probe-side exchange.
    val df = OpsQueries.q123(spark, dir)
    val plan0 = df.queryExecution.executedPlan
    val joins = PlanWalk.allNodes(plan0)
      .collect { case j: ShuffledHashJoinExec => j }
    assert(joins.nonEmpty, "expected a ShuffledHashJoin:\n" + plan0)
    def bloomFilters(p: org.apache.spark.sql.execution.SparkPlan) =
      PlanWalk.allNodes(p).collect {
        case f: FilterExec
          if f.condition.find(_.isInstanceOf[XxHash64]).isDefined => f
      }
    val underExchange = joins.exists(_.children.exists(side =>
      PlanWalk.allNodes(side).exists {
        case ex: ShuffleExchangeExec => bloomFilters(ex.child).nonEmpty
        case _ => false
      }))
    assert(underExchange,
      "bloom filter must sit under the probe-side exchange:\n" + plan0)
    // the blocked-bloom membership test binds the bitset ONCE: exactly
    // one element_at (one array-literal reference) and k+1 = 5 hash
    // members in the filter condition (r9's classic layout embedded k
    // copies of the bitset literal — 4 x 8 MiB at the cap)
    val conds = bloomFilters(plan0).map(_.condition).distinct
    assert(conds.nonEmpty)
    conds.foreach { c =>
      val nElementAt = c.collect { case e: ElementAt => e }.size
      val nHash = c.collect { case h: XxHash64 => h }.size
      assert(nElementAt === 1,
        s"bitset must be referenced exactly once, got $nElementAt: $c")
      assert(nHash === 5, s"expected 5 xxhash64 members, got $nHash: $c")
    }
  }

  test("q150 semDedup: centroids broadcast; pair join is an equi-join, never cartesian") {
    import graft.ops.Similarity
    // the assignment subplan (sealed behind the materializer in the
    // full query) attaches the centroid table via broadcast — the
    // corpus is never shuffled to meet it
    val prep = Similarity.prepared(
      graft.Tables.load(spark, dir, "embeddings"), "vec_id", "embedding")
    val pa = plan(Similarity.assignClusters(prep,
      Similarity.strideCentroids(prep, 25L)))
    assert(pa.contains("BroadcastNestedLoopJoin") ||
      pa.contains("BroadcastHashJoin"), pa)
    // the within-cluster compare hashes on cent_id — a regression to a
    // non-equi pair join would explode quadratically
    val p = plan(OpsQueries.q150(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("hashpartitioning(cent_id"), p)
  }

  test("q151 triangles: wedge and closing joins are equi-joins, never cartesian") {
    val p = plan(OpsQueries.q151(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // r19 pin: at broadcastable edge counts the wedge+closing joins
    // are STATIC BroadcastHashJoins over the sealed round-robin edge
    // layout — no exchange on the probe side, so the enumeration runs
    // at the seal's full width instead of AQE's byte-coalesced local
    // read (the 4.3 s / 11-task stage). At production edge counts the
    // hint is withheld and the SMJ/AQE shape returns — the decision
    // is the driver-side edge count, not a constant.
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q163 funnel / q170 dense daily: no windows over raw events, no cartesian") {
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.tools.PlanWalk
    // the funnel is aggregates + keyed joins only — a regression to a
    // per-user ordering window would co-locate each user's history
    val f = OpsQueries.q163(spark, dir)
    assert(PlanWalk.allNodes(f.queryExecution.executedPlan)
      .collect { case w: WindowExec => w }.isEmpty)
    assert(!plan(f).contains("CartesianProduct"))
    // gap filling explodes per-key sequences — never a global
    // calendar cross join
    val d = OpsQueries.q170(spark, dir)
    assert(!plan(d).contains("CartesianProduct"))
    assert(!plan(d).contains("BroadcastNestedLoopJoin"))
  }

  test("q154 vocab: corpus-sized window is partitioned; only the count-histogram ranks single-task") {
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.tools.PlanWalk
    val df = OpsQueries.q154(spark, dir)
    val windows = PlanWalk.allNodes(df.queryExecution.executedPlan)
      .collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    // every UNPARTITIONED window must run over the count-of-counts
    // histogram (columns n/_cnt — one row per DISTINCT count value),
    // never over the token table (the q87 single-task anti-pattern)
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      val cols = w.child.output.map(_.name).toSet
      assert(cols.subsetOf(Set("n", "_cnt")),
        s"unpartitioned window over non-histogram columns $cols:\n$w")
    }
    // and the token-ranking window IS partitioned
    assert(windows.exists(_.partitionSpec.nonEmpty))
  }

  test("q256 LM scoring: token joins are equi-joins, never cartesian") {
    val p = plan(OpsQueries.q256(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    // the 1-row token-total attach is the only nested-loop site
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1, p)
    // model/backoff attach as hash joins on the token keys
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("q258 classifier predict: per-doc argmax is ONE hash aggregate; no cartesian") {
    val p = plan(OpsQueries.q258(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    // the argmax is a min-over-(−score, label)-structs hash aggregate
    // (r18 optimization) — map-side combine, no per-doc sort; a
    // regression back to a window form would reintroduce an
    // exchange + sort over the (doc × class) frame
    assert(!p.contains("WindowGroupLimit") && !p.contains("Window ["),
      s"predict argmax must stay a hash aggregate, not a window:\n$p")
    assert(p.contains("HashAggregate"), p)
    // nested-loop sites are all bounded builds: the 1-row vocabulary
    // total attaches inside tokenWeights and baseRates, and the
    // classes-row rates table crosses the doc counts — never a
    // corpus x corpus product
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 3, p)
  }

  test("q270/q271/q272 per-source budgets: windows PARTITIONED, recipe broadcasts, no cartesian") {
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.tools.PlanWalk
    for (df <- Seq(OpsQueries.q270(spark, dir),
        OpsQueries.q271(spark, dir), OpsQueries.q272(spark, dir))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), p)
      assert(!p.contains("BroadcastNestedLoopJoin"), p)
      // the recipe/tau tables attach as broadcast hash joins on the
      // group key — never a shuffle of the corpus for a recipe-sized
      // side
      assert(p.contains("BroadcastHashJoin"), p)
      // every prefix window partitions by the group key: no
      // single-partition corpus sort anywhere in the family (the
      // whole point of the per-group forms)
      val windows = PlanWalk.allNodes(df.queryExecution.executedPlan)
        .collect { case w: WindowExec => w }
      assert(windows.nonEmpty)
      assert(windows.forall(_.partitionSpec.nonEmpty),
        "unpartitioned window in a per-group selection:\n" + p)
    }
  }

  test("q276 pruned temperature tail: windows stay PARTITIONED and stratum-fed") {
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.tools.PlanWalk
    val df = OpsQueries.q276(spark, dir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    // the recipe/tau tables attach as broadcast hash joins; a
    // regression toward shuffling surv3 against a recipe-sized side
    // (or a 1-row crossJoined tau) surfaces here
    assert(p.contains("BroadcastHashJoin"), p)
    // every window in the composed plan is partitioned — the prefix
    // windows by source (fed by the covering-stratum candidate
    // filter, the r16 Next #4 switch), the funnel's argmax/keep-best
    // windows by doc/cluster; no single-partition corpus sort
    val windows = PlanWalk.allNodes(df.queryExecution.executedPlan)
      .collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "unpartitioned window in the pruned capstone tail:\n" + p)
  }

  test("q281 epochs selection: recipe broadcasts, repetition window PARTITIONED") {
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.tools.PlanWalk
    val df = OpsQueries.q281(spark, dir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the (budget, epochs) recipe attaches as a broadcast hash join
    // — never a shuffle of the corpus against a sources-sized side
    assert(p.contains("BroadcastHashJoin"), p)
    // the repetition explode rides Generate INSIDE the per-source
    // partition; the prefix window partitions by source
    assert(p.contains("Generate"), p)
    val windows = PlanWalk.allNodes(df.queryExecution.executedPlan)
      .collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "unpartitioned window in the epochs selection:\n" + p)
  }

  test("q286 ensemble gate: bucketing is MAP-ONLY — no windows, no cartesian in the served plan") {
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.tools.PlanWalk
    // the sketch windows run during edge DERIVATION (bounded,
    // driver-collected); the returned gate plan must be scorers +
    // one doc_id join + literal-edge folds — zero windows
    val df = OpsQueries.q286(spark, dir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    // bounded nested-loop sites only: the 1-row LM token total and
    // the classes-row rates cross (the q258 budget)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 3, p)
    val windows = PlanWalk.allNodes(df.queryExecution.executedPlan)
      .collect { case w: WindowExec => w }
    assert(windows.isEmpty,
      "a window crept into the ensemble gate plan:\n" + p)
  }

  test("q292 decontaminated capstone: anti-join drop, windows PARTITIONED, no cartesian") {
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.tools.PlanWalk
    val df = OpsQueries.q292(spark, dir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    // bounded nested-loop sites only (the 1-row LM total / rates
    // cross the funnel already carries — the q286 budget)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 3, p)
    // the contaminated-id drop is ONE left-anti join on the flagged
    // sliver — a regression toward a NOT-IN rewrite as a nested loop
    // (or toward recomputing pairs per consumer) surfaces here
    assert(p.contains("LeftAnti"), p)
    // every window partitioned: argmax by doc, keep-best by cluster,
    // budget prefix by source — no single-partition corpus sort
    val windows = PlanWalk.allNodes(df.queryExecution.executedPlan)
      .collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "unpartitioned window in the decontaminated capstone:\n" + p)
  }

  test("q293 BPE-cost selection: merge replay is MAP-ONLY, one stratum window, no cartesian") {
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.tools.PlanWalk
    // the merge table folds into the native expression as literals
    // (driver-collected, bounded) and the sketch windows run during
    // construction — the returned plan is the segmentation scan, one
    // doc_id join and the exact window over the candidate stratum
    val df = OpsQueries.q293(spark, dir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    val windows = PlanWalk.allNodes(df.queryExecution.executedPlan)
      .collect { case w: WindowExec => w }
    assert(windows.length <= 1,
      "more than the one budget-prefix window in the BPE selection:\n" + p)
  }

  test("q294 served report: NO corpus scan — state reads + driver arithmetic only") {
    // the serve face's whole point: the report assembles from the
    // mass-partial and spend assets; a regression toward re-running
    // the selection per read shows as the documents table re-entering
    // the plan
    val p = plan(OpsQueries.q294(spark, dir))
    assert(!p.contains("documents.parquet"),
      "the served report re-scanned the corpus:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q295 weighted ensemble: bucketing stays MAP-ONLY — no windows in the gate plan") {
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.tools.PlanWalk
    val df = OpsQueries.q295(spark, dir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 3, p)
    val windows = PlanWalk.allNodes(df.queryExecution.executedPlan)
      .collect { case w: WindowExec => w }
    assert(windows.isEmpty,
      "a window crept into the weighted ensemble gate plan:\n" + p)
  }

  test("q297/q299 BPE-priced tails: windows PARTITIONED, repetition rides Generate") {
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.tools.PlanWalk
    for ((df, wantGenerate) <- Seq(
        (OpsQueries.q297(spark, dir), false),
        (OpsQueries.q299(spark, dir), true))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), p)
      // the repriced budget/epochs windows stay partitioned by source
      // (BPE costs change the unit, never the shuffle shape); q299's
      // repetition explode rides Generate inside the partition
      if (wantGenerate) assert(p.contains("Generate"), p)
      val windows = PlanWalk.allNodes(df.queryExecution.executedPlan)
        .collect { case w: WindowExec => w }
      assert(windows.nonEmpty)
      assert(windows.forall(_.partitionSpec.nonEmpty),
        "unpartitioned window in a BPE-priced tail:\n" + p)
    }
  }

  test("q300 full funnel: sealed survivors + Generate repetition, every window PARTITIONED") {
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.tools.PlanWalk
    // the returned plan starts at the SEALED surv4 (the decont
    // anti-join runs at construction and is deliberately behind the
    // lineage barrier — surv4 feeds the mass pass AND the selection,
    // so an unsealed form would run the whole gate+decont chain
    // twice); what must hold downstream of the seal: the BPE reprice
    // is joins over the sealed survivors, the epoch repetition rides
    // Generate inside the per-source partition (q299's pin), no
    // cartesian anywhere, every window partitioned
    val df = OpsQueries.q300(spark, dir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Generate"), p)
    // the seal is really there: the tail reads the checkpointed
    // survivors, not a re-derivation of the funnel (no corpus scan)
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("documents.parquet"),
      "the funnel re-derived past the surv4 seal:\n" + p)
    val windows = PlanWalk.allNodes(df.queryExecution.executedPlan)
      .collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "unpartitioned window in the full funnel:\n" + p)
  }

  test("unpartitioned windows are FROZEN to bounded frames across the mixture/budget family (VERDICT r18 #7)") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.LocalTableScanExec
    import graft.tools.PlanWalk
    // Verify's eight `WindowExec: No Partition Defined` warnings are
    // DELIBERATE sources-sized frames — but nothing pinned that the
    // unpartitioned-window inputs stay bounded; at 100 TB an
    // accidental doc-keyed global window is a scale-killer. This
    // freezes the contract: in every mixture/budget-family plan, an
    // unpartitioned window must run over a driver-built recipe
    // LocalRelation (sources-sized by construction — the
    // largest-remainder rank), with q260 as the ONE documented
    // exception (the exact-form face; q261 is the production form).
    // frozen list: every non-recipe unpartitioned window, per query.
    // q293's single entry is the documented q261-style PRUNED stratum
    // window (its input is the sketch-cutoff-filtered covering
    // stratum, budget-bounded — not the corpus); everything else must
    // run over recipe LocalRelations only.
    val frozenNonRecipe = Map(
      "q276_mixture_curation" -> 0, "q283_calibrated_mixture" -> 0,
      "q291_mixture_report" -> 0, "q293_bpe_budget" -> 1,
      "q294_mixture_report_served" -> 0,
      "q297_bpe_priced_capstone" -> 0,
      "q299_bpe_epochs_capstone" -> 0, "q300_full_funnel" -> 0)
    frozenNonRecipe.foreach { case (name, allowed) =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val bad = PlanWalk.allNodes(df.queryExecution.sparkPlan)
        .collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
        .filterNot { w =>
          PlanWalk.allNodes(w.child)
            .exists(_.isInstanceOf[LocalTableScanExec])
        }
      assert(bad.size == allowed,
        s"$name: ${bad.size} unpartitioned windows NOT over a recipe " +
          s"LocalRelation (frozen allowance $allowed):\n${bad.mkString("\n")}")
    }
    // the documented exception: q260's exact global cumulative window
    // over the corpus — exactly one, and it is the face's point
    val q260 = graft.SparkEntry.queries("q260_budget_select")(spark, dir)
    val g = PlanWalk.allNodes(q260.queryExecution.sparkPlan)
      .collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
    assert(g.size === 1, s"q260 must have exactly one global window, got ${g.size}")
  }

  test("q273 calibrated gate: threshold is a LITERAL comparison, no cartesian") {
    // the calibration sweep runs driver-side during construction (a
    // bounded 1-row fetch); the returned gate plan must compare the
    // margin against a folded literal — no threshold-frame join
    val p = plan(OpsQueries.q273(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }
}
