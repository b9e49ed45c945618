package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import graft.queries.{OpsQueries, Relational}
import graft.recipes.Recipes
import graft.search.Search

/** Dev tool: dump formatted physical plans of the scale-critical
  * queries to PLANS.md (the `.explain("formatted")` audit the plan
  * notes reference). Not part of the library surface.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession.build("4")
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"

    def fmt(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // a served IVF-PQ result is a local frame: audit the scan it ran
    def fmtServedScan(serve: => org.apache.spark.sql.DataFrame): String =
      graft.ops.Similarity.servedScans(spark)(serve).map(
        _.explainString(ExplainMode.fromString("formatted"))).mkString("\n")

    val sections = Seq(
      "q01 pricing summary — filter pushdown + pruned scan + partial/final agg" ->
        fmt(Relational.q01(spark, dir)),
      "q04 star join — all dimensions broadcast, single shuffle for the agg" ->
        fmt(Relational.q04(spark, dir)),
      "q22 ngram jaccard — df-capped inverted-index candidate equi-join" ->
        fmt(OpsQueries.q22(spark, dir)),
      ("minhash bucket build — native shingle + band-key expressions, " +
        "one projection into posexplode (the subtree behind the " +
        "localCheckpoint barriers that q22/q23 plans scan as ExistingRDD)") ->
        fmt {
          import org.apache.spark.sql.functions._
          graft.ops.Dedup.shingleSets(
              spark.read.parquet(s"$dir/documents.parquet"),
              "doc_id", "text", 3)
            .filter(size(col("shs")) > 0)
            .select(col("doc_id"), posexplode(
              graft.plans.Native.minhashBandKeys(col("shs"), 4, 2)))
        },
      "classic search — one scan into TakeOrderedAndProject" ->
        fmt(Search.classic(
          Recipes.searchView(Recipes.dedupByKey(Recipes.loadRaw(spark))),
          "chocolat")),
      ("q65 bm25 — stats/df sides broadcast, dl carried through the " +
        "explode (no corpus-sized join), one tf-aggregate shuffle") ->
        fmt(Search.bm25Search(
          spark.read.parquet(s"$dir/documents.parquet"),
          "doc_id", "text", OpsQueries.idfQueryToks)),
      ("q70 hll sketch — linear register pass into an m-bounded " +
        "aggregate (partial max per register, single-row reduce)") ->
        fmt(graft.ops.Sketches.hllDistinctAudit(
          spark.read.parquet(s"$dir/events.parquet"),
          org.apache.spark.sql.functions.col("user_id"))),
      ("q76 temperature mix — one count aggregate, rate table " +
        "broadcast back, codegen'd md5-bucket filter (no second " +
        "corpus shuffle)") ->
        fmt(graft.ops.Sessions.sqrtTemperatureMix(
          spark.read.parquet(s"$dir/documents.parquet"),
          "lang", "doc_id")),
      ("q75 binned quantiles — histogram aggregate bounded by " +
        "domain/binWidth, window over the tiny histogram only, " +
        "single-row pick") ->
        fmt(graft.ops.Stats.binnedQuantiles(
          spark.read.parquet(s"$dir/documents.parquet"),
          "n_chars", 64L, Seq(50, 95, 99))),
      ("q69 multi-field bm25 (round 5) — ONE tagged explode over all " +
        "fields, one tf-aggregate shuffle reused by the df branch " +
        "(ReusedExchange), greatest across per-field scores") ->
        fmt(Search.bm25MultiField(
          spark.read.parquet(s"$dir/documents.parquet"),
          "doc_id", Seq("text", "lang", "source"),
          OpsQueries.idfQueryToks)),
      ("q85 PQ ADC ranking (round 5) — codes-only corpus side (x m " +
        "Generate, broadcast LUT join), partial+final sum per " +
        "(query, vec); raw vectors never enter the ranking scan") ->
        fmt {
          val p = graft.ops.Similarity.prepared(
            spark.read.parquet(s"$dir/embeddings.parquet"),
            "vec_id", "embedding")
          val cb = graft.ops.Similarity.pqCodebooks(p, 8, 64, 25L)
          graft.ops.Similarity.knnPq(p,
            p.filter(org.apache.spark.sql.functions.col("vec_id") < 5),
            cb, 8, 64, 10)
        },
      ("q94 IVF-PQ index serve — the probes, centroids and codebooks " +
        "are resolved on the driver, so the served scan is ONE stage " +
        "over the persisted (vec_id, cent_id, codes) table, InSet-" +
        "filtered to the probed lists (bucket-pruned, no Exchange, no " +
        "join); ADC scoring and a bounded per-partition top-k run " +
        "inside it. No corpus scan, no encode, no raw-vector column") ->
        fmtServedScan {
          import org.apache.spark.sql.functions.col
          val p = graft.ops.Similarity.prepared(
            spark.read.parquet(s"$dir/embeddings.parquet"),
            "vec_id", "embedding")
          val cb = graft.ops.Similarity.pqCodebooks(p, 8, 64, 25L)
          val coarse = graft.ops.Similarity.strideCentroids(p, 25L)
          graft.ops.Similarity.writePqIndex(p, coarse, cb, 8, 64,
            "planaudit_pq_index", numBuckets = 4)
          graft.ops.Similarity.knnIvfPqOnIndex(spark,
            "planaudit_pq_index", p.filter(col("vec_id") < 5),
            coarse, cb, 8, 64, 10, nProbe = 2)
        },
      ("q101 residual IVF-PQ index serve (round 6) — same candidate " +
        "shape as q94 with the three extra exact terms all BROADCAST " +
        "(q·c probe dots, centroid×codebook cross table, LUT); the " +
        "index scan is still codes-only — residual encoding adds " +
        "recall, not query-time scan volume") ->
        fmt {
          import org.apache.spark.sql.functions.col
          val p = graft.ops.Similarity.prepared(
            spark.read.parquet(s"$dir/embeddings.parquet"),
            "vec_id", "embedding")
          val coarse = graft.ops.Similarity.strideCentroids(p, 25L)
          val rcb = graft.ops.Similarity.pqCodebooks(
            graft.ops.Similarity.residualCorpus(p, coarse), 8, 64, 13L)
          graft.ops.Similarity.writePqIndexResidual(p, coarse, rcb, 8, 64,
            "planaudit_pq_residx", numBuckets = 4)
          graft.ops.Similarity.knnIvfPqResidualOnIndex(spark,
            "planaudit_pq_residx", p.filter(col("vec_id") < 5),
            coarse, rcb, 8, 64, 10, nProbe = 2)
        },
      ("q95 bm25 index serve (round 6) — NO Generate anywhere (the " +
        "corpus is never re-tokenized): the token IN-filter is pushed " +
        "into the bucketed postings scan, df and the 1-row stats " +
        "broadcast, and the only shuffle is the per-doc score " +
        "aggregate over matching postings rows") ->
        fmt {
          Search.writeBm25Index(
            spark.read.parquet(s"$dir/documents.parquet"),
            "doc_id", Seq("text"), "planaudit_bm25_post",
            "planaudit_bm25_df", "planaudit_bm25_stats", numBuckets = 4)
          Search.bm25MultiFieldFromIndex(spark, "planaudit_bm25_post",
            "planaudit_bm25_df", "planaudit_bm25_stats", Seq("text"),
            OpsQueries.idfQueryToks)
        },
      ("q87 shuffle rank (round 7) — invariants: exactly ONE Exchange " +
        "on the corpus path (the _sbkt hash repartition feeding the " +
        "PARTITIONED per-bucket window); the only global-sort window " +
        "runs over the 256-row offsets aggregate, which comes back " +
        "via BroadcastExchange (pinned after the r6 bench drift " +
        "profiled to box noise — ProfileQ87, PROFILE.md round 7)") ->
        fmt(graft.ops.Sessions.shuffleRank(
          graft.Tables.load(spark, dir, "documents"), "doc_id", "seed1")
          .select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("shuffle_rank"))),
      ("post-compaction streaming IVF-PQ serve (round 7) — after " +
        "compactPqIndexState folds the batch state into the bucketed " +
        "asset, pqIndexServe with an empty delta IS q94's served scan: " +
        "codes-only, bucket-pruned read of the compacted table, no " +
        "Exchange, no index-keyed distinct (the retired state path " +
        "shuffled the whole accumulated index per query)") ->
        fmtServedScan {
          import org.apache.spark.sql.functions.col
          val p = graft.ops.Similarity.prepared(
            spark.read.parquet(s"$dir/embeddings.parquet"),
            "vec_id", "embedding")
          val cb = graft.ops.Similarity.pqCodebooks(p, 8, 64, 25L)
          val coarse = graft.ops.Similarity.strideCentroids(p, 25L)
          val base = java.nio.file.Files
            .createTempDirectory("planaudit_state").toString
          Seq(0, 1).foreach { i =>
            graft.ops.Similarity.pqIndexRows(
                p.filter(org.apache.spark.sql.functions.pmod(
                  col("vec_id"), org.apache.spark.sql.functions.lit(2)) === i),
                coarse, cb, 8, 64)
              .write.mode("overwrite").parquet(s"$base/index/batch=$i")
          }
          graft.streaming.StreamingUpsert.compactPqIndexState(spark,
            base, "planaudit_compact_idx", numBuckets = 4)
          graft.streaming.StreamingUpsert.pqIndexServe(spark, base,
            "planaudit_compact_idx", p.filter(col("vec_id") < 5),
            coarse, cb, 8, 64, 10, nProbe = 2)
        },

      ("q123 bloom semi-join reduction (round 9; register-blocked in " +
        "round 10) — the bitset predicate sits in the fact-side " +
        "Filter BELOW the ShuffledHashJoin's probe exchange: ~99% of " +
        "fact rows die before shuffling (98.4% measured at sf0.1, " +
        "PROFILE.md round 9). The blocked layout binds the bitset as " +
        "ONE array literal consumed by ONE element_at — r9's classic " +
        "k-probe form embedded k copies of the array in this filter " +
        "(4 x 8 MiB per task at the cap); PlanSpec pins the single " +
        "reference structurally") ->
        fmt(OpsQueries.q123(spark, dir)),

      ("q124/q125 layout probes (round 9) — a range probe against " +
        "the z-ordered copy: the predicate reaches the parquet scan " +
        "(PushedFilters GreaterThanOrEqual/LessThanOrEqual) so " +
        "row-group stats skip non-overlapping groups; the manifest " +
        "variant scans the SAME shape over only the " +
        "manifest-surviving file list") ->
        fmt(OpsQueries.q124(spark, dir)),

      ("q132 serve-only pruned reads (round 10) — the read-path " +
        "tier's bench face: conjunctive manifest range probe + " +
        "per-file-bloom point lookup against prebuilt assets. Both " +
        "probe scans read ONLY surviving files (the scan node lists " +
        "the pruned file set) with the row-level predicate pushed " +
        "(PushedFilters), and the planning-time asset reads are " +
        "file-count-bounded") ->
        fmt(OpsQueries.q132(spark, dir)),

      ("q136 summary serve (round 10) — the materialized-aggregate " +
        "roll-up: the ONLY scan is the dims-cardinality summary " +
        "table (no fact table anywhere in the plan), one partial+" +
        "final aggregate over partial columns, exact decimal " +
        "re-merge. Compare q01's plan above: same report, fact-sized " +
        "scan") ->
        fmt(OpsQueries.q136(spark, dir)),

      ("q138 automatic MV rewrite (round 10) — the SQL names only " +
        "the BASE table; the optimizer rule replaced the " +
        "aggregate-over-base subtree with the summary scan at " +
        "planning time (freshness-checked). The scan node's location " +
        "is the summary table — the base path appears nowhere") ->
        fmt(OpsQueries.q138(spark, dir)),

      ("q142 partition pruning (round 10) — probe (a): the literal " +
        "month filter appears as PartitionFilters on the scan " +
        "(directory pruning from catalog metadata, zero data I/O to " +
        "plan); probe (b): the dimension join carries " +
        "dynamicpruning#N in PartitionFilters — Spark's DPP turns " +
        "the broadcast months into a runtime partition filter, so " +
        "the fact scan opens only the quarter's directories") ->
        fmt(OpsQueries.q142(spark, dir)),

      ("q150 semdedup — the within-cluster pair join hashes on " +
        "cent_id (equi, never cartesian); assignment is sealed " +
        "behind the materializer (ExistingRDD) with the broadcast " +
        "centroid attach inside it") ->
        fmt(OpsQueries.q150(spark, dir)),
      ("q151 triangles — orientation and closing joins all equi on " +
        "node keys; the wedge self-join emits each unordered tip " +
        "pair once (ordered-struct predicate)") ->
        fmt(OpsQueries.q151(spark, dir)),
      ("q154 vocab — the token-ranking window is PARTITIONED by " +
        "count value; the only unpartitioned window runs over the " +
        "count-of-counts histogram (one row per distinct count)") ->
        fmt(OpsQueries.q154(spark, dir)),
      ("q163 funnel — aggregates + keyed joins only: no window " +
        "touches the raw events, so no user's history is ever " +
        "co-located in one task; per-step frames are sealed " +
        "(ExistingRDD scans), so the final report is ONE tagged " +
        "union + one aggregate + a broadcast step-table join " +
        "(round 12 — previously one count job per step)") ->
        fmt(OpsQueries.q163(spark, dir)),

      ("q175 hll rolling actives (round 11) — the corpus reduces " +
        "ONCE to per-day register partials (the only corpus-sized " +
        "Exchange); the trailing-window merge explodes REGISTERS " +
        "(days x 1024 x window rows, corpus-size-independent) and " +
        "re-maxes per report day — compare q172's exact form, whose " +
        "explode multiplies activity FACTS by the window length") ->
        fmt(OpsQueries.q175(spark, dir)),

      ("q178 bpe segment (round 12) — the APPLY pass that runs over " +
        "100 TB: the trained merge list folds into the plan as one " +
        "map-only chain of literal replaces inside a single Project " +
        "over the posexploded words (no join anywhere on the corpus " +
        "path); the only Exchange is the doc_id reassembly " +
        "aggregate. Training jobs run at plan-build time (driver " +
        "loop) and are NOT in this plan") ->
        fmt(OpsQueries.q178(spark, dir)),

      ("q180 quantile sketch (round 12) — salted two-phase " +
        "bottom-k: window 1 ranks within (group, salt) so no task " +
        "ever sorts a whole hot group, window 2 re-ranks the <= " +
        "salts*k survivors per group; the serve aggregate's " +
        "collect_list is k-bounded. The corpus is scanned once") ->
        fmt(OpsQueries.q180(spark, dir)),

      ("q186 per-key top-k aggregator (round 12) — partial " +
        "ObjectHashAggregate BELOW the exchange: each map task ships " +
        "at most k rows per key; the final aggregate merges bounded " +
        "sorted lists, then one posexplode ranks them. Contrast q07: " +
        "the window form gets the same bound from " +
        "InferWindowGroupLimit (partial WindowGroupLimit under the " +
        "window exchange), pinned in PlanSpec") ->
        fmt(OpsQueries.q186(spark, dir)),

      ("q187 incremental connected components (round 12) — the final " +
        "label union: untouched labels via BroadcastHashJoin " +
        "LeftAnti against the delta-sized hit-label set (the prior " +
        "corpus is scanned, never shuffled), unioned with the " +
        "re-solved affected slice (an ExistingRDD barrier — the CC " +
        "subproblem's jobs run at plan-build time over " +
        "affected+delta-sized frames only)") ->
        fmt(OpsQueries.q187(spark, dir)),

      ("q189 cluster-aware split (round 12) — one BroadcastHashJoin " +
        "LeftOuter of the corpus against the pair-derived cluster " +
        "table, then a codegen'd md5 ppm-bucket projection; no " +
        "corpus shuffle anywhere") ->
        fmt(OpsQueries.q189(spark, dir)),

      ("q192 gopher repetition (round 12) — the whole derivation + " +
        "line/paragraph duplicate stats are per-doc Column " +
        "expressions: ONE corpus scan into one WholeStageCodegen " +
        "projection, zero Exchange — the shape every per-doc quality " +
        "column must keep at 100 TB") ->
        fmt(OpsQueries.q192(spark, dir)),

      ("q193 entity resolution (round 12) — ONE bkey Exchange serves " +
        "both the block-size-cap window and the within-block pair " +
        "self-join; the Levenshtein filter sits on the pair side " +
        "(codegen'd, cap-bounded volume); the match-pair transitive " +
        "closure runs behind an ExistingRDD barrier (match-sized, " +
        "never corpus-sized), and the label/canonical attaches are " +
        "entity-table-keyed joins (the canonical side broadcasts " +
        "here; the label side is SMJ at this fixture scale and " +
        "broadcast-sized under AQE in production) — the record " +
        "corpus itself is never self-joined raw") ->
        fmt(OpsQueries.q193(spark, dir)),

      ("q199 bpe native segment (round 12) — q178's pipeline with the " +
        "per-token replace chain fused into ONE BpeMergeWord " +
        "expression inside the same map-only Project (the plan keeps " +
        "q178's shape: posexplode -> projection -> doc_id reassembly " +
        "Exchange; what changed is per-ROW cost — one symbol-array " +
        "scan per merge rank instead of nMerges wrapped-string " +
        "rebuilds, PROFILE.md carries the measured ratio)") ->
        fmt(OpsQueries.q199(spark, dir)),

      ("q200 hits (round 12) — per half-step one edges-rank equi-join " +
        "+ one keyed sum aggregate (node-key shuffles), the 1-row max " +
        "broadcast back via BroadcastNestedLoopJoin (no second " +
        "corpus-sized pass for the rescale), rounds sealed behind " +
        "ExistingRDD barriers like q148's power iteration") ->
        fmt(OpsQueries.q200(spark, dir)),

      ("q201 cheapest paths (round 12) — the FRONTIER shape: each " +
        "round joins only last round's improved nodes against the " +
        "edge table (frontier-sized, not node-set-sized), one min " +
        "aggregate + one min-merge; rounds sealed; the edge table " +
        "with its DIV-derived weights builds once behind its own " +
        "barrier") ->
        fmt(OpsQueries.q201(spark, dir)),

      ("q203 personalized pagerank (round 12) — q148's per-round shape " +
        "(one edges-rank equi-join + one destination aggregate, sealed " +
        "rounds) with the seed table attached as a broadcast left join " +
        "for the teleport base; final TakeOrderedAndProject top-20; " +
        "skipSinkCheck = true removes q148's up-front anti-join job " +
        "(the graph is sink-free by construction)") ->
        fmt(OpsQueries.q203(spark, dir)),

      ("q209 dead-letter routing (round 12) — the whole reasons array " +
        "+ quarantine filter is one map-only filter+projection over " +
        "one scan, zero Exchange (the q192 shape every per-row gate " +
        "must keep at 100 TB; the HOF reasons array itself evaluates " +
        "interpreted — lambdas sit outside whole-stage codegen)") ->
        fmt(OpsQueries.q209(spark, dir)),

      ("hits round subtree (un-materialized, iters=1) — the per-round " +
        "shape q200's sealed barriers hide: edges joined to the score " +
        "table, keyed partial+final sum, the 1-row greatest(max,1) " +
        "attached via BroadcastNestedLoopJoin (no second corpus pass " +
        "for the rescale), DECIMAL(38,0) DIV rescale projection, " +
        "node-table left join re-seating every node") ->
        fmt {
          import org.apache.spark.sql.functions._
          val e = spark.read.parquet(s"$dir/orders.parquet")
            .select(col("o_orderkey"), col("o_custkey"))
            .join(spark.read.parquet(s"$dir/lineitem.parquet")
              .select(col("l_orderkey"), col("l_suppkey")),
              col("o_orderkey") === col("l_orderkey"))
            .select(concat(lit("c"), col("o_custkey")).as("src"),
              concat(lit("s"), col("l_suppkey")).as("dst"))
          graft.ops.Graphs.hits(e, iters = 1,
            mat = graft.ops.Materialize.Off)
        },

      ("cheapest-paths round subtree (un-materialized, maxHops=1) — " +
        "the per-round shape q201's sealed barriers hide: the frontier " +
        "(not the node set) joined to the weighted edge table, min " +
        "candidate aggregate, improvement anti-filter against the " +
        "sealed cost table, min-merge union") ->
        fmt {
          import org.apache.spark.sql.functions._
          val li = spark.read.parquet(s"$dir/lineitem.parquet")
          val ki = li.select(col("l_orderkey").as("k"),
            col("l_partkey").as("item")).distinct()
          val pairs = ki.as("a").join(ki.as("b"),
              col("a.k") === col("b.k") && col("a.item") < col("b.item"))
            .groupBy(col("a.item").as("a"), col("b.item").as("b"))
            .agg(count(lit(1)).as("n"))
            .withColumn("w", lit(1L) + expr("1000 DIV n"))
          val edges = pairs.select(col("a").as("src"), col("b").as("dst"),
              col("w"))
            .unionAll(pairs.select(col("b").as("src"), col("a").as("dst"),
              col("w")))
          val seeds = spark.read.parquet(s"$dir/part.parquet")
            .filter(col("p_size") === 50)
            .select(col("p_partkey").as("node"))
          graft.ops.Graphs.cheapestPaths(edges, seeds, maxHops = 1,
            mat = graft.ops.Materialize.Off)
        },

      ("q219 t-closeness (round 13) — ONE corpus pass (the " +
        "(QI, sensitive) grouped count, map-side combined) SEALED " +
        "behind the Materializer barrier: every downstream branch " +
        "(class sizes, the broadcast global table, the attach) scans " +
        "the classes x domain ExistingRDD, never the corpus (the " +
        "unsealed form re-scanned orders three times — caught by this " +
        "audit); the TVD aggregate runs over classes x domain rows") ->
        fmt(OpsQueries.q219(spark, dir)),

      ("q218 audio fingerprint subtree (round 13) — the map-only stage " +
        "before the banded pair join: one scan into the codec-boundary " +
        "mapPartitions (ExistingRDD-free plan — the fingerprint is " +
        "computed in the SerializeFromObject pipeline, no shuffle); " +
        "the pair join behind it is q211's banded-Hamming shape " +
        "verbatim (hammingPairs audits above apply)") ->
        fmt {
          import org.apache.spark.sql.functions._
          graft.ops.Media.energyHashWav(
            spark.read.parquet(s"$dir/documents.parquet")
              .select(col("doc_id"), col("text").cast("binary").as("bin")),
            "doc_id", "bin")
        },

      ("q222 video frame-set Jaccard (round 13) — the clip-set join: " +
        "frame hashes aggregate per clip (collect_set, one doc-key " +
        "shuffle), the inverted frame-hash index is df-capped before " +
        "the candidate equi self-join, ONE exact array_intersect per " +
        "candidate; nothing all-pairs, no raster column anywhere past " +
        "the hash projection") ->
        fmt {
          import org.apache.spark.sql.functions._
          val sets = graft.ops.Media.dhashGifFrames(
              spark.read.parquet(s"$dir/documents.parquet")
                .select(col("doc_id"),
                  col("text").cast("binary").as("bin")),
              "doc_id", "bin", maxFrames = 8)
            .groupBy(col("id").as("doc_id"))
            .agg(collect_set(col("dhash")).as("shs"))
          graft.ops.Dedup.setJaccardPairs(sets, tauPpm = 500000L,
            maxDf = 10L, mat = graft.ops.Materialize.Off)
        },

      ("q224 distribution-match scoring (round 13) — the rate tables " +
        "reduce each corpus explode to an nBuckets-bounded count " +
        "(map-side combined) and come back as BROADCAST weight joins " +
        "on the token explode; the ONLY corpus-sized shuffle is the " +
        "final doc-key aggregate — the shape every per-token scorer " +
        "must keep at 100 TB") ->
        fmt(OpsQueries.q224(spark, dir)),

      ("q226 interval-overlap join (round 13) — the theta-join " +
        "REWRITE: both interval sides Generate onto the bucket grid " +
        "and meet in ONE hash equi-join on (key, bucket); the overlap " +
        "predicate and the canonical-bucket pair-once filter sit " +
        "ABOVE the join as codegen'd filters — no BroadcastNestedLoop, " +
        "no per-key cross product anywhere") ->
        fmt(OpsQueries.q226(spark, dir)),

      ("q231 hybrid RRF fusion (round 13) — the BM25 side keeps q65's " +
        "2-scan/1-shuffle shape with its rank window over the MATCHED " +
        "set only; the vector side is the broadcast-query knnBrute " +
        "scan; fusion is an n-bounded union into one tiny aggregate. " +
        "The two single-partition rank windows run over query-bounded " +
        "row sets (matched docs / k candidates), never the corpus") ->
        fmt(OpsQueries.q231(spark, dir)),

      ("q238 hybrid RRF, ANN-served vector leg (round 14) — NO corpus " +
        "rank scan anywhere: the lexical side reads the token-pruned " +
        "bucketed postings, the vector side reads the bucketed codes " +
        "INDEX (broadcast probes -> cent_id equi-join -> ADC), and " +
        "the raw-vector table appears only under the re-rank's " +
        "selective equi-join on the 100-row shortlist and the " +
        "broadcast probe/LUT builds. Every rank window is bounded " +
        "(TakeOrderedAndProject for the global ones, partial+final " +
        "WindowGroupLimit for the per-query ones — PlanSpec pins " +
        "both); fusion stays the n-bounded union + tiny aggregate") ->
        fmt(OpsQueries.q238(spark, dir)),

      ("q245 BATCH hybrid serving (round 14) — N queries, ONE " +
        "postings scan (broadcast token semi-join + broadcast " +
        "query-tag join) and ONE probes→codes→ADC pass; EVERY rank " +
        "window partitions by query_id and plans as partial+final " +
        "WindowGroupLimit — no TakeOrderedAndProject, no global sort " +
        "anywhere, so the plan's depth is independent of the query " +
        "batch size (ProfileBatchHybrid measured flat 1.7 s for " +
        "N=1..16 vs linear per-call growth)") ->
        fmt(OpsQueries.q245(spark, dir)),

      ("q250 decontamination (round 14) — the bipartite candidate " +
        "chain: two map-only shingle passes, one union-df aggregate, " +
        "the train×test candidates meet in ONE hash equi-join on the " +
        "rare shingle with the eval side BROADCAST, one exact " +
        "array_intersect per candidate; the train corpus is never " +
        "reshuffled and nothing is all-pairs (PlanSpec pins no " +
        "cartesian / no BNLJ)") ->
        fmt(OpsQueries.q250(spark, dir)),

      ("q256 LM fluency scoring (round 15) — the corpus-sized pass is " +
        "two token-keyed equi-joins (bigram model on (w1,w2), unigram " +
        "backoff on w2) plus ONE doc-key aggregate per pass; the " +
        "reference-side train counts reduce to vocabulary-sized " +
        "tables with map-side combine before any corpus join, and " +
        "the 1-row token total broadcasts — the corpus is never " +
        "joined against itself and nothing is driver-side") ->
        fmt(OpsQueries.q256(spark, dir)),

      ("q258 token-classifier predict (round 15) — ONE inner " +
        "token-keyed join against the delta-weight table (absent " +
        "tokens fold in as n_tokens x broadcast base rate), one " +
        "(doc, class) aggregate, and a classes-bounded per-doc rank " +
        "window (partitioned by doc_id — parallel, never a global " +
        "sort); train counts are classes x vocabulary with map-side " +
        "combine") ->
        fmt(OpsQueries.q258(spark, dir)),

      ("q261 budget selection, sketch-pruned (round 15) — the " +
        "corpus-wide work is the cost aggregate, the bottom-k score " +
        "sketch (salted two-phase rank with map-side WindowGroupLimit " +
        "partial limits), and a codegen'd score >= tau LITERAL filter " +
        "(tau is a bounded <= k-row driver fetch — the first cut rode " +
        "1-row BroadcastNestedLoopJoins and benched SLOWER than the " +
        "exact sort; ProfileBudget has the curve); the " +
        "single-partition cumulative window — the exact form's " +
        "whole-corpus sort — receives ONLY the candidate stratum " +
        "(~2*budget/avg_cost rows)") ->
        fmt(OpsQueries.q261(spark, dir)),

      ("q271 per-source budget selection, sketch-pruned (round 16) — " +
        "every window PARTITIONS by source (PlanSpec pins " +
        "partitionSpec nonempty on all of q270/q271/q272), the " +
        "recipe / sample / tau tables are LocalRelations broadcast " +
        "back as hash joins on the group key (never a corpus " +
        "shuffle for a recipe-sized side, never a BNLJ), and the " +
        "bucket-cost pass prices every per-group stratum in ONE " +
        "corpus scan — the 90%-mass domain sorts only its covering " +
        "stratum (ProfileBudget BYGROUP leg)") ->
        fmt(OpsQueries.q271(spark, dir)),

      ("q274 trigram LM scoring (round 16) — q256's shape one order " +
        "up: THREE token-keyed equi-joins (trigram model on " +
        "(w1,w2,w3), bigram backoff on (w2,w3), unigram backoff on " +
        "w3) plus the doc aggregates; the trigram join key is finer " +
        "than the bigram one, so key skew only improves with order; " +
        "train counts stay transition-bounded with map-side combine") ->
        fmt(OpsQueries.q274(spark, dir)))

    val body = sections.map { case (title, plan) =>
      s"## $title\n\n```\n${plan.trim}\n```\n"
    }.mkString(
      "# PLANS — formatted physical plans of the scale-critical queries\n\n" +
        "Generated by `graft.tools.PlanAudit` (sf0.001 inputs; plan SHAPE\n" +
        "is scale-invariant). The properties asserted in PlanSpec are\n" +
        "visible here: PushedFilters / ReadSchema on scans, broadcast\n" +
        "exchanges on dimension sides, TakeOrderedAndProject top-k, and\n" +
        "WholeStageCodegen spans over the expression-heavy stages.\n\n",
      "\n", "")
    Files.writeString(Paths.get("PLANS.md"), body)
    println(s"[planaudit] wrote PLANS.md (${sections.size} sections)")
    spark.stop()
  }
}
