package graft
package streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQuery}
import graft.ops.Dedup

/** Structured Streaming form of the reference's stream-like semantics
  * (SURVEY.md §2.11): the ONLY stateful behavior the reference has is
  * the idempotent keyed upsert — re-running the scraper converges the
  * stores to the latest snapshot (scraper/main.py:263,277). Here that
  * becomes:
  *
  *  1. [[upsertQuery]] — readStream -> foreachBatch LWW merge into a
  *     keyed table (the Mongo bulk-upsert analog; exactly-once per the
  *     checkpointed batch id).
  *  2. [[dedupWithinWatermark]] — streaming dropDuplicates with
  *     watermark-bounded state (the "have I seen this key" crawl set,
  *     D1, with eviction so state doesn't grow unboundedly).
  *  3. [[hourlyCounts]] — watermarked tumbling-window aggregation (the
  *     streaming form of the batch q15 event rollup).
  *  4. [[latestPerKey]] — mapGroupsWithState custom state: running LWW
  *     emitted on every update (the ES-doc-id overwrite as a live view).
  *
  * The maintained-state families below (per-batch `*Batch` folds,
  * their compactions and serves) all run on [[VersionedState]], whose
  * doc states the on-disk layout and the replay contract once.
  *
  * Scale posture: all state is keyed and watermark-bounded (except the
  * deliberate unbounded LWW state in 4, documented); merges shuffle
  * once on the key. At 100 TB the foreachBatch target would be a
  * merge-capable table format — the batch-side merge function is
  * isolated in [[mergeBatch]] so only the sink write changes.
  */
object StreamingUpsert {

  /** One LWW merge step: existing table ∪ batch -> keyed latest,
    * written TEMP-THEN-SWAP: the merge writes to a sibling _tmp path
    * (reading the OLD table the whole time — never the path it is
    * replacing), then the table is swapped in with a filesystem
    * rename. A cache+count "barrier" would NOT be safe here: executor
    * loss after the overwrite deleted the old files would recompute
    * lineage against the truncated source and silently lose keys.
    * Table existence and the swap go through the Hadoop FileSystem
    * API, so the sink works on HDFS-like stores, not just local disk
    * (rename atomicity is FS-dependent — on object stores use a
    * merge-capable table format instead, as the class doc says).
    */
  def mergeBatch(spark: SparkSession, batch: DataFrame, keyCol: String,
                 orderCol: String, idCol: String, tablePath: String): Unit = {
    val existing =
      if (VersionedState.exists(spark, tablePath))
        spark.read.schema(batch.schema).parquet(tablePath)
      else batch.limit(0)
    val merged = Dedup.lastWriteWins(
      existing.unionByName(batch), keyCol, orderCol, idCol)
    val tmp = tablePath + "_tmp"
    merged.write.mode("overwrite").parquet(tmp)
    VersionedState.replace(spark, tmp, tablePath)
  }

  /** S4/D2 streamed: idempotent keyed last-write-wins upsert sink. */
  def upsertQuery(stream: DataFrame, keyCol: String, orderCol: String,
                  idCol: String, tablePath: String,
                  checkpoint: String): StreamingQuery =
    VersionedState.drive(stream, checkpoint) { (batch, _) =>
      mergeBatch(batch.sparkSession, batch, keyCol, orderCol, idCol,
        tablePath)
    }

  /** D1 streamed: first-occurrence-wins dedup with watermark-bounded
    * state (keys older than the watermark are evicted — the unbounded
    * crawl `seen` set made safe for an infinite stream).
    */
  def dedupWithinWatermark(stream: DataFrame, keyCol: String,
                           tsCol: String, delay: String): DataFrame =
    stream.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Watermarked tumbling-window counts per type — the streaming form
    * of the hourly event rollup (append-mode-capable: results finalize
    * when the watermark passes the window end).
    */
  def hourlyCounts(events: DataFrame, tsCol: String, typeCol: String,
                   delay: String): DataFrame =
    events.withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), "1 hour"), col(typeCol))
      .agg(count(lit(1)).as("n"))

  /** Gap-based session aggregation per key — the streaming form of the
    * batch [[graft.ops.Sessions.sessionize]] (q34): Spark's native
    * `session_window` merges events separated by less than `gap` into
    * one growing window whose state is finalized (and emitted, in
    * append mode) once the watermark passes gap seconds beyond the last
    * event. State is one open window per active key — bounded by key
    * cardinality x open sessions, evicted by the watermark, which is
    * exactly the sessionization shape that scales on an unbounded
    * stream (the batch window form co-locates a key's FULL history
    * instead).
    */
  def sessionCounts(events: DataFrame, keyCol: String, tsCol: String,
                    gap: String, delay: String): DataFrame =
    events.withWatermark(tsCol, delay)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Watermarked STREAM-STREAM interval join: left and right event
    * streams joined on a key with right timestamps within
    * [left − tolerance, left + tolerance]. Both sides carry the same
    * watermark delay; the time-range predicate is what lets Spark
    * bound each side's join state (a row is dropped once the other
    * side's watermark passes its tolerance window) — without it the
    * state grows forever, which is why the bound is part of this
    * operator's signature, not an option. Append mode: a joined row
    * is emitted once both inputs have arrived; results equal the
    * batch join of the full inputs (StreamingUpsertSpec equivalence).
    * Output: key, left ts/value, right ts/value.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   tsCol: String, valueCol: String,
                   toleranceSeconds: Long, delay: String): DataFrame = {
    require(toleranceSeconds >= 0L,
      s"toleranceSeconds must be >= 0, got $toleranceSeconds")
    val l = left.select(col(keyCol).as("key"), col(tsCol).as("l_ts"),
      col(valueCol).as("l_value")).withWatermark("l_ts", delay)
    val r = right.select(col(keyCol).as("r_key"), col(tsCol).as("r_ts"),
      col(valueCol).as("r_value")).withWatermark("r_ts", delay)
    l.join(r, col("key") === col("r_key") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $toleranceSeconds SECONDS") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $toleranceSeconds SECONDS"))
      .select(col("key"), col("l_ts"), col("l_value"), col("r_ts"),
        col("r_value"))
  }

  /** Streaming incremental near-dup: each micro-batch of documents is
    * shingled + MinHash-banded and joined against the PERSISTED
    * signature tables (the explicit signature-table-write form of the
    * Materializer seam), so a growing corpus is deduped by comparing
    * each new document only against band-bucket mates — never by
    * re-running LSH over the whole corpus.
    *
    * Layout under `basePath`: `sets/` (doc_id, shs — the shingle sets
    * the exact-Jaccard verify needs), `buckets/` (doc_id, band, bkey —
    * the LSH index), `pairs/` (doc_a, doc_b, jaccard — verified
    * near-dup pairs, append-only). Per batch: candidates = capped
    * band-bucket join where AT LEAST ONE side is new (old-old pairs
    * were found when their later doc arrived), verified with exact
    * Jaccard >= tau — identical semantics to [[Dedup.minhashLshPairs]]
    * run on the full corpus (StreamingUpsertSpec asserts the
    * equivalence property over N micro-batches).
    *
    * Contract: doc ids must be unique across the stream (upstream
    * [[dedupWithinWatermark]] provides exactly that). Appends are
    * at-least-once under batch replay — consumers read `pairs/` with
    * DISTINCT (pair rows are value-identical across replays, so
    * distinct restores exactly-once), the same contract as any
    * append-only file sink without a transactional table format; the
    * STATE tables (`sets/`, `buckets/`) are likewise deduplicated at
    * read below, so replayed appends cannot inflate the capBuckets
    * population counts and spuriously drop a bucket (ADVICE r4). The
    * bucket join reads the (narrow) `buckets/` index, not the shingle
    * sets; the verify join touches only candidate doc_ids. At true
    * scale, partition `sets/` by a doc_id hash so the verify join
    * prunes files instead of scanning the table.
    *
    * Equivalence to [[Dedup.minhashLshPairs]] on the full corpus holds
    * while no bucket CROSSES `maxBucket` over the stream's lifetime:
    * a bucket that grows past the cap keeps the pairs it emitted while
    * under cap (arrival-time semantics), whereas a full batch run
    * drops the whole bucket — the incremental result is a SUPERSET of
    * the batch result on such corpora, never smaller.
    */
  def nearDupBatch(spark: SparkSession, batch: DataFrame,
                   idCol: String, textCol: String,
                   n: Int, bands: Int, rowsPerBand: Int, tau: Double,
                   basePath: String,
                   maxBucket: Long = Dedup.defaultMaxBucket,
                   // lazy barrier: newSets/newBuckets are consumed by
                   // the pairs write FIRST, and the appends below
                   // mutate only paths this plan never reads — audited
                   // for the LocalLazy ordering contract (r18 opt)
                   mat: graft.ops.Materializer = graft.ops.Materialize.LocalLazy): Unit = {
    val setsPath = s"$basePath/sets"
    val bucketsPath = s"$basePath/buckets"
    // micro-batch-local barrier (both feed two consumers: the pair
    // join and the state append) — same Materializer seam as the
    // batch builders; replay safety comes from the stream checkpoint
    val newSets = mat(Dedup.shingleSets(batch, idCol, textCol, n)
      .filter(size(col("shs")) > 0))
    val newBuckets = mat(Dedup.minhashBuckets(newSets, bands, rowsPerBand))
    // distinct at read: duplicated bucket rows from a replay would
    // double-count in the capBuckets population
    val oldSets = VersionedState.appended(spark, setsPath, newSets)
    val oldBuckets = VersionedState.appended(spark, bucketsPath, newBuckets)
    val all = Dedup.capBuckets(
      oldBuckets.withColumn("is_new", lit(false))
        .unionByName(newBuckets.withColumn("is_new", lit(true))),
      maxBucket)
    val cands = all.as("a").join(all.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id") &&
          (col("a.is_new") || col("b.is_new")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sets = oldSets.unionByName(newSets)
    val verified = cands
      .join(sets.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sets.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa.shs"), col("sb.shs")))
          .cast("long").as("inter"),
        size(col("sa.shs")).cast("long").as("na"),
        size(col("sb.shs")).cast("long").as("nb"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= tau)
    // pairs first: a replay after a partial failure re-appends pairs
    // (distinct-at-read) but never loses them against advanced state
    verified.write.mode("append").parquet(s"$basePath/pairs")
    // the sets and buckets appends touch disjoint dirs and no read in
    // this protocol orders one before the other (a crash between them
    // was already possible under the sequential form; distinct-at-read
    // + the pairs-first discipline absorb either partial state), so
    // they run as concurrent driver jobs (guide §2.6; r19)
    VersionedState.awaitAllWrites(
      () => newSets.write.mode("append").parquet(setsPath),
      () => newBuckets.write.mode("append").parquet(bucketsPath))
  }

  /** [[nearDupBatch]] wired as the foreachBatch sink of a document
    * stream — the streaming ingest form of the flagship dedup path.
    */
  def incrementalNearDup(stream: DataFrame, idCol: String,
                         textCol: String, n: Int, bands: Int,
                         rowsPerBand: Int, tau: Double, basePath: String,
                         checkpoint: String,
                         maxBucket: Long = Dedup.defaultMaxBucket): StreamingQuery =
    VersionedState.drive(stream, checkpoint) { (batch, _) =>
      nearDupBatch(batch.sparkSession, batch, idCol, textCol,
        n, bands, rowsPerBand, tau, basePath, maxBucket)
    }

  // ------------------------------------ maintained image-dHash state
  // The nearDupBatch protocol on the IMAGE modality (q211's batch
  // operator kept current under ingest): an image batch is decoded and
  // dHashed once, then banded against the PERSISTED (band, bkey)
  // bucket index — new images compare only against their band mates,
  // never by re-running the banding self-join over every image ever
  // ingested. Blobs that fail the decode contract contribute nothing
  // (fail-closed, the q211 rule). Layout under basePath: buckets/
  // (doc_id, fp, band, bkey), pairs/ (doc_a, doc_b, dist). Appends are
  // at-least-once under replay; consumers read with DISTINCT, and a
  // replayed batch's ids are anti-joined out of the prior state so
  // bucket populations match what the original call saw (the
  // linkBatch/containmentBatch discipline — the cap is
  // population-sensitive). Cap-crossing contract: identical to
  // nearDupBatch — a bucket that outgrows maxBucket keeps pairs
  // emitted while under cap (arrival-time superset), and every kept
  // pair carries an exact verified Hamming distance.

  /** Fold one image batch into the dHash near-dup state (see the
    * section contract above). Ids must be unique across batches.
    */
  def dhashNearDupBatch(spark: SparkSession, batch: DataFrame,
                        idCol: String, binCol: String, maxDist: Int,
                        basePath: String,
                        maxBucket: Long = Dedup.defaultMaxBucket,
                        mat: graft.ops.Materializer =
                          graft.ops.Materialize.Local): Unit =
    hammingNearDupBatch(spark,
      graft.ops.Media.dhashImages(batch, idCol, binCol)
        .filter(col("ok"))
        .select(col("id").as("doc_id"), col("dhash").as("fp")),
      maxDist, basePath, maxBucket, mat)

  /** Fold one batch of PRECOMPUTED 64-char '0'/'1' fingerprints
    * (doc_id, fp) into the banded-Hamming near-dup state — the
    * modality-agnostic core of [[dhashNearDupBatch]], factored the
    * way [[graft.ops.Dedup.hammingPairs]] factors the batch chain:
    * ANY 64-bit locality-preserving hash maintains through the same
    * protocol (image dHash, audio [[graft.ops.Media.energyHashWav]],
    * text SimHash). Section contract above applies verbatim.
    */
  def hammingNearDupBatch(spark: SparkSession, fps: DataFrame,
                          maxDist: Int, basePath: String,
                          maxBucket: Long = Dedup.defaultMaxBucket,
                          mat: graft.ops.Materializer =
                            graft.ops.Materialize.Local): Unit = {
    val newFps = mat(fps)
    val newBuckets = mat(Dedup.hammingBandBuckets(newFps, maxDist))
    val oldBuckets = VersionedState.appended(spark, s"$basePath/buckets",
        newBuckets)
      .join(newFps.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val all = Dedup.capBuckets(
      oldBuckets.withColumn("is_new", lit(false))
        .unionByName(newBuckets.withColumn("is_new", lit(true))),
      maxBucket)
    val verified = all.as("a").join(all.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id") &&
          (col("a.is_new") || col("b.is_new")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.fp").as("fp_a"), col("b.fp").as("fp_b"))
      .distinct()
      .withColumn("dist", graft.plans.Native.hamming(col("fp_a"),
        col("fp_b")))
      .filter(col("dist") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("dist"))
    // pairs first: a replay after a partial failure re-appends pairs
    // (distinct-at-read) but never loses them against advanced state
    verified.write.mode("append").parquet(s"$basePath/pairs")
    newBuckets.write.mode("append").parquet(s"$basePath/buckets")
  }

  /** The verified near-dup pairs from [[hammingNearDupBatch]] /
    * [[dhashNearDupBatch]] state, exactly-once at read —
    * (doc_a, doc_b, dist), the columns of
    * [[graft.ops.Dedup.hammingPairs]] verbatim.
    */
  def dhashPairsFromState(spark: SparkSession,
                          basePath: String): DataFrame = {
    VersionedState.appended(spark, s"$basePath/pairs", spark.range(0)
      .select(col("id").as("doc_a"), col("id").as("doc_b"), col("id").as("dist")))
  }

  // ------------------------------------- maintained containment state
  // The nearDupBatch/linkBatch protocol applied to the asymmetric-
  // overlap pass (VERDICT r12 Next #6): a document batch is blocked
  // against the PERSISTED rare-shingle inverted index, so a growing
  // corpus is containment-checked by comparing each new document only
  // against its block mates — never by re-running the df-capped
  // blocking self-join over the whole corpus.
  //
  // Layout under basePath: sets/ (doc_id, shs — full shingle sets for
  // the exact verify), inv/ (doc_id, sh — the inverted index), df/
  // ((sh, df, first_doc) per-batch df partials — the sum-mergeable
  // asset the cap check reads instead of window-counting inv; see
  // setStateBatch), pairs/ (the verified scored pairs, append-only).
  // All appends are
  // at-least-once under replay; consumers read with DISTINCT (rows
  // are value-identical across replays), and a replayed batch's own
  // ids are anti-joined out of the prior state so df counts match
  // what the original call saw (linkBatch's discipline — df is
  // cap-sensitive).
  //
  // Cap-crossing contract (nearDupBatch's, restated for df): the
  // incremental result equals batch [[graft.ops.Dedup.containmentPairs]]
  // on the full corpus while no shingle's document frequency CROSSES
  // maxDf over the state's lifetime. A shingle that grows past the
  // cap keeps the pairs it verified while under cap (arrival-time
  // semantics) where the batch run drops the whole block — the
  // incremental pair set is a SUPERSET on such corpora, never
  // smaller, and every kept pair still carries an exact verified
  // score (the cap bounds WORK, not correctness of emitted scores).

  /** Fold one document batch into the containment state (see the
    * section contract above). Document ids must be unique across
    * batches; shingle sets use [[graft.ops.Dedup.shingleSets]]'
    * n-gram definition, matching the batch operator.
    */
  def containmentBatch(spark: SparkSession, batch: DataFrame,
                       idCol: String, textCol: String, n: Int,
                       tauPpm: Long, maxDf: Long, basePath: String,
                       mat: graft.ops.Materializer =
                         graft.ops.Materialize.Local): Unit =
    setStateBatch(spark, Dedup.shingleSets(batch, idCol, textCol, n),
      maxDf, basePath, mat) { raw =>
      raw.select(col("doc_a"), col("doc_b"), col("inter"), col("na"),
          col("nb"),
          expr("inter * 1000000 DIV na").as("cont_a_ppm"),
          expr("inter * 1000000 DIV nb").as("cont_b_ppm"))
        .filter(greatest(col("cont_a_ppm"), col("cont_b_ppm")) >= tauPpm)
    }

  /** Fold one batch of PRECOMPUTED item sets (doc_id, shs) into the
    * set-Jaccard state — the set-protocol analog of
    * [[hammingNearDupBatch]]'s factoring: [[containmentBatch]]'s
    * block-index/anti-join/cap machinery with the SCORE pluggable,
    * so the video chain ([[graft.ops.Media.dhashGifFrames]] frame
    * sets under [[graft.ops.Dedup.setJaccardPairs]]) maintains
    * through the protocol text containment already uses. Sets are
    * normalized exactly like the batch operator (array_distinct,
    * empty sets dropped). Same section contract and cap-crossing
    * semantics as containment.
    */
  def setJaccardBatch(spark: SparkSession, sets: DataFrame,
                      tauPpm: Long, maxDf: Long, basePath: String,
                      mat: graft.ops.Materializer =
                        graft.ops.Materialize.Local): Unit =
    setStateBatch(spark,
      sets.select(col("doc_id"), array_distinct(col("shs")).as("shs"))
        .filter(size(col("shs")) > 0),
      maxDf, basePath, mat) { raw =>
      raw.select(col("doc_a"), col("doc_b"), col("inter"), col("na"),
          col("nb"),
          expr("inter * 1000000 DIV (na + nb - inter)").as("jac_ppm"))
        .filter(col("jac_ppm") >= tauPpm)
    }

  /** The shared state fold of [[containmentBatch]] /
    * [[setJaccardBatch]]: persist (doc_id, shs) sets, the inverted
    * item index, AND per-item df partials; block new docs against
    * their df-capped block mates only, verify candidates with ONE
    * exact intersect, and hand the raw (doc_a, doc_b, inter, na, nb)
    * table to the caller's scorer. Write order (pairs before state)
    * keeps replays loss-free.
    *
    * The df pass is ASSET-SIZED, not inv-row-sized (VERDICT r13 Next
    * #2 — the r13 PROFILE named the old window-count over state ∪
    * batch as the protocol's honest asymptote): each batch appends
    * (sh, df, first_doc) partials to `df/` counting ONLY the batch's
    * FRESH docs (ids not yet in `inv/` — re-delivered docs were
    * counted by the batch that first delivered them, so every doc
    * contributes to the asset exactly once), and the cap check
    * sum-merges the partials for the BATCH's shingles only (a shingle
    * absent from the batch can form no candidate, so its total is
    * never needed). That replaces the full-state window SHUFFLE with
    * one delta-sized aggregate plus a semi-joined scan of the narrow
    * (sh, df) partials — the inv/sets state is still scanned per
    * batch, but only through join filters on the batch's rare
    * shingles / candidate ids, never reshuffled whole.
    *
    * Crash/replay discipline for the asset: `df/` is written BEFORE
    * sets/inv, so a replay after a partial failure either recomputes
    * the identical fresh set (inv not yet advanced → re-appends
    * value-identical rows that distinct-at-read collapses) or sees
    * the docs in inv and appends nothing (the original write stands).
    * `first_doc` (the min FRESH doc id per shingle) makes partials
    * from different batches value-distinct, and doubles as the
    * crashed-attempt discriminator: a stored partial has first_doc in
    * the current fresh set iff THIS batch's earlier attempt wrote it
    * (an older batch's first_doc is by construction already in inv,
    * hence never fresh), so the cap merge anti-joins exactly those.
    */
  private def setStateBatch(spark: SparkSession, newSetsIn: DataFrame,
                            maxDf: Long, basePath: String,
                            mat: graft.ops.Materializer)(
                            score: DataFrame => DataFrame): Unit = {
    def readOrEmpty(sub: String, like: DataFrame): DataFrame =
      VersionedState.appended(spark, s"$basePath/$sub", like)
    val newSets = mat(newSetsIn)
    val newIds = newSets.select(col("doc_id"))
    val newInv = newSets.select(col("doc_id"), explode(col("shs")).as("sh"))
    val oldInvAll = readOrEmpty("inv", newInv)
    // FRESH docs: ids this stream has never folded before. A
    // re-delivered doc is already counted in the df asset, so only
    // fresh docs contribute partials (see the contract above).
    val freshIds = mat(newIds.join(oldInvAll.select(col("doc_id")),
      Seq("doc_id"), "left_anti"))
    val newDf = mat(newInv.join(freshIds, Seq("doc_id"), "left_semi")
      .groupBy(col("sh"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("first_doc")))
    // drop a crashed earlier attempt's own partials before merging
    // (first_doc fresh <=> written by this batch — contract above)
    val oldDf = readOrEmpty("df", newDf)
      .join(freshIds.select(col("doc_id").as("first_doc")),
        Seq("first_doc"), "left_anti")
    // cap totals for the batch's shingles only: prior partials are
    // semi-joined down to the (delta-sized) batch shingle set before
    // the sum-merge — no full-state shuffle, no window over inv
    val batchShs = newInv.select(col("sh")).distinct()
    val dfTot = newDf.select(col("sh"), col("df"))
      .unionByName(oldDf
        .join(batchShs, Seq("sh"), "left_semi")
        .select(col("sh"), col("df")))
      .groupBy(col("sh")).agg(sum(col("df")).as("df_total"))
    val rareShs = dfTot.filter(col("df_total") <= maxDf).select(col("sh"))
    // a REPLAYED batch would otherwise appear twice (old copy + new
    // copy) — the delta-sized side drives the anti-join
    val oldInvRare = oldInvAll
      .join(newIds, Seq("doc_id"), "left_anti")
      .join(rareShs, Seq("sh"), "left_semi")
    val newRare = newInv.join(rareShs, Seq("sh"), "left_semi")
    // every candidate pair needs >= 1 NEW side (an old-old pair was
    // found when the later of the two arrived): new-new ordered by
    // id, new-old normalized with least/greatest (the anti-join
    // guarantees a new id never equals an old id)
    val cands = newRare.as("a").join(newRare.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .unionByName(newRare.as("a").join(oldInvRare.as("b"),
          col("a.sh") === col("b.sh"))
        .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b")))
      .distinct()
    val sets = readOrEmpty("sets", newSets)
      .join(newIds, Seq("doc_id"), "left_anti")
      .unionByName(newSets)
    val verified = score(cands
      .join(sets.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sets.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa.shs"), col("sb.shs")))
          .cast("long").as("inter"),
        size(col("sa.shs")).cast("long").as("na"),
        size(col("sb.shs")).cast("long").as("nb")))
    // pairs first: a replay after a partial failure re-appends pairs
    // (distinct-at-read) but never loses them against advanced state.
    // df BEFORE sets/inv: freshness keys on inv, so writing df first
    // keeps a crash-replay's re-append value-identical (see contract)
    verified.write.mode("append").parquet(s"$basePath/pairs")
    newDf.write.mode("append").parquet(s"$basePath/df")
    newSets.write.mode("append").parquet(s"$basePath/sets")
    newInv.write.mode("append").parquet(s"$basePath/inv")
  }

  /** The per-shingle df asset maintained by the set-state protocol:
    * (sh, df) TOTALS sum-merged from the `df/` partials, exactly-once
    * at read. Equals `inv/` recounted per shingle by construction —
    * q240 REQUIREs that equality in-gate.
    */
  def setStateDfTotals(spark: SparkSession, basePath: String): DataFrame = {
    VersionedState.appended(spark, s"$basePath/df", spark.range(0).select(
        col("id").cast("string").as("sh"), col("id").as("df"),
        col("id").as("first_doc")))
      .groupBy(col("sh")).agg(sum(col("df")).as("df"))
  }

  /** The verified set-Jaccard pairs from [[setJaccardBatch]] state,
    * exactly-once at read — the columns of
    * [[graft.ops.Dedup.setJaccardPairs]] verbatim.
    */
  def setJaccardPairsFromState(spark: SparkSession,
                               basePath: String): DataFrame = {
    VersionedState.appended(spark, s"$basePath/pairs", spark.range(0)
      .select(col("id").as("doc_a"), col("id").as("doc_b"),
        col("id").as("inter"), col("id").as("na"), col("id").as("nb"),
        col("id").as("jac_ppm")))
  }

  /** The verified containment pairs from [[containmentBatch]] state,
    * exactly-once at read — the columns of
    * [[graft.ops.Dedup.containmentPairs]] verbatim.
    */
  def containmentPairsFromState(spark: SparkSession,
                                basePath: String): DataFrame = {
    VersionedState.appended(spark, s"$basePath/pairs", spark.range(0)
      .select(col("id").as("doc_a"), col("id").as("doc_b"),
        col("id").as("inter"), col("id").as("na"), col("id").as("nb"),
        col("id").as("cont_a_ppm"), col("id").as("cont_b_ppm")))
  }

  // ----------------------------------- maintained decontamination

  /** One TRAIN micro-batch checked against a FROZEN eval set
    * ([[graft.ops.Decontaminate.contaminationPairs]] kept current
    * under ingest) — the production shape of benchmark-leakage
    * checking: eval sets are static, the training corpus streams in,
    * and each arriving doc must be checked ONCE, against the eval
    * side only. Because candidates are bipartite, NO train-side
    * sets/inv retention is needed (an old train doc never re-compares
    * — its pairs were found when it arrived); the ONLY growing state
    * is the additive per-shingle train-df version chain that keeps
    * the union-df cap equal to the batch operator's, plus the
    * found-pairs log and the seen-ids replay gate. Per-batch cost is
    * batch-sized work against the (broadcastable) eval-side index —
    * delta-sized in the strictest sense.
    *
    * `testSets` must be FROZEN across the stream (a new eval set is a
    * new state dir — the pqEncodeBatch codebook rule). Cap-crossing
    * contract: [[containmentBatch]]'s, restated bipartite — the state
    * equals the batch operator while no shingle's UNION df (train so
    * far + eval) crosses maxDf over the stream's lifetime; a shingle
    * that grows past the cap keeps the pairs found while under cap.
    * Layout: dfstats/v=&lt;id&gt; (train-side additive counts),
    * pairs/batch=&lt;id&gt;, seen/v=&lt;id&gt;.
    */
  def decontaminationBatch(spark: SparkSession, batch: DataFrame,
                           idCol: String, textCol: String,
                           testSets: DataFrame, n: Int, tauPpm: Long,
                           maxDf: Long, basePath: String, batchId: Long,
                           // lazy barrier: the dfstats write is the
                           // first action and the only same-call state
                           // this plan reads back (v=batchId) is
                           // written by that very action — audited for
                           // the LocalLazy ordering contract (r18 opt)
                           mat: graft.ops.Materializer =
                             graft.ops.Materialize.LocalLazy): Unit = {
    require(tauPpm >= 1L && tauPpm <= 1000000L,
      s"tauPpm must be 1..1000000, got $tauPpm")
    val fresh = mat(VersionedState.fresh(spark, batch, idCol, batchId,
      s"$basePath/seen"))
    val newSets = mat(Dedup.shingleSets(fresh, idCol, textCol, n)
      .filter(size(col("shs")) > 0))
    val newInv = newSets
      .select(col("doc_id").as("train_id"), explode(col("shs")).as("sh"))
    val tb = mat(testSets
      .select(col("test_id"), array_distinct(col("shs")).as("shs"))
      .filter(size(col("shs")) > 0))
    val testInv = tb.select(col("test_id"), explode(col("shs")).as("sh"))
    // additive TRAIN-side df — version N = N−1 + the fresh batch's
    // counts (the q243 chain); the eval side's static df adds at read.
    // The merged chain is SEALED and shared by its two consumers (the
    // v=batchId write and the rare semi-join below) instead of the
    // rare chain re-reading the just-written file — the write is
    // deterministic, so the sealed frame IS the read-back, and the
    // pairs computation no longer orders after the dfstats write
    // (r19: both writes run concurrently below).
    val newCnt = newInv.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val dfstats = VersionedState.open(spark, s"$basePath/dfstats", batchId,
      newCnt)
    val mergedCnt = mat(dfstats.prev.unionByName(newCnt)
      .groupBy(col("sh")).agg(sum(col("df")).as("df")))
    // cap check for the BATCH's shingles only (a shingle absent from
    // the batch forms no candidate) — the df chain is read through a
    // semi-join on the delta-sized batch shingle set, never
    // aggregated over its whole domain (round-14 review finding; the
    // setStateBatch discipline)
    val batchShs = newInv.select(col("sh")).distinct()
    val testDf = testInv.join(batchShs, Seq("sh"), "left_semi")
      .groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val rare = mergedCnt
      .join(batchShs, Seq("sh"), "left_semi")
      .unionByName(testDf)
      .groupBy(col("sh")).agg(sum(col("df")).as("df"))
      .filter(col("df") <= maxDf).select(col("sh"))
    val cands = newInv.join(rare, Seq("sh"), "left_semi")
      .join(broadcast(testInv.join(rare, Seq("sh"), "left_semi")),
        Seq("sh"))
      .select(col("train_id"), col("test_id")).distinct()
    val verified = cands
      .join(newSets.select(col("doc_id").as("train_id"),
        col("shs").as("_sa")), Seq("train_id"))
      .join(broadcast(tb.select(col("test_id"), col("shs").as("_sb"))),
        Seq("test_id"))
      .select(col("train_id"), col("test_id"),
        size(array_intersect(col("_sa"), col("_sb")))
          .cast("long").as("inter"),
        size(col("_sa")).cast("long").as("na"),
        size(col("_sb")).cast("long").as("nb"))
      .withColumn("cont_test_ppm", expr("inter * 1000000 DIV nb"))
      .filter(col("cont_test_ppm") >= tauPpm)
    // dfstats and pairs touch disjoint assets, both are idempotent
    // per-batch overwrites, and the replay gate only advances AFTER
    // both — so the two writes run as concurrent driver jobs (guide
    // §2.6; r19)
    VersionedState.awaitAllWrites(
      () => dfstats.commit(mergedCnt),
      () => verified.write.mode("overwrite")
        .parquet(s"$basePath/pairs/batch=$batchId"))
    VersionedState.recordSeen(spark, fresh.select(col(idCol).as("id")),
      batchId, s"$basePath/seen")
  }

  /** All contamination pairs found so far by [[decontaminationBatch]]
    * — [[graft.ops.Decontaminate.contaminationPairs]]' columns
    * verbatim (each pair found exactly once: the seen gate keeps a
    * train doc from ever being "new" twice).
    */
  def decontaminationPairsFromState(spark: SparkSession,
                                    basePath: String): DataFrame = {
    val dirs = VersionedState.batchDirs(spark, s"$basePath/pairs")
    require(dirs.nonEmpty, s"no completed pair batches under $basePath/pairs")
    spark.read.schema("train_id BIGINT, test_id BIGINT, inter BIGINT, " +
        "na BIGINT, nb BIGINT, cont_test_ppm BIGINT")
      .parquet(dirs: _*)
      .select(col("train_id"), col("test_id"), col("inter"), col("na"),
        col("nb"), col("cont_test_ppm")).distinct()
  }

  // --------------------------- compacted containment/set-Jaccard state

  /** [[containmentBatch]] against COMPACTED state — the
    * [[nearDupBatchCompacted]] protocol for the set family, closing
    * the compaction matrix (LSH, PQ codes/index, BM25 and span state
    * all have compacted twins; the set protocol was the last
    * batch-dir-only family). Per batch: the seen-ids gate drops
    * cross-batch re-delivery up front; df totals live in an ADDITIVE
    * versioned stats table (version N = N−1 + the fresh batch's
    * counts — shingle-cardinality-sized, the bstats pattern, and the
    * same each-doc-counted-once semantics as the df asset); the
    * sets/inv state reads are compacted-table + completed delta dirs
    * from OTHER batches. Writes are per-batch dirs that
    * [[compactSetState]] later folds into the doc_id-bucketed sets
    * table and the sh-bucketed inv table, so a long-running stream's
    * file count stays bounded and the candidate probe becomes a
    * bucket-pruned table scan plus only the uncompacted delta.
    * Cap-crossing contract: [[containmentBatch]]'s, verbatim.
    */
  def containmentBatchCompacted(spark: SparkSession, batch: DataFrame,
                                idCol: String, textCol: String, n: Int,
                                tauPpm: Long, maxDf: Long,
                                basePath: String, setsTable: String,
                                invTable: String, batchId: Long,
                                mat: graft.ops.Materializer =
                                  graft.ops.Materialize.Local): Unit =
    setStateCompactedCore(spark,
      Dedup.shingleSets(batch, idCol, textCol, n),
      maxDf, basePath, setsTable, invTable, batchId, mat) { raw =>
      raw.select(col("doc_a"), col("doc_b"), col("inter"), col("na"),
          col("nb"),
          expr("inter * 1000000 DIV na").as("cont_a_ppm"),
          expr("inter * 1000000 DIV nb").as("cont_b_ppm"))
        .filter(greatest(col("cont_a_ppm"), col("cont_b_ppm")) >= tauPpm)
    }

  /** [[setJaccardBatch]] against COMPACTED state — the score-pluggable
    * twin of [[containmentBatchCompacted]] (the video frame-set chain
    * maintains through it unchanged).
    */
  def setJaccardBatchCompacted(spark: SparkSession, sets: DataFrame,
                               tauPpm: Long, maxDf: Long,
                               basePath: String, setsTable: String,
                               invTable: String, batchId: Long,
                               mat: graft.ops.Materializer =
                                 graft.ops.Materialize.Local): Unit =
    setStateCompactedCore(spark,
      sets.select(col("doc_id"), array_distinct(col("shs")).as("shs")),
      maxDf, basePath, setsTable, invTable, batchId, mat) { raw =>
      raw.select(col("doc_a"), col("doc_b"), col("inter"), col("na"),
          col("nb"),
          expr("inter * 1000000 DIV (na + nb - inter)").as("jac_ppm"))
        .filter(col("jac_ppm") >= tauPpm)
    }

  private def setStateCompactedCore(spark: SparkSession,
                                    newSetsAll: DataFrame, maxDf: Long,
                                    basePath: String, setsTable: String,
                                    invTable: String, batchId: Long,
                                    mat: graft.ops.Materializer)(
                                    score: DataFrame => DataFrame): Unit = {
    val freshRows = mat(VersionedState.fresh(spark, newSetsAll, "doc_id",
      batchId, s"$basePath/seen"))
    val newSets = mat(freshRows.filter(size(col("shs")) > 0))
    val newInv = newSets.select(col("doc_id"), explode(col("shs")).as("sh"))
    // additive df stats — version N = N−1 + the fresh batch's counts
    val newCnt = newInv.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val dfstats = VersionedState.open(spark, s"$basePath/dfstats", batchId,
      newCnt)
    dfstats.commit(dfstats.prev.unionByName(newCnt)
      .groupBy(col("sh")).agg(sum(col("df")).as("df")))
    // admitted = the BATCH's shingles under cap — semi-joined before
    // the filter so the check never scans the chain's whole domain
    // (round-14 review finding; the setStateBatch discipline)
    val admitted = dfstats.committed
      .join(newInv.select(col("sh")).distinct(), Seq("sh"), "left_semi")
      .filter(col("df") <= maxDf).select(col("sh"))
    val newAdm = newInv.join(admitted, Seq("sh"), "left_semi")
    val allInv = priorState(spark, invTable, s"$basePath/inv", batchId,
      newInv).unionByName(newInv)
    val cands = newAdm.as("na").join(allInv.as("ab"),
        col("na.sh") === col("ab.sh") &&
          col("na.doc_id") =!= col("ab.doc_id"))
      .select(least(col("na.doc_id"), col("ab.doc_id")).as("doc_a"),
        greatest(col("na.doc_id"), col("ab.doc_id")).as("doc_b"))
      .distinct()
    val allSets = priorState(spark, setsTable, s"$basePath/sets", batchId,
      newSets).unionByName(newSets)
    val verified = score(cands
      .join(allSets.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(allSets.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa.shs"), col("sb.shs")))
          .cast("long").as("inter"),
        size(col("sa.shs")).cast("long").as("na"),
        size(col("sb.shs")).cast("long").as("nb")))
    verified.write.mode("overwrite")
      .parquet(s"$basePath/pairs/batch=$batchId")
    newSets.write.mode("overwrite")
      .parquet(s"$basePath/sets/batch=$batchId")
    newInv.write.mode("overwrite")
      .parquet(s"$basePath/inv/batch=$batchId")
    VersionedState.recordSeen(spark, freshRows.select(col("doc_id").as("id")),
      batchId, s"$basePath/seen")
  }

  /** Compacted `table` ∪ the committed delta dirs under `root` from
    * batches OTHER than `batchId` (a replay must not join its own
    * earlier attempt), in `like`'s columns — the prior state a
    * compacted family's batch joins against.
    */
  private def priorState(spark: SparkSession, table: String, root: String,
                         batchId: Long, like: DataFrame): DataFrame = {
    val dirs = VersionedState.batchDirs(spark, root)
      .filterNot(d => VersionedState.batchIdOf(d) == batchId)
    val parts =
      (if (spark.catalog.tableExists(table))
        Seq(spark.table(table).select(like.columns.toIndexedSeq.map(col): _*))
      else Seq.empty) ++
      (if (dirs.nonEmpty)
        Seq(spark.read.schema(like.schema).parquet(dirs: _*))
      else Seq.empty)
    parts.foldLeft(like.limit(0))(_ unionByName _)
  }

  /** Fold the committed `sub/batch=<id>` delta dirs into the bucketed
    * catalog `table` (distinct: replays re-deliver value-identical
    * rows) and delete exactly the dirs folded, directly after the swap
    * commits. A crash between the swap and the delete leaves the
    * folded rows in both places: the next fold's distinct collapses
    * them, and until then the duplicate state rows only repeat
    * candidate pairs that the pair serves read distinct.
    */
  private def foldDeltas(spark: SparkSession, basePath: String, sub: String,
                         table: String, cols: Seq[String], keys: Seq[String],
                         numBuckets: Int): Unit = {
    val dirs = VersionedState.batchDirs(spark, s"$basePath/$sub")
    if (dirs.nonEmpty) {
      val state = spark.read.parquet(dirs: _*).select(cols.map(col): _*)
      val all = if (spark.catalog.tableExists(table))
        spark.table(table).select(cols.map(col): _*).unionByName(state)
      else state
      graft.Tables.writeBucketed(all.distinct(), table, keys, numBuckets)
      VersionedState.deleteAll(spark, dirs)
    }
  }

  /** Fold the accumulated set-state batch dirs into the bucketed
    * catalog assets — [[compactLshState]]'s pattern for the set
    * family: sets fold into the doc_id-bucketed table (the verify
    * probe side), inv into the sh-bucketed table (the candidate probe
    * side). Pairs and the df/seen version chains are NOT touched:
    * pairs are already found-exactly-once per-batch results, and the
    * version chains are already compact (one live version each).
    */
  def compactSetState(spark: SparkSession, basePath: String,
                      setsTable: String, invTable: String,
                      numBuckets: Int = 32): Unit = {
    foldDeltas(spark, basePath, "sets", setsTable, Seq("doc_id", "shs"),
      Seq("doc_id"), numBuckets)
    foldDeltas(spark, basePath, "inv", invTable, Seq("doc_id", "sh"),
      Seq("sh"), numBuckets)
  }

  /** All verified pairs found so far by [[containmentBatchCompacted]]
    * (each found exactly once — the seen gate keeps a doc from ever
    * being "new" twice): a plain union of the per-batch results, the
    * columns of [[graft.ops.Dedup.containmentPairs]] verbatim.
    */
  def containmentPairsFromCompactedState(spark: SparkSession,
                                         basePath: String): DataFrame = {
    val dirs = VersionedState.batchDirs(spark, s"$basePath/pairs")
    require(dirs.nonEmpty, s"no completed pair batches under $basePath/pairs")
    spark.read.parquet(dirs: _*)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("na"),
        col("nb"), col("cont_a_ppm"), col("cont_b_ppm")).distinct()
  }

  /** [[containmentPairsFromCompactedState]] for the Jaccard scorer —
    * [[graft.ops.Dedup.setJaccardPairs]]' columns verbatim.
    */
  def setJaccardPairsFromCompactedState(spark: SparkSession,
                                        basePath: String): DataFrame = {
    val dirs = VersionedState.batchDirs(spark, s"$basePath/pairs")
    require(dirs.nonEmpty, s"no completed pair batches under $basePath/pairs")
    spark.read.parquet(dirs: _*)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("na"),
        col("nb"), col("jac_ppm")).distinct()
  }

  // ------------------------------------------- incremental span dedup

  /** One micro-batch of incremental span-level dedup state — the
    * streaming form of [[Dedup.dropRepeatedSpans]] (Lee et al. span
    * dedup), maintaining two persisted assets under `basePath`:
    *
    *   - `blocks/batch=<id>/` — the batch's (doc_id, pos, blk, key)
    *     block table ([[Dedup.spanBlocks]], IDENTICAL block cutting to
    *     the batch operator). One directory per micro-batch,
    *     OVERWRITTEN on replay — appends are idempotent, not merely
    *     at-least-once (the ADVICE r4 per-batchId pattern).
    *   - `stats/v=<id>/` — per-block (cnt, keeper) totals over ALL
    *     blocks seen so far. Count and min-key merge associatively, so
    *     version N is derived from version N-1 plus ONLY this batch's
    *     blocks — the corpus is never re-exploded or re-aggregated
    *     (replay and pruning: the [[VersionedState]] contract).
    *   - `seen/v=<id>/` — the distinct doc_ids of every batch so far
    *     ([[VersionedState.fresh]]/[[VersionedState.recordSeen]]), the
    *     compact first-occurrence-wins gate.
    *
    * Arriving documents are thus judged against historical block
    * counts at O(batch + |stats|) cost per batch. The corpus-wide
    * result is materialized by [[spanDedupFromState]], which is
    * EXACTLY equal to the batch operator on the unioned input
    * (asserted in StreamingUpsertSpec) — unlike the LSH cap there is
    * no divergence case, because the merge is lossless.
    */
  def spanStateBatch(spark: SparkSession, batch: DataFrame,
                     idCol: String, textCol: String, spanTokens: Int,
                     batchId: Long, basePath: String,
                     mat: graft.ops.Materializer = graft.ops.Materialize.Local): Unit = {
    // First-occurrence-wins across batches (ADVICE r5): a doc_id
    // re-delivered in a LATER micro-batch (at-least-once upstream)
    // would append its blocks a second time and silently inflate the
    // stats counts AND the per-doc reassembly — unlike a same-batchId
    // replay, which the overwrite below already handles. The gate
    // anti-joins the compact seen-ids asset (ADVICE r6 replaced the
    // full block-state scan); the batch is barriered because it feeds
    // both the block cutting and the seen-ids append.
    val fresh = mat(VersionedState.fresh(spark, batch, idCol, batchId,
      s"$basePath/seen"))
    // batch block table — explodes ONLY this batch's documents; feeds
    // two consumers (block write + stats aggregate), so one barrier
    val blk = mat(Dedup.spanBlocks(fresh, idCol, textCol, spanTokens))
    blk.write.mode("overwrite").parquet(s"$basePath/blocks/batch=$batchId")
    VersionedState.recordSeen(spark, fresh.select(col(idCol).as("id")),
      batchId, s"$basePath/seen")
    val batchStats = blk.groupBy(col("blk")).agg(
      count(lit(1)).cast("long").as("cnt"),
      min(col("key")).as("keeper"))
    VersionedState.advance(spark, s"$basePath/stats", batchId, batchStats) {
      _.unionByName(batchStats)
        .groupBy(col("blk"))
        .agg(sum(col("cnt")).as("cnt"), min(col("keeper")).as("keeper"))
    }
  }

  /** Fold the accumulated span-dedup block state into a doc_id-
    * bucketed catalog table — the span family's compaction. Unlike
    * the score-merge serves, block rows cannot be deduplicated at a
    * candidate level (duplicate (doc_id, pos) rows would corrupt the
    * reassembly concat), so folded batches are tracked by a
    * high-water `_compacted_upto` marker: a compacted batch dir
    * resurrected by a stream replay is EXCLUDED (and deleted here) —
    * its rows are already in the table; rows are otherwise unique by
    * construction (per-batch overwrite + the seen-ids gate), so no
    * distinct is needed anywhere. The stats/seen version chains stay
    * untouched, as in the other families.
    *
    * KNOWN DEFECT, not closed: a crash after the table swap and before
    * the marker write leaves the folded rows in the table while the
    * marker still admits their dirs, so the serve reads those blocks
    * twice and the next compaction folds them a second time.
    */
  def compactSpanState(spark: SparkSession, basePath: String,
                       blocksTable: String, numBuckets: Int = 32): Unit = {
    val upto = VersionedState.compactedUpTo(spark, basePath)
    val (stale, freshDirs) = VersionedState.batchDirs(spark,
        s"$basePath/blocks")
      .partition(d => VersionedState.batchIdOf(d) <= upto)
    VersionedState.deleteAll(spark, stale)
    require(freshDirs.nonEmpty || spark.catalog.tableExists(blocksTable),
      s"nothing to compact: no new batch state under $basePath/blocks " +
        s"and no table $blocksTable")
    if (freshDirs.isEmpty) return
    val cols = Seq("doc_id", "pos", "blk", "key").map(col)
    val state = spark.read.parquet(freshDirs: _*).select(cols: _*)
    val all = if (spark.catalog.tableExists(blocksTable))
      spark.table(blocksTable).select(cols: _*).unionByName(state)
    else state
    graft.Tables.writeBucketed(all, blocksTable, Seq("doc_id"), numBuckets)
    VersionedState.markCompacted(spark, basePath,
      freshDirs.map(VersionedState.batchIdOf).max max upto)
    VersionedState.deleteAll(spark, freshDirs)
  }

  /** [[spanDedupFromState]] over compacted-table + delta blocks —
    * result-identical to [[Dedup.dropRepeatedSpans]] over the union
    * of all batches (the doc_id bucketing feeds the reassembly's
    * per-document grouping without a shuffle; the stats side is the
    * version chain's latest, unchanged by compaction).
    */
  def spanDedupFromCompactedState(spark: SparkSession, basePath: String,
                                  blocksTable: String,
                                  minRepeat: Long): DataFrame = {
    require(minRepeat >= 2, s"minRepeat must be >= 2, got $minRepeat")
    val upto = VersionedState.compactedUpTo(spark, basePath)
    val dirs = VersionedState.batchDirs(spark, s"$basePath/blocks")
      .filter(d => VersionedState.batchIdOf(d) > upto)
    val hasTable = spark.catalog.tableExists(blocksTable)
    require(hasTable || dirs.nonEmpty,
      s"nothing to serve: no table $blocksTable and no block state " +
        s"under $basePath/blocks")
    val cols = Seq("doc_id", "pos", "blk", "key").map(col)
    val parts =
      (if (hasTable) Seq(spark.table(blocksTable).select(cols: _*))
      else Seq.empty) ++
        (if (dirs.nonEmpty)
          Seq(spark.read.parquet(dirs: _*).select(cols: _*))
        else Seq.empty)
    val blk = parts.reduce(_ unionByName _)
    val stats = VersionedState.latest(spark, s"$basePath/stats",
      "span-dedup stats")
    Dedup.reassembleSpans(blk, spark.read.parquet(stats), minRepeat)
  }

  /** Corpus-wide span-dedup result from the state written by
    * [[spanStateBatch]]: joins the persisted block table (already
    * exploded — no re-tokenization) against the latest completed
    * per-block stats and reassembles documents. Output is identical
    * to [[Dedup.dropRepeatedSpans]] over the union of all batches.
    */
  def spanDedupFromState(spark: SparkSession, basePath: String,
                         minRepeat: Long): DataFrame = {
    require(minRepeat >= 2, s"minRepeat must be >= 2, got $minRepeat")
    val stats = VersionedState.latest(spark, s"$basePath/stats",
      "span-dedup stats")
    val blk = spark.read.parquet(s"$basePath/blocks")
      .select(col("doc_id"), col("pos"), col("blk"), col("key"))
    Dedup.reassembleSpans(blk, spark.read.parquet(stats), minRepeat)
  }

  /** [[spanStateBatch]] wired as the foreachBatch sink of a document
    * stream — arriving documents extend the span-dedup state
    * incrementally; [[spanDedupFromState]] materializes the deduped
    * corpus on demand.
    */
  def incrementalSpanDedup(stream: DataFrame, idCol: String,
                           textCol: String, spanTokens: Int,
                           basePath: String,
                           checkpoint: String): StreamingQuery =
    VersionedState.drive(stream, checkpoint) { (batch, batchId) =>
      spanStateBatch(batch.sparkSession, batch, idCol, textCol,
        spanTokens, batchId, basePath)
    }

  // ------------------------- compacted incremental LSH near-dup

  /** One micro-batch of near-dup maintenance against COMPACTED LSH
    * assets — the state-shuffle-free redesign of [[nearDupBatch]]
    * (round 7; [[nearDupBatch]] re-reads ALL accumulated
    * sets/buckets with a `.distinct()` and self-joins the union per
    * micro-batch, so every batch shuffles the entire state). Here
    * the accumulated state lives in the [[graft.ops.Dedup.writeLshAssets]]
    * table layout (sets bucketed by doc_id, band-buckets by
    * (band, bkey)) plus small per-batch delta dirs, and the batch's
    * work is:
    *
    *   1. first-occurrence gate ([[VersionedState.fresh]] — replaces
    *      the value-identical-row-collapse the old distinct provided);
    *   2. shingle + minhash ONLY the fresh batch;
    *   3. update the additive (band, bkey, cnt) population asset
    *      (`bstats/v=<id>` — the df version pattern), and admit
    *      buckets whose population-so-far ≤ maxBucket: exactly
    *      [[graft.ops.Dedup.capBuckets]]'s rule as [[nearDupBatch]]
    *      applies it, without re-counting state;
    *   4. candidates = the BROADCAST new admitted bucket rows joined
    *      against table + delta + batch bucket rows — the state side
    *      is scanned, never shuffled;
    *   5. exact-Jaccard verify via the sets table + delta, probed by
    *      the broadcast candidate ids;
    *   6. overwrite-mode per-batch writes (pairs/sets/buckets under
    *      `batch=<id>` — replay-idempotent) + the seen append.
    *
    * Fold the deltas periodically with [[compactLshState]]. Output
    * pairs are [[nearDupPairsFromState]]; equivalence with the batch
    * operator is the StreamingUpsertSpec property ([[nearDupBatch]]'s
    * same documented cap caveat: the cap judges population-so-far,
    * so a bucket that crosses the cap mid-stream keeps pairs found
    * while it was under it).
    */
  def nearDupBatchCompacted(spark: SparkSession, batch: DataFrame,
                            idCol: String, textCol: String,
                            n: Int, bands: Int, rowsPerBand: Int,
                            tau: Double, basePath: String,
                            setsTable: String, bucketsTable: String,
                            batchId: Long,
                            maxBucket: Long = Dedup.defaultMaxBucket,
                            mat: graft.ops.Materializer = graft.ops.Materialize.Local): Unit = {
    require(maxBucket >= 1L, s"maxBucket must be >= 1, got $maxBucket")
    val fresh = mat(VersionedState.fresh(spark, batch, idCol, batchId,
      s"$basePath/seen"))
    val newSets = mat(Dedup.shingleSets(fresh, idCol, textCol, n)
      .filter(size(col("shs")) > 0))
    val newBuckets = mat(Dedup.minhashBuckets(newSets, bands, rowsPerBand))
    // additive bucket-population stats — version N = N−1 + batch
    val newCnt = newBuckets.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("cnt"))
    val bstats = VersionedState.open(spark, s"$basePath/bstats", batchId,
      newCnt)
    bstats.commit(bstats.prev.unionByName(newCnt)
      .groupBy(col("band"), col("bkey"))
      .agg(sum(col("cnt")).as("cnt")))
    val admitted = bstats.committed
      .filter(col("cnt") <= maxBucket).select(col("band"), col("bkey"))
    val newAdm = broadcast(
      newBuckets.join(admitted, Seq("band", "bkey")))
    val allB = priorState(spark, bucketsTable, s"$basePath/buckets", batchId,
      newBuckets).unionByName(newBuckets)
    val cands = newAdm.as("nb").join(allB.as("ab"),
        col("nb.band") === col("ab.band") &&
          col("nb.bkey") === col("ab.bkey") &&
          col("nb.doc_id") =!= col("ab.doc_id"))
      .select(least(col("nb.doc_id"), col("ab.doc_id")).as("doc_a"),
        greatest(col("nb.doc_id"), col("ab.doc_id")).as("doc_b"))
      .distinct()
    val allS = priorState(spark, setsTable, s"$basePath/sets", batchId,
      newSets).unionByName(newSets)
    val bc = broadcast(cands)
    val verified = bc
      .join(allS.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(allS.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa.shs"), col("sb.shs")))
          .cast("long").as("inter"),
        size(col("sa.shs")).cast("long").as("na"),
        size(col("sb.shs")).cast("long").as("nb"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= tau)
    verified.write.mode("overwrite").parquet(s"$basePath/pairs/batch=$batchId")
    newSets.write.mode("overwrite").parquet(s"$basePath/sets/batch=$batchId")
    newBuckets.write.mode("overwrite")
      .parquet(s"$basePath/buckets/batch=$batchId")
    VersionedState.recordSeen(spark, fresh.select(col(idCol).as("id")),
      batchId, s"$basePath/seen")
  }

  /** Fold the accumulated LSH delta dirs into the bucketed asset
    * tables ([[graft.ops.Dedup.writeLshAssets]]'s layout) and
    * truncate them — [[compactPqIndexState]]'s pattern for the LSH
    * family. The seen/bstats version chains stay (compact, and
    * future batches derive from their predecessors).
    */
  def compactLshState(spark: SparkSession, basePath: String,
                      setsTable: String, bucketsTable: String,
                      numBuckets: Int = 32): Unit = {
    foldDeltas(spark, basePath, "sets", setsTable, Seq("doc_id", "shs"),
      Seq("doc_id"), numBuckets)
    foldDeltas(spark, basePath, "buckets", bucketsTable,
      Seq("band", "bkey", "doc_id"), Seq("band", "bkey"), numBuckets)
  }

  /** All verified near-dup pairs found so far by
    * [[nearDupBatchCompacted]]. Each pair is found exactly once (the
    * seen gate keeps a doc from ever being "new" twice), so this is
    * a plain union of the per-batch results.
    */
  def nearDupPairsFromState(spark: SparkSession,
                            basePath: String): DataFrame = {
    val dirs = VersionedState.batchDirs(spark, s"$basePath/pairs")
    require(dirs.nonEmpty, s"no completed pair batches under $basePath/pairs")
    spark.read.parquet(dirs: _*)
      .select(col("doc_a"), col("doc_b"), col("jaccard")).distinct()
  }

  // ------------------------------------------ incremental clusters

  /** One micro-batch of duplicate-cluster LABEL maintenance — the
    * versioned-state form of
    * [[graft.ops.Dedup.duplicateClustersIncremental]], closing the
    * streaming dedup loop: [[nearDupBatch]] maintains the pair set
    * under ingest, this maintains the cluster DECISION over it.
    *
    * State: `basePath/labels/v=<batchId>` (doc_id, cluster_id), a
    * [[VersionedState]] asset: version N is the predecessor plus
    * batch N's pairs folded by [[graft.ops.Dedup.ccIncremental]]
    * (affected components + delta only; the prior label table is
    * scanned, never shuffled). The label table is pair-derived
    * (dup-involved docs only — a sliver of the corpus), so a
    * full-version write per batch stays delta-plus-sliver-sized.
    * Replay follows the [[VersionedState]] contract; the fold is
    * deterministic, so a replayed v=N is value-identical.
    *
    * By [[graft.ops.Dedup.ccIncremental]]'s exactness, after any
    * batch sequence the state equals the BATCH operator on the union
    * of all delivered pairs — arrival-order-invisible
    * (StreamingUpsertSpec property; q191 under q49's oracle).
    */
  def clusterStateBatch(spark: SparkSession, pairsBatch: DataFrame,
      basePath: String, batchId: Long,
      mat: graft.ops.Materializer = graft.ops.Materialize.Local): Unit =
    VersionedState.advance(spark, s"$basePath/labels", batchId,
        pairsBatch.select(col("doc_a").as("doc_id"),
          col("doc_a").as("cluster_id"))) { prev =>
      graft.ops.Dedup.ccIncremental(
          prev.select(col("doc_id").as("id"), col("cluster_id").as("lbl")),
          pairsBatch, mat)
        .select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
    }

  /** The current duplicate-cluster decision from
    * [[clusterStateBatch]] state — [[graft.ops.Dedup.duplicateClusters]]'
    * (doc_id, cluster_id, is_keeper) shape from the latest complete
    * label version.
    */
  def clustersFromState(spark: SparkSession, basePath: String): DataFrame =
    spark.read.schema("doc_id BIGINT, cluster_id BIGINT")
      .parquet(VersionedState.latest(spark, s"$basePath/labels",
        "label versions"))
      .select(col("doc_id"), col("cluster_id"),
        (col("cluster_id") === col("doc_id")).as("is_keeper"))

  /** The DEFERRED cluster fold (VERDICT r16 Next #3): fold the
    * near-dup pair state into the cluster labels ONCE, at serve time,
    * instead of once per ingest batch. [[nearDupBatch]] already
    * accumulates the pair deltas durably (its `pairs` table IS the
    * deferred delta log), and [[graft.ops.Dedup.ccIncremental]] is
    * arrival-order-invisible — the labels only need to be CURRENT
    * when something reads them — so a pipeline that ingests B batches
    * and serves once pays ONE pair-union fold instead of B
    * (ProfileMaintained r16 measured the per-batch folds at ~49% of
    * the maintained capstone; PROFILE r17 has the drop). Value
    * identity: folding the full current pair union as one batch
    * equals the per-batch fold sequence, because both end at
    * [[clusterStateBatch]]'s invariant — state == batch CC on the
    * union of all delivered pairs (StreamingUpsertSpec property).
    *
    * `pairsBasePath` is a [[nearDupBatch]]-protocol state dir (its
    * `pairs` table is read distinct — the documented consumer
    * contract); `batchId` follows [[clusterStateBatch]]'s replay
    * contract (nondecreasing, last-only re-delivery), so a crashed
    * serve that re-runs the fold rebuilds the same version.
    */
  def clusterFoldFromPairs(spark: SparkSession, pairsBasePath: String,
      clustersBasePath: String, batchId: Long,
      mat: graft.ops.Materializer = graft.ops.Materialize.Local): Unit =
    clusterStateBatch(spark,
      // partial schema = projection pushed to the reader, no footer
      // job (the pairs table's jaccard column is not the fold's input)
      spark.read.schema("doc_a BIGINT, doc_b BIGINT")
        .parquet(s"$pairsBasePath/pairs")
        .select(col("doc_a"), col("doc_b")).distinct(),
      clustersBasePath, batchId, mat)

  // ---------------------------- maintained multimodal dedup capstone

  /** One micro-batch of the CROSS-MODALITY near-dup decision
    * ([[graft.ops.CleanCorpus.multimodalNearDupClusters]] kept
    * current under ingest — VERDICT r13 Next #4): the batch routes by
    * magic sniff into the four per-modality MAINTAINED states (text
    * SimHash / image dHash / audio energy-hash band indexes via
    * [[hammingNearDupBatch]]+[[dhashNearDupBatch]], video frame-set
    * Jaccard via [[setJaccardBatch]]), exactly the batch operator's
    * routing — including the fail-closed `unknown` route: a blob with
    * no recognized magic that is not valid UTF-8 enters NO chain —
    * then the union of the four states' verified pairs folds into the
    * shared cluster state ([[clusterStateBatch]]).
    *
    * Layout under basePath: text/ image/ audio/ video/ (each its
    * protocol's own layout) + clusters/ (the versioned label state).
    * The cluster fold reads the CURRENT pair union — pair-set-sized,
    * the same "sliver of the corpus" argument as clusterStateBatch's
    * full-version label write — so the fold is independent of which
    * pairs are new this batch and re-delivered pairs are absorbed by
    * [[graft.ops.Dedup.ccIncremental]]'s idempotence.
    *
    * Replay contract: the four modality states absorb a re-delivered
    * batch by their own protocols; the cluster fold rebuilds
    * v=batchId from the prior version plus the (identical) pair
    * union. After any batch sequence, [[multimodalClustersFromState]]
    * equals the batch capstone on the union of all delivered blobs
    * while no band bucket / frame-hash df crosses its cap (the
    * per-modality arrival-time contracts) — q241 gates that under
    * q237's oracle verbatim.
    */
  def multimodalNearDupBatch(spark: SparkSession, batch: DataFrame,
                             basePath: String, batchId: Long,
                             textMaxDist: Int = 3, imageMaxDist: Int = 6,
                             audioMaxDist: Int = 6,
                             videoTauPpm: Long = 500000L,
                             videoMaxDf: Long = 10L, maxFrames: Int = 8,
                             maxBucket: Long = Dedup.defaultMaxBucket,
                             mat: graft.ops.Materializer =
                               graft.ops.Materialize.Local): Unit = {
    val c = mat(batch.select(col("doc_id"), col("bin"),
      graft.ops.Multimodal.sniffFormat(col("bin")).as("_fmt")))
    hammingNearDupBatch(spark,
      Dedup.simhashFingerprints(graft.ops.CleanCorpus.textRoute(c),
        "doc_id", "text"),
      textMaxDist, s"$basePath/text", maxBucket, mat)
    dhashNearDupBatch(spark, c.filter(col("_fmt").isin("png", "jpeg")),
      "doc_id", "bin", imageMaxDist, s"$basePath/image", maxBucket, mat)
    hammingNearDupBatch(spark,
      graft.ops.Media.energyHashWav(c.filter(col("_fmt") === "riff"),
          "doc_id", "bin")
        .filter(col("ok")).select(col("id").as("doc_id"), col("fp")),
      audioMaxDist, s"$basePath/audio", maxBucket, mat)
    setJaccardBatch(spark,
      graft.ops.Media.dhashGifFrames(c.filter(col("_fmt") === "gif"),
          "doc_id", "bin", maxFrames)
        .groupBy(col("id").as("doc_id"))
        .agg(collect_set(col("dhash")).as("shs")),
      videoTauPpm, videoMaxDf, s"$basePath/video", mat)
    val pairs = dhashPairsFromState(spark, s"$basePath/text")
      .select(col("doc_a"), col("doc_b"))
      .unionByName(dhashPairsFromState(spark, s"$basePath/image")
        .select(col("doc_a"), col("doc_b")))
      .unionByName(dhashPairsFromState(spark, s"$basePath/audio")
        .select(col("doc_a"), col("doc_b")))
      .unionByName(setJaccardPairsFromState(spark, s"$basePath/video")
        .select(col("doc_a"), col("doc_b")))
    clusterStateBatch(spark, pairs, s"$basePath/clusters", batchId, mat)
  }

  /** The current cross-modality cluster decision from
    * [[multimodalNearDupBatch]] state —
    * [[graft.ops.Dedup.duplicateClusters]]' (doc_id, cluster_id,
    * is_keeper) shape from the latest complete label version.
    */
  def multimodalClustersFromState(spark: SparkSession,
                                  basePath: String): DataFrame =
    clustersFromState(spark, s"$basePath/clusters")

  // ------------------------------------------ incremental SCD2

  /** One micro-batch of SCD2 HISTORY maintenance (VERDICT r13 Next
    * #3) — the incremental form of [[graft.ops.History.scd2]]:
    * production CDC folds event batches into the history instead of
    * rebuilding it from the full event log, closing currently-OPEN
    * intervals and appending new versions.
    *
    * State under basePath: `closed/` — append-only CLOSED versions
    * (key, state, valid_from_us, valid_to_us), each written exactly
    * when the event that supersedes it arrives; `open/v=<batchId>` —
    * the current OPEN version per key, a [[VersionedState]] asset
    * carrying the run cursor (last_ts_us, last_id)
    * alongside (state, valid_from_us). The open set is
    * key-cardinality-sized, so the per-batch full-version write is
    * dimension-sized, never history-sized; closed appends are
    * delta-sized.
    *
    * ORDERING CONTRACT (REQUIREd in-fold, one tiny action): per key,
    * every batch event is STRICTLY later by (ts, id) than every event
    * already folded — the CDC log guarantee. An out-of-order event
    * would belong INSIDE an already-closed interval (or split the
    * open run before its cursor), which an append-only fold cannot
    * express; such feeds are a rebuild ([[graft.ops.History.scd2]]),
    * not an append. Within a batch, order is free (the fold sorts).
    *
    * Replay contract: [[VersionedState]]'s for open/. The rebuilt
    * open/v=N is deterministic, so the overwrite is value-identical,
    * and the re-appended closed rows (also deterministic) collapse
    * under distinct-at-read; closed rows from
    * different batches can never be value-identical because the
    * ordering contract makes every valid_from_us strictly newer than
    * the key's folded history.
    *
    * After any in-contract batch sequence, [[scd2FromState]] equals
    * [[graft.ops.History.scd2]] on the union of all delivered events
    * (HistorySpec property; q239 under q233's oracle verbatim): the
    * open-state seed reproduces the global lag at each batch
    * boundary, and the batch-local lead plus the open-interval close
    * reproduce the global lead.
    */
  def scd2StateBatch(spark: SparkSession, batch: DataFrame,
                     keyCol: String, tsCol: String, idCol: String,
                     valueCol: String, basePath: String,
                     batchId: Long): Unit = {
    import org.apache.spark.sql.expressions.Window
    val ev = batch.select(col(keyCol).as("key"),
      unix_micros(col(tsCol).cast("timestamp")).as("ts_us"),
      col(idCol).as("id"), col(valueCol).as("state"))
    val open = VersionedState.open(spark, s"$basePath/open", batchId,
      ev.select(col("key"), col("state"), col("ts_us").as("valid_from_us"),
        col("ts_us").as("last_ts_us"), col("id").as("last_id")))
    val prevOpen = open.prev
    // ordering contract: the batch's FIRST event per key must be
    // strictly later than the folded run's cursor
    val firstPerKey = ev.groupBy(col("key"))
      .agg(min(struct(col("ts_us"), col("id"))).as("_f"))
    val nViol = firstPerKey.join(prevOpen, Seq("key"))
      .filter(col("_f.ts_us") < col("last_ts_us") ||
        (col("_f.ts_us") === col("last_ts_us") &&
          col("_f.id") <= col("last_id")))
      .limit(1).count()
    require(nViol == 0L,
      s"scd2StateBatch batch $batchId contains events at or before a " +
        "key's folded history — out-of-order CDC feeds are a rebuild " +
        "(History.scd2), not an append")
    // run heads, seeded at the batch boundary by the key's open state
    val wK = Window.partitionBy(col("key"))
      .orderBy(col("ts_us").asc, col("id").asc)
    val evp = ev
      .withColumn("_rn", row_number().over(wK))
      .withColumn("_lag", lag(col("state"), 1).over(wK))
      .join(prevOpen.select(col("key"), col("state").as("_open_state")),
        Seq("key"), "left")
      .withColumn("_prev",
        when(col("_rn") === 1, col("_open_state")).otherwise(col("_lag")))
    val heads = evp
      .filter(col("_prev").isNull || col("_prev") =!= col("state"))
      .withColumn("valid_to_us", lead(col("ts_us"), 1).over(wK))
      .select(col("key"), col("state"),
        col("ts_us").as("valid_from_us"), col("valid_to_us"),
        col("ts_us"), col("id"))
    // close the prior open interval at the key's first new head
    val firstHead = heads.groupBy(col("key"))
      .agg(min(struct(col("ts_us"), col("id"))).as("_h"))
    val closedPrior = prevOpen.join(firstHead, Seq("key"))
      .select(col("key"), col("state"), col("valid_from_us"),
        col("_h.ts_us").as("valid_to_us"))
    val closedBatch = heads.filter(col("valid_to_us").isNotNull)
      .select(col("key"), col("state"), col("valid_from_us"),
        col("valid_to_us"))
    // next open set: untouched keys verbatim; keys with heads open at
    // their LAST head; head-free keys keep their interval, cursor
    // advanced to the batch's last event
    val lastEv = ev.groupBy(col("key"))
      .agg(max(struct(col("ts_us"), col("id"))).as("_l"))
    val batchKeys = ev.select(col("key")).distinct()
    val openFromHeads = heads.filter(col("valid_to_us").isNull)
      .select(col("key"), col("state"), col("valid_from_us"))
      .join(lastEv, Seq("key"))
      .select(col("key"), col("state"), col("valid_from_us"),
        col("_l.ts_us").as("last_ts_us"), col("_l.id").as("last_id"))
    val openNoHeads = prevOpen
      .join(batchKeys, Seq("key"), "left_semi")
      .join(heads.select(col("key")).distinct(), Seq("key"), "left_anti")
      .select(col("key"), col("state"), col("valid_from_us"))
      .join(lastEv, Seq("key"))
      .select(col("key"), col("state"), col("valid_from_us"),
        col("_l.ts_us").as("last_ts_us"), col("_l.id").as("last_id"))
    val untouched = prevOpen.join(batchKeys, Seq("key"), "left_anti")
    val newOpen = untouched.unionByName(openNoHeads)
      .unionByName(openFromHeads)
    // closed first (delta-sized, deterministic — replays collapse at
    // read), then the open version
    closedPrior.unionByName(closedBatch)
      .write.mode("append").parquet(s"$basePath/closed")
    open.commit(newOpen)
  }

  /** The SCD2 history from [[scd2StateBatch]] state —
    * [[graft.ops.History.scd2]]'s (key, state, valid_from_us,
    * valid_to_us) shape: the append-only closed versions
    * (exactly-once at read) plus the latest open version per key.
    */
  def scd2FromState(spark: SparkSession, basePath: String): DataFrame = {
    val open = scd2Open(spark, basePath)
    VersionedState.appended(spark, s"$basePath/closed", open)
      .unionByName(open)
  }

  /** The open intervals of [[scd2StateBatch]]'s latest open version,
    * in the history's columns (valid_to_us NULL).
    */
  private def scd2Open(spark: SparkSession, basePath: String): DataFrame =
    spark.read.parquet(VersionedState.latest(spark, s"$basePath/open",
        "open versions"))
      .select(col("key"), col("state"), col("valid_from_us"),
        lit(null).cast("long").as("valid_to_us"))

  /** Fold the append-only `closed/` history deltas into a
    * key-bucketed catalog table — the [[compactSetState]] pattern for
    * the SCD2 family, so a long-running CDC stream's closed-version
    * file count stays bounded and point-in-time reads become a
    * bucket-pruned table scan plus only the uncompacted delta. Rows
    * are value-distinct across batches (every valid_from_us is
    * strictly newer than the key's folded history), so the
    * distinct-at-fold is exactly the read-side distinct moved into
    * the asset. Call BETWEEN folds (the other compactions' contract —
    * a concurrent scd2StateBatch append could be swallowed
    * mid-write); the open/ and any replay semantics are untouched
    * (the versioned cursor is already one live version).
    */
  def compactScd2State(spark: SparkSession, basePath: String,
                       closedTable: String, numBuckets: Int = 32): Unit = {
    if (VersionedState.exists(spark, s"$basePath/closed")) {
      val state = spark.read.parquet(s"$basePath/closed").distinct()
      val all = if (spark.catalog.tableExists(closedTable))
        spark.table(closedTable)
          .select(state.columns.toIndexedSeq.map(col): _*)
          .unionByName(state)
        else state
      graft.Tables.writeBucketed(all.distinct(), closedTable,
        Seq("key"), numBuckets)
      VersionedState.deleteAll(spark, Seq(s"$basePath/closed"))
    }
  }

  /** [[scd2FromState]] with the closed versions served from the
    * COMPACTED table plus only the uncompacted `closed/` delta.
    */
  def scd2FromCompactedState(spark: SparkSession, basePath: String,
                             closedTable: String): DataFrame = {
    val open = scd2Open(spark, basePath)
    val delta = VersionedState.appended(spark, s"$basePath/closed", open)
    val table =
      if (spark.catalog.tableExists(closedTable))
        spark.table(closedTable)
          .select(open.columns.toIndexedSeq.map(col): _*)
      else open.limit(0)
    // distinct ACROSS table ∪ delta, not just within the delta: a
    // crash between compactScd2State's table write and its delete of
    // closed/ leaves every compacted row in BOTH places (round-14
    // review finding) — closed rows are value-distinct otherwise, so
    // the distinct is exactly the crash-window guard
    table.unionByName(delta).distinct().unionByName(open)
  }

  // ------------------------------------------ incremental SemDeDup

  /** One micro-batch of incremental semantic dedup against FROZEN
    * centroids — the arrival-time form of
    * [[graft.ops.Similarity.semDedup]]. The batch's vectors are
    * assigned to their nearest centroid; epsilon-pairs (quantized
    * cosine >= tau, same cluster, a.vec_id < b.vec_id) are searched
    * only where AT LEAST ONE side is new (an old-old pair was found
    * when the later of the two arrived — the [[nearDupBatch]]
    * induction), and newly discovered drop victims are appended to
    * `drops/`. Because the drop rule is order-free on IDS (not
    * arrival), a late-arriving SMALL id can retroactively drop an
    * already-arrived larger id — the new-vs-old direction handles
    * exactly that case, which is what makes the state equal the batch
    * operator under ANY arrival order (StreamingUpsertSpec property).
    *
    * Contract: `centroids` frozen across the stream (re-clustering is
    * a rebuild, not an append — the [[pqEncodeBatch]] codebook rule);
    * vec_ids unique across the stream. Replays re-append value-
    * identical rows; state reads are distinct-at-read, so appends are
    * effectively exactly-once (the [[nearDupBatch]] contract).
    */
  def semDedupBatch(spark: SparkSession, batch: DataFrame,
                    centroids: DataFrame, tau: Double, basePath: String,
                    mat: graft.ops.Materializer = graft.ops.Materialize.Local): Unit = {
    import graft.ops.Similarity
    val vecsPath = s"$basePath/vecs"
    // micro-batch-local barrier: the assignment feeds the pair join
    // twice and the state append
    val newAsg = mat(Similarity.assignClusters(batch, centroids))
    val oldAsg = VersionedState.appended(spark, vecsPath, newAsg)
    val all = oldAsg.withColumn("is_new", lit(false))
      .unionByName(newAsg.withColumn("is_new", lit(true)))
    val drops = all.as("a").join(all.as("b"),
        col("a.cent_id") === col("b.cent_id") &&
          col("a.vec_id") < col("b.vec_id") &&
          (col("a.is_new") || col("b.is_new")) &&
          Similarity.cosine(Similarity.qdot(col("a.qv"), col("b.qv")),
            col("a.n2"), col("b.n2")) >= tau)
      .select(col("b.vec_id").as("vec_id")).distinct()
    // drops first: a replay after a partial failure re-appends drops
    // (distinct-at-read) but never loses them against advanced state
    drops.write.mode("append").parquet(s"$basePath/drops")
    newAsg.write.mode("append").parquet(vecsPath)
  }

  /** The accumulated keep/drop verdicts from state written by
    * [[semDedupBatch]] — column-identical to the batch
    * [[graft.ops.Similarity.semDedup]] over everything fed so far:
    * (vec_id, cent_id, is_kept).
    */
  def semDedupFromState(spark: SparkSession, basePath: String): DataFrame = {
    val vecs = spark.read.parquet(s"$basePath/vecs")
      .select(col("vec_id"), col("cent_id")).distinct()
    val drops = (if (VersionedState.exists(spark, s"$basePath/drops"))
        spark.read.parquet(s"$basePath/drops").select(col("vec_id"))
      else vecs.select(col("vec_id")).limit(0))
      .distinct().withColumn("_drop", lit(true))
    vecs.join(drops, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cent_id"),
        col("_drop").isNull.as("is_kept"))
  }

  /** [[semDedupBatch]] wired as the foreachBatch sink of an embedding
    * stream (idCol, vecCol raw float vectors — quantized per batch).
    */
  def incrementalSemDedup(stream: DataFrame, idCol: String,
                          vecCol: String, centroids: DataFrame,
                          tau: Double, basePath: String,
                          checkpoint: String): StreamingQuery =
    VersionedState.drive(stream, checkpoint) { (batch, _) =>
      semDedupBatch(batch.sparkSession,
        graft.ops.Similarity.prepared(batch, idCol, vecCol),
        centroids, tau, basePath)
    }

  /** [[semDedupBatch]]'s compacted-asset twin (the
    * [[nearDupBatchCompacted]] protocol applied to the SemDeDup
    * family): per-batchId OVERWRITE dirs (idempotent replay), the
    * versioned seen-ids gate (a re-delivered vec_id is never "new"
    * twice), and old state read as compacted catalog table + completed
    * delta dirs from OTHER batches. Periodically fold the deltas with
    * [[compactSemDedupState]]; read verdicts with
    * [[semDedupServeCompacted]]. Centroids frozen across the stream
    * (the [[pqEncodeBatch]] codebook rule).
    */
  def semDedupBatchCompacted(spark: SparkSession, batch: DataFrame,
                             centroids: DataFrame, tau: Double,
                             basePath: String, vecsTable: String,
                             batchId: Long,
                             mat: graft.ops.Materializer = graft.ops.Materialize.Local): Unit = {
    import graft.ops.Similarity
    val fresh = mat(VersionedState.fresh(spark, batch, "vec_id", batchId,
      s"$basePath/seen"))
    val newAsg = mat(Similarity.assignClusters(fresh, centroids))
    val oldAsg = priorState(spark, vecsTable, s"$basePath/vecs", batchId,
      newAsg)
    val all = oldAsg.withColumn("is_new", lit(false))
      .unionByName(newAsg.withColumn("is_new", lit(true)))
    val drops = all.as("a").join(all.as("b"),
        col("a.cent_id") === col("b.cent_id") &&
          col("a.vec_id") < col("b.vec_id") &&
          (col("a.is_new") || col("b.is_new")) &&
          Similarity.cosine(Similarity.qdot(col("a.qv"), col("b.qv")),
            col("a.n2"), col("b.n2")) >= tau)
      .select(col("b.vec_id").as("vec_id")).distinct()
    drops.write.mode("overwrite").parquet(s"$basePath/drops/batch=$batchId")
    newAsg.write.mode("overwrite").parquet(s"$basePath/vecs/batch=$batchId")
    VersionedState.recordSeen(spark, fresh.select(col("vec_id").as("id")),
      batchId, s"$basePath/seen")
  }

  /** Fold the accumulated SemDeDup delta dirs into catalog assets and
    * delete the consumed dirs — [[compactLshState]]'s pattern. The
    * vecs asset is bucketed by cent_id (the within-cluster pair join
    * key, so future batches' old-vs-new joins read co-located
    * buckets); drops are a plain one-column table.
    */
  def compactSemDedupState(spark: SparkSession, basePath: String,
                           vecsTable: String, dropsTable: String,
                           numBuckets: Int = 32): Unit = {
    def fold(sub: String, write: DataFrame => Unit,
             read: () => Option[DataFrame]): Unit = {
      val dirs = VersionedState.batchDirs(spark, s"$basePath/$sub")
      if (dirs.nonEmpty) {
        val state = spark.read.parquet(dirs: _*)
        val all = read().map(_.unionByName(state)).getOrElse(state)
        write(all.distinct())
        VersionedState.deleteAll(spark, dirs)
      }
    }
    fold("vecs",
      df => graft.Tables.writeBucketed(
        df.select(col("vec_id"), col("qv"), col("n2"), col("cent_id")),
        vecsTable, "cent_id", numBuckets),
      () => if (spark.catalog.tableExists(vecsTable))
        Some(spark.table(vecsTable)
          .select(col("vec_id"), col("qv"), col("n2"), col("cent_id")))
      else None)
    fold("drops",
      df => graft.Tables.writeTable(df.select(col("vec_id")), dropsTable),
      () => if (spark.catalog.tableExists(dropsTable))
        Some(spark.table(dropsTable).select(col("vec_id")))
      else None)
  }

  /** Keep/drop verdicts from the compacted assets + any uncompacted
    * delta dirs — column-identical to [[semDedupFromState]] /
    * the batch [[graft.ops.Similarity.semDedup]].
    */
  def semDedupServeCompacted(spark: SparkSession, basePath: String,
                             vecsTable: String,
                             dropsTable: String): DataFrame = {
    def merged(sub: String, table: String, cols: Seq[String]): DataFrame = {
      val dirs = VersionedState.batchDirs(spark, s"$basePath/$sub")
      val parts =
        (if (spark.catalog.tableExists(table))
          Seq(spark.table(table).select(cols.map(col): _*))
        else Seq.empty) ++
        (if (dirs.nonEmpty)
          Seq(spark.read.parquet(dirs: _*).select(cols.map(col): _*))
        else Seq.empty)
      require(parts.nonEmpty,
        s"no $sub state: neither table $table nor dirs under $basePath/$sub")
      parts.reduce(_ unionByName _).distinct()
    }
    val vecs = merged("vecs", vecsTable, Seq("vec_id", "cent_id"))
    val dropDirs = VersionedState.batchDirs(spark, s"$basePath/drops")
    val haveDrops =
      spark.catalog.tableExists(dropsTable) || dropDirs.nonEmpty
    val drops = (if (haveDrops)
        merged("drops", dropsTable, Seq("vec_id"))
      else vecs.select(col("vec_id")).limit(0))
      .withColumn("_drop", lit(true))
    vecs.join(drops, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cent_id"),
        col("_drop").isNull.as("is_kept"))
  }

  // ------------------------------------------- incremental PQ encode

  /** One micro-batch of incremental PQ encoding against FROZEN
    * codebooks: the batch's documents are quantized
    * ([[graft.ops.Similarity.prepared]]) and encoded
    * ([[graft.ops.Similarity.pqEncode]] — the exact-int64 argmin, so
    * codes are value-identical on replay), and the (vec_id, codes)
    * table is written to `codes/batch=<id>/`, OVERWRITTEN on replay —
    * idempotent appends, the [[spanStateBatch]] per-batchId pattern.
    *
    * Why: a 100 TB corpus grows between index rebuilds; without this
    * seam any addition means re-encoding the whole corpus
    * ([[graft.ops.Similarity.writePqIndex]] is the full-build form).
    * Encoding is per-row given the codebooks, so the union of
    * per-batch encodes EQUALS the batch encode of the union — exactly,
    * with no divergence case — PROVIDED the codebooks are frozen
    * (trained once, persisted, passed to every batch). Training inside
    * the stream would make early batches' codes stale; that is an
    * index REBUILD, not an append.
    *
    * Contract: vec_ids unique across the stream (upstream
    * [[dedupWithinWatermark]]); a vec_id re-delivered in a LATER batch
    * re-encodes to value-identical rows, which [[pqCodesFromState]]
    * collapses with distinct-at-read (the nearDupBatch at-least-once
    * contract).
    */
  def pqEncodeBatch(spark: SparkSession, batch: DataFrame,
                    idCol: String, vecCol: String, codebooks: DataFrame,
                    m: Int, dims: Int, batchId: Long,
                    basePath: String): Unit =
    graft.ops.Similarity.pqEncode(
        graft.ops.Similarity.prepared(batch, idCol, vecCol),
        codebooks, m, dims)
      .write.mode("overwrite").parquet(s"$basePath/codes/batch=$batchId")

  /** The accumulated (vec_id, codes) table from state written by
    * [[pqEncodeBatch]] — the drop-in codes input for
    * [[graft.ops.Similarity.knnPqOnCodes]]. Distinct-at-read restores
    * exactly-once under cross-batch re-delivery (rows are
    * value-identical by the frozen-codebook determinism).
    */
  def pqCodesFromState(spark: SparkSession, basePath: String): DataFrame =
    spark.read.parquet(s"$basePath/codes")
      .select(col("vec_id"), col("codes")).distinct()

  /** Fold the accumulated (vec_id, codes) state written by
    * [[pqEncodeBatch]] into a plain catalog table and truncate the
    * consumed batch dirs — the flat-PQ member of the compaction
    * family. Flat-PQ ADC scans the whole codes table per query (no
    * probe pruning exists to preserve), so the asset is unbucketed;
    * the win is the retired per-query `.distinct()` and the bounded
    * file count.
    */
  def compactPqCodesState(spark: SparkSession, basePath: String,
                          codesTable: String): Unit = {
    val dirs = VersionedState.batchDirs(spark, s"$basePath/codes")
    require(dirs.nonEmpty || spark.catalog.tableExists(codesTable),
      s"nothing to compact: no batch state under $basePath/codes " +
        s"and no table $codesTable")
    if (dirs.isEmpty) return
    val cols = Seq("vec_id", "codes").map(col)
    val state = spark.read.parquet(dirs: _*).select(cols: _*)
    val all = (if (spark.catalog.tableExists(codesTable))
        spark.table(codesTable).select(cols: _*).unionByName(state)
      else state).distinct()
    graft.Tables.writeTable(all, codesTable)
    VersionedState.deleteAll(spark, dirs)
  }

  /** Flat-PQ ADC top-k over compacted-table + delta codes state —
    * [[pqIndexServe]]'s contract for the [[pqEncodeBatch]] family
    * (score both sides, max-merge the value-identical duplicates,
    * rank once), in the join form.
    */
  def pqCodesServe(spark: SparkSession, basePath: String,
                   codesTable: String, queries: DataFrame,
                   codebooks: DataFrame, m: Int, dims: Int,
                   k: Int): DataFrame = {
    val dirs = VersionedState.batchDirs(spark, s"$basePath/codes")
    val hasTable = spark.catalog.tableExists(codesTable)
    require(hasTable || dirs.nonEmpty,
      s"nothing to serve: no table $codesTable and no codes state " +
        s"under $basePath")
    val frames =
      (if (hasTable)
        Seq(spark.table(codesTable).select(col("vec_id"), col("codes")))
      else Nil) ++
        (if (dirs.nonEmpty)
          Seq(spark.read.parquet(dirs: _*)
            .select(col("vec_id"), col("codes")).distinct())
        else Nil)
    val scored = frames.map(f =>
      graft.ops.Similarity.pqAdcScores(f, queries, codebooks, m, dims))
      .reduce(_ unionByName _)
    val merged =
      if (frames.sizeIs == 1) scored
      else scored.groupBy(col("query_id"), col("neighbor_id"))
        .agg(max(col("cos_sim")).as("cos_sim"))
    graft.ops.Similarity.topKByCos(merged, k)
  }

  // ------------------------------------------- incremental summary

  /** One micro-batch of incremental MATERIALIZED-AGGREGATE maintenance
    * — the streaming form of [[graft.ops.Summary]] (the batch tier
    * refreshes from appended FILES; a stream delivers ROWS, so the
    * state is the versioned associative-merge of [[spanStateBatch]]):
    *
    *   - `seen/v=<id>/` — the first-occurrence-wins gate over `idCol`
    *     ([[VersionedState.fresh]]): a key re-delivered in
    *     a LATER micro-batch (at-least-once upstream) would inflate
    *     every partial; the gate drops it exactly. The granularity is
    *     the KEY — all of a key's rows must arrive in one batch (the
    *     natural shape for an entity-keyed fact feed).
    *   - `stats/v=<id>/` — the summary partials over ALL rows seen so
    *     far. Sum/count/min/max/n_rows merge associatively
    *     ([[graft.ops.Summary.rollup]] over version N−1 plus ONLY
    *     this batch's partials — the fact stream is never
    *     re-aggregated), under the [[VersionedState]] contract.
    *
    * [[summaryFromState]] is then EXACTLY the batch
    * [[graft.ops.Summary.summarize]] of the unioned batches
    * (StreamingUpsertSpec asserts; the merge is lossless, no
    * divergence case) — so a live dashboard serves from partials that
    * are micro-batch fresh without ever re-scanning the stream's
    * history.
    */
  def summaryStateBatch(spark: SparkSession, batch: DataFrame,
                        idCol: String, dims: Seq[String],
                        measures: Seq[String], batchId: Long,
                        basePath: String,
                        mat: graft.ops.Materializer =
                          graft.ops.Materialize.Local): Unit = {
    // barrier: the gated batch feeds both the partial aggregate and
    // the seen-ids append (the spanStateBatch rationale)
    val fresh = mat(VersionedState.fresh(spark, batch, idCol, batchId,
      s"$basePath/seen"))
    val batchPartials =
      graft.ops.Summary.summarize(fresh, dims, measures)
    VersionedState.recordSeen(spark,
      fresh.select(col(idCol).as("id")).distinct(), batchId,
      s"$basePath/seen")
    VersionedState.advance(spark, s"$basePath/stats", batchId, batchPartials,
        sameColumns(spark, batchPartials, "summary state", "aggregates",
          "dims/measures")) { prev =>
      graft.ops.Summary.rollup(prev.unionByName(batchPartials),
        dims, measures)
    }
  }

  /** A predecessor check for the families whose state schema follows
    * the caller's arguments (summary, quantile, top-k): the stored
    * version must have the columns this batch produces, so a changed
    * argument fails fast instead of misreading the state.
    */
  private def sameColumns(spark: SparkSession, batch: DataFrame,
                          what: String, verb: String,
                          args: String)(p: String): Unit = {
    val raw = spark.read.parquet(p)
    require(raw.schema.fieldNames.sorted.sameElements(
      batch.schema.fieldNames.sorted),
      s"$what at $p has columns ${raw.schema.fieldNames.mkString(",")} " +
        s"but this batch $verb ${batch.schema.fieldNames.mkString(",")}" +
        s" — $args must not change mid-stream")
  }

  /** The current summary partials from [[summaryStateBatch]] state —
    * the drop-in input for [[graft.ops.Summary.rollup]] serves.
    */
  def summaryFromState(spark: SparkSession, basePath: String): DataFrame =
    spark.read.parquet(VersionedState.latest(spark, s"$basePath/stats",
      "summary state"))

  /** [[summaryStateBatch]] wired as the foreachBatch sink of a fact
    * stream — arriving rows keep the materialized aggregate
    * micro-batch fresh.
    */
  def incrementalSummary(stream: DataFrame, idCol: String,
                         dims: Seq[String], measures: Seq[String],
                         basePath: String,
                         checkpoint: String): StreamingQuery =
    VersionedState.drive(stream, checkpoint) { (batch, batchId) =>
      summaryStateBatch(batch.sparkSession, batch, idCol, dims,
        measures, batchId, basePath)
    }

  // ------------------------------------------- incremental quantiles

  /** One micro-batch of incremental QUANTILE-SKETCH maintenance — the
    * streaming member of the [[graft.ops.Sketches]] quantile family
    * (batch build → q180, maintained files-diff asset → q181, THIS →
    * row streams). State is the versioned overwrite of
    * [[summaryStateBatch]] with one structural simplification: NO
    * seen-ids gate. The sketch row (dims, h, v) is identified by its
    * CONTENT (h = md5 of the row's natural key), so a re-delivered
    * row re-sketches to the identical row and a distinct-before-merge
    * absorbs it exactly — at-least-once delivery is free, the way
    * HLL register maxes are idempotent, where the summary tier's
    * counts/sums needed the explicit gate. Contract: rows are
    * immutable facts (a key re-delivered with a DIFFERENT value is an
    * update, which a sample cannot reconcile — same key granularity
    * the summary tier states).
    *
    * [[quantileFromState]] then equals the batch
    * [[graft.ops.Sketches.quantilePartials]] of the unioned batches
    * BIT-FOR-BIT (the exact bottom-k merge; StreamingUpsertSpec
    * asserts under shuffled arrival + re-delivery + replay).
    */
  def quantileStateBatch(spark: SparkSession, batch: DataFrame,
                         dims: Seq[String], keyExpr: String,
                         valueCol: String, k: Int, batchId: Long,
                         basePath: String): Unit = {
    val batchSketch = graft.ops.Sketches.quantilePartials(batch, dims,
      expr(keyExpr), col(valueCol), k)
    VersionedState.advance(spark, s"$basePath/sketch", batchId, batchSketch,
        sameColumns(spark, batchSketch, "quantile state", "sketches",
          "dims/key/value")) { prev =>
      graft.ops.Sketches.quantileMerge(
        prev.unionByName(batchSketch).dropDuplicates(dims ++ Seq("h", "v")),
        dims, k)
    }
  }

  /** The current sketch partials from [[quantileStateBatch]] state —
    * the drop-in input for [[graft.ops.Sketches.quantileEstimates]].
    */
  def quantileFromState(spark: SparkSession, basePath: String): DataFrame =
    spark.read.parquet(VersionedState.latest(spark, s"$basePath/sketch",
      "quantile state"))

  // ------------------------------------------- incremental top-k

  /** One micro-batch of incremental TOP-K maintenance — the streaming
    * member of the [[graft.ops.TopK]] family (batch aggregate → q186,
    * stored per-segment partials → q188, THIS → row streams). State is
    * the versioned overwrite of [[quantileStateBatch]], and like the
    * quantile sketch it needs NO seen-ids gate: a kept entry is
    * content-identified by its (key, ord, id) values, so a
    * re-delivered row re-reduces to the identical entry and the
    * distinct-before-merge absorbs it exactly (same immutable-facts
    * contract — a key re-delivered with a DIFFERENT ord is an update,
    * which a bounded buffer cannot reconcile). State layout: the
    * current top-k ENTRIES per key, exploded flat (keyCols…, ord, id)
    * — ≤ k rows per key, so each version is keys × k sized.
    *
    * Merge law: top-k(prev ∪ batch) = top-k(top-k(prev) ∪
    * top-k(batch)) — the aggregator's associativity (entries outside
    * a side's top-k are dominated by k better entries on that side
    * alone, so they cannot enter the union's top-k). Hence
    * [[topKFromState]] equals the batch [[graft.ops.TopK.topKPerKey]]
    * of the unioned batches exactly (StreamingUpsertSpec asserts
    * under shuffled arrival + re-delivery + replay).
    */
  def topKStateBatch(spark: SparkSession, batch: DataFrame,
                     keyCols: Seq[String], ordCol: String, idCol: String,
                     k: Int, batchId: Long, basePath: String): Unit = {
    val batchTop = graft.ops.TopK.topKPerKey(batch, keyCols, ordCol,
        idCol, k)
      .select((keyCols.map(col) :+ col(ordCol) :+ col(idCol)): _*)
    VersionedState.advance(spark, s"$basePath/topk", batchId, batchTop,
        sameColumns(spark, batchTop, "top-k state", "produces",
          "keys/ord/id")) { prev =>
      graft.ops.TopK.topKPerKey(
          prev.unionByName(batchTop)
            .dropDuplicates(keyCols ++ Seq(ordCol, idCol)),
          keyCols, ordCol, idCol, k)
        .select((keyCols.map(col) :+ col(ordCol) :+ col(idCol)): _*)
    }
  }

  /** The current per-key top-k from [[topKStateBatch]] state, ranked
    * exactly as [[graft.ops.TopK.topKPerKey]] emits it — (keyCols…,
    * rank 1..k, id, ord). The rank pass touches only the keys × k
    * state rows, never the stream's history.
    */
  def topKFromState(spark: SparkSession, basePath: String,
                    keyCols: Seq[String], ordCol: String, idCol: String,
                    k: Int): DataFrame = {
    graft.ops.TopK.topKPerKey(
      spark.read.parquet(VersionedState.latest(spark, s"$basePath/topk",
        "top-k state")),
      keyCols, ordCol, idCol, k)
  }

  /** [[pqEncodeBatch]] wired as the foreachBatch sink of an embedding
    * stream — arriving vectors extend the compressed index
    * incrementally against the frozen codebooks.
    */
  def incrementalPqEncode(stream: DataFrame, idCol: String,
                          vecCol: String, codebooks: DataFrame,
                          m: Int, dims: Int, basePath: String,
                          checkpoint: String): StreamingQuery =
    VersionedState.drive(stream, checkpoint) { (batch, batchId) =>
      pqEncodeBatch(batch.sparkSession, batch, idCol, vecCol,
        codebooks, m, dims, batchId, basePath)
    }

  /** One micro-batch of incremental IVF-PQ INDEX maintenance —
    * [[pqEncodeBatch]]'s shape with the coarse assignment included,
    * so the accumulated state has [[graft.ops.Similarity.writePqIndex]]'s
    * exact (vec_id, cent_id, codes) rows (shared builder:
    * [[graft.ops.Similarity.pqIndexRows]]) and a growing corpus is
    * servable through the SAME probe/ADC path as the batch-built
    * index. Both quantizers must be FROZEN (trained once, persisted,
    * passed to every batch) — the same contract, for the same reason,
    * as [[pqEncodeBatch]]'s codebooks.
    */
  def pqIndexBatch(spark: SparkSession, batch: DataFrame,
                   idCol: String, vecCol: String, coarse: DataFrame,
                   codebooks: DataFrame, m: Int, dims: Int,
                   batchId: Long, basePath: String): Unit =
    graft.ops.Similarity.pqIndexRows(
        graft.ops.Similarity.prepared(batch, idCol, vecCol),
        coarse, codebooks, m, dims)
      .write.mode("overwrite").parquet(s"$basePath/index/batch=$batchId")

  /** The accumulated (vec_id, cent_id, codes) index from state
    * written by [[pqIndexBatch]] — the drop-in `idx` input for
    * [[graft.ops.Similarity.knnIvfPqOnCodes]]. Distinct-at-read, as
    * [[pqCodesFromState]].
    */
  def pqIndexFromState(spark: SparkSession, basePath: String): DataFrame =
    spark.read.parquet(s"$basePath/index")
      .select(col("vec_id"), col("cent_id"), col("codes")).distinct()

  /** [[pqIndexBatch]] wired as the foreachBatch sink of an embedding
    * stream.
    */
  def incrementalPqIndex(stream: DataFrame, idCol: String,
                         vecCol: String, coarse: DataFrame,
                         codebooks: DataFrame, m: Int, dims: Int,
                         basePath: String,
                         checkpoint: String): StreamingQuery =
    VersionedState.drive(stream, checkpoint) { (batch, batchId) =>
      pqIndexBatch(batch.sparkSession, batch, idCol, vecCol, coarse,
        codebooks, m, dims, batchId, basePath)
    }

  /** [[pqIndexBatch]] with RESIDUAL encoding (FAISS `by_residual`):
    * new arrivals assign to the FROZEN coarse quantizer, encode their
    * residuals against the FROZEN residual codebooks
    * ([[graft.ops.Similarity.pqIndexRowsResidual]] — row-identical to
    * the batch builder by construction), and append. The accumulated
    * state reads through [[pqIndexFromState]] unchanged and serves
    * via [[graft.ops.Similarity.knnIvfPqResidualOnCodes]]. Same
    * replay contract as [[pqIndexBatch]] (per-batchId overwrite +
    * distinct-at-read).
    */
  def pqResidualIndexBatch(spark: SparkSession, batch: DataFrame,
                           idCol: String, vecCol: String,
                           coarse: DataFrame, codebooks: DataFrame,
                           m: Int, dims: Int, batchId: Long,
                           basePath: String): Unit =
    graft.ops.Similarity.pqIndexRowsResidual(
        graft.ops.Similarity.prepared(batch, idCol, vecCol),
        coarse, codebooks, m, dims)
      .write.mode("overwrite").parquet(s"$basePath/index/batch=$batchId")

  /** [[pqResidualIndexBatch]] wired as the foreachBatch sink of an
    * embedding stream — the incremental maintenance loop of the
    * residual IVF-PQ index asset.
    */
  def incrementalPqResidualIndex(stream: DataFrame, idCol: String,
                                 vecCol: String, coarse: DataFrame,
                                 codebooks: DataFrame, m: Int, dims: Int,
                                 basePath: String,
                                 checkpoint: String): StreamingQuery =
    VersionedState.drive(stream, checkpoint) { (batch, batchId) =>
      pqResidualIndexBatch(batch.sparkSession, batch, idCol, vecCol,
        coarse, codebooks, m, dims, batchId, basePath)
    }

  // ------------------------------- index-state compaction and serving

  /** The uncompacted `batch=<id>` directories under `basePath/index`. */
  private def indexDeltaDirs(spark: SparkSession,
                             basePath: String): Seq[String] =
    VersionedState.batchDirs(spark, s"$basePath/index")

  /** Fold the accumulated per-batch IVF-PQ index state — written by
    * [[pqIndexBatch]] or [[pqResidualIndexBatch]], same schema — into
    * the BUCKETED catalog asset and truncate the consumed batch
    * directories (VERDICT r6 #2: before this, serve-from-state paid a
    * full `.distinct()` shuffle of the WHOLE accumulated index per
    * query, and per-batch directories grew without bound — the
    * small-files tax the bucketed batch asset was built to avoid).
    *
    * The compacted table is [[graft.ops.Similarity.writePqIndex]]'s
    * exact asset (same rows — frozen quantizers make every re-encode
    * value-identical, so the union+distinct is lossless; same
    * cent_id bucketing via the same stage-and-swap writer), so
    * [[graft.ops.Similarity.knnIvfPqOnIndex]] and the PlanSpec
    * zero-Exchange probe-join argument apply to it verbatim.
    *
    * Safety: the batch-directory snapshot is taken BEFORE the fold
    * and exactly those directories are deleted AFTER the
    * stage-and-swap commits — a micro-batch landing mid-compaction
    * stays in the delta for the next pass; a crash before the swap
    * leaves state + previous table untouched; a crash after the swap
    * but before the deletes only leaves value-identical rows in both
    * places, which the next compaction's distinct (and
    * [[pqIndexServe]]'s max-merge) collapse. Cost is one shuffle of
    * the index per COMPACTION — the amortized event — instead of per
    * query.
    *
    * Concurrency: a serve whose plan listed a batch directory that
    * compaction deletes mid-execution fails with missing files (the
    * standard non-transactional-filesystem caveat; every row it
    * wanted is in the table, so a retry succeeds). Run compaction in
    * the maintenance window, or point retry-capable readers at it —
    * the same contract as any file-listing-based view without a
    * transactional table format. This applies to every compact*
    * in this file.
    */
  def compactPqIndexState(spark: SparkSession, basePath: String,
                          indexTable: String,
                          numBuckets: Int = 32): Unit = {
    val dirs = indexDeltaDirs(spark, basePath)
    require(dirs.nonEmpty || spark.catalog.tableExists(indexTable),
      s"nothing to compact: no batch state under $basePath/index " +
        s"and no table $indexTable")
    if (dirs.isEmpty) return // already fully compacted
    val cols = Seq("vec_id", "cent_id", "codes").map(col)
    val state = spark.read.parquet(dirs: _*).select(cols: _*)
    val all = (if (spark.catalog.tableExists(indexTable))
        spark.table(indexTable).select(cols: _*).unionByName(state)
      else state).distinct()
    graft.Tables.writeBucketed(all, indexTable, Seq("cent_id"), numBuckets)
    VersionedState.deleteAll(spark, dirs)
  }

  /** The serve-side sources of the index state: the compacted table
    * (if any) and the uncompacted delta, distinct'd ONLY there —
    * within-delta duplicates (a replay or re-delivery between
    * compactions) are value-identical and would double the join-form
    * ADC sums. A vec_id in both sources (re-delivered after its
    * compaction) scores value-identically on both (frozen
    * quantizers), so a max per (query, neighbor) dedups exactly;
    * nothing corpus-sized is distinct'd or shuffled per query.
    */
  private def indexSources(spark: SparkSession, basePath: String,
                           indexTable: String): Seq[DataFrame] = {
    val dirs = indexDeltaDirs(spark, basePath)
    val hasTable = spark.catalog.tableExists(indexTable)
    require(hasTable || dirs.nonEmpty,
      s"nothing to serve: no table $indexTable and no batch state " +
        s"under $basePath/index")
    (if (hasTable) Seq(spark.table(indexTable)) else Nil) ++
      (if (dirs.nonEmpty)
        Seq(spark.read.parquet(dirs: _*)
          .select(col("vec_id"), col("cent_id"), col("codes")).distinct())
      else Nil)
  }

  /** Join-form score-with-delta serve: score each source separately,
    * max-merge the candidate-sized score frames, rank once.
    */
  private def servedTopK(spark: SparkSession, basePath: String,
                         indexTable: String,
                         score: DataFrame => DataFrame,
                         k: Int): DataFrame = {
    val frames = indexSources(spark, basePath, indexTable)
    val scored = frames.map(score).reduce(_ unionByName _)
    val merged =
      if (frames.sizeIs == 1) scored
      else scored.groupBy(col("query_id"), col("neighbor_id"))
        .agg(max(col("cos_sim")).as("cos_sim"))
    graft.ops.Similarity.topKByCos(merged, k)
  }

  /** IVF-PQ top-k over compacted-table + delta state — the serving
    * face of [[incrementalPqIndex]] + [[compactPqIndexState]];
    * result-identical to [[graft.ops.Similarity.knnIvfPqOnCodes]]
    * over the full accumulated index (StreamingUpsertSpec property).
    * Table ∪ delta is scored in ONE driver-resolved scan
    * ([[graft.ops.Similarity.knnIvfPqOnCodes]] keeps the max per
    * (query, neighbor)); with no delta the scan is the index table's
    * alone, bucket-pruned to the probed lists. Falls back to
    * pure-delta serving if no compaction has run yet. Runs its jobs
    * when called.
    */
  def pqIndexServe(spark: SparkSession, basePath: String,
                   indexTable: String, queries: DataFrame,
                   coarse: DataFrame, codebooks: DataFrame,
                   m: Int, dims: Int, k: Int, nProbe: Int): DataFrame =
    graft.ops.Similarity.knnIvfPqOnCodes(
      indexSources(spark, basePath, indexTable).reduce(_ unionByName _),
      queries, coarse, codebooks, m, dims, k, nProbe)

  /** [[pqIndexServe]] for the residual (`by_residual`) index family —
    * the serving face of [[incrementalPqResidualIndex]] +
    * [[compactPqIndexState]] (the state schema is shared).
    */
  def pqResidualIndexServe(spark: SparkSession, basePath: String,
                           indexTable: String, queries: DataFrame,
                           coarse: DataFrame, rcb: DataFrame,
                           m: Int, dims: Int, k: Int,
                           nProbe: Int): DataFrame =
    servedTopK(spark, basePath, indexTable,
      idx => graft.ops.Similarity.residualAdcScores(idx, queries, coarse,
        rcb, m, dims, nProbe), k)

  // ------------------------------------------- incremental BM25 index

  /** One micro-batch of incremental BM25 index maintenance — the
    * streaming form of [[graft.search.Search.writeBm25Index]],
    * completing the incremental story for the third persisted asset
    * family (LSH: [[nearDupBatch]]; PQ: [[pqEncodeBatch]]; BM25:
    * here). This is what the reference's ES deployment actually does:
    * documents are INDEXED as they arrive; searches read the warm
    * index. State under `basePath`:
    *
    *   - `postings/batch=<id>/` — the batch's (id, field, tok, tf,
    *     dl) tagged postings ([[graft.search.Search.bm25Tf]], the
    *     IDENTICAL tokenize/aggregate as the batch builder),
    *     overwritten on replay;
    *   - `df/v=<id>/` — per-(field, token) document frequency over
    *     ALL postings so far. df is an additive count, so version N =
    *     version N-1 + this batch's df — the corpus is never
    *     re-aggregated (a [[VersionedState]] asset);
    *   - `counts/batch=<id>/` — the batch's 1-row (n_docs, per-field
    *     T_f) corpus statistics; totals are the sum over batch dirs
    *     (B tiny rows at read).
    *
    *   - `seen/v=<id>/` — the distinct doc_ids of every batch so far
    *     ([[VersionedState.fresh]]/[[VersionedState.recordSeen]]).
    *
    * First-occurrence-wins across batches: a doc_id re-delivered in a
    * LATER batch is dropped via the seen-ids anti-join, as in
    * [[spanStateBatch]] — otherwise its tf rows would double-score
    * and df/N would inflate. Same-batchId replay is idempotent by
    * overwrite + predecessor-derived df.
    */
  def bm25IndexBatch(spark: SparkSession, batch: DataFrame,
                     idCol: String, fields: Seq[String], batchId: Long,
                     basePath: String,
                     mat: graft.ops.Materializer = graft.ops.Materialize.Local): Unit = {
    // the gated batch feeds THREE consumers (tokenize/aggregate,
    // corpus stats, seen-ids append), so the anti-join + batch scan
    // run once behind a barrier (ADVICE r6: barriering only tf left
    // bm25Stats re-executing the whole fresh lineage a second time)
    val fresh = mat(VersionedState.fresh(spark, batch, idCol, batchId,
      s"$basePath/seen"))
    // the batch postings feed two consumers (postings write, df
    // aggregate) — the second barrier
    val tf = mat(graft.search.Search.bm25Tf(fresh, idCol, fields, None))
    tf.write.mode("overwrite").parquet(s"$basePath/postings/batch=$batchId")
    graft.search.Search.bm25Stats(fresh, fields)
      .write.mode("overwrite").parquet(s"$basePath/counts/batch=$batchId")
    VersionedState.recordSeen(spark, fresh.select(col(idCol).as("id")),
      batchId, s"$basePath/seen")
    val batchDf = tf.groupBy(col("field"), col("tok"))
      .agg(count(lit(1)).as("df"))
    VersionedState.advance(spark, s"$basePath/df", batchId, batchDf) {
      _.unionByName(batchDf)
        .groupBy(col("field"), col("tok"))
        .agg(sum(col("df")).as("df"))
    }
  }

  /** BM25 scores from the state written by [[bm25IndexBatch]] —
    * result-identical to [[graft.search.Search.bm25MultiField]] over
    * the union of all batches (same scoring tail; q100 proves it
    * against q65's oracle). Query cost: a token-filtered postings
    * scan, the latest df version filtered the same way, and a sum
    * over B tiny count rows — the corpus is never re-tokenized.
    */
  def bm25FromState(spark: SparkSession, basePath: String,
                    fields: Seq[String], queryToks: Seq[String]): DataFrame = {
    val pred = col("tok").isin(queryToks: _*)
    val tf = spark.read.parquet(s"$basePath/postings")
      .select(col("id"), col("field"), col("tok"), col("tf"), col("dl"))
      .filter(pred)
    val df_ = spark.read.parquet(VersionedState.latest(spark,
        s"$basePath/df", "df version"))
      .filter(pred)
    val stats = broadcast(spark.read.parquet(s"$basePath/counts")
      .groupBy()
      .agg(sum(col("n_docs")).as("n_docs"),
        fields.map(f => sum(col(s"_t_$f")).as(s"_t_$f")): _*))
    graft.search.Search.bm25ScoreTail(tf, df_, stats, fields, None)
  }

  /** Fold the accumulated BM25 batch state into the bucketed catalog
    * assets — [[compactPqIndexState]]'s pattern for the third index
    * family. Postings batch directories (disjoint by doc — the
    * seen-ids gate drops cross-batch re-delivery) fold into the
    * tok-bucketed postings table; the per-batch 1-row corpus counts
    * fold into a single accumulated stats row; exactly the
    * snapshotted directories are deleted after each swap commits.
    * The df version chain and the seen-ids asset are NOT touched:
    * both are already compact (one live version each), and future
    * micro-batches derive version N from version N−1 — truncating
    * them would silently reset document frequencies.
    *
    * Serve afterwards via [[bm25FromCompactedState]]: the postings
    * side becomes the bucket-pruned, predicate-pushed table scan of
    * the batch asset (q95's plan) plus only the uncompacted delta.
    */
  def compactBm25State(spark: SparkSession, basePath: String,
                       postingsTable: String, statsTable: String,
                       numBuckets: Int = 32): Unit = {
    val post = VersionedState.batchDirs(spark, s"$basePath/postings")
    val cnts = VersionedState.batchDirs(spark, s"$basePath/counts")
    require(post.nonEmpty || cnts.nonEmpty ||
      spark.catalog.tableExists(postingsTable),
      s"nothing to compact under $basePath and no table $postingsTable")
    // Each family's dirs are deleted right after its own swap commits,
    // so a crash BETWEEN the two folds is consistent (postings
    // compacted and truncated, counts still delta-served). KNOWN
    // DEFECT, not closed: a crash after a swap and before its delete
    // leaves the folded rows in BOTH the table and the delta dirs.
    // bm25FromCompactedStatePred unions the two without a distinct, so
    // those postings' tf (or those batches' counts) count twice, and
    // the next compaction folds the surviving dirs in a second time.
    if (post.nonEmpty) {
      val pCols = Seq("id", "field", "tok", "tf", "dl").map(col)
      val state = spark.read.parquet(post: _*).select(pCols: _*)
      val all = if (spark.catalog.tableExists(postingsTable))
        spark.table(postingsTable).select(pCols: _*).unionByName(state)
      else state
      graft.Tables.writeBucketed(all, postingsTable, Seq("tok"), numBuckets)
      VersionedState.deleteAll(spark, post)
    }
    if (cnts.nonEmpty) {
      val state = spark.read.parquet(cnts: _*)
      val all = if (spark.catalog.tableExists(statsTable))
        spark.table(statsTable).unionByName(state)
      else state
      // counts are additive sums — fold to the single accumulated row
      graft.Tables.writeTable(
        all.groupBy().agg(sum(col("n_docs")).as("n_docs"),
          all.columns.filter(_.startsWith("_t_")).map(c =>
            sum(col(c)).as(c)).toSeq: _*),
        statsTable)
      VersionedState.deleteAll(spark, cnts)
    }
  }

  /** BM25 scores over compacted-table + delta state — the serving
    * face of [[incrementalBm25Index]] + [[compactBm25State]],
    * result-identical to [[bm25FromState]] (q100's contract) and,
    * with an empty delta, plan-identical to the persisted-asset serve
    * ([[graft.search.Search.bm25FromIndex]]'s shape: token predicate
    * pushed into the bucket-pruned postings table scan, no corpus
    * tokenize). Document frequencies come from the streaming df
    * chain's latest version — already global and compact — and the
    * corpus stats from the folded row plus any delta counts.
    */
  def bm25FromCompactedState(spark: SparkSession, basePath: String,
                             postingsTable: String, statsTable: String,
                             fields: Seq[String],
                             queryToks: Seq[String]): DataFrame =
    bm25FromCompactedStatePred(spark, basePath, postingsTable,
      statsTable, fields, col("tok").isin(queryToks: _*), None)

  /** The fuzzy AUTO classic search served from compacted BM25 state —
    * [[graft.search.Search.bm25ClassicScoresFromIndex]]'s contract
    * (the expansion resolves as a predicate against the persisted
    * vocabulary; each matched term scores with its own statistics)
    * over table + delta.
    */
  def bm25ClassicFromCompactedState(spark: SparkSession, basePath: String,
                                    postingsTable: String,
                                    statsTable: String,
                                    fields: Seq[String],
                                    query: String): DataFrame = {
    val (pred, bsum) = graft.search.Search.fuzzyPredBoost(query)
    bm25FromCompactedStatePred(spark, basePath, postingsTable,
      statsTable, fields, pred, Some(bsum))
  }

  /** Predicate/boost core of [[bm25FromCompactedState]] /
    * [[bm25ClassicFromCompactedState]].
    */
  private def bm25FromCompactedStatePred(spark: SparkSession,
                                         basePath: String,
                                         postingsTable: String,
                                         statsTable: String,
                                         fields: Seq[String],
                                         pred: Column,
                                         boost: Option[Column]): DataFrame = {
    val pCols = Seq("id", "field", "tok", "tf", "dl").map(col)
    val post = VersionedState.batchDirs(spark, s"$basePath/postings")
    val tfTable =
      if (spark.catalog.tableExists(postingsTable))
        Seq(spark.table(postingsTable).select(pCols: _*).filter(pred))
      else Seq.empty
    val tfDelta =
      if (post.nonEmpty)
        Seq(spark.read.parquet(post: _*).select(pCols: _*).filter(pred))
      else Seq.empty
    require(tfTable.nonEmpty || tfDelta.nonEmpty,
      s"nothing to serve: no table $postingsTable and no postings " +
        s"state under $basePath")
    val tf = (tfTable ++ tfDelta).reduce(_ unionByName _)
    val df_ = spark.read.parquet(VersionedState.latest(spark,
        s"$basePath/df", "df version"))
      .filter(pred)
    val cnts = VersionedState.batchDirs(spark, s"$basePath/counts")
    val statRows =
      (if (spark.catalog.tableExists(statsTable))
        Seq(spark.table(statsTable)) else Seq.empty) ++
      (if (cnts.nonEmpty) Seq(spark.read.parquet(cnts: _*)) else Seq.empty)
    val stats = broadcast(statRows.reduce(_ unionByName _)
      .groupBy()
      .agg(sum(col("n_docs")).as("n_docs"),
        fields.map(f => sum(col(s"_t_$f")).as(s"_t_$f")): _*))
    graft.search.Search.bm25ScoreTail(tf, df_, stats, fields, boost)
  }

  /** [[bm25IndexBatch]] wired as the foreachBatch sink of a document
    * stream — arriving documents extend the inverted index
    * incrementally; [[bm25FromState]] serves searches from it.
    */
  def incrementalBm25Index(stream: DataFrame, idCol: String,
                           fields: Seq[String], basePath: String,
                           checkpoint: String): StreamingQuery =
    VersionedState.drive(stream, checkpoint) { (batch, batchId) =>
      bm25IndexBatch(batch.sparkSession, batch, idCol, fields,
        batchId, basePath)
    }

  /** One micro-batch of MAINTAINED bigram-LM counts — the streaming
    * state face of [[graft.ops.LangModel]] (q257 proves the sum-merge
    * law over stored partials; this runs the same law through the
    * versioned-asset protocol so the reference corpus can stream in).
    * Assets under `basePath`, all [[VersionedState]] assets:
    *
    *   - `seen/v=<id>` — first-occurrence doc-id gate
    *     ([[VersionedState.fresh]]): an at-least-once
    *     re-delivery of a document must not double-count its tokens.
    *   - `uni/v=<id>` — (tok, cnt) running totals: version N =
    *     version N−1 sum-merged with the FRESH batch's unigram counts
    *     (vocabulary-sized, never the corpus).
    *   - `bi/v=<id>` — (w1, w2, cnt_ab) running totals, same law.
    *
    * The per-batch cost is batch tokenization plus one
    * vocabulary-sized merge per asset; history depth never enters the
    * plan.
    */
  def lmCountsBatch(spark: SparkSession, batch: DataFrame,
                    idCol: String, textCol: String, basePath: String,
                    batchId: Long,
                    // lazy barrier: fresh is consumed only by the
                    // uni/bi writes and recordSeen, none of which
                    // mutate the seen versions (< batchId) its
                    // anti-join reads — audited for the LocalLazy
                    // ordering contract (r18 opt)
                    mat: graft.ops.Materializer =
                      graft.ops.Materialize.LocalLazy): Unit = {
    val fresh = mat(VersionedState.fresh(spark, batch, idCol, batchId,
      s"$basePath/seen"))
    // version N = mergeUnigrams/mergeBigramCounts over (version N−1 ∪
    // batch OCCURRENCE rows) — the SAME merge spellings the partials
    // serve uses (round-15 review: the inlined groupBys were a second
    // place for the q210 law to drift). Feeding per-occurrence rows
    // instead of pre-aggregated batch counts is the same result by
    // sum associativity (LangModelSpec) through ONE aggregation — one
    // exchange per versioned write instead of two (r19, guide §2.4;
    // the merge's map-side combine compresses to vocabulary size
    // before the shuffle either way).
    // The uni and bi version writes touch DISJOINT assets and the
    // serve reads their newest COMMON version — consistent under
    // EITHER completion order — so the two writes run as concurrent
    // driver jobs (guide §2.6; r18 optimization). The seen gate
    // advances strictly AFTER both: it must not advance past a
    // version that never completed.
    val lm = graft.ops.LangModel
    advanceCounts(spark, basePath, batchId,
      ("uni", lm.unigramOccurrences(fresh, textCol), lm.mergeUnigrams),
      ("bi", lm.bigramOccurrences(fresh, textCol), lm.mergeBigramCounts))
    VersionedState.recordSeen(spark, fresh.select(col(idCol).as("id")),
      batchId, s"$basePath/seen")
  }

  /** Advance each (asset, batch occurrence rows, merge) of a counts
    * family to version `batchId` = merge(predecessor ∪ occurrences),
    * as concurrent writes to disjoint assets.
    */
  private def advanceCounts(spark: SparkSession, basePath: String,
                            batchId: Long,
                            assets: (String, DataFrame, DataFrame => DataFrame)*)
      : Unit =
    VersionedState.awaitAllWrites(assets.map { case (asset, occ, merge) =>
      () => VersionedState.advance(spark, s"$basePath/$asset", batchId,
        occ)(prev => merge(prev.unionByName(occ)))
    }: _*)

  /** Serve the (unigram table, bigram model) pair from
    * [[lmCountsBatch]] state — CRASH-CONSISTENT: both assets are read
    * at their newest COMMON version ([[VersionedState.latestCommon]]),
    * so a crash between the two writes serves the last version BOTH
    * completed rather than a mixed model. The conditional
    * denominator attaches here exactly as
    * [[graft.ops.LangModel.mergeBigramModel]] does, so scoring from
    * state equals the one-shot model (q262 runs under q256's oracle
    * verbatim).
    */
  def lmModelFromState(spark: SparkSession,
                       basePath: String): (DataFrame, DataFrame) = {
    val Seq(u, b) = VersionedState.latestCommon(spark,
      Seq(s"$basePath/uni", s"$basePath/bi"), "LM count state")
    // schemas pinned (the protocol owns the layout): no footer-reader
    // job per serve (r19)
    val uni = spark.read.schema("tok STRING, cnt BIGINT").parquet(u)
    val bi = spark.read.schema("w1 STRING, w2 STRING, cnt_ab BIGINT")
      .parquet(b)
    (uni, graft.ops.LangModel.mergeBigramModel(bi, uni))
  }

  /** [[lmCountsBatch]] extended to TRIGRAM order — the streaming
    * state face of the q274 trigram LM: one more versioned running
    * total (`tri/v=<id>`, (w1, w2, w3, cnt_abc)) next to `uni`/`bi`,
    * all three merged through the SAME [[graft.ops.LangModel]] merge
    * spellings and gated by the shared `seen` asset. Per-batch cost
    * is batch tokenization plus one transition-table-sized merge per
    * asset.
    */
  def lmTrigramCountsBatch(spark: SparkSession, batch: DataFrame,
                           idCol: String, textCol: String,
                           basePath: String, batchId: Long,
                           // lazy barrier — the lmCountsBatch audit
                           // applies verbatim (r18 opt)
                           mat: graft.ops.Materializer =
                             graft.ops.Materialize.LocalLazy): Unit = {
    val lm = graft.ops.LangModel
    val fresh = mat(VersionedState.fresh(spark, batch, idCol, batchId,
      s"$basePath/seen"))
    // the audited lmCountsBatch pattern at order 3 (VERDICT r18 Next
    // #5): per-occurrence rows into the ONE merge spelling per asset
    // (one exchange per write — r19, guide §2.4), three concurrent
    // writes whose serve reads the newest common version
    // ([[lmTrigramModelFromState]]); the seen gate advances after all
    // three.
    advanceCounts(spark, basePath, batchId,
      ("uni", lm.unigramOccurrences(fresh, textCol), lm.mergeUnigrams),
      ("bi", lm.bigramOccurrences(fresh, textCol), lm.mergeBigramCounts),
      ("tri", lm.trigramOccurrences(fresh, textCol), lm.mergeTrigramCounts))
    VersionedState.recordSeen(spark, fresh.select(col(idCol).as("id")),
      batchId, s"$basePath/seen")
  }

  /** Serve the (unigram table, bigram model, trigram model) triple
    * from [[lmTrigramCountsBatch]] state — CRASH-CONSISTENT at the
    * newest version all THREE assets committed (the
    * [[lmModelFromState]] discipline). The conditional denominators attach here exactly as
    * the one-shot trainers do, so trigram scoring from state equals
    * the batch model (q275 runs under q274's oracle verbatim).
    */
  def lmTrigramModelFromState(spark: SparkSession,
      basePath: String): (DataFrame, DataFrame, DataFrame) = {
    val lm = graft.ops.LangModel
    val Seq(u, b, t) = VersionedState.latestCommon(spark,
      Seq("uni", "bi", "tri").map(a => s"$basePath/$a"), "LM count state")
    val uni = spark.read.schema("tok STRING, cnt BIGINT").parquet(u)
    val bi = spark.read.schema("w1 STRING, w2 STRING, cnt_ab BIGINT")
      .parquet(b)
    val tri = spark.read
      .schema("w1 STRING, w2 STRING, w3 STRING, cnt_abc BIGINT")
      .parquet(t)
    (uni, lm.mergeBigramModel(bi, uni), lm.mergeTrigramModel(tri, bi))
  }

  /** One micro-batch of MAINTAINED classifier class-token counts —
    * the streaming state face of [[graft.ops.Classify]] (q259 proves
    * the sum-merge law over stored partials; this runs the same law
    * through the versioned-asset protocol so the labeled training
    * slice can stream in — the missing state leg of the curation
    * capstone, VERDICT r15 Next #1). Assets under `basePath`, both
    * [[VersionedState]] assets:
    *
    *   - `seen/v=<id>` — first-occurrence doc-id gate
    *     ([[VersionedState.fresh]]): a re-delivered labeled
    *     document must not double-count its tokens.
    *   - `cnts/v=<id>` — (label, tok, cnt) running totals,
    *     classes × vocabulary-sized (never the corpus), version N =
    *     version N−1 sum-merged with the FRESH batch's counts through
    *     the SAME [[graft.ops.Classify.mergeClassTokenCounts]]
    *     spelling as the partials serve (the q210 law, one spelling).
    *
    * The per-batch cost is batch tokenization plus one
    * vocabulary-sized merge; state depth never enters the plan.
    */
  def clfCountsBatch(spark: SparkSession, batch: DataFrame,
                     idCol: String, labelCol: String, textCol: String,
                     basePath: String, batchId: Long,
                     // lazy barrier: fresh is consumed only by the
                     // cnts write and recordSeen; neither mutates the
                     // seen versions (< batchId) its anti-join reads —
                     // audited for the LocalLazy ordering contract
                     // (r18 opt)
                     mat: graft.ops.Materializer =
                       graft.ops.Materialize.LocalLazy): Unit = {
    val fresh = mat(VersionedState.fresh(spark, batch, idCol, batchId,
      s"$basePath/seen"))
    // per-occurrence rows into the ONE merge spelling — same result
    // by sum associativity (ClassifySpec), one exchange per versioned
    // write instead of two (r19, guide §2.4)
    val cB = graft.ops.Classify.classTokenOccurrences(fresh, labelCol,
      textCol)
    VersionedState.advance(spark, s"$basePath/cnts", batchId, cB) { prev =>
      graft.ops.Classify.mergeClassTokenCounts(prev.unionByName(cB))
    }
    VersionedState.recordSeen(spark, fresh.select(col(idCol).as("id")),
      batchId, s"$basePath/seen")
  }

  /** Serve the (tokenWeights, baseRates) pair from [[clfCountsBatch]]
    * state: the count table is the classifier's WHOLE trainable
    * state and lives in one asset, so the serve is trivially
    * consistent — read the latest complete `cnts` version and derive
    * both tables from it through [[graft.ops.Classify]]'s own train
    * functions. By the sum-merge law the served decision equals the
    * batch classifier on the union of all delivered documents (q269
    * gates it inside the capstone under q267's oracle verbatim).
    */
  def clfModelFromState(spark: SparkSession,
                        basePath: String): (DataFrame, DataFrame) = {
    val counts = spark.read.schema("label STRING, tok STRING, cnt BIGINT")
      .parquet(VersionedState.latest(spark, s"$basePath/cnts",
        "classifier count state"))
    (graft.ops.Classify.tokenWeights(counts),
      graft.ops.Classify.baseRates(counts))
  }

  case class KV(k: String, v: Long, payload: String)

  /** Custom keyed state via mapGroupsWithState: the running LWW row per
    * key, re-emitted whenever it changes (update output mode). State is
    * one row per key — bounded by key cardinality, not stream length.
    */
  def latestPerKey(ds: Dataset[KV]): Dataset[KV] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.k)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (_: String, it: Iterator[KV], state: GroupState[KV]) =>
          val best = (state.getOption.iterator ++ it)
            .maxBy(r => (r.v, r.payload))
          state.update(best)
          best
      }
  }
}
