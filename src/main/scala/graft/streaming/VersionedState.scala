package graft
package streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The versioned-state protocol every maintained family in
  * [[StreamingUpsert]] runs on, and the only code that knows its
  * on-disk layout. Under a family's state dir:
  *
  *  - `<asset>/v=<id>/` — version `id` of a versioned asset (running
  *    totals, label tables, the seen ids). A version is COMMITTED once
  *    its `_SUCCESS` marker exists; every reader trusts committed
  *    versions only, so a write torn by a crash is invisible.
  *  - `<asset>/batch=<id>/` — one micro-batch's delta, overwritten when
  *    the batch replays; compaction and delta serves see it only once
  *    its `_SUCCESS` marker lands ([[batchDirs]]).
  *  - `_compacted_upto` — the highest batch id already folded into a
  *    compacted catalog table ([[compactedUpTo]]).
  *
  * REPLAY CONTRACT, stated once here for every family ([[advance]]):
  *
  *  1. batch N reads the newest committed version BELOW N — never its
  *     own earlier attempt — pinned to the schema the caller is about
  *     to merge with (no footer-reader job), or an empty frame of that
  *     schema when no version exists yet;
  *  2. v=N is written with overwrite, so a replay of N recomputes the
  *     same version from the same predecessor and replaces whatever an
  *     earlier attempt left (torn or complete);
  *  3. only AFTER that write, committed versions older than the
  *     predecessor are pruned; the predecessor itself is kept, because
  *     N may still replay;
  *  4. batch ids are nondecreasing and only the LAST batch is ever
  *     re-delivered (foreachBatch's failure semantics). A call whose id
  *     is below the newest committed version fails before it reads or
  *     writes anything: its prune would delete the newer versions.
  *     An equal id is the allowed replay of the last batch.
  *
  * The seen gate ([[fresh]] / [[recordSeen]]) is one more versioned
  * asset under the same rules. Families that write several assets per
  * batch advance the seen gate LAST, so a crash anywhere before it
  * replays the whole batch against the same gate version.
  */
private[graft] object VersionedState {

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    fs(spark, p).exists(p)
  }

  /** Recursively delete every path (a missing path is a no-op). */
  def deleteAll(spark: SparkSession, paths: Seq[String]): Unit =
    paths.foreach { d =>
      val p = new Path(d)
      fs(spark, p).delete(p, true)
    }

  /** Swap a fully written `tmp` into place at `dst` (delete, rename). */
  def replace(spark: SparkSession, tmp: String, dst: String): Unit = {
    val (t, d) = (new Path(tmp), new Path(dst))
    val f = fs(spark, d)
    f.delete(d, true)
    if (!f.rename(t, d))
      throw new java.io.IOException(s"rename $t -> $d failed")
  }

  private def committed(f: FileSystem, p: Path): Boolean =
    f.exists(new Path(p, "_SUCCESS"))

  /** Committed `v=<id>` versions under `dir` as (id, path), ascending. */
  private def versions(spark: SparkSession,
                       dir: String): Seq[(Long, String)] = {
    val d = new Path(dir)
    val f = fs(spark, d)
    if (!f.exists(d)) Seq.empty
    else f.listStatus(d).toSeq.filter(_.isDirectory).flatMap { st =>
      val name = st.getPath.getName
      if (name.startsWith("v=") && committed(f, st.getPath))
        name.drop(2).toLongOption.map(_ -> st.getPath.toString)
      else None
    }.sortBy(_._1)
  }

  /** Path of the newest committed version under `dir` — what a serve
    * reads. Fails, naming `what`, when no version is committed yet.
    */
  def latest(spark: SparkSession, dir: String, what: String): String =
    versions(spark, dir).lastOption.map(_._2).getOrElse(
      throw new IllegalStateException(s"no completed $what under $dir"))

  /** Paths of the newest version committed in EVERY one of `dirs` —
    * the consistent read of assets one batch advances together: a
    * crash between their writes leaves them one version apart, and
    * the predecessor every asset kept is the common one. Fails,
    * naming `what`, when they share no committed version.
    */
  def latestCommon(spark: SparkSession, dirs: Seq[String],
                   what: String): Seq[String] = {
    val vs = dirs.map(d => versions(spark, d).toMap)
    val common = vs.map(_.keySet).reduce(_ intersect _)
    if (common.isEmpty) throw new IllegalStateException(
      s"no completed $what under ${dirs.mkString(", ")}")
    vs.map(_(common.max))
  }

  /** One advance of the asset under `dir` to version `batchId`, opened
    * by [[open]]: `prev` is the predecessor (contract rule 1) and
    * [[commit]] writes the next version and prunes (rules 2–3). Split
    * from [[advance]] for the families that must act between the two
    * — consume `prev` in a frame shared with another write, or append
    * a delta before the version lands.
    */
  final class Step private[VersionedState] (spark: SparkSession,
                                            dir: String, batchId: Long,
                                            like: DataFrame,
                                            stale: Seq[String],
                                            val prev: DataFrame) {
    private val path = s"$dir/v=$batchId"

    def commit(next: DataFrame): Unit = {
      next.write.mode("overwrite").parquet(path)
      deleteAll(spark, stale)
    }

    /** The version [[commit]] wrote, read back with the asset's
      * pinned schema — for a caller that consumes what it just wrote
      * instead of recomputing it.
      */
    def committed: DataFrame = spark.read.schema(like.schema).parquet(path)
  }

  /** The committed versions and the predecessor of `batchId`; fails on
    * an out-of-order id (contract rule 4).
    */
  private def below(spark: SparkSession, dir: String, batchId: Long)
      : (Seq[(Long, String)], Option[(Long, String)]) = {
    val vs = versions(spark, dir)
    for ((newest, _) <- vs.lastOption)
      require(batchId >= newest,
        s"out-of-order batch for $dir: batch $batchId is below the newest " +
          s"committed version $newest (only the last batch may replay)")
    (vs, vs.takeWhile(_._1 < batchId).lastOption)
  }

  private def readOrEmpty(spark: SparkSession, v: Option[(Long, String)],
                          like: DataFrame): DataFrame =
    v.fold(like.limit(0))(p => spark.read.schema(like.schema).parquet(p._2))

  /** Open an advance of `dir` to `batchId`. `like` carries the asset's
    * schema; `check` sees the predecessor's path before it is read
    * (families whose schema follows caller arguments fail fast there).
    */
  def open(spark: SparkSession, dir: String, batchId: Long, like: DataFrame,
           check: String => Unit = _ => ()): Step = {
    val (vs, pred) = below(spark, dir, batchId)
    pred.foreach(p => check(p._2))
    val keep = pred.map(_._1).toSet + batchId
    new Step(spark, dir, batchId, like,
      vs.collect { case (v, p) if !keep(v) => p }, readOrEmpty(spark, pred, like))
  }

  /** Advance `dir` to version `batchId` = `next(predecessor)` under
    * the replay contract above.
    */
  def advance(spark: SparkSession, dir: String, batchId: Long,
              like: DataFrame, check: String => Unit = _ => ())(
              next: DataFrame => DataFrame): Unit = {
    val step = open(spark, dir, batchId, like, check)
    step.commit(next(step.prev))
  }

  /** The seen gate's read half: the rows of `batch` whose `idCol`
    * appeared in no EARLIER batch — anti-joined against the seen-ids
    * version below `batchId`, so a replay of N sees exactly what the
    * first attempt saw. First batch: everything is fresh. An id is
    * recorded even when its batch produced no state rows (an empty
    * document), so its re-delivery cannot double-count it either.
    */
  def fresh(spark: SparkSession, batch: DataFrame, idCol: String,
            batchId: Long, seenDir: String): DataFrame = {
    val ids = batch.select(batch(idCol).as("id"))
    val prev = readOrEmpty(spark, below(spark, seenDir, batchId)._2, ids)
    batch.join(prev, batch(idCol) === prev("id"), "left_anti")
  }

  /** The seen gate's write half: version `batchId` = predecessor ∪
    * `freshIds` (one `id` column, MATERIALIZED by the caller so the
    * gate's anti-join is not recomputed). A BAG, not a set: freshIds
    * is disjoint from the predecessor by construction, duplicates can
    * only come from one batch's own repeated ids, and the only reader
    * is [[fresh]]'s duplicate-insensitive anti-join — so the write is
    * one map-only job with no distinct.
    */
  def recordSeen(spark: SparkSession, freshIds: DataFrame, batchId: Long,
                 seenDir: String): Unit =
    advance(spark, seenDir, batchId, freshIds)(_.unionByName(freshIds))

  /** An append-only state dir, exactly-once at read: rows a replay
    * re-appended are value-identical and collapse under the distinct;
    * an empty frame of `like`'s schema before the first append.
    */
  def appended(spark: SparkSession, dir: String, like: DataFrame): DataFrame =
    if (exists(spark, dir))
      spark.read.schema(like.schema).parquet(dir).distinct()
    else like.limit(0)

  /** Committed `batch=<id>` delta dirs under `root`: a micro-batch
    * mid-write is neither folded nor served until its marker lands.
    */
  def batchDirs(spark: SparkSession, root: String): Seq[String] = {
    val d = new Path(root)
    val f = fs(spark, d)
    if (!f.exists(d)) Seq.empty
    else f.listStatus(d).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("batch=") && committed(f, st.getPath))
      .map(_.getPath.toString)
  }

  def batchIdOf(dir: String): Long =
    dir.substring(dir.lastIndexOf("batch=") + "batch=".length).toLong

  private def marker(basePath: String) = s"$basePath/_compacted_upto"

  /** The highest batch id already folded into the compacted table
    * (−1 before the first compaction).
    */
  def compactedUpTo(spark: SparkSession, basePath: String): Long = {
    val p = new Path(marker(basePath))
    val f = fs(spark, p)
    if (!f.exists(p)) -1L
    else {
      val in = f.open(p)
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      finally in.close()
    }
  }

  /** Record `upto` as the compaction high-water mark (temp + rename). */
  def markCompacted(spark: SparkSession, basePath: String,
                    upto: Long): Unit = {
    val tmp = marker(basePath) + ".tmp"
    val p = new Path(tmp)
    val out = fs(spark, p).create(p, true)
    try out.write(upto.toString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    replace(spark, tmp, marker(basePath))
  }

  /** Run independent same-batch state writes as CONCURRENT driver
    * jobs (FIFO back-fills each write's tiny stages into the others'
    * tails) and rethrow the FIRST failure only after EVERY write has
    * quiesced: propagating while a sibling is still in flight would
    * let a caller-level replay of the same batch id race the in-flight
    * overwrite. Pass only writes to DISJOINT assets whose serve is
    * consistent under any completion order ([[latestCommon]]).
    */
  def awaitAllWrites(work: (() => Unit)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(work.size)
    val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val fs = work.map(w => scala.concurrent.Future(w())(ec))
      val outcomes = fs.map(f => scala.util.Try(scala.concurrent.Await
        .result(f, scala.concurrent.duration.Duration.Inf)))
      outcomes.foreach(_.get) // rethrow the first failure, all quiesced
    } finally {
      pool.shutdown()
      pool.awaitTermination(1L, java.util.concurrent.TimeUnit.MINUTES)
      ()
    }
  }

  /** Run `batchFn` as the foreachBatch sink of `stream`, exactly-once
    * per the checkpointed batch id (which the function receives).
    */
  def drive(stream: DataFrame, checkpoint: String)(
      batchFn: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(batchFn)
      .start()
}
