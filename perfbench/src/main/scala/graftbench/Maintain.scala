package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Dedup
import graft.search.Search
import graft.streaming.StreamingUpsert

/** `maintain`: the corpus pipeline, writes beside reads. Once per run
  * the initial corpus (`documents`) goes through the curation funnel
  * ([[Curation]]); its survivors are batch 0, which every set-up loads
  * into a fresh state. Seeded micro-batches (files under `batches/`, in
  * delivery order; about 5% of each batch re-sends docs of earlier
  * batches and one batch id is delivered twice) then flow through
  * `bm25IndexBatch` and `nearDupBatch`. Each batch is followed by
  * `readsPerBatch` state-served BM25 search, and every `compactEvery`
  * batches by `compactBm25State`; once compacted, the state is served by
  * `bm25FromCompactedState` (the `bm25FromState` reader of the
  * compacted layout). `clusterFoldFromPairs` runs once after the loop.
  * The primary operation is one micro-batch, from hand-off to every
  * state write committed.
  */
final class Maintain extends Workload {
  private val readsPerBatch = 1
  private val compactEvery = 4
  private val (n, bands, rowsPerBand, tau) = (3, 4, 2, 0.5)
  private var files: Array[File] = Array.empty
  private var batch0: File = null
  private var root = ""
  private var queries: Seq[Seq[String]] = Nil
  private val delivered = mutable.ArrayBuffer[File]()
  private val seen = mutable.Map[Long, Long]() // doc_id -> first batch id
  // counters of the measured window (cleared when the traced one starts)
  private val stats = mutable.LinkedHashMap[String, Double]()
  private val curation = new Curation

  private def bump(k: String, v: Double): Unit =
    stats(k) = stats.getOrElse(k, 0.0) + v

  private def wh(c: Ctx): String = c.spark.conf.get("spark.sql.warehouse.dir")

  /** Curates the initial corpus and writes its survivors as batch 0. */
  override def prepare(c: Ctx): Unit = {
    val keep = curation.run(c)
    batch0 = new File(s"${c.work}/stream/0000_b0000.parquet")
    c.table("documents").join(keep, Seq("doc_id"), "left_semi")
      .write.parquet(batch0.getPath)
  }

  /** One set-up: a fresh state root holding batch 0, so every timed
    * batch lands on existing state.
    */
  def setup(c: Ctx): Unit = {
    files = batch0 +: new File(s"${c.dir}/batches").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    queries = c.spark.read.parquet(files(1).getPath).select(col("text"))
      .limit(64).collect().map(_.getString(0).split(" ").take(2).toSeq).toSeq
    root = s"${wh(c)}/mnt"
    delete(c, root)
    delivered.clear(); seen.clear(); stats.clear()
    ingest(c, root, files(0))
    record(files(0), batchIds(c, files(0)))
  }

  override def beginTrace(c: Ctx): Unit = stats.clear()

  /** Ingest the first two batches into a throw-away state (the second
    * takes the paths that read existing state), compact it and read it.
    */
  override def warm(c: Ctx): Unit = {
    val warm = s"${wh(c)}/mnt_warm"
    val (post, st) = tables(warm)
    ingest(c, warm, files(0))
    ingest(c, warm, files(1))
    StreamingUpsert.compactBm25State(c.spark, s"$warm/bm25", post, st)
    read(c, warm, queries.head)
    Seq(post, st).foreach(t => c.spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    delete(c, warm)
  }

  private def batchIds(c: Ctx, f: File): Array[Long] =
    c.spark.read.parquet(f.getPath).select("doc_id").collect().map(_.getLong(0))

  private def record(f: File, ids: Array[Long]): Unit = {
    ids.foreach(d => seen.getOrElseUpdate(d, batchId(f)))
    delivered += f
  }

  private def delete(c: Ctx, p: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(c.spark.sparkContext.hadoopConfiguration).delete(hp, true)
  }

  /** Bytes of a batch: a file, or a directory of part files. */
  private def bytes(f: File): Long =
    if (f.isFile) f.length else Option(f.listFiles).toSeq.flatten.map(bytes).sum

  private def batchId(f: File): Long =
    f.getName.stripSuffix(".parquet").split("_b")(1).toLong

  private def tables(r: String): (String, String) =
    (r.split('/').last + "_post", r.split('/').last + "_stats")

  private def ingest(c: Ctx, r: String, f: File): Unit = {
    val tr = c.tracer
    val batch = c.spark.read.parquet(f.getPath)
    tr.span("streaming.bm25_batch") {
      StreamingUpsert.bm25IndexBatch(c.spark, batch, "doc_id", Seq("text"),
        batchId(f), s"$r/bm25")
    }
    tr.span("streaming.neardup_batch") {
      StreamingUpsert.nearDupBatch(c.spark, batch, "doc_id", "text", n, bands,
        rowsPerBand, tau, s"$r/lsh")
    }
  }

  private def search(c: Ctx, r: String, toks: Seq[String]): DataFrame = {
    val (post, st) = tables(r)
    StreamingUpsert.bm25FromCompactedState(c.spark, s"$r/bm25", post, st,
      Seq("text"), toks)
  }

  private def read(c: Ctx, r: String, toks: Seq[String]): Seq[String] =
    c.tracer.span("streaming.read") {
      c.rows(search(c, r, toks)
        .orderBy(col("score_fp").desc, col("id").asc).limit(10))
    }

  /** (path@mtime -> bytes) of every file under the warehouse, which
    * holds both the state root and the compacted catalog tables.
    */
  private def listing(c: Ctx): Map[String, Long] = {
    def walk(f: File): Seq[(String, Long)] =
      if (f.isFile) Seq(s"${f.getPath}@${f.lastModified}" -> f.length)
      else Option(f.listFiles).toSeq.flatten.flatMap(walk)
    walk(new File(new java.net.URI(wh(c)))).toMap
  }

  /** Times `body`, counting the files and bytes it wrote. */
  private def writing(c: Ctx, what: String)(body: => Unit): Double = {
    val before = listing(c)
    val ms = c.timed(body)
    val fresh = listing(c).filterNot { case (k, _) => before.contains(k) }
    bump("files_written", fresh.size); bump("bytes_written", fresh.values.sum)
    bump(s"${what}_bytes_written", fresh.values.sum)
    ms
  }

  def op(c: Ctx, i: Int): Seq[Op] = {
    if (i + 1 >= files.length) return Nil // the schedule is exhausted
    val f = files(i + 1)
    val id = batchId(f)
    val ids = batchIds(c, f)
    val ms = writing(c, "ingest")(ingest(c, root, f))
    bump("input_bytes", bytes(f).toDouble)
    bump("batches", 1)
    if (c.tracer.on && !delivered.exists(batchId(_) == id)) {
      // re-sent docs of earlier batches, and how many the seen gate dropped
      val resent = ids.filter(d => seen.get(d).exists(_ < id)).toSet
      val indexed = c.spark.read.parquet(s"$root/bm25/postings/batch=$id")
        .select("id").distinct().collect().map(_.getLong(0)).toSet
      bump("resent", resent.size)
      bump("resent_dropped", (resent -- indexed).size)
    }
    record(f, ids)
    val reads = (0 until readsPerBatch).map { j =>
      val q = queries((i * readsPerBatch + j) % queries.size)
      Op("read", ms = c.timed(read(c, root, q)), primary = false)
    }
    val compact =
      if ((i + 1) % compactEvery != 0) Nil
      else {
        val (post, st) = tables(root)
        Seq(Op("compact", primary = false, ms = writing(c, "compact")(
          c.tracer.span("streaming.compact") {
            StreamingUpsert.compactBm25State(c.spark, s"$root/bm25", post, st)
          })))
      }
    Op("batch", ms = ms, results = ids.length) +: (reads ++ compact)
  }

  /** The union of every delivered batch, first delivery of each id. */
  private def union(c: Ctx): DataFrame =
    c.spark.read.parquet(delivered.map(_.getPath).toSeq: _*)
      .dropDuplicates("doc_id")

  /** The final state against the batch forms over the union of batches:
    * BM25 scores (`Search.bm25MultiField`, q100's law), near-dup pairs
    * (`Dedup.minhashLshPairs`, equal while no bucket crosses its cap)
    * and the cluster labels folded from them (`Dedup.duplicateClusters`).
    */
  def check(c: Ctx): Seq[(String, Boolean, String)] = {
    val fold = c.timed(c.tracer.span("streaming.cluster_fold") {
      StreamingUpsert.clusterFoldFromPairs(c.spark, s"$root/lsh",
        s"$root/clusters", delivered.size.toLong)
    })
    stats("cluster_fold_ms") = fold
    val docs = union(c)
    val rnd = new scala.util.Random(c.seed)
    val bm = rnd.shuffle(queries).take(2).map { q =>
      val got = c.rows(search(c, root, q))
      val want = c.rows(Search.bm25MultiField(docs, "doc_id", Seq("text"), q))
      (s"maintain.bm25.${q.mkString("+")}", got == want,
        s"${got.size} scores from state, ${want.size} batch")
    }
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", n, bands,
      rowsPerBand, tau)
    val gotPairs = c.rows(c.spark.read.parquet(s"$root/lsh/pairs")
      .select("doc_a", "doc_b", "jaccard").distinct())
    val wantPairs = c.rows(pairs.select("doc_a", "doc_b", "jaccard"))
    val gotCl = c.rows(StreamingUpsert.clustersFromState(c.spark,
      s"$root/clusters"))
    val wantCl = c.rows(Dedup.duplicateClusters(pairs))
    bm ++ Seq(
      ("maintain.neardup_pairs", gotPairs == wantPairs,
        s"${gotPairs.size} pairs from state, ${wantPairs.size} batch"),
      ("maintain.clusters", gotCl == wantCl,
        s"${gotCl.size} labels from state, ${wantCl.size} batch"))
  }

  override def report(c: Ctx): Map[String, Any] = {
    val end = listing(c)
    Map("maintain" -> (stats ++ Map(
      "delivered" -> delivered.size.toDouble,
      "delivered_bytes" -> delivered.map(bytes).sum.toDouble,
      "state_files" -> end.size.toDouble,
      "state_bytes" -> end.values.sum.toDouble)).toMap)
  }

  override def oracle: Map[String, String] =
    Map(curation.query -> graft.SparkEntry.oracleSql(curation.query))
}
