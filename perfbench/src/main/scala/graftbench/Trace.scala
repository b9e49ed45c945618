package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call into an engine module; `start`/`end` are
  * `System.nanoTime` readings.
  */
final class Span(val id: Int, val name: String, val parent: Int,
                 val req: Long, val start: Long) {
  var end: Long = -1L
}

/** Spans around the bench's calls into the engine. When off, `span`
  * runs its body and records nothing, and `force` returns its input:
  * the untraced run executes exactly the plans a user would.
  *
  * When on, every span sets the Spark local property [[Tracer.Key]]
  * to its id, so the [[Census]] listener can attribute the jobs,
  * tasks and bytes it sees to the span that issued them, and `force`
  * materializes a stage's output inside the span that built it.
  */
final class Tracer(sc: SparkContext, var on: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  val counters = mutable.LinkedHashMap[String, Double]()
  private var stack: List[Span] = Nil
  var request: Long = -1L

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(spans.size + 1, name, stack.headOption.fold(0)(_.id),
        request, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.Key, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.Key,
          stack.headOption.map(_.id.toString).orNull)
      }
    }

  def force(df: DataFrame): DataFrame = if (on) df.localCheckpoint() else df

  def add(counter: String, v: Double): Unit =
    if (on) counters(counter) = counters.getOrElse(counter, 0.0) + v
}

object Tracer {
  val Key = "graftbench.span"
}

/** Per-job and per-task census of the Spark driver and executors.
  * Task counters come from `TaskMetrics` (the SQL-metric accumulator
  * updates can be dropped under load; task metrics are not). Each job
  * is attributed to the span whose id its local properties carry;
  * span 0 means no span was open (`unattributed`).
  */
final class Census extends SparkListener with QueryExecutionListener {
  @volatile var recording = false
  val jobs = new ConcurrentLinkedQueue[Array[Long]]() // jobId, start, end, span
  private val jobInfo = new ConcurrentHashMap[Int, Array[Long]]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val bySpan = new ConcurrentHashMap[Int, Array[Double]]()
  private val planMs = new java.util.concurrent.atomic.AtomicLong
  private val aqe = new java.util.concurrent.atomic.AtomicLong

  def reset(): Unit = {
    jobs.clear(); bySpan.clear(); planMs.set(0); aqe.set(0)
  }

  private def add(span: Int, field: Int, v: Double): Unit = {
    val a = bySpan.computeIfAbsent(span, _ => new Array[Double](Census.Fields.size))
    a.synchronized { a(field) += v }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .map(_.toInt).getOrElse(0)
    jobInfo.put(e.jobId, Array(e.jobId.toLong, e.time, -1L, span.toLong))
    e.stageInfos.foreach(si => stageSpan.put(si.stageId, span))
    add(span, Census.F("jobs"), 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobInfo.remove(e.jobId)
    if (j != null && recording) { j(2) = e.time; jobs.add(j) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (recording) add(stageSpan.getOrDefault(e.stageInfo.stageId, 0),
      Census.F("stages"), 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (recording && m != null) {
      val s = stageSpan.getOrDefault(e.stageId, 0)
      val sr = m.shuffleReadMetrics
      Seq("tasks" -> 1.0,
        "task_run_ms" -> m.executorRunTime.toDouble,
        "task_cpu_ms" -> m.executorCpuTime / 1e6,
        "gc_ms" -> m.jvmGCTime.toDouble,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
        "shuffle_read_bytes" -> sr.totalBytesRead.toDouble,
        "fetch_wait_ms" -> sr.fetchWaitTime.toDouble,
        "input_bytes" -> m.inputMetrics.bytesRead.toDouble,
        "input_rows" -> m.inputMetrics.recordsRead.toDouble)
        .foreach { case (k, v) => add(s, Census.F(k), v) }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit =
    if (recording &&
        e.getClass.getSimpleName == "SparkListenerSQLAdaptiveExecutionUpdate")
      aqe.incrementAndGet()

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit =
    if (recording)
      planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  /** Census totals per span id, plus the global plan/AQE counters. */
  def snapshot(): Map[String, Any] = Map(
    "by_span" -> bySpan.asScala.map { case (s, a) =>
      s.toString -> Census.Fields.zip(a.toSeq).toMap }.toMap,
    "jobs" -> jobs.asScala.toSeq.map(_.toSeq),
    "plan_ms" -> planMs.get,
    "aqe_updates" -> aqe.get)
}

object Census {
  val Fields = Seq("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms",
    "gc_ms", "spill_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
    "fetch_wait_ms", "input_bytes", "input_rows")
  val F: Map[String, Int] = Fields.zipWithIndex.toMap

  def register(spark: SparkSession): Census = {
    val c = new Census
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }
}

/** A [[graft.ops.Materializer]] that seals eagerly inside a
  * `materialize.seal` span and remembers what it sealed, so the bench
  * can count what an operator built between its barriers (for example
  * the LSH band buckets behind `dedup.candidates`).
  */
final class SealSpy(tr: Tracer, lazyMat: graft.ops.Materializer)
    extends graft.ops.Materializer {
  val frames = mutable.ArrayBuffer[DataFrame]()
  def apply(df: DataFrame): DataFrame =
    if (!tr.on) lazyMat(df)
    else tr.span("materialize.seal") {
      val out = df.localCheckpoint()
      frames += out
      out
    }
}
