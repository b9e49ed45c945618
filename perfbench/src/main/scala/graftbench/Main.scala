package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One measured operation. `ms` < 0 means "the wall time of the whole
  * `Workload.op` call"; a workload that times several things in one call
  * reports each with its own `ms`. Only `primary` operations set the
  * workload's latency and throughput; the others (reads between
  * ingest batches, compactions) are reported beside them.
  */
final case class Op(kind: String, ok: Boolean = true, results: Long = 0L,
                    ms: Double = -1.0, primary: Boolean = true)

/** One benchmark workload: `prepare` runs once per run before the
  * set-ups (a one-shot batch job whose output the set-ups load), `setup`
  * builds everything the timed loop needs (run `setups` times, each from
  * an empty catalog), `warm` runs once after the last set-up (caches,
  * JIT, code generation), `op` is one timed unit of work, `check`
  * compares outputs against an independent form after the loop.
  * `beginTrace` runs when the traced window starts; `report` adds
  * workload-specific raw numbers.
  */
trait Workload {
  def prepare(c: Ctx): Unit = ()
  def setup(c: Ctx): Unit
  def warm(c: Ctx): Unit = ()
  /** Runs operation `i`; no operations back means the workload is done. */
  def op(c: Ctx, i: Int): Seq[Op]
  def check(c: Ctx): Seq[(String, Boolean, String)]
  def beginTrace(c: Ctx): Unit = ()
  /** Query name -> DuckDB SQL for every result written under `out/<name>`. */
  def oracle: Map[String, String] = Map.empty
  def report(c: Ctx): Map[String, Any] = Map.empty
}

/** Run-wide context shared by the harness and the workloads. */
final class Ctx(val spark: SparkSession, val dir: String, val work: String,
                val tracer: Tracer, val seed: Long) {
  def table(name: String): DataFrame = graft.Tables.load(spark, dir, name)
  def out(name: String): String = s"$work/out/$name"

  /** Milliseconds spent in `body`. */
  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  }

  /** Rows of `df` as sorted strings — an order-free value comparison. */
  def rows(df: DataFrame): Seq[String] = df.collect().map(rowString).toSeq.sorted

  def rowString(r: Row): String = r.toSeq.map {
    case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
    case x => String.valueOf(x)
  }.mkString("|")
}

/** The benchmark's JVM side. Usage (`run.py` builds the
  * arguments):
  *
  *   graftbench.Main <workload> <inputDir> <workDir> <seconds> <trace 0|1>
  *                   <cpus> <setups> <seed> <resultJson>
  *
  * Writes raw measurements (per-operation latencies, set-up times,
  * check verdicts and, when tracing, spans and the census) to
  * `resultJson`; `run.py` turns them into metrics.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, dir, work, secondsS, traceS, cpus, setupsS, seedS,
      outJson) = args
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val staleFiles = countFiles(new File(s"$work/warehouse"))
    val t0 = System.nanoTime()
    val spark = graft.LocalSession.build(cpus, Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "64m",
      "spark.sql.warehouse.dir" -> new File(s"$work/warehouse").toURI.toString,
      "spark.local.dir" -> s"$work/local"))
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val census = if (trace) Some(Census.register(spark)) else None
    val tracer = new Tracer(spark.sparkContext, on = false)
    val c = new Ctx(spark, dir, work, tracer, seedS.toLong)
    val w: Workload = workload match {
      case "serve" => new Serve
      case "maintain" => new Maintain
    }
    val res = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "session_s" -> sessionS,
      "stale_files" -> staleFiles,
      "cpus" -> cpus, "default_parallelism" -> spark.sparkContext.defaultParallelism)

    // the one-shot job runs traced in the traced run: its spans are the
    // per-stage metrics of the batch layers
    tracer.on = trace
    res("prepare_s") = c.timed(w.prepare(c)) / 1e3
    tracer.on = false
    val setupS = (1 to setupsS.toInt).map { _ =>
      spark.catalog.listTables().collect().foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
      c.timed(w.setup(c)) / 1e3
    }
    res("setup_s") = setupS
    res("warm_s") = c.timed(w.warm(c)) / 1e3

    /** Runs operations `from`, `from + 1`, ... for `secs` seconds; the
      * window closes when the operation running at the deadline
      * completes, or early when the workload has no operation left.
      * Returns the index of the next operation.
      */
    def window(secs: Double, key: String, from: Int): Int = {
      val ops = mutable.ArrayBuffer[Map[String, Any]]()
      val start = System.nanoTime()
      var i = from
      var more = true
      while (more && (System.nanoTime() - start) / 1e9 < secs) {
        val s = System.nanoTime()
        val done = try w.op(c, i) catch {
          case NonFatal(e) =>
            System.err.println(s"[perfbench] op $i failed: $e")
            Seq(Op("error", ok = false))
        }
        val wall = (System.nanoTime() - s) / 1e6
        more = done.nonEmpty
        done.foreach { op =>
          ops += Map("kind" -> op.kind, "ok" -> op.ok, "results" -> op.results,
            "primary" -> op.primary, "start_ms" -> s / 1e6,
            "ms" -> (if (op.ms < 0) wall else op.ms))
        }
        if (more) i += 1
      }
      res(key) = ops.toSeq
      res(key.replace("ops", "window_s")) = (System.nanoTime() - start) / 1e9
      i
    }

    if (trace) {
      // the untraced half-window first: traced minus untraced latency is
      // the tracing overhead; the traced window continues with the next
      // operation, so it never repeats work the first half did
      val next = window(seconds / 2, "untraced_ops", 0)
      val cen = census.get
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      cen.reset(); cen.recording = true
      w.beginTrace(c)
      tracer.on = true
      val wall0 = System.currentTimeMillis()
      window(seconds, "ops", next)
      res("window_ms") = Seq(wall0, System.currentTimeMillis())
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      cen.recording = false
      tracer.on = false
      res("census") = cen.snapshot()
      res("spans") = tracer.spans.toSeq.map(s => Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "req" -> s.req,
        "start_ms" -> s.start / 1e6, "end_ms" -> s.end / 1e6))
      res("counters") = tracer.counters.toMap
    } else window(seconds, "ops", 0)

    // every checked output is written: `run.py` starts the DuckDB oracle
    // now, beside the checks below
    val tmp = Paths.get(s"$work/oracle.json.tmp")
    Files.writeString(tmp, Json(w.oracle))
    Files.move(tmp, Paths.get(s"$work/oracle.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val checkT0 = System.nanoTime()
    res("checks") = (try w.check(c) catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] check failed: $e")
        Seq(("check", false, e.toString))
    }).map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) }
    res("check_s") = (System.nanoTime() - checkT0) / 1e9
    res ++= w.report(c)
    res("peak_rss_mb") = vmHwmMb()
    spark.stop()
    Files.writeString(Paths.get(outJson), Json(res))
  }

  def countFiles(f: File): Long =
    if (!f.exists) 0L
    else if (f.isFile) 1L
    else Option(f.listFiles).fold(0L)(_.map(countFiles).sum)

  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
