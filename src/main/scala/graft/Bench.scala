package graft

import scala.util.control.NonFatal

/** Benchmark main: times SparkEntry.benchQueries against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line for the driver.
  *
  * Each query is forced end-to-end with a noop datasource write (full
  * materialization of every output row/column — unlike count(), which
  * lets Spark prune the plan). One untimed warmup run warms the JIT,
  * fills the generated-code cache and pins each input file's schema
  * (Tables.load), mirroring steady-state service behavior rather than
  * cold JVM start. The codegen part holds only while that cache
  * (LocalSession's spark.sql.codegen.cache.maxEntries) fits every
  * entry's classes: at Spark's default of 100 the 40 round-robin
  * entries overflow it and every timed repetition recompiles.
  *
  * Contention-evidence (VERDICT r9 #1: two consecutive rounds of
  * official numbers were poisoned by box load — 4-24x phantom
  * regressions on single queries, each costing a round-long
  * investigation):
  *   - timed repetitions are INTERLEAVED round-robin across queries
  *     (run 1 of every query, then run 2 of every query, ...) instead
  *     of back-to-back per query, so a transient load window taxes
  *     one repetition of MANY queries — the per-query min survives —
  *     rather than every repetition of ONE query, which poisons its
  *     min unrecoverably;
  *   - every run is stamped with its wall-clock start (epoch seconds)
  *     and the 1-minute /proc/loadavg read just before it, and the
  *     JSON carries both per run, so an outlier is self-identifying
  *     (a 30 s run with load 40 on a 32-cpu box indicts the box, not
  *     the engine) without access to the box at read time.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // NO periodic-GC tightening: a measured A/B/A at sf0.1 showed
    // spark.cleaner.periodicGC.interval=30s COSTS ~1s overall
    // (full-GC pauses inside timed runs); the r8/r9 drift was box
    // contention, not JVM state. PROFILE.md round 9 has the table.
    val spark = LocalSession.build(cpus,
      Map("spark.sql.autoBroadcastJoinThreshold" -> "64m"))
    spark.sparkContext.setLogLevel("ERROR")

    // SPARK_GRAFT_BENCH_SKIP: comma-separated entry names to leave
    // out — the suite-composition A/B lever (round 18: lets one box
    // run two trees over the SAME entry list, isolating tree changes
    // from suite-composition changes when new entries land). The
    // official artifact runs with it UNSET.
    val skip = sys.env.get("SPARK_GRAFT_BENCH_SKIP")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty)
    val names = SparkEntry.benchQueries.filter(SparkEntry.queries.contains)
      .filterNot(skip)
    def force(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()

    // Warehouse hygiene + staleness witness (round 18): a same-box
    // same-tree A/B read 88.8 s against a warehouse carrying 18
    // rounds of stale versioned state (7,770 files) vs 76.4 s after
    // tools/StateGc — stale STATE neighbors tax the whole
    // interleaved suite, including entries that never read the
    // warehouse (PROFILE r18 has the ladder). The official artifact
    // must not depend on a human remembering a manual GC step, so
    // the bench runs the same provable-orphans-only pass itself
    // before warmup (SPARK_GRAFT_BENCH_NO_GC=1 disables — e.g. to
    // reproduce the stale rung of the ladder), then records the
    // post-GC file count so a junk-heavy artifact self-identifies.
    val whPath: Option[java.nio.file.Path] =
      try {
        val p = java.nio.file.Paths.get(
          spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
        if (java.nio.file.Files.isDirectory(p)) Some(p) else None
      } catch { case scala.util.control.NonFatal(_) => None }
    // -1 = GC disabled, -2 = GC attempted and failed (the bench must
    // never die to hygiene — a half-deleted stale entry is strictly
    // less junk than before, and the timings still stand on their
    // recorded wh_files witness).
    val whGcDeleted: Long =
      if (sys.env.contains("SPARK_GRAFT_BENCH_NO_GC")) -1L
      else whPath.fold(0L) { p =>
        try {
          val (n, files, _) = graft.tools.StateGc.gc(
            p, graft.queries.OpsQueries.TrainDefV, apply = true,
            m => System.err.println(s"[bench] stategc $m"))
          if (n > 0)
            System.err.println(
              s"[bench] stategc: deleted $n stale entries / $files files")
          files
        } catch {
          case NonFatal(e) =>
            System.err.println(
              s"[bench] stategc failed (continuing): " +
                s"${e.getClass.getName}: ${e.getMessage}")
            -2L
        }
      }
    val whFiles: Long =
      try whPath.fold(0L)(graft.tools.StateGc.countFiles)
      catch { case NonFatal(_) => -1L }

    /** 1-minute load average — the contention witness. -1 if absent
      * (non-Linux), never throws inside the bench loop.
      */
    def load1(): Double =
      try {
        val src = scala.io.Source.fromFile("/proc/loadavg")
        try src.mkString.split("\\s+")(0).toDouble finally src.close()
      } catch { case NonFatal(_) => -1.0 }

    // NonFatal only: an OOM/VM error must crash the bench visibly —
    // timings taken in a heap-exhausted JVM are garbage.
    def report(name: String, phase: String, e: Throwable): Unit =
      System.err.println(
        s"[bench] $phase $name failed: ${e.getClass.getName}: ${e.getMessage}")
    // Load gate (VERDICT r17 Next #7): two rounds running, the
    // official artifact started on a loaded box (r16 load 14.1, r17
    // load 9.58) and needed a judge rerun to be interpretable. The
    // witness must be read BEFORE our own warmup inflates the
    // 1-minute average, so the gate is a bounded PRE-warmup wait for
    // external load to drain — not a post-hoc retry (which would
    // re-measure under our own decaying load). If the box never
    // quiets, proceed and say so: load_initial / load_wait_sec make
    // the artifact self-identifying either way.
    val loadInitial = load1()
    var waitedSec = 0
    while (load1() > 4.0 && waitedSec < 240) {
      Thread.sleep(15000)
      waitedSec += 15
    }
    if (waitedSec > 0)
      System.err.println(
        s"[bench] waited ${waitedSec}s for load to drop " +
          s"(initial $loadInitial, now ${load1()})")
    val loadStart = load1()
    names.foreach { n =>                      // warmup (untimed)
      try force(n) catch { case NonFatal(e) => report(n, "warmup", e) }
    }
    // Repetition counts: min-of-N is the standard steady-state
    // estimator (single-run numbers on a shared box are dominated by
    // scheduler noise; observed 1.3s vs 13s for the same plan). The
    // iterative / composition-heavy queries historically showed
    // multi-second spread (r5: q49 at 2.13/8.07/2.42s), so they get 5
    // timed runs (VERDICT r5 item 7); q10 joined in round 7 after an
    // untouched-code drift. All runs, medians, timestamps and loads
    // are reported so the recorded min is auditable against the
    // spread.
    val extraRuns = Set(
      "q01_pricing_summary", "q10_distinct_agg", "q49_dup_clusters",
      "q50_clean_corpus")
    def nRuns(name: String): Int = if (extraRuns(name)) 5 else 3
    val maxRuns = names.map(nRuns).max

    final case class Run(sec: Double, ts: Long, load: Double)
    val runs = scala.collection.mutable.Map[String, Vector[Run]]()
      .withDefaultValue(Vector.empty)
    // round-robin: repetition r of every query before repetition r+1
    // of any query (see scaladoc)
    for (r <- 1 to maxRuns; name <- names if r <= nRuns(name)) {
      val ld = load1()
      val ts = System.currentTimeMillis() / 1000L
      val t0 = System.nanoTime()
      try {
        force(name)
        runs(name) :+= Run((System.nanoTime() - t0) / 1e9, ts, ld)
      } catch { case NonFatal(e) => report(name, "timed", e) }
    }
    val loadEnd = load1()

    def median(ts: Seq[Double]): Double = {
      val s = ts.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    def obj(f: String => String): String =
      names.map(n => "\"" + n + "\":" + f(n)).mkString("{", ",", "}")
    val mins = names.map(n =>
      n -> (if (runs(n).nonEmpty) runs(n).map(_.sec).min else -1.0)).toMap
    val qs = obj(n => mins(n).toString)
    val meds = obj(n =>
      (if (runs(n).nonEmpty) median(runs(n).map(_.sec)) else -1.0).toString)
    val runsJ = obj(n => runs(n).map(_.sec).mkString("[", ",", "]"))
    val tsJ = obj(n => runs(n).map(_.ts).mkString("[", ",", "]"))
    val loadJ = obj(n => runs(n).map(_.load).mkString("[", ",", "]"))
    // A failed query must make the headline metric WORSE, not smaller:
    // total is -1 (invalid) whenever any query failed, so a regression
    // to a crash can never read as a speedup.
    val total =
      if (names.exists(n => mins(n) < 0)) -1.0
      else names.map(mins).sum
    // cpus + defaultParallelism in BOTH JSON lines (VERDICT r18 Next
    // #2): the scaling contract must be decidable from the artifact —
    // an 8-core rerun's line carries its own core count, so
    // "suspect_cpus_ignored" can be ruled out without box access.
    val par = spark.sparkContext.defaultParallelism
    val cpusJ = // numeric when numeric (the driver's case); else quoted
      if (cpus.forall(_.isDigit) && cpus.nonEmpty) cpus else "\"" + cpus + "\""
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"medians":$meds,"runs":$runsJ,"run_ts":$tsJ,"run_load":$loadJ,"cpus":$cpusJ,"default_parallelism":$par,"load_start":$loadStart,"load_initial":$loadInitial,"load_wait_sec":$waitedSec,"load_end":$loadEnd,"wh_files":$whFiles,"wh_gc_deleted":$whGcDeleted,"interleaved":true,"sf":"$sfDir"}""")
    // The driver captures only the last ~2 KB of stdout; the full
    // forensic line above (runs/ts/load per repetition) exceeds that,
    // which in round 10 pushed the per-query mins out of the captured
    // tail (third consecutive round whose official artifact lacked
    // numbers — VERDICT r10 Next #1). Emit a SECOND, compact line
    // LAST — headline total + per-query mins only (~1 KB) — so the
    // captured tail is always self-sufficient; the full line stays
    // for forensics when the whole stdout is available.
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"cpus":$cpusJ,"default_parallelism":$par,"load_start":$loadStart,"wh_files":$whFiles,"sf":"$sfDir"}""")
    spark.stop()
  }
}
