package graft

import java.io.File
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** Session-wide conf: one builder for every session, and a generated-code
  * cache that holds a session's working set.
  */
class LocalSessionSpec extends SparkSpec {

  test("sessions are built only in LocalSession") {
    val needle = "SparkSession" + ".builder"
    // dev smokes that pin their own factory mode; slated for deletion
    val allowed = Set("LocalSession.scala", "CodegenSmoke.scala",
      "ExtensionsSmoke.scala")
    def scalaFiles(d: File): Seq[File] =
      Option(d.listFiles).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val roots = Seq(new File("src/main/scala"), new File("src/test/scala"))
    roots.foreach(r => assert(r.isDirectory, s"run from the repo root: $r"))
    val files = roots.flatMap(scalaFiles)
    assert(files.exists(_.getName == "LocalSession.scala"))
    val offenders = files.filter { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.mkString.contains(needle) finally src.close()
    }.map(_.getName).filterNot(allowed)
    assert(offenders.isEmpty,
      s"build sessions through LocalSession.build, not $needle: $offenders")
  }

  test("a repeated query mix larger than Spark's default codegen cache compiles once") {
    // Built here, not read from test data: 3 templates x 40 literals,
    // each literal inlined into its generated class, so one pass needs
    // well over the default 100 cache entries.
    val fixture = spark.range(0, 64, 1, 2)
      .select(col("id"), (col("id") % 7).as("g"))
    def pass(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (0 until 40).foreach { i =>
        val c = 7919L + i
        fixture.select((col("id") * c).as("v")).collect()
        fixture.filter(col("id") =!= c).agg(sum(col("g"))).collect()
        fixture.groupBy((col("g") + c).as("k")).count().collect()
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = pass()
    assert(first > 100, s"the mix must overflow a 100-entry cache: $first")
    val second = pass()
    assert(second === 0L,
      s"second pass recompiled $second classes (first pass: $first)")
  }
}
