package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM — Test/fork),
  * built like every engine session so the suites run under the same
  * conf (static ones included) as Verify, Bench and perfbench.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = LocalSession.build("4")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
}
