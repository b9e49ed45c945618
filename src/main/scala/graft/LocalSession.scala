package graft

import org.apache.spark.sql.SparkSession

/** Single source of truth for the local SparkSession config. The
  * timeZone and nanosAsLong settings are correctness-load-bearing
  * (Tables.load's ns->us normalization and every oracle's timestamp
  * comparison assume them) — hand-copied builder blocks drifting apart
  * would silently diverge bench plans from verified plans. Outside two
  * dev smokes it is the only `SparkSession.builder` in the code base
  * (LocalSessionSpec checks).
  */
object LocalSession {
  def build(cpus: String, extraConf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // explicit (not just the default): the LSH band-bucket candidate
      // self-joins rely on AQE skew-split to rebalance hot buckets
      // under the maxBucket cap — PlanSpec asserts this stays on
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      // Generated-code cache size. Static and JVM-wide: the first
      // session that generates code sizes it, so every session in the
      // JVM must come from here. Spark's default of 100 entries holds
      // less than one perfbench serve round, which touches ~245
      // distinct generated classes (a whole run at most ~470), so at
      // 100 every round recompiled all of them: ~245 Janino compiles,
      // ~2.4 s of a 10–12 s round. 2048 holds a session's working set
      // with headroom; PROFILE.md has the compile counts.
      .config("spark.sql.codegen.cache.maxEntries", "2048")
    extraConf.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }
}
