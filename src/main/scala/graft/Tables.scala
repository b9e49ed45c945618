package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * One parquet file per table under `\$dir/`. At cluster scale these would be
  * partitioned directories; the API takes the directory so the same code
  * runs unchanged against a partitioned layout.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = readPinned(spark, s"$dir/$name.parquet")
    // events.ts arrives in whatever physical form the driver generated
    // this round; normalize every variant to a session-zone (UTC)
    // microsecond TimestampType so downstream time arithmetic
    // (unix_micros, session windows) sees ONE type:
    //  - parquet TIMESTAMP(NANOS) reads as a nanosecond long
    //    (spark.sql.legacy.parquet.nanosAsLong, set in every session
    //    builder here). FLOOR division to micros — `DIV` truncates
    //    toward zero, which would disagree with a ns->us timestamp
    //    cast by 1us on pre-1970 (negative) values; subtracting pmod
    //    first keeps the arithmetic exact in int64 (a double division
    //    would lose precision at 2^60-scale nanos).
    //  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) reads as
    //    TIMESTAMP_NTZ (the round-9 regenerated testdata), which
    //    unix_micros REJECTS. The cast interprets the wall-clock
    //    value in the session zone — pinned UTC — so the micros are
    //    preserved bit-for-bit and match DuckDB's naive read.
    df.schema.fields.find(_.name == "ts") match {
      case Some(f) if f.dataType == LongType =>
        df.withColumn("ts",
          timestamp_micros(expr("(ts - ((ts % 1000) + 1000) % 1000) DIV 1000")))
      case Some(f) if f.dataType == TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** Schemas [[load]] inferred, keyed by (qualified file path, the
    * session's explicitly set parquet-inference confs) and stamped
    * with the file's (length, modification time). A rewritten file
    * misses on the stamp and replaces its entry, so the map holds one
    * entry per file and conf set.
    */
  private val pinned = new java.util.concurrent.ConcurrentHashMap[
    (String, Seq[(String, String)]), ((Long, Long), StructType)]()

  /** Reads one parquet file, inferring its schema only the first time
    * this file version is read under these inference confs; later reads
    * pass the pinned schema and submit no footer-reader job (one per
    * load otherwise — about 15 of a perfbench serve round's 110 jobs).
    * A directory (or a path that does not stat) keeps the inferring
    * read.
    */
  private def readPinned(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val status = scala.util.Try(p.getFileSystem(
      spark.sessionState.newHadoopConf()).getFileStatus(p)).toOption
    status.filter(_.isFile) match {
      case None => spark.read.parquet(path)
      case Some(st) =>
        // every conf the parquet schema converter reads has "parquet"
        // in its key (nanosAsLong, binaryAsString, int96AsTimestamp,
        // inferTimestampNTZ, ...) except caseSensitive
        val confs = spark.conf.getAll.toSeq.filter { case (k, _) =>
          k.contains("parquet") || k == "spark.sql.caseSensitive"
        }.sorted
        val key = (st.getPath.toString, confs)
        val stamp = (st.getLen, st.getModificationTime)
        Option(pinned.get(key)) match {
          case Some((`stamp`, schema)) => spark.read.schema(schema).parquet(path)
          case _ =>
            val df = spark.read.parquet(path)
            pinned.put(key, (stamp, df.schema))
            df
        }
    }
  }

  /** Bucketed write for co-located joins: two tables bucketed by the
    * same key into the same bucket count join WITHOUT a shuffle — the
    * bucketed scan already provides the hash distribution the join
    * needs. This is the 100 TB answer for repeated fact-fact joins
    * (e.g. lineitem ⋈ orders on orderkey): pay the shuffle once at
    * write time, never again at read time.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    writeBucketed(df, table, Seq(key), buckets)

  /** Plain (unbucketed) managed-table write with the same
    * stage-then-swap safety as [[writeBucketed]] — for tiny asset
    * tables (e.g. a 1-row statistics table) where bucketing buys
    * nothing.
    */
  def writeTable(df: DataFrame, table: String): Unit =
    stageAndSwap(df.sparkSession, table) { stage =>
      df.write.mode("overwrite").format("parquet").saveAsTable(stage)
    }

  /** Hive-style PARTITIONED managed-table write (stage-and-swap like
    * the other writers): one directory per distinct partition-column
    * combination, so a filter on the partition column prunes whole
    * directories at PLANNING time from catalog metadata alone — the
    * built-in analog of the [[graft.ops.Manifest]] file-stats pruning,
    * and the layout Spark's dynamic partition pruning (DPP) needs to
    * skip fact partitions driven by a dimension filter at runtime.
    * The input is repartitioned by the partition columns first so each
    * partition directory gets one file instead of one per task (the
    * [[writeBucketed]] rationale). Choose LOW-cardinality columns
    * (date/month/region): at 100 TB a high-cardinality partition key
    * means millions of directories and a listing-bound metastore —
    * that case belongs to z-order + manifest instead.
    */
  def writePartitioned(df: DataFrame, table: String,
                       partCols: Seq[String]): Unit = {
    require(partCols.nonEmpty, "need at least one partition column")
    val spark = df.sparkSession
    stageAndSwap(spark, table) { stage =>
      df.repartition(partCols.map(col): _*)
        .write.mode("overwrite").format("parquet")
        .partitionBy(partCols: _*)
        .saveAsTable(stage)
    }
    // ALTER TABLE RENAME moves the DATA directory but the catalog's
    // per-partition entries still carry the stage-path locations —
    // without repair the renamed table lists zero live partitions and
    // reads empty. DROP removes the stale (now nonexistent) locations,
    // ADD re-registers the directories found under the final location.
    spark.sql(s"MSCK REPAIR TABLE `$table` DROP PARTITIONS")
    spark.sql(s"MSCK REPAIR TABLE `$table` ADD PARTITIONS")
  }

  /** Drop `t` from the catalog AND delete its managed location:
    * `overwrite` only replaces a table the CURRENT catalog knows; a
    * directory left behind by an earlier session (in-memory catalog,
    * same warehouse dir) fails CREATE with LOCATION_ALREADY_EXISTS
    * otherwise. When the table exists the location comes from the
    * CATALOG (ADVICE r6: the warehouse-dir + lowercased-name
    * computation silently misses a table created with a non-default
    * location); the computed default is only the fallback for the
    * orphaned-directory case, where there is no catalog entry to ask.
    * Names must be session-local (unqualified): the single-part
    * backtick quoting below would treat `db.table` as one identifier,
    * so fail fast rather than drop the wrong thing.
    */
  private def dropWithLocation(spark: SparkSession, t: String): Unit = {
    require(!t.contains("."),
      s"asset tables are session-local unqualified names, got '$t'")
    val catalogLoc: Option[org.apache.hadoop.fs.Path] =
      if (spark.catalog.tableExists(t)) {
        val ident = org.apache.spark.sql.catalyst.TableIdentifier(t)
        Some(new org.apache.hadoop.fs.Path(
          spark.sessionState.catalog.getTableMetadata(ident).location))
      } else None
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
    val loc = catalogLoc.getOrElse(new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      t.toLowerCase(java.util.Locale.ROOT)))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  // one lock per target table name: two concurrent writers of the
  // SAME table would race on the shared `__stage` name (ADVICE r6) —
  // serialize them; different tables proceed in parallel. JVM-local,
  // which covers the engine's execution model (one driver owns the
  // catalog); cross-driver coordination is the metastore's job.
  private val swapLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Stage-then-swap table replacement: `write(stage)` builds the
    * replacement under a staging name while the CURRENT `table` (if
    * any) stays registered and readable the whole time; only after
    * the staged write completes is the old table dropped and the
    * staged one renamed into place (ALTER TABLE RENAME moves a
    * managed table's directory with it). A failure mid-write —
    * including a df that fails at execution — leaves the previous
    * version untouched (ADVICE r5: pre-deleting the target first
    * left NO table at all on failure, a regression vs plain
    * overwrite for the repeat-dedup assets this feeds).
    *
    * Crash recovery (ADVICE r6): the drop→rename window is not
    * atomic — a crash between the two leaves only `__stage` under no
    * target name. The staged table is COMPLETE in that window (the
    * drop only runs after `write(stage)` returned, and saveAsTable
    * registers the stage in the catalog only once its write
    * committed), so on the next build the dangling stage is renamed
    * into place FIRST — readers see the recovered version during the
    * rebuild instead of nothing.
    */
  private def stageAndSwap(spark: SparkSession, table: String)
                          (write: String => Unit): Unit = {
    require(!table.contains("."),
      s"asset tables are session-local unqualified names, got '$table'")
    val lock = swapLocks.computeIfAbsent(table, _ => new Object)
    lock.synchronized {
      val stage = table + "__stage"
      if (spark.catalog.tableExists(stage) &&
          !spark.catalog.tableExists(table))
        spark.sql(s"ALTER TABLE `$stage` RENAME TO `$table`")
      dropWithLocation(spark, stage) // clear residue of a failed run
      write(stage)
      dropWithLocation(spark, table)
      spark.sql(s"ALTER TABLE `$stage` RENAME TO `$table`")
    }
  }

  /** Multi-key variant: joins/aggregates keyed on ALL of `keys` read
    * the bucketed distribution for free (e.g. the LSH band-bucket
    * table bucketed by (band, bkey) self-joins with zero Exchange).
    */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
                    buckets: Int): Unit = {
    require(keys.nonEmpty, "need at least one bucketing key")
    stageAndSwap(df.sparkSession, table) { stage =>
      // repartition on the bucket keys first: without it every write
      // task emits a file PER bucket (nPartitions x buckets small
      // files — slow to list and scan); with it, rows land on the task
      // that owns their bucket (same Murmur3 hash both sides), one file
      // per bucket. This IS the pay-once shuffle the bucketed asset
      // amortizes.
      df.repartition(buckets, keys.map(col): _*)
        .write.mode("overwrite").format("parquet")
        .bucketBy(buckets, keys.head, keys.tail: _*)
        .sortBy(keys.head, keys.tail: _*)
        .saveAsTable(stage)
    }
  }
}
