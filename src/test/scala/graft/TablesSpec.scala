package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.functions._

/** Asset-table write safety: the stage-then-swap contract (ADVICE r5)
  * — a failed replacement write must leave the previous version
  * registered and readable, and a successful one must atomically-ish
  * swap while keeping the bucket spec. Also `load`'s pinned schemas:
  * inferred once per file version and inference conf set.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits.{newProductEncoder, localSeqToDatasetHolder}

  test("writeBucketed: failed replacement write preserves the previous table") {
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    Tables.writeBucketed(v1, "tables_spec_swap", Seq("k"), 2)
    assert(spark.table("tables_spec_swap").count() === 2L)
    // a df that fails AT EXECUTION (raise_error fires on the data),
    // after the old table was already in place
    val bad = Seq((3L, "c")).toDF("k", "v")
      .withColumn("v", when(col("k") > 0L,
        raise_error(lit("boom"))).otherwise(col("v")))
    intercept[Exception] {
      Tables.writeBucketed(bad, "tables_spec_swap", Seq("k"), 2)
    }
    // the previous version survives, still 2 rows, still bucketed
    val back = spark.table("tables_spec_swap")
    assert(back.count() === 2L)
    assert(back.as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b")))
    assert(spark.sql("DESCRIBE TABLE EXTENDED tables_spec_swap")
      .filter(col("col_name") === "Num Buckets").count() === 1L)
    // and a subsequent good write still replaces cleanly
    val v2 = Seq((7L, "z")).toDF("k", "v")
    Tables.writeBucketed(v2, "tables_spec_swap", Seq("k"), 2)
    assert(spark.table("tables_spec_swap").as[(Long, String)]
      .collect().toSet === Set((7L, "z")))
    spark.sql("DROP TABLE IF EXISTS tables_spec_swap")
  }

  test("stageAndSwap recovers a dangling complete stage (crash between drop and rename)") {
    // ADVICE r6: the drop→rename window is not atomic. Simulate a
    // writer that crashed inside it — the staged table is complete
    // and registered, the target is gone — and assert the NEXT build
    // (a) does not fail on the leftover stage, (b) leaves the final
    // content of the new write, (c) leaves no stage behind.
    val v1 = Seq((1L, "a")).toDF("k", "v")
    Tables.writeTable(v1, "tables_spec_rec")
    Seq((2L, "b")).toDF("k", "v").write.mode("overwrite")
      .format("parquet").saveAsTable("tables_spec_rec__stage")
    spark.sql("DROP TABLE tables_spec_rec") // the crash window
    val v3 = Seq((3L, "c")).toDF("k", "v")
    Tables.writeTable(v3, "tables_spec_rec")
    assert(spark.table("tables_spec_rec").as[(Long, String)]
      .collect().toSet === Set((3L, "c")))
    assert(!spark.catalog.tableExists("tables_spec_rec__stage"))
    spark.sql("DROP TABLE IF EXISTS tables_spec_rec")
  }

  test("asset table names must be unqualified (the quoting contract)") {
    val v = Seq((1L, "a")).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      Tables.writeTable(v, "somedb.tables_spec_q")
    }
    assert(e.getMessage.contains("unqualified"))
  }

  test("writeTable: failed replacement preserves the previous 1-row asset") {
    val v1 = Seq((10L, 20L)).toDF("a", "b")
    Tables.writeTable(v1, "tables_spec_plain")
    val bad = Seq((1L, 2L)).toDF("a", "b")
      .withColumn("b", when(col("a") > 0L,
        raise_error(lit("boom")).cast("long")).otherwise(col("b")))
    intercept[Exception] {
      Tables.writeTable(bad, "tables_spec_plain")
    }
    assert(spark.table("tables_spec_plain").as[(Long, Long)]
      .collect().toSeq === Seq((10L, 20L)))
    spark.sql("DROP TABLE IF EXISTS tables_spec_plain")
  }

  /** Spark jobs `body` submits, counted by a listener. The listener bus
    * is asynchronous: a marker job submitted afterwards is awaited, and
    * the bus delivers in order, so every job of `body` has been seen by
    * then.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"tables_spec_${System.nanoTime()}"
    val marker = group + "_marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).foreach(seen.add)
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "jobsDuring")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "jobsDuring marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(marker) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(marker), "listener bus did not deliver the marker")
      seen.toArray.count(_ == group)
    } finally sc.removeSparkListener(l)
  }

  /** Writes `df` as ONE parquet file at `$dir/$name.parquet` (the test
    * data layout), replacing any file there.
    */
  private def writeFile(df: org.apache.spark.sql.DataFrame, dir: File,
                        name: String): Unit = {
    val tmp = new File(dir, s"_tmp_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles.filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, new File(dir, s"$name.parquet").toPath,
      StandardCopyOption.REPLACE_EXISTING)
    deleteTree(tmp)
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  private def withDir(body: File => Unit): Unit = {
    val d = Files.createTempDirectory("tables_spec_pin").toFile
    try body(d) finally deleteTree(d)
  }

  test("load: a second load of an unchanged file runs no job and keeps the schema") {
    withDir { d =>
      writeFile(Seq((1L, "a", 2.5)).toDF("k", "v", "x"), d, "t")
      var first, second: org.apache.spark.sql.types.StructType = null
      val inferJobs = jobsDuring { first = Tables.load(spark, d.getPath, "t").schema }
      assert(inferJobs >= 1, "the first load infers (footer job)")
      val pinnedJobs = jobsDuring { second = Tables.load(spark, d.getPath, "t").schema }
      assert(pinnedJobs === 0)
      assert(second === first)
      assert(Tables.load(spark, d.getPath, "t").as[(Long, String, Double)]
        .collect().toSeq === Seq((1L, "a", 2.5)))
    }
  }

  test("load: a file rewritten in place with another schema is inferred again") {
    withDir { d =>
      writeFile(Seq((1L, "a")).toDF("k", "v"), d, "t")
      assert(Tables.load(spark, d.getPath, "t").columns.toSeq === Seq("k", "v"))
      writeFile(Seq((2L, 3.5, 4)).toDF("k", "x", "n"), d, "t")
      var cols: Seq[String] = Nil
      assert(jobsDuring {
        cols = Tables.load(spark, d.getPath, "t").columns.toSeq
      } >= 1)
      assert(cols === Seq("k", "x", "n"))
      assert(Tables.load(spark, d.getPath, "t").as[(Long, Double, Int)]
        .collect().toSeq === Seq((2L, 3.5, 4)))
    }
  }

  test("load: a session with different parquet-inference confs infers for itself") {
    withDir { d =>
      // a plain BINARY column and no Spark schema in the footer (the
      // test data's shape), so binaryAsString decides its type
      val schema = org.apache.parquet.schema.MessageTypeParser
        .parseMessageType("message t { required int64 k; required binary b; }")
      val hconf = new org.apache.hadoop.conf.Configuration()
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
          new org.apache.hadoop.fs.Path(new File(d, "t.parquet").getPath), hconf))
        .withType(schema).withConf(hconf).build()
      try w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
        .newGroup().append("k", 1L)
        .append("b", org.apache.parquet.io.api.Binary.fromString("hi")))
      finally w.close()
      val base = Tables.load(spark, d.getPath, "t").schema("b").dataType
      assert(base === org.apache.spark.sql.types.BinaryType)
      val other = spark.newSession()
      other.conf.set("spark.sql.parquet.binaryAsString", "true")
      var df: org.apache.spark.sql.DataFrame = null
      assert(jobsDuring { df = Tables.load(other, d.getPath, "t") } >= 1)
      assert(df.schema("b").dataType === org.apache.spark.sql.types.StringType)
      assert(df.select("b").head().getString(0) === "hi")
      // and the base session still reads its own pinned schema
      assert(jobsDuring {
        assert(Tables.load(spark, d.getPath, "t").schema("b").dataType ===
          org.apache.spark.sql.types.BinaryType)
      } === 0)
    }
  }

  test("load: a directory path keeps the inferring read") {
    withDir { d =>
      Seq((1L, "a")).toDF("k", "v").write.parquet(new File(d, "t.parquet").getPath)
      for (_ <- 1 to 2)
        assert(jobsDuring { Tables.load(spark, d.getPath, "t").schema } >= 1)
    }
  }

  test("writePartitioned: partitions live after the swap, pruned reads, rewrite survives") {
    def mk(n: Long) = spark.range(0, n).select(
      $"id".as("v"), ($"id" % 5).cast("string").as("p"))
    Tables.writePartitioned(mk(1000), "tables_spec_part", Seq("p"))
    // the rename-swap must leave LIVE partition metadata (the repair
    // path): all rows readable, partition listing populated
    assert(spark.table("tables_spec_part").count() === 1000L)
    assert(spark.sql("SHOW PARTITIONS tables_spec_part").count() === 5L)
    // a partition filter reaches the scan as a partitionFilter
    val df = spark.table("tables_spec_part").filter($"p" === "3")
    val scans = graft.tools.PlanWalk
      .allNodes(df.queryExecution.executedPlan)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty))
    assert(df.count() === 200L)
    // a REWRITE of the same table goes through the same swap + repair
    Tables.writePartitioned(mk(500), "tables_spec_part", Seq("p"))
    assert(spark.table("tables_spec_part").count() === 500L)
    spark.sql("DROP TABLE IF EXISTS tables_spec_part")
  }
}
