package graft.streaming

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.sum
import graft.SparkSpec

/** The versioned-state protocol ([[VersionedState]]): its ordering
  * check, its concurrent-write barrier, and crash-then-replay of the
  * families built on it. Crashes are injected by editing the state
  * dir into the shape the crash would leave; main code has no hook.
  */
class VersionedStateSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def rm(path: String): Unit =
    VersionedState.deleteAll(spark, Seq(path))

  /** Version `id` of a running per-key sum = predecessor + `rows`. */
  private def add(dir: String, id: Long, rows: (String, Long)*): Unit = {
    val b = rows.toDF("k", "n")
    VersionedState.advance(spark, dir, id, b) { prev =>
      prev.unionByName(b).groupBy("k").agg(sum("n").as("n"))
    }
  }

  private def sums(df: DataFrame): Set[(String, Long)] =
    df.as[(String, Long)].collect().toSet

  private def latestSums(dir: String): Set[(String, Long)] =
    sums(spark.read.parquet(VersionedState.latest(spark, dir, "sums")))

  private val docs = Seq(
    Seq((1L, "spark table common words"), (2L, "common spark text")),
    Seq((3L, "table window common"), (4L, "spark stream batch")),
    // batch 2 re-delivers doc 1 with other text: the seen gate drops it
    Seq((5L, "spark spark table tail"), (1L, "mutated redelivery")))

  private def bm25Batch(base: String, i: Int): Unit =
    StreamingUpsert.bm25IndexBatch(spark, docs(i).toDF("doc_id", "text"),
      "doc_id", Seq("text"), batchId = i.toLong, basePath = base)

  private def bm25Scores(base: String): Set[(Long, Long)] =
    StreamingUpsert.bm25FromState(spark, base, Seq("text"),
        Seq("spark", "table", "common"))
      .as[(Long, Long)].collect().toSet

  test("advance: an id below the newest committed version fails and leaves the newer versions intact") {
    val dir = tmp("vs_order") + "/a"
    add(dir, 0L, "x" -> 1L)
    add(dir, 1L, "x" -> 2L)
    add(dir, 2L, "x" -> 4L)
    val e = intercept[IllegalArgumentException](add(dir, 1L, "x" -> 100L))
    assert(e.getMessage.contains(dir) && e.getMessage.contains("batch 1") &&
      e.getMessage.contains("version 2"), e.getMessage)
    assert(VersionedState.latest(spark, dir, "sums").endsWith("v=2"))
    assert(latestSums(dir) === Set("x" -> 7L))
    // an equal id is the allowed replay of the last batch
    add(dir, 2L, "x" -> 4L)
    assert(latestSums(dir) === Set("x" -> 7L))
  }

  test("a family call below the newest committed batch fails at the seen gate; seen and df v=2 intact") {
    val base = tmp("vs_order_bm25")
    (0 to 2).foreach(bm25Batch(base, _))
    val before = bm25Scores(base)
    intercept[IllegalArgumentException](bm25Batch(base, 1))
    Seq("seen", "df").foreach { a =>
      assert(VersionedState.latest(spark, s"$base/$a", a).endsWith("v=2"), a)
    }
    assert(bm25Scores(base) === before)
  }

  test("awaitAllWrites rethrows the first failure only after every sibling write finished") {
    val siblingDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      VersionedState.awaitAllWrites(
        () => throw new IllegalStateException("first"),
        () => {
          Thread.sleep(500L)
          siblingDone.set(true)
          throw new IllegalArgumentException("second")
        })
    }
    assert(e.getMessage === "first")
    assert(siblingDone.get, "the failure reached the caller while a sibling still ran")
  }

  test("crash mid-write: a version without _SUCCESS is invisible to latest and the predecessor read; the replay replaces it") {
    val dir = tmp("vs_torn") + "/a"
    add(dir, 0L, "x" -> 1L)
    add(dir, 1L, "x" -> 2L)
    // the torn write of batch 2: data files, no _SUCCESS marker
    Seq(("x", 999L)).toDF("k", "n").write.parquet(s"$dir/v=2")
    rm(s"$dir/v=2/_SUCCESS")
    assert(VersionedState.latest(spark, dir, "sums").endsWith("v=1"))
    assert(sums(VersionedState.open(spark, dir, 3L, Seq(("x", 0L))
      .toDF("k", "n")).prev) === Set("x" -> 3L))
    add(dir, 2L, "x" -> 4L)
    assert(VersionedState.latest(spark, dir, "sums").endsWith("v=2"))
    assert(latestSums(dir) === Set("x" -> 7L))
  }

  test("bm25IndexBatch crash after the seen gate advanced, before the df write: the replay serves the clean scores") {
    val clean = tmp("vs_bm25_clean")
    (0 to 2).foreach(bm25Batch(clean, _))
    val crashed = tmp("vs_bm25_crash")
    (0 to 2).foreach(bm25Batch(crashed, _))
    rm(s"$crashed/df/v=2")
    assert(bm25Scores(crashed) !== bm25Scores(clean))
    bm25Batch(crashed, 2)
    assert(bm25Scores(crashed) === bm25Scores(clean))
  }

  test("lmCountsBatch crash between the concurrent uni/bi writes: the replay serves the clean model") {
    val ref = Seq((1L, "x y x"), (2L, "y z y"), (3L, "z x w"))
      .toDF("doc_id", "text")
    def run(base: String, i: Int): Unit =
      StreamingUpsert.lmCountsBatch(spark,
        ref.filter($"doc_id" === i + 1L), "doc_id", "text", base, i.toLong)
    def served(base: String) = {
      val (uni, model) = StreamingUpsert.lmModelFromState(spark, base)
      (uni.as[(String, Long)].collect().toSet,
        model.as[(String, String, Long, Long)].collect().toSet)
    }
    val clean = tmp("vs_lm_clean") + "/s"
    (0 to 2).foreach(run(clean, _))
    val crashed = tmp("vs_lm_crash") + "/s"
    (0 to 2).foreach(run(crashed, _))
    rm(s"$crashed/bi/v=2")
    assert(served(crashed) !== served(clean))
    run(crashed, 2)
    assert(served(crashed) === served(clean))
  }
}
