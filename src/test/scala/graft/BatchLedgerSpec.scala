package graft

import graft.incremental.BatchLedger
import graft.incremental.BatchLedger.{Completed, Failed}
import graft.streaming.BatchDirs
import org.apache.spark.sql.functions._

/** The wave-keyed work ledger over the BatchDirs layout: pending
  * narrows to the unrecorded keys, a replayed wave is exactly-once,
  * folds on the cadence keep the listing bounded WITHOUT changing
  * doneKeys, and failed keys count as done (should_process). */
class BatchLedgerSpec extends SparkTestBase {
  import spark.implicits._

  private def dir(): String = java.nio.file.Files
    .createTempDirectory("bledger").toString + "/ledger"

  private def keysOf(d: String): Set[String] =
    BatchLedger.doneKeys(spark, d).as[String].collect().toSet

  test("pending anti-joins the recorded waves; a replayed wave id " +
    "overwrites its own directory (no duplicates, no double work)") {
    val d = dir()
    val work = Seq("a", "b", "c", "d").toDF("k")
    assert(BatchLedger.pending(work, d, "k").count() == 4L)
    assert(BatchLedger.nextWave(spark, d) == 0L)
    BatchLedger.record(Seq("a", "b").toDF("k"), d, waveId = 0L)
    assert(BatchLedger.pending(work, d, "k")
      .as[String].collect().toSet == Set("c", "d"))
    // wave replay (post-crash re-run of the same wave id): the
    // directory is overwritten, the view unchanged
    BatchLedger.record(Seq("a", "b").toDF("k"), d, waveId = 0L)
    assert(keysOf(d) == Set("a", "b"))
    BatchLedger.record(Seq("c").toDF("k"), d, waveId = 1L)
    assert(BatchLedger.pending(work, d, "k")
      .as[String].collect().toSet == Set("d"))
    assert(BatchLedger.nextWave(spark, d) == 2L)
  }

  test("record rejects a negative wave id: batch=-1 would commit " +
    "keys no reader lists") {
    val d = dir()
    val e = intercept[IllegalArgumentException](
      BatchLedger.record(Seq("a").toDF("k"), d, waveId = -1L))
    assert(e.getMessage.contains("wave id -1"), e.getMessage)
    assert(!new java.io.File(d).exists(), "a rejected wave wrote a dir")
    assert(BatchLedger.pending(Seq("a").toDF("k"), d, "k").count() == 1L)
  }

  test("a key recorded in two different waves is one done key") {
    val d = dir()
    BatchLedger.record(Seq("a").toDF("k"), d, 0L, runId = "run1")
    BatchLedger.record(Seq("a", "b").toDF("k"), d, 1L, runId = "run2")
    assert(BatchLedger.doneKeys(spark, d).count() == 2L)
    assert(keysOf(d) == Set("a", "b"))
  }

  test("record is distributive and pending never forces a broadcast: " +
    "with auto-broadcast off the anti-join plans without one") {
    val d = dir()
    val work = (1 to 100).map(i => s"w$i").toDF("wid")
    BatchLedger.record(work.filter(col("wid").isin("w1", "w2", "w3")),
      d, 0L)
    assert(BatchLedger.pending(work, d, "wid").count() == 97L)
    // a forced hint would be honored regardless of size and OOM the
    // driver on an outsized ledger; unhinted, AQE owns the fallback
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = BatchLedger.pending(work, d, "wid")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Broadcast"),
        s"pending() still broadcasts with threshold=-1:\n$plan")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("folding on the cadence keeps doneKeys and pending identical " +
    "and the listing bounded; failed keys block reprocessing like " +
    "Ledger's should_process") {
    val d = dir()
    val work = (0 until 40).map(i => s"k$i").toDF("k")
    (0L until 8L).foreach { w =>
      val slice = (0 until 40).filter(_ % 8 == w).map(i => s"k$i")
      BatchLedger.record(slice.toDF("k"), d, w,
        status = if (w == 3L) Failed else Completed)
      if (w > 0) BatchLedger.fold(spark, d, w - 1)
    }
    // every recorded key — completed or failed — is done (the
    // reference reprocesses neither); the folds changed nothing
    assert(keysOf(d) == (0 until 40).map(i => s"k$i").toSet)
    assert(BatchLedger.pending(work, d, "k").count() == 0L)
    // the completed-only view excludes exactly wave 3's keys
    assert(BatchLedger.doneKeys(spark, d, Seq(Completed))
      .count() == 35L)
    // the layout is folded: coverage reached wave 6, so at most the
    // newest wave's dir plus the compact dir plus one call of grace
    // remain
    assert(BatchDirs.compactedThrough(spark, d) == 6L)
    assert(BatchLedger.nextWave(spark, d) == 8L)
    val fs = new org.apache.hadoop.fs.Path(d).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val batchDirs = fs.listStatus(new org.apache.hadoop.fs.Path(d))
      .map(_.getPath.getName).count(_.startsWith("batch="))
    assert(batchDirs <= 2, s"unfolded tail too deep: $batchDirs dirs")
  }

  test("doneOf point lookup: exact subset before and after a fold; " +
    "status filter honored") {
    val d = dir()
    BatchLedger.record(Seq("a", "b").toDF("k"), d, 0L)
    assert(BatchLedger.doneOf(spark, d, Seq("a", "x"))
      .as[String].collect().toSet == Set("a"))
    BatchLedger.record(Seq("c").toDF("k"), d, 1L,
      status = Failed)
    BatchLedger.record(Seq("e", "f").toDF("k"), d, 2L)
    BatchLedger.fold(spark, d, 1L)
    // post-fold: the compact dir and the raw tail, one frame
    assert(BatchLedger.doneOf(spark, d, Seq("a", "c", "e", "nope"))
      .as[String].collect().toSet == Set("a", "c", "e"))
    // completed-only excludes the failed key
    assert(BatchLedger.doneOf(spark, d, Seq("a", "c"),
      Seq(Completed)).as[String].collect().toSet == Set("a"))
    assert(BatchLedger.doneOf(spark, d, Seq("nope"))
      .as[String].collect().isEmpty)
  }

  test("bounded listing: 12 waves folded on the never-the-newest " +
    "cadence keep doneKeys exact and the ledger at most 4 dirs") {
    val d = dir()
    val fs = new org.apache.hadoop.fs.Path(d).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    (0L until 12L).foreach { w =>
      BatchLedger.record(Seq(s"w$w-a", s"w$w-b").toDF("k"), d, w)
      if (w > 0) assert(BatchLedger.fold(spark, d, w - 1) == w - 1)
      assert(keysOf(d) ==
        (0L to w).flatMap(i => Seq(s"w$i-a", s"w$i-b")).toSet,
        s"doneKeys wrong after wave $w")
      val listed = fs.listStatus(new org.apache.hadoop.fs.Path(d))
        .map(_.getPath.getName).sorted
      assert(listed.length <= 4,
        s"after wave $w the ledger lists ${listed.mkString(", ")}")
    }
    assert(BatchLedger.nextWave(spark, d) == 12L)
  }
}
