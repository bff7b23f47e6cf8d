package graft

import graft.incremental.BatchLedger
import graft.streaming.BatchDirs
import org.apache.spark.sql.functions._

/** The consumption-deadline contract of lazy reads over the
  * compacting layout: a frame built by a read face is pinned to the
  * files it resolved, which the two-phase sweep keeps alive for ONE
  * subsequent compactor call — holding it lazy across TWO folds hits
  * swept files (FileNotFoundException: crash/retry, never a silent
  * wrong answer), and a pinned generation held that long is rejected
  * by the exactness guard. */
class PinnedReadSpec extends SparkTestBase {
  import spark.implicits._

  private def isFnf(t: Throwable): Boolean = {
    var c: Throwable = t
    while (c != null) {
      if (c.isInstanceOf[java.io.FileNotFoundException] ||
        Option(c.getMessage).exists(_.contains("FileNotFound")))
        return true
      c = if (c.getCause == c) null else c.getCause
    }
    false
  }

  // The name is the one this contract had over an earlier index
  // maintainer; the faces are now the ledger's readers, and the
  // materialized escape is gone: a consumer that must hold rows past
  // the deadline writes them out itself.
  test("pairsFor: a lazy frame dies (FNF) when held across two " +
    "folds; the materialized face survives") {
    val d = java.nio.file.Files
      .createTempDirectory("pin_ledger").toString + "/ledger"
    BatchLedger.record(Seq("a", "b").toDF("k"), d, 0L)
    BatchLedger.record(Seq("c").toDF("k"), d, 1L)
    BatchLedger.record(Seq("e").toDF("k"), d, 2L)
    val asked = Seq("a", "c", "e", "nope")
    val expected = Set("a", "c", "e")
    // two lazy handles over the unfolded state: the point lookup and
    // the whole committed view, both listing batch=0..2
    val lazyDone = BatchLedger.doneOf(spark, d, asked)
    val lazyAll = BatchDirs.readCommitted(spark, d).get
    // ONE fold inside the deadline: the folded batch dirs keep their
    // grace, so a handle built before it still answers exactly
    assert(BatchLedger.fold(spark, d, 1L, nBuckets = 4) == 1L)
    assert(lazyDone.as[String].collect().toSet == expected)
    // a SECOND fold sweeps batch=0/1 (the first fold's inputs): the
    // deadline is exhausted and both handles fail loudly
    BatchLedger.record(Seq("f").toDF("k"), d, 3L)
    assert(BatchLedger.fold(spark, d, 2L, nBuckets = 4) == 2L)
    Seq(lazyDone, lazyAll.select("key")).foreach { h =>
      val ex = intercept[Exception] { h.collect() }
      assert(isFnf(ex),
        s"expected a FileNotFoundException-caused failure, got: $ex")
    }
    // and a FRESH read over the folded layout is exact
    assert(BatchLedger.doneOf(spark, d, asked).as[String].collect()
      .toSet == expected)
    assert(BatchLedger.doneKeys(spark, d).as[String].collect().toSet
      == Set("a", "b", "c", "e", "f"))
  }

  test("readCommittedAt rejects a generation that outlived its " +
    "grace window (two folds since the pin) instead of silently " +
    "omitting the swept batches; one fold stays exact") {
    val dir = java.nio.file.Files
      .createTempDirectory("pin_guard").toString + "/ix"
    def writeBatch(id: Long, rows: Long, offset: Long): Unit =
      spark.range(rows).select((col("id") + offset).as("k"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/batch=$id")
    writeBatch(0L, 100, 0)
    assert(BatchDirs.compactTiered(spark, dir, 0L, "k",
      nBuckets = 4) == 0L)
    val gen = BatchDirs.generation(spark, dir)
    // ONE fold after the pin: the folded batches keep their one-call
    // grace, so a read built against the pin is still EXACT — the
    // guard must not fire on the contract's happy path
    writeBatch(1L, 100, 100)
    assert(BatchDirs.compactTiered(spark, dir, 1L, "k",
      nBuckets = 4) == 1L)
    assert(BatchDirs.readCommittedAt(spark, dir, gen).get.count()
      == 200L)
    // a SECOND fold sweeps batch=1 (the first fold's newest input):
    // a read built against the stale pin would silently return 100
    // rows — it must throw instead. The danger is real: the pinned
    // tier (l0=0) is still a live chain member, so no
    // FileNotFoundException would ever fire
    writeBatch(2L, 100, 200)
    assert(BatchDirs.compactTiered(spark, dir, 2L, "k",
      nBuckets = 4) == 2L)
    val ex = intercept[IllegalStateException] {
      BatchDirs.readCommittedAt(spark, dir, gen)
    }
    assert(ex.getMessage.contains("grace window"), ex.getMessage)
    // a fresh resolve reads everything
    assert(BatchDirs.readCommitted(spark, dir).get.count() == 300L)
  }
}
