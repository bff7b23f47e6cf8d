package graft

import graft.incremental.BatchLedger
import graft.streaming.BatchDirs

/** The consumption-deadline contract of lazy reads over the
  * compacting layout: a frame built by a read face is pinned to the
  * files it listed, which the two-phase sweep keeps alive for ONE
  * subsequent compactor call — holding it lazy across TWO folds hits
  * swept files (FileNotFoundException: crash/retry, never a silent
  * wrong answer). */
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
    assert(BatchLedger.fold(spark, d, 1L) == 1L)
    assert(lazyDone.as[String].collect().toSet == expected)
    // a SECOND fold sweeps batch=0/1 (the first fold's inputs): the
    // deadline is exhausted and both handles fail loudly
    BatchLedger.record(Seq("f").toDF("k"), d, 3L)
    assert(BatchLedger.fold(spark, d, 2L) == 2L)
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
}
