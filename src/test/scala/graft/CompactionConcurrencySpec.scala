package graft

import graft.incremental.BatchLedger
import graft.streaming.BatchDirs

/** REAL-THREAD exercise of the single-compactor contract over the
  * work ledger: an out-of-band maintenance loop
  * (`compactTiered(failIfBusy = true)` — fails loudly on contention)
  * races a writer that records waves and folds on its own cadence
  * ([[BatchLedger.fold]], which defers silently on contention), and
  * `doneKeys` readers race both. The required outcome is
  * serialize-or-fail-loudly, never corrupt: the final done set must
  * equal the union of the recorded keys, and every read must be
  * bracketed by the committed prefixes.
  *
  * Why this is deterministic rather than timing-lucky: the
  * maintenance loop only attempts a fold after the newest committed
  * wave ADVANCES past its last fold target, and never folds the
  * newest wave, so a replayed or in-flight wave keeps its marker.
  * Lease collisions (in-band cadence vs the loop) resolve as defer
  * (in-band) or a caught IllegalStateException (loop retries) — both
  * leave the directory state untouched.
  *
  * The test names are those of the contracts these tests carry over
  * from an earlier index maintainer (`compactNow`, `processBatch`,
  * `pairsSoFar`); the faces they drive are the ledger's. */
class CompactionConcurrencySpec extends SparkTestBase {
  import spark.implicits._

  private val Waves = 12

  // three keys per wave plus one shared across consecutive waves, so
  // the done set needs the distinct across folded tiers and the tail
  private def keysOf(w: Int): Seq[String] =
    Seq(s"w$w-a", s"w$w-b", s"w$w-c", s"shared${w / 2}")

  private def doneSet(dir: String): Set[String] =
    BatchLedger.doneKeys(spark, dir).as[String].collect().toSet

  test("compactNow racing a cadence-enabled processBatch stream: " +
    "folds serialize or fail loudly, and the final pair set is exact") {
    val dir = java.nio.file.Files
      .createTempDirectory("cc_race").toString + "/ledger"
    @volatile var writerDone = false
    @volatile var loopFailure: Option[Throwable] = None
    var leaseBusy = 0
    var folds = 0
    def newest: Long =
      BatchDirs.committedIds(spark, dir).maxOption.getOrElse(-1L)
    val maintenance = new Thread(() => {
      try {
        var lastFolded = -1L
        // one final attempt after the writer stops
        while (!writerDone || newest - 1 > lastFolded) {
          val n = newest
          if (n - 1 > lastFolded) {
            try {
              val c = BatchDirs.compactTiered(spark, dir, n - 1, "key",
                nBuckets = 8, failIfBusy = true)
              folds += 1
              lastFolded = math.max(lastFolded, c)
            } catch {
              // the in-band cadence held the lease: fail-loudly is
              // the contract — the loop retries next round
              case _: IllegalStateException => leaseBusy += 1
            }
          }
          Thread.sleep(5)
        }
      } catch { case t: Throwable => loopFailure = Some(t) }
    }, "oob-compactor")
    maintenance.start()
    try {
      (0 until Waves).foreach { w =>
        BatchLedger.record(keysOf(w).toDF("k"), dir, w.toLong)
        if (w > 0 && w % 4 == 0)
          BatchLedger.fold(spark, dir, w - 1L, nBuckets = 8)
      }
    } finally {
      writerDone = true
      maintenance.join(60000)
    }
    assert(!maintenance.isAlive, "maintenance loop wedged")
    assert(loopFailure.isEmpty,
      s"maintenance loop crashed: ${loopFailure.map(_.toString)}")
    // correctness is the whole point: exact equality with the
    // recorded key union, whatever interleaving happened
    val want = (0 until Waves).flatMap(keysOf).toSet
    val got = doneSet(dir)
    assert(got == want, s"interleaved folds corrupted the view:\n" +
      s"missing=${want -- got}\nextra=${got -- want}\n" +
      s"(folds=$folds leaseBusy=$leaseBusy)")
    assert(folds > 0, s"the out-of-band loop never folded " +
      s"(leaseBusy=$leaseBusy) — the race never happened")
    // the out-of-band loop folded up to the wave below the newest
    assert(BatchDirs.compactedThrough(spark, dir) == Waves - 2L)
  }

  test("concurrent pairsSoFar readers racing cadence folds: every " +
    "read is bracketed by the committed prefixes (never silently " +
    "short, never inventing), or fails loudly on an exhausted grace") {
    val dir = java.nio.file.Files
      .createTempDirectory("cc_readers").toString + "/ledger"
    // the oracle: the done set after each PREFIX of the waves — a read
    // that starts after m waves completed must contain expect(m), and
    // one that ends before m' completed must stay inside expect(m')
    val expect: IndexedSeq[Set[String]] =
      (0 to Waves).map(m => (0 until m).flatMap(keysOf).toSet)
    @volatile var completed = 0
    @volatile var writerDone = false
    val violations =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()
    var reads, loudReads = 0
    def isFnf(t: Throwable): Boolean = {
      var c: Throwable = t
      while (c != null) {
        if (c.isInstanceOf[java.io.FileNotFoundException] ||
          Option(c.getMessage).exists(_.contains("FileNotFound")))
          return true
        c = if (c.getCause == c) null else c.getCause
      }
      false
    }
    val reader = new Thread(() => {
      while (!writerDone) {
        val m0 = completed
        try {
          val got = doneSet(dir)
          // upper bracket is m1 + 1: the wave IN FLIGHT when the
          // collect ends commits before the writer bumps `completed`,
          // so its keys may legitimately be visible one step early —
          // anything beyond that one wave would be invented
          val m1 = math.min(completed + 1, Waves)
          reads += 1
          if (!expect(m0).subsetOf(got))
            violations.add(s"read after $m0 waves MISSING " +
              s"${expect(m0) -- got}")
          if (!got.subsetOf(expect(m1)))
            violations.add(s"read inside $m1 waves INVENTED " +
              s"${got -- expect(m1)}")
        } catch {
          // a lazy read overlapping two compactor calls exhausts its
          // grace window: loud (FNF / the exactness guard), never a
          // wrong answer — tolerated, counted
          case e: Exception
            if isFnf(e) || (e.isInstanceOf[IllegalStateException] &&
              Option(e.getMessage).exists(_.contains("grace window"))) =>
            loudReads += 1
          case t: Throwable =>
            violations.add(s"reader crashed unexpectedly: $t")
        }
        Thread.sleep(2)
      }
    }, "done-reader")
    reader.start()
    try {
      (0 until Waves).foreach { w =>
        BatchLedger.record(keysOf(w).toDF("k"), dir, w.toLong)
        if (w > 0 && w % 3 == 0)
          BatchLedger.fold(spark, dir, w - 1L, nBuckets = 8)
        completed = w + 1
      }
    } finally {
      writerDone = true
      reader.join(60000)
    }
    assert(!reader.isAlive, "reader thread wedged")
    assert(violations.isEmpty, s"read-visibility violations:\n  " +
      violations.toArray.mkString("\n  ") +
      s"\n(reads=$reads loud=$loudReads)")
    assert(reads >= 3, s"only $reads successful reads — the race " +
      "never exercised the reader path")
    // and the settled view is the full recorded union
    assert(doneSet(dir) == expect.last)
  }
}
