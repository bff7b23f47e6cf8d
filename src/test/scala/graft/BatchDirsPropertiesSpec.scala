package graft

import graft.streaming.BatchDirs
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path
import org.scalacheck.Gen

/** Randomized state-machine property test for the batch-dir fold:
  * arbitrary interleavings of appends, empty commits, torn writes,
  * stray debris, folds and lazy reads against a driver-side reference
  * model. Invariants checked after every op:
  *
  *  1. content: readCommitted returns every committed row exactly
  *     once, keyed by (batch, k) — no loss, no double count, in any
  *     fold/grace/debris state;
  *  2. committedIds are exactly the committed ids above the
  *     reported cutoff;
  *  3. the cutoff is monotone non-decreasing and compact() returns
  *     it;
  *  4. at most two committed compact dirs are listed (the newest and
  *     its predecessor in its grace window);
  *  5. torn dirs and stray names never crash a reader or change any
  *     of the above;
  *  6. LAZY READS are loud-or-exact: a readCommitted frame built at a
  *     random point and read back after every subsequent op answers
  *     EXACTLY the content it was built over while it is at most one
  *     compactor call old (the grace window); older, it may instead
  *     fail loudly (a swept-file FileNotFoundException), but it never
  *     answers a different row set. */
class BatchDirsPropertiesSpec extends SparkTestBase {
  import spark.implicits._

  private sealed trait Op
  private case class Append(rows: Int) extends Op
  private case object AppendEmpty extends Op
  private case object TornThenAppend extends Op
  private case object Debris extends Op
  private case object Fold extends Op
  private case object Pin extends Op

  private val opGen: Gen[Op] = Gen.frequency(
    5 -> Gen.choose(1, 40).map(Append(_)),
    1 -> Gen.const(AppendEmpty),
    1 -> Gen.const(TornThenAppend),
    1 -> Gen.const(Debris),
    2 -> Gen.const(Pin),
    4 -> Gen.const(Fold))

  private val caseGen: Gen[List[Op]] = for {
    n <- Gen.choose(6, 14)
    ops <- Gen.listOfN(n, opGen)
  } yield ops

  test("random op interleavings preserve the content, snapshot, " +
    "monotonicity, and lazy-read invariants") {
    seededForAll(caseGen, 8, 4242L) { ops =>
      val dir = java.nio.file.Files
        .createTempDirectory("bd_prop").toString + "/ix"
      val fs = new Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // reference model: committed batch id -> its key range
      var model = Map.empty[Long, Range]
      var nextId = 0L
      var nextKey = 0
      var lastCutoff = -1L
      // invariant 6 state: the lazy frame, the content it was built
      // over, and its age in COMPACTOR CALLS (every executed fold
      // call counts — no-op ones too, since every call sweeps)
      var pinned = Option.empty[
        (Option[org.apache.spark.sql.DataFrame], Set[(Long, Long)], Int)]

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

      def modelContent: Set[(Long, Long)] =
        model.toSeq.flatMap { case (b, ks) =>
          ks.map(k => (b, k.toLong)) }.toSet

      def checkPinned(): Unit = pinned.foreach { case (frame, want, age) =>
        val res =
          try Right(frame
            .map(_.select(col("batch"), col("k"))
              .as[(Long, Long)].collect().toSet)
            .getOrElse(Set.empty[(Long, Long)]))
          catch { case e: Exception => Left(e) }
        res match {
          case Right(got) =>
            assert(got == want, s"lazy read (age $age calls) wrong: " +
              s"missing=${want -- got} extra=${got -- want} (ops=$ops)")
          case Left(e) =>
            assert(age >= 2 && isFnf(e), s"lazy read (age $age " +
              s"calls) threw unexpectedly: $e (ops=$ops)")
            pinned = None // dead frame; a later Pin re-arms the check
        }
      }

      def append(rows: Int): Unit = {
        spark.range(rows)
          .select((col("id") + nextKey).as("k"))
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/batch=$nextId")
        model += nextId -> (nextKey until nextKey + rows)
        nextId += 1; nextKey += rows
      }

      def check(): Unit = {
        val cutoff = BatchDirs.compactedThrough(spark, dir)
        val ids = BatchDirs.committedIds(spark, dir)
        // 3: monotone cutoff
        assert(cutoff >= lastCutoff, s"cutoff regressed: " +
          s"$lastCutoff -> $cutoff (ops=$ops)")
        lastCutoff = cutoff
        // 2: the uncovered ids vs the model
        assert(ids.sorted ==
          model.keys.filter(_ > cutoff).toSeq.sorted,
          s"ids=$ids cutoff=$cutoff model=${model.keys} (ops=$ops)")
        // 1: exact content, keyed (batch, k)
        val want = model.toSeq.flatMap { case (b, ks) =>
          ks.map(k => (b, k.toLong)) }.toSet
        val got = BatchDirs.readCommitted(spark, dir)
          .map(_.select(col("batch"), col("k"))
            .as[(Long, Long)].collect().toSet)
          .getOrElse(Set.empty)
        assert(got == want,
          s"content diverged: missing=${want -- got} " +
            s"extra=${got -- want} (ops=$ops)")
        // 4: one live compact dir plus at most one in its grace
        val compacts = fs.listStatus(new Path(dir)).toSeq
          .map(_.getPath)
          .filter(p => p.getName.startsWith("compact=") &&
            fs.exists(new Path(p, "_SUCCESS")))
        assert(compacts.size <= 2,
          s"committed compact dirs: ${compacts.map(_.getName)} (ops=$ops)")
      }

      ops.foreach {
        case Pin =>
          pinned = Some((BatchDirs.readCommitted(spark, dir),
            modelContent, 0))
          checkPinned()
        case Append(rows) => append(rows); check(); checkPinned()
        case AppendEmpty =>
          // marker-only commit (a watermark-only trigger): counts as
          // committed, contributes no rows, must not wedge readers
          fs.mkdirs(new Path(s"$dir/batch=$nextId"))
          fs.create(new Path(s"$dir/batch=$nextId/_SUCCESS"), true)
            .close()
          model += nextId -> (0 until 0)
          nextId += 1
          check()
          checkPinned()
        case TornThenAppend =>
          // a crashed write (no marker) is invisible, then the
          // replay overwrites it
          fs.mkdirs(new Path(s"$dir/batch=$nextId"))
          check()
          append(7)
          check()
          checkPinned()
        case Debris =>
          fs.mkdirs(new Path(s"$dir/batch=tmp"))
          fs.create(new Path(s"$dir/batch=tmp/_SUCCESS"), true).close()
          fs.mkdirs(new Path(s"$dir/compact=9999")) // torn fold
          check()
          checkPinned()
        case Fold if nextId > 0 =>
          val ret = BatchDirs.compact(spark, dir, nextId - 1)
          assert(ret == BatchDirs.compactedThrough(spark, dir),
            s"compact() return != observed coverage (ops=$ops)")
          pinned = pinned.map { case (f, want, age) => (f, want, age + 1) }
          check()
          checkPinned()
        case Fold => () // nothing committed
      }
      fs.delete(new Path(dir), true)
    }
  }
}
