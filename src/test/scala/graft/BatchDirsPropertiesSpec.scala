package graft

import graft.streaming.BatchDirs
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path
import org.scalacheck.Gen

/** Randomized state-machine property test for the batch-dir
  * compaction layer: arbitrary interleavings of appends, empty
  * commits, torn writes, stray debris, and TIERED folds (varying
  * byte-ratio governor, bucket counts — including mid-stream
  * re-bucketing, which forces a major merge — and L0 run-count
  * backstops) against a driver-side reference model. The governor's
  * minor/major choice depends on real parquet bytes, so the model
  * asserts the invariants that must hold on EVERY path through the
  * state space rather than predicting fold decisions:
  *
  *  1. content: readCommitted returns every committed row exactly
  *     once, keyed by (batch, k) — no loss, no double count, in any
  *     fold/grace/debris state;
  *  2. committedIds are exactly the committed ids above the
  *     reported cutoff;
  *  3. the cutoff is monotone non-decreasing and compactTiered()
  *     returns it;
  *  4. an empty pruned read (pbuckets = ∅) returns exactly the rows
  *     ABOVE the cutoff — the compacted part fully prunes, the
  *     cadence-bounded tail never does;
  *  5. torn dirs and stray names never crash a reader or change any
  *     of the above;
  *  6. PINNED READS are loud-or-exact: a generation pinned at a
  *     random point and read back after every subsequent op must
  *     answer EXACTLY the current content through its one-call grace
  *     window (and, by the exactness guard's two-call evidence, at
  *     age 2 as well — at 2 calls the first fold's tier is still
  *     listed while its cutoff batch is swept, so the guard fires);
  *     past that it may instead fail loudly (the guard's
  *     IllegalStateException or a swept-file FileNotFoundException),
  *     and beyond the guard's documented evidence horizon (3+ calls)
  *     it may silently OMIT folded batches but must never invent or
  *     double-count a row. */
class BatchDirsPropertiesSpec extends SparkTestBase {
  import spark.implicits._

  private sealed trait Op
  private case class Append(rows: Int) extends Op
  private case object AppendEmpty extends Op
  private case object TornThenAppend extends Op
  private case object Debris extends Op
  private case class Tiered(ratio: Double, nBuckets: Int,
    maxL0Runs: Int) extends Op
  private case object Pin extends Op

  private val opGen: Gen[Op] = Gen.frequency(
    5 -> Gen.choose(1, 40).map(Append(_)),
    1 -> Gen.const(AppendEmpty),
    1 -> Gen.const(TornThenAppend),
    1 -> Gen.const(Debris),
    2 -> Gen.const(Pin),
    // minor L0 runs, run-count-backstop majors, ratio majors, and
    // modulus-change majors all mix freely against the same invariants
    4 -> (for {
      ratio <- Gen.oneOf(0.0, 0.1, 1e9)
      n <- Gen.oneOf(2, 4, 8)
      runs <- Gen.oneOf(1, 2, 16)
    } yield Tiered(ratio, n, runs)))

  private val caseGen: Gen[List[Op]] = for {
    n <- Gen.choose(6, 14)
    ops <- Gen.listOfN(n, opGen)
  } yield ops

  test("random op interleavings preserve the content, snapshot, " +
    "monotonicity, and pruning invariants") {
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
      // invariant 6 state: the pinned generation and its age in
      // COMPACTOR CALLS (every executed fold call counts — no-op
      // ones too, since every call sweeps)
      var pinned = Option.empty[(BatchDirs.Gen, Int)]

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

      def checkPinned(): Unit = pinned.foreach { case (g, age) =>
        val want = modelContent
        val res =
          try Right(BatchDirs.readCommittedAt(spark, dir, g)
            .map(_.select(col("batch"), col("k"))
              .as[(Long, Long)].collect().toSet)
            .getOrElse(Set.empty[(Long, Long)]))
          catch { case e: Exception => Left(e) }
        res match {
          case Right(got) if age <= 2 =>
            // inside the grace window (and the guard's two-call
            // evidence): an answering read must be CURRENT-exact
            assert(got == want, s"pinned read (age $age calls) " +
              s"wrong: missing=${want -- got} extra=${got -- want} " +
              s"(ops=$ops)")
          case Right(got) =>
            // beyond the guard's evidence horizon: omission of folded
            // batches is the documented blind spot, but a pinned read
            // must NEVER invent or double-count a row
            assert((got -- want).isEmpty, s"pinned read (age $age) " +
              s"produced extra rows: ${got -- want} (ops=$ops)")
          case Left(e) =>
            val loud = isFnf(e) ||
              (e.isInstanceOf[IllegalStateException] &&
                Option(e.getMessage).exists(_.contains("grace window")))
            assert(age >= 2 && loud, s"pinned read (age $age calls) " +
              s"threw unexpectedly: $e (ops=$ops)")
            pinned = None // dead pin; a later Pin re-arms the check
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
        // 4: empty pruned read = exactly the above-cutoff tail
        if (cutoff >= 0) {
          val tail = BatchDirs.readCommitted(spark, dir,
            pbuckets = Some(Seq.empty))
            .map(_.select(col("batch"), col("k"))
              .as[(Long, Long)].collect().toSet)
            .getOrElse(Set.empty)
          assert(tail == want.filter(_._1 > cutoff),
            s"empty-bucket read wrong: $tail (cutoff=$cutoff ops=$ops)")
        }
      }

      ops.foreach {
        case Pin =>
          pinned = Some((BatchDirs.generation(spark, dir), 0))
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
          fs.mkdirs(new Path(s"$dir/compact=9999.n4")) // torn fold
          check()
          checkPinned()
        case Tiered(ratio, n, runs) if nextId > 0 =>
          val upTo = nextId - 1
          val ret = BatchDirs.compactTiered(spark, dir, upTo, "k",
            nBuckets = n, majorRatio = ratio, maxL0Runs = runs)
          assert(ret == BatchDirs.compactedThrough(spark, dir),
            s"compactTiered() return != observed coverage (ops=$ops)")
          // the run-count backstop is an invariant, not a prediction:
          // the resolved generation never holds more than maxL0Runs
          // runs is not assertable here (maxL0Runs varies per op), but
          // the generation must be single-modulus — the contract every
          // pruned reader derives ONE bucket set from
          val gen = BatchDirs.generation(spark, dir)
          val moduli = (gen.compact.map(_._2).toSeq ++
            gen.l0.map(_.nBuckets)).distinct
          assert(moduli.size <= 1,
            s"mixed-modulus generation $gen (ops=$ops)")
          pinned = pinned.map { case (g, age) => (g, age + 1) }
          check()
          checkPinned()
        case Tiered(_, _, _) => () // nothing committed
      }
      fs.delete(new Path(dir), true)
    }
  }
}
