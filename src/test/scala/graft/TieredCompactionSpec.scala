package graft

import graft.streaming.BatchDirs
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** Unit behavior of the TIERED (L0/L1) fold path and the
  * single-compactor lease: minor folds consolidate the batch tail
  * into L0 runs WITHOUT rewriting the compacted table, major
  * merges trigger deterministically on the run-count backstop and a
  * bucket-count change, and the lease defers or fails concurrent
  * folds instead of corrupting. Byte-ratio major triggers are pinned
  * with degenerate ratios only (0 = always, huge = never): real
  * parquet byte ratios are footer-dominated at spec scale and fold
  * decisions must not be predicted from them (BatchDirsPropertiesSpec
  * asserts the path-independent invariants instead). */
class TieredCompactionSpec extends SparkTestBase {

  private val Never = 1e12 // majorRatio that can't trigger at spec scale

  private def writeBatch(dir: String, id: Long, rows: Long,
    offset: Long = 0L): Unit =
    spark.range(rows).select((col("id") + offset).as("k"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/batch=$id")

  private def fsOf(dir: String) = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def names(dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = fsOf(dir)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filterNot(_ == BatchDirs.LeaseName).sorted
  }

  private def total(dir: String): Long =
    BatchDirs.readCommitted(spark, dir).map(_.count()).getOrElse(0L)

  test("minor folds consolidate the tail into L0 runs and never " +
    "rewrite the compacted table; a major ratio trigger folds " +
    "everything back into one compact dir") {
    val dir = java.nio.file.Files
      .createTempDirectory("tc_minor").toString + "/ix"
    val fs = fsOf(dir)
    // seed an L1: a minor run for batch 0, then a fold whose run
    // would exceed the one-run cap and so merges into compact=1.n4
    writeBatch(dir, 0L, rows = 300)
    assert(BatchDirs.compactTiered(spark, dir, 0L, "k", nBuckets = 4,
      majorRatio = Never) == 0L)
    writeBatch(dir, 1L, rows = 300, offset = 300)
    assert(BatchDirs.compactTiered(spark, dir, 1L, "k", nBuckets = 4,
      majorRatio = Never, maxL0Runs = 1) == 1L)
    // the compacted table's exact file set, with write timestamps —
    // the no-rewrite assertion below is physical, not inferred
    def compactFiles: Map[String, Long] = {
      val it = fs.listFiles(new Path(s"$dir/compact=1.n4"), true)
      val b = Map.newBuilder[String, Long]
      while (it.hasNext) {
        val f = it.next()
        b += f.getPath.toString -> f.getModificationTime
      }
      b.result()
    }
    val l1Before = compactFiles
    // two minor folds: each consolidates its tail into ONE L0 run
    writeBatch(dir, 2L, rows = 50, offset = 600)
    writeBatch(dir, 3L, rows = 50, offset = 650)
    assert(BatchDirs.compactTiered(spark, dir, 3L, "k", nBuckets = 4,
      majorRatio = Never) == 3L)
    writeBatch(dir, 4L, rows = 50, offset = 700)
    assert(BatchDirs.compactTiered(spark, dir, 4L, "k", nBuckets = 4,
      majorRatio = Never) == 4L)
    val gen = BatchDirs.generation(spark, dir)
    // the second minor's fresh run (50 rows) was comparable to its
    // 100-row predecessor, so the size-tiered cascade merged the two
    // into ONE run covering (1, 4] — the chain reads it, and the
    // superseded inputs linger one call as grace
    assert(gen.compact.contains((1L, 4)) &&
      gen.l0 == Seq(BatchDirs.L0Run(1L, 4L, 4)) &&
      gen.modulus.contains(4),
      s"gen after two minors: $gen")
    // batch=2/3 were folded by the first minor and swept by the
    // second (one-call grace); batch=4 keeps its grace
    assert(names(dir) == Seq("batch=4", "compact=1.n4",
      "l0=3.f1.n4", "l0=4.f1.n4", "l0=4.f3.n4"))
    // THE tiered claim: the L1 file set is byte-identical across
    // both minor folds — no rewrite happened
    assert(compactFiles == l1Before,
      "a minor fold rewrote the compacted table")
    assert(total(dir) == 750 &&
      BatchDirs.compactedThrough(spark, dir) == 4L)
    // every L0 run is pbucket-partitioned like the L1, so pruned
    // readers skip them too: an empty bucket set reads zero folded
    // rows (only the — empty — raw tail would survive)
    assert(BatchDirs.readCommitted(spark, dir,
      pbuckets = Some(Seq.empty)).map(_.count()).getOrElse(0L) == 0L)
    // ratio 0 = any nonempty upper tier triggers the major: one call
    // merges L1 + both L0 runs + the new batch into a fresh compact
    writeBatch(dir, 5L, rows = 10, offset = 750)
    // the batch id reads as ONE long data column across the folded
    // tiers and the raw tail (a partition-inferred int, uncast, would
    // not union cleanly)
    val mixed = BatchDirs.readCommitted(spark, dir).get
    assert(mixed.schema("batch").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(mixed.select("batch").distinct().count() == 6)
    assert(BatchDirs.compactTiered(spark, dir, 5L, "k", nBuckets = 4,
      majorRatio = 0.0) == 5L)
    val gen2 = BatchDirs.generation(spark, dir)
    assert(gen2.compact.contains((5L, 4)) && gen2.l0.isEmpty,
      s"major merge must leave a single L1: $gen2")
    assert(total(dir) == 760)
    // the merged-away tiers survive one call as grace, then converge
    assert(names(dir) == Seq("batch=5", "compact=1.n4",
      "compact=5.n4", "l0=4.f1.n4"))
    assert(BatchDirs.compactTiered(spark, dir, 5L, "k", nBuckets = 4,
      majorRatio = 0.0) == 5L)
    assert(names(dir) == Seq("compact=5.n4") && total(dir) == 760)
  }

  test("the maxL0Runs backstop bounds the run count: one run past " +
    "the cap forces a major merge instead of a new run") {
    val dir = java.nio.file.Files
      .createTempDirectory("tc_runs").toString + "/ix"
    // mergeFactor 0 disables the size-tiered cascade: this test
    // isolates the run-COUNT backstop, which needs runs to pile up
    def fold(upTo: Long): Long =
      BatchDirs.compactTiered(spark, dir, upTo, "k", nBuckets = 4,
        majorRatio = Never, maxL0Runs = 2, mergeFactor = 0.0)
    writeBatch(dir, 0L, rows = 20)
    assert(fold(0L) == 0L)
    writeBatch(dir, 1L, rows = 20, offset = 20)
    assert(fold(1L) == 1L)
    // two runs: AT the cap — still minor territory
    assert(BatchDirs.generation(spark, dir).l0.map(_.hi)
      == Seq(0L, 1L))
    // a third run would exceed the cap → this fold is a MAJOR merge
    writeBatch(dir, 2L, rows = 20, offset = 40)
    assert(fold(2L) == 2L)
    val gen = BatchDirs.generation(spark, dir)
    assert(gen.compact.contains((2L, 4)) && gen.l0.isEmpty,
      s"run-count backstop did not force the major: $gen")
    assert(total(dir) == 60)
  }

  test("a bucket-count change forces a major rebucket — one modulus " +
    "per generation, so one bucket derivation prunes every tier") {
    val dir = java.nio.file.Files
      .createTempDirectory("tc_mod").toString + "/ix"
    writeBatch(dir, 0L, rows = 100)
    assert(BatchDirs.compactTiered(spark, dir, 0L, "k", nBuckets = 4,
      majorRatio = Never, mergeFactor = 0.0) == 0L)
    writeBatch(dir, 1L, rows = 100, offset = 100)
    assert(BatchDirs.compactTiered(spark, dir, 1L, "k", nBuckets = 4,
      majorRatio = Never, mergeFactor = 0.0) == 1L)
    assert(BatchDirs.generation(spark, dir).l0.size == 2)
    // same call shape, new modulus: must merge, not append a mixed run
    writeBatch(dir, 2L, rows = 100, offset = 200)
    assert(BatchDirs.compactTiered(spark, dir, 2L, "k", nBuckets = 8,
      majorRatio = Never) == 2L)
    val gen = BatchDirs.generation(spark, dir)
    assert(gen.compact.contains((2L, 8)) && gen.l0.isEmpty &&
      gen.modulus.contains(8), s"modulus change must major-merge: $gen")
    // pruning over the rebucketed generation is exact: the union of
    // all 8 buckets is the full content
    val full = BatchDirs.readCommitted(spark, dir).get.count()
    val viaBuckets = BatchDirs.readCommitted(spark, dir,
      pbuckets = Some(0L until 8L)).get.count()
    assert(full == 300 && viaBuckets == 300)
  }

  test("size-tiered cascade: a fresh run does NOT merge into a much " +
    "larger predecessor, DOES merge into a comparable one, and the " +
    "coverage-interval chain keeps superseded inputs out of the view") {
    val dir = java.nio.file.Files
      .createTempDirectory("tc_cascade").toString + "/ix"
    // incompressible keys (sha2 strings): run sizes are data-driven,
    // so the 5000-vs-10-row asymmetry dominates parquet footers and
    // both cascade decisions below are deterministic
    def writeBig(id: Long, rows: Long, offset: Long): Unit =
      spark.range(rows)
        .select(sha2((col("id") + offset).cast("string"), 256).as("k"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/batch=$id")
    def fold(upTo: Long): Long =
      BatchDirs.compactTiered(spark, dir, upTo, "k", nBuckets = 4,
        majorRatio = Never)
    def runsOf: Seq[BatchDirs.L0Run] =
      BatchDirs.generation(spark, dir).l0
    writeBig(0L, rows = 5000, offset = 0)
    assert(fold(0L) == 0L && runsOf == Seq(BatchDirs.L0Run(-1L, 0L, 4)))
    // a 10-row run lands on a 5000-row run: sizes differ far beyond
    // mergeFactor → the stack keeps both (geometric shape)
    writeBig(1L, rows = 10, offset = 5000)
    assert(fold(1L) == 1L)
    assert(runsOf == Seq(BatchDirs.L0Run(-1L, 0L, 4),
      BatchDirs.L0Run(0L, 1L, 4)),
      s"small-onto-large must not merge: $runsOf")
    // a second 5000-row run: the 10-row run merges into it, and the
    // merged (0,2] run is then comparable to the (−1,0] base — the
    // cascade collapses the stack to ONE run covering (−1, 2]
    writeBig(2L, rows = 5000, offset = 5010)
    assert(fold(2L) == 2L)
    assert(runsOf == Seq(BatchDirs.L0Run(-1L, 2L, 4)),
      s"comparable runs must cascade-merge: $runsOf")
    // exactness through all of it: every row exactly once (the
    // superseded inputs still on disk as grace never double-count)
    assert(total(dir) == 10010)
    import spark.implicits._
    assert(BatchDirs.readCommitted(spark, dir).get
      .select("k").as[String].collect().toSet.size == 10010)
    // and one more call sweeps the superseded inputs
    assert(fold(2L) == 2L)
    assert(names(dir) == Seq("l0=2.f-1.n4"))
  }

  test("the compactor lease: a held lease defers the fold (or fails " +
    "loudly with failIfBusy); a stale lease is taken over") {
    val dir = java.nio.file.Files
      .createTempDirectory("tc_lease").toString + "/ix"
    val fs = fsOf(dir)
    writeBatch(dir, 0L, rows = 50)
    // another (live) compactor holds the marker
    fs.mkdirs(new Path(dir))
    fs.create(new Path(dir, BatchDirs.LeaseName), true).close()
    val before = names(dir)
    assert(BatchDirs.compactTiered(spark, dir, 0L, "k",
      nBuckets = 4) == -1L, "a busy lease must defer, reporting the " +
      "current (empty) coverage")
    assert(names(dir) == before, "a deferred fold must not touch the dir")
    val ex = intercept[IllegalStateException] {
      BatchDirs.compactTiered(spark, dir, 0L, "k", nBuckets = 4,
        failIfBusy = true)
    }
    assert(ex.getMessage.contains("lease"), ex.getMessage)
    // a failed call left the marker and the dir untouched too
    assert(names(dir) == before)
    // a marker older than the stale horizon belongs to a crashed
    // compactor: taken over, the fold proceeds, and the lease is
    // released afterwards
    fs.setTimes(new Path(dir, BatchDirs.LeaseName), 1000L, -1L)
    assert(BatchDirs.compactTiered(spark, dir, 0L, "k",
      nBuckets = 4) == 0L)
    assert(names(dir) == Seq("batch=0", "l0=0.f-1.n4"))
    assert(!fs.exists(new Path(dir, BatchDirs.LeaseName)),
      "the lease must be released after the fold")
    assert(total(dir) == 50)
  }
}
