package graft

import graft.streaming.BatchDirs
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** Unit behavior of the batch-dir compaction layer, independent of
  * the ledger: chain resolution, the TWO-PHASE grace-window sweep
  * (call N deletes what call N−1 made redundant, so concurrent
  * readers pinned to the previous generation never lose a file
  * mid-scan), the same-cutoff generation pick, and bucket-pruned
  * reads. */
class BatchDirsSpec extends SparkTestBase {

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
    else fs.listStatus(p).toSeq.map(_.getPath.getName).sorted
  }

  private def commitEmptyDir(base: String, name: String): Unit = {
    val fs = fsOf(base)
    fs.mkdirs(new Path(base, name))
    fs.create(new Path(s"$base/$name/_SUCCESS"), true).close()
  }

  test("chain resolution: a merge output beats its lingering " +
    "superseded input at the SAME hi (mutation survivor B5: picking " +
    "the narrowest run instead crashed on in-contract grace states)") {
    // state after a size-tiered merge whose inputs are mid-sweep:
    // l0=(-1,30] (the merge) plus l0=(20,30] (an input, one grace
    // window from deletion). The (10,20] and (0,10] siblings are
    // already swept, so a walk that prefers the NARROW run has no
    // run ending at 20 to descend through and fails loudly on a
    // state the two-phase sweep produces legitimately.
    val dir = java.nio.file.Files
      .createTempDirectory("bd_widest").toString + "/ix"
    commitEmptyDir(dir, "l0=30.f-1.n4")
    commitEmptyDir(dir, "l0=30.f20.n4")
    val gen = BatchDirs.generation(spark, dir)
    assert(gen.l0 == Seq(BatchDirs.L0Run(-1L, 30L, 4)), gen)
    assert(gen.coveredThrough == 30L)
  }

  test("chain resolution fails LOUD on a broken chain (mutation " +
    "survivor B2: a >= step would silently bridge the gap with an " +
    "overlapping run and hide swept coverage)") {
    // (20,30] with only an OVERLAPPING (-1,25] below it: no committed
    // run ends at 20, so coverage between 20 and 25 is ambiguous and
    // the resolver must throw, not guess
    val dir = java.nio.file.Files
      .createTempDirectory("bd_broken").toString + "/ix"
    commitEmptyDir(dir, "l0=30.f20.n4")
    commitEmptyDir(dir, "l0=25.f-1.n4")
    val e = intercept[IllegalStateException](
      BatchDirs.generation(spark, dir))
    assert(e.getMessage.contains("chain broken"), e.getMessage)
  }

  test("torn fold dirs are invisible; stray batch=tmp debris never " +
    "wedges a reader, and the sweep folds around it") {
    val dir = java.nio.file.Files
      .createTempDirectory("bd_debris").toString + "/ix"
    val fs = fsOf(dir)
    def total: Long =
      BatchDirs.readCommitted(spark, dir).map(_.count()).getOrElse(0L)
    writeBatch(dir, 0L, rows = 30)
    writeBatch(dir, 1L, rows = 30, offset = 30)
    // torn folds (no _SUCCESS) are not coverage and change no read
    fs.mkdirs(new Path(s"$dir/compact=9.n8"))
    fs.mkdirs(new Path(s"$dir/l0=9.f-1.n8"))
    assert(BatchDirs.compactedThrough(spark, dir) == -1L)
    assert(BatchDirs.committedIds(spark, dir).sorted == Seq(0L, 1L))
    assert(total == 60)
    fs.delete(new Path(s"$dir/compact=9.n8"), true)
    fs.delete(new Path(s"$dir/l0=9.f-1.n8"), true)
    // a committed non-numeric dir (manual debris): skipped, not thrown
    commitEmptyDir(dir, "batch=tmp")
    assert(BatchDirs.committedIds(spark, dir).sorted == Seq(0L, 1L))
    assert(total == 60)
    // the fold keeps its inputs one call as grace, the next call
    // converges — batch=tmp untouched throughout
    assert(BatchDirs.compactTiered(spark, dir, 1L, "k",
      nBuckets = 8) == 1L)
    assert(names(dir) ==
      Seq("batch=0", "batch=1", "batch=tmp", "l0=1.f-1.n8"))
    assert(BatchDirs.compactTiered(spark, dir, 1L, "k",
      nBuckets = 8) == 1L)
    assert(names(dir) == Seq("batch=tmp", "l0=1.f-1.n8"))
    assert(total == 60)
  }

  test("a bucket-count change refolds under the same cutoff: the " +
    "superseded modulus survives one sweep, compactInfo picks the " +
    "newest commit deterministically, the next fold converges") {
    val dir = java.nio.file.Files
      .createTempDirectory("bd_nbk").toString + "/ix"
    val fs = fsOf(dir)
    def fold(upTo: Long, n: Int, maxL0Runs: Int = 64): Long =
      BatchDirs.compactTiered(spark, dir, upTo, "k", nBuckets = n,
        majorRatio = 0.0, maxL0Runs = maxL0Runs)
    // the L1 pick (the name's compactInfo) is generation's compact tier
    def pick = BatchDirs.generation(spark, dir).compact
    // seed compact=1.n4: a minor run, then a second fold whose run
    // would exceed the one-run cap and so merges into the L1
    writeBatch(dir, 0L, rows = 100)
    assert(fold(0L, 4) == 0L)
    writeBatch(dir, 1L, rows = 100, offset = 100)
    assert(fold(1L, 4, maxL0Runs = 1) == 1L)
    assert(fold(1L, 4) == 1L)
    assert(names(dir) == Seq("compact=1.n4"))
    // re-bucket at the SAME cutoff: the n4 predecessor must survive
    // this call's sweep — a pruned reader that resolved (1, 4) just
    // before the call still finds the dir its bucket filter was
    // computed for
    assert(fold(1L, 8) == 1L)
    assert(names(dir) == Seq("compact=1.n4", "compact=1.n8"))
    // the pick between two complete same-cutoff generations is the
    // newest _SUCCESS mtime (set explicitly — the rule, not FS
    // timestamp granularity, is under test) …
    fs.setTimes(new Path(s"$dir/compact=1.n4/_SUCCESS"), 1000L, -1L)
    fs.setTimes(new Path(s"$dir/compact=1.n8/_SUCCESS"), 2000L, -1L)
    assert(pick.contains((1L, 8)))
    // … including a DOWNSIZE: recency wins, not bucket count …
    fs.setTimes(new Path(s"$dir/compact=1.n4/_SUCCESS"), 3000L, -1L)
    assert(pick.contains((1L, 4)))
    // … and a granularity-collapsed tie breaks to the higher count —
    // deterministic, and safe either way: both generations hold
    // complete coverage, the pick only fixes the pruning modulus
    fs.setTimes(new Path(s"$dir/compact=1.n4/_SUCCESS"), 2000L, -1L)
    assert(pick.contains((1L, 8)))
    // one view across the two-generation state, no double count
    assert(BatchDirs.readCommitted(spark, dir).get.count() == 200)
    // the next fold (new data, resolved against the n8 pick) sweeps
    // the superseded n4 generation; one more call converges fully
    writeBatch(dir, 2L, rows = 50, offset = 200)
    assert(fold(2L, 8) == 2L)
    assert(names(dir) ==
      Seq("batch=2", "compact=1.n8", "compact=2.n8"))
    assert(fold(2L, 8) == 2L)
    assert(names(dir) == Seq("compact=2.n8"))
    assert(BatchDirs.readCommitted(spark, dir).get.count() == 250)
  }

  test("pbuckets prunes the folded scan AT FILE LISTING: only the " +
    "probed buckets' leaf dirs are ever handed to the reader") {
    val dir = java.nio.file.Files
      .createTempDirectory("bd_plan").toString + "/ix"
    writeBatch(dir, 0L, rows = 400)
    // the second call sweeps batch=0: the only data left is the
    // bucketed L0 run
    assert(BatchDirs.compactTiered(spark, dir, 0L, "k",
      nBuckets = 4) == 0L)
    assert(BatchDirs.compactTiered(spark, dir, 0L, "k",
      nBuckets = 4) == 0L)
    assert(names(dir) == Seq("l0=0.f-1.n4"))
    // AQE re-instantiates the plan it executes, so the scan whose
    // metrics fill is not the one a pre-execution collect sees —
    // disable it for the metric read (the assertion is about the
    // scan's listing, not about adaptivity)
    val aqeKey = "spark.sql.adaptive.enabled"
    val aqePrev = spark.conf.get(aqeKey)
    spark.conf.set(aqeKey, "false")
    try {
      val filesOf = (df: org.apache.spark.sql.DataFrame) => {
        // drive THIS QueryExecution (df.count() would build and
        // execute a different one, leaving these metrics at zero)
        df.queryExecution.toRdd.count()
        df.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.metrics("numFiles").value
        }.sum
      }
      // pruning is structural — the scan's ROOT PATHS are already
      // restricted to the probed buckets' pbucket dirs (pruning at
      // listing time, before any filter could run), so the file
      // count shrinks and the content is exactly the probed buckets'
      val pruned = BatchDirs.readCommitted(spark, dir,
        pbuckets = Some(Seq(1L, 2L))).get
      val nPruned = filesOf(pruned)
      val nFull = filesOf(BatchDirs.readCommitted(spark, dir).get)
      assert(nPruned > 0 && nPruned < nFull,
        s"pruned scan read $nPruned of $nFull files")
      // exactness: the pruned view is the full view restricted to
      // rows hashing into the probed buckets
      import spark.implicits._
      val want = BatchDirs.readCommitted(spark, dir).get
        .filter(BatchDirs.bucketOf(col("k"), 4).isin(1L, 2L))
        .select("k").as[Long].collect().toSet
      val got = pruned.select("k").as[Long].collect().toSet
      assert(got == want && got.nonEmpty,
        s"pruned content wrong: ${got.size} vs ${want.size} rows")
    } finally spark.conf.set(aqeKey, aqePrev)
  }

  test("a pruned reader pinned to a resolved generation survives " +
    "one subsequent compaction — the grace window's contract") {
    val dir = java.nio.file.Files
      .createTempDirectory("bd_pin").toString + "/ix"
    writeBatch(dir, 0L, rows = 300)
    assert(BatchDirs.compactTiered(spark, dir, 0L, "k",
      nBuckets = 4) == 0L)
    writeBatch(dir, 1L, rows = 300, offset = 300)
    // a reader resolves the current generation and builds (but does
    // not yet consume) a pruned frame over it — its parquet file
    // listing is fixed HERE
    val gen = BatchDirs.generation(spark, dir)
    assert(gen.compact.isEmpty &&
      gen.l0 == Seq(BatchDirs.L0Run(-1L, 0L, 4)))
    val pinned = BatchDirs.readCommittedAt(spark, dir, gen,
      pbuckets = Some(0L until 4L)).get
    // a compaction supersedes the generation mid-flight — with a NEW
    // bucket count, the hostile case: modulus AND file layout change
    // (the modulus change forces a major merge into compact=1.n8)
    assert(BatchDirs.compactTiered(spark, dir, 1L, "k",
      nBuckets = 8) == 1L)
    assert(BatchDirs.generation(spark, dir).compact.contains((1L, 8)))
    // the pinned frame still opens every file it resolved (the
    // two-phase sweep kept l0=0.f-1.n4 and batch=1 alive one
    // generation) and returns the exact pre-fold view
    assert(pinned.count() == 600L)
    // a FRESH read resolves the new generation and agrees on content
    assert(BatchDirs.readCommitted(spark, dir).get.count() == 600L)
  }
}
