package graft

import graft.streaming.BatchDirs
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** Unit behavior of the batch-dir fold, independent of the ledger:
  * the one-tier layout (a fold writes one plain `compact=<cutoff>`
  * dir from the newest compact dir plus the tail), the TWO-PHASE
  * grace-window sweep (call N deletes what call N−1 made redundant,
  * so concurrent readers of the previous state never lose a file
  * mid-scan), and the guards for torn, empty and stray dirs. */
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

  test("torn fold dirs are invisible; stray batch=tmp debris never " +
    "wedges a reader, and the sweep folds around it") {
    val dir = java.nio.file.Files
      .createTempDirectory("bd_debris").toString + "/ix"
    val fs = fsOf(dir)
    def total: Long =
      BatchDirs.readCommitted(spark, dir).map(_.count()).getOrElse(0L)
    writeBatch(dir, 0L, rows = 30)
    writeBatch(dir, 1L, rows = 30, offset = 30)
    // a torn fold (no _SUCCESS) is not coverage and changes no read
    fs.mkdirs(new Path(s"$dir/compact=9"))
    assert(BatchDirs.compactedThrough(spark, dir) == -1L)
    assert(BatchDirs.committedIds(spark, dir).sorted == Seq(0L, 1L))
    assert(total == 60)
    fs.delete(new Path(s"$dir/compact=9"), true)
    // a committed non-numeric dir (manual debris): skipped, not thrown
    commitEmptyDir(dir, "batch=tmp")
    assert(BatchDirs.committedIds(spark, dir).sorted == Seq(0L, 1L))
    assert(total == 60)
    // the fold keeps its inputs one call as grace, the next call
    // converges — batch=tmp untouched throughout
    assert(BatchDirs.compact(spark, dir, 1L) == 1L)
    assert(names(dir) ==
      Seq("batch=0", "batch=1", "batch=tmp", "compact=1"))
    assert(BatchDirs.compact(spark, dir, 1L) == 1L)
    assert(names(dir) == Seq("batch=tmp", "compact=1"))
    assert(total == 60)
  }

  test("one tier: each fold rewrites the newest compact dir plus the " +
    "tail as one plain compact dir; its predecessor and inputs " +
    "survive exactly one more call") {
    val dir = java.nio.file.Files
      .createTempDirectory("bd_tier").toString + "/ix"
    val fs = fsOf(dir)
    def total: Long =
      BatchDirs.readCommitted(spark, dir).map(_.count()).getOrElse(0L)
    // nothing committed: a no-op call reports −1 and writes nothing
    assert(BatchDirs.compact(spark, dir, 5L) == -1L)
    assert(names(dir).isEmpty)
    writeBatch(dir, 0L, rows = 100)
    writeBatch(dir, 1L, rows = 100, offset = 100)
    writeBatch(dir, 2L, rows = 100, offset = 200)
    // the cutoff is the newest committed id ≤ upTo; batch=2 stays raw
    assert(BatchDirs.compact(spark, dir, 1L) == 1L)
    assert(BatchDirs.committedIds(spark, dir) == Seq(2L))
    assert(names(dir) == Seq("batch=0", "batch=1", "batch=2",
      "compact=1"))
    // plain part files: no partition subdirectory, one file for a
    // compact dir far below one read split
    val parts = fs.listStatus(new Path(s"$dir/compact=1")).toSeq
    assert(!parts.exists(_.isDirectory), parts.map(_.getPath.getName))
    assert(parts.count(_.getPath.getName.startsWith("part-")) == 1)
    // the batch id reads as ONE long data column across the compact
    // dir and the raw tail
    val mixed = BatchDirs.readCommitted(spark, dir).get
    assert(mixed.schema("batch").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(mixed.select("batch").distinct().count() == 3)
    assert(total == 300)
    // an empty wave commits a marker only; a fold over it and batch=2
    // rewrites compact=1 plus batch=2 into compact=3, and the sweep
    // deletes only what the previous call made redundant
    commitEmptyDir(dir, "batch=3")
    writeBatch(dir, 4L, rows = 10, offset = 300)
    assert(BatchDirs.compact(spark, dir, 3L) == 3L)
    assert(names(dir) == Seq("batch=2", "batch=3", "batch=4",
      "compact=1", "compact=3"))
    assert(total == 310)
    // a no-op call (nothing new ≤ upTo) still sweeps the grace dirs
    assert(BatchDirs.compact(spark, dir, 3L) == 3L)
    assert(names(dir) == Seq("batch=4", "compact=3"))
    assert(fs.listStatus(new Path(s"$dir/compact=3")).toSeq
      .count(_.getPath.getName.startsWith("part-")) == 1)
    // a fold of only empty waves commits a marker-only compact dir
    // that readers skip
    val empty = java.nio.file.Files
      .createTempDirectory("bd_empty").toString + "/ix"
    commitEmptyDir(empty, "batch=0")
    commitEmptyDir(empty, "batch=1")
    assert(BatchDirs.compact(spark, empty, 1L) == 1L)
    assert(BatchDirs.readCommitted(spark, empty).isEmpty)
    assert(BatchDirs.committedIds(spark, empty).isEmpty)
  }
}
