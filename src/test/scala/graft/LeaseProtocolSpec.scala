package graft

import graft.streaming.BatchDirs
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path
import java.nio.charset.StandardCharsets

/** The compactor lease's release and cleanup discipline — the parts
  * of the protocol a fold call doesn't exercise on the happy path:
  * release must delete only OUR marker (a takeover's replacement
  * survives it), a clean release leaves zero protocol debris, and
  * graveyard files a crashed compactor leaves mid-takeover are swept
  * by the next fold instead of leaking forever — plus the contention
  * and takeover faces a fold call sees ("the compactor lease") and a
  * real second JVM. The real-thread interleaving lives in
  * CompactionConcurrencySpec. */
class LeaseProtocolSpec extends SparkTestBase {

  private def fsOf(dir: String) = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeBatch(dir: String, id: Long, rows: Long): Unit =
    spark.range(rows).select(col("id").as("k"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/batch=$id")

  private def leaseFiles(dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = fsOf(dir)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(BatchDirs.LeaseName)).sorted
  }

  test("the compactor lease: a held lease defers the fold (or fails " +
    "loudly with failIfBusy); a stale lease is taken over") {
    val dir = java.nio.file.Files
      .createTempDirectory("tc_lease").toString + "/ix"
    val fs = fsOf(dir)
    def names: Seq[String] = fs.listStatus(new Path(dir)).toSeq
      .map(_.getPath.getName).filterNot(_ == BatchDirs.LeaseName).sorted
    writeBatch(dir, 0L, rows = 50)
    // another (live) compactor holds the marker
    fs.create(new Path(dir, BatchDirs.LeaseName), true).close()
    val before = names
    assert(BatchDirs.compact(spark, dir, 0L) == -1L, "a busy lease " +
      "must defer, reporting the current (empty) coverage")
    assert(names == before, "a deferred fold must not touch the dir")
    val ex = intercept[IllegalStateException] {
      BatchDirs.compact(spark, dir, 0L, failIfBusy = true)
    }
    assert(ex.getMessage.contains("lease"), ex.getMessage)
    // a failed call left the marker and the dir untouched too
    assert(names == before)
    // a marker older than the stale horizon belongs to a crashed
    // compactor: taken over, the fold proceeds, and the lease is
    // released afterwards
    fs.setTimes(new Path(dir, BatchDirs.LeaseName), 1000L, -1L)
    assert(BatchDirs.compact(spark, dir, 0L) == 0L)
    assert(names == Seq("batch=0", "compact=0"))
    assert(!fs.exists(new Path(dir, BatchDirs.LeaseName)),
      "the lease must be released after the fold")
    assert(BatchDirs.readCommitted(spark, dir).get.count() == 50L)
  }

  test("a clean acquire/release cycle leaves ZERO lease debris — no " +
    "marker, no takeover or release graveyard") {
    val dir = java.nio.file.Files
      .createTempDirectory("lp_clean").toString + "/ix"
    val ran = BatchDirs.withCompactorLease(spark, dir,
      staleMs = 60000L, failIfBusy = true) {
      // the marker must exist WHILE the body runs
      assert(leaseFiles(dir) == Seq(BatchDirs.LeaseName))
      42
    }
    assert(ran.contains(42))
    assert(leaseFiles(dir).isEmpty,
      s"lease debris after a clean release: ${leaseFiles(dir)}")
  }

  test("release deletes only OUR marker: a takeover replacing it " +
    "mid-fold (the fold overran staleMs) survives the release") {
    val dir = java.nio.file.Files
      .createTempDirectory("lp_thief").toString + "/ix"
    val fs = fsOf(dir)
    val marker = new Path(dir, BatchDirs.LeaseName)
    BatchDirs.withCompactorLease(spark, dir, staleMs = 60000L,
      failIfBusy = true) {
      // simulate what a stale takeover leaves behind: our marker is
      // gone and a FOREIGN token-carrying marker sits at the path
      fs.delete(marker, false)
      val out = fs.create(marker, false)
      out.write("thief-token".getBytes(StandardCharsets.UTF_8))
      out.close()
    }
    // the release's token check must fail CLOSED: the thief's live
    // marker survives, and no graveyard was left either
    assert(leaseFiles(dir) == Seq(BatchDirs.LeaseName),
      s"release disturbed a foreign marker: ${leaseFiles(dir)}")
    val in = fs.open(marker)
    val buf = new Array[Byte](64)
    val n = in.read(buf)
    in.close()
    assert(new String(buf, 0, n, StandardCharsets.UTF_8)
      == "thief-token", "the foreign marker's content changed")
  }

  test("release fails closed when the marker VANISHED mid-fold (a " +
    "manual unlock): nothing to delete, nothing thrown, no debris") {
    val dir = java.nio.file.Files
      .createTempDirectory("lp_gone").toString + "/ix"
    val fs = fsOf(dir)
    BatchDirs.withCompactorLease(spark, dir, staleMs = 60000L,
      failIfBusy = true) {
      fs.delete(new Path(dir, BatchDirs.LeaseName), false)
    }
    assert(leaseFiles(dir).isEmpty)
  }

  test("orphaned takeover/release graveyards (compactor crashed " +
    "mid-step) are swept by the next fold call, and never block it") {
    val dir = java.nio.file.Files
      .createTempDirectory("lp_grave").toString + "/ix"
    val fs = fsOf(dir)
    fs.mkdirs(new Path(dir))
    Seq(s"${BatchDirs.LeaseName}.stale.dead-token",
      s"${BatchDirs.LeaseName}.rel.dead-token").foreach { n =>
      fs.create(new Path(dir, n), false).close()
    }
    writeBatch(dir, 0L, rows = 50)
    // the graveyards must not be mistaken for a held lease …
    assert(BatchDirs.compact(spark, dir, 0L) == 0L)
    // … and the fold's sweep removed them (the lease itself released)
    assert(leaseFiles(dir).isEmpty,
      s"graveyard leaked past a sweep: ${leaseFiles(dir)}")
    assert(BatchDirs.readCommitted(spark, dir).get.count() == 50L)
  }

  test("cross-process: a SECOND JVM's live marker blocks the lease " +
    "loudly; the holder's exit frees it") {
    // the COVERAGE.md deployment sentence, pinned with a real forked
    // process on the one FS where exclusive-create is best-effort
    // (raw local): a foreign live marker must read as BUSY — never
    // stolen, never silently folded past
    val dir = java.nio.file.Files.createTempDirectory("lease2p").toString
    val scalaLib = new java.io.File("/opt/spark/jars").listFiles()
      .filter(_.getName.startsWith("scala-library"))
      .map(_.getAbsolutePath).toSeq
    assert(scalaLib.nonEmpty, "scala-library jar not found")
    val cp = ("target/scala-2.13/test-classes" +: scalaLib)
      .mkString(java.io.File.pathSeparator)
    val javaBin = new java.io.File(
      new java.io.File(sys.props("java.home"), "bin"), "java")
      .getAbsolutePath
    val child = new ProcessBuilder(javaBin, "-cp", cp,
      "graft.LeaseHolderMain", dir, "6000")
      .redirectErrorStream(true).start()
    val out = new java.io.BufferedReader(
      new java.io.InputStreamReader(child.getInputStream))
    try {
      assert(out.readLine() == "HELD", "child failed to take the lease")
      // fresh foreign marker, fail-if-busy face: loud
      val ex = intercept[IllegalStateException] {
        BatchDirs.withCompactorLease(spark, dir,
          staleMs = 60 * 60 * 1000L, failIfBusy = true)(
          fail("body ran under a foreign live lease"))
      }
      assert(ex.getMessage.contains("another compactor"), ex.getMessage)
      // opportunistic face: declines, never steals
      assert(BatchDirs.withCompactorLease(spark, dir,
        staleMs = 60 * 60 * 1000L, failIfBusy = false)(
        fail("body ran under a foreign live lease")).isEmpty)
      // the holder releases on its own schedule; afterwards the
      // lease is acquirable again in THIS process
      assert(child.waitFor(30, java.util.concurrent.TimeUnit.SECONDS),
        "lease-holder child did not exit")
      assert(child.exitValue() == 0, s"child exit ${child.exitValue()}")
      val got = BatchDirs.withCompactorLease(spark, dir,
        staleMs = 60 * 60 * 1000L, failIfBusy = true)(42)
      assert(got.contains(42))
    } finally {
      if (child.isAlive) child.destroyForcibly()
      out.close()
    }
  }
}
