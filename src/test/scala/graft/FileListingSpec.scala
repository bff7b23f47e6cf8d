package graft

import graft.pipelines.{GeoJsonPipeline, HashRepairJob, SegCsvPipeline}
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream
import org.apache.spark.sql.DataFrame

/** How many Spark jobs the file readers start to list their input.
  * Spark lists up to 32 root paths on the driver and above that
  * starts a listing job with one task per root path, so a reader
  * whose glob ends at files pays one task per file. The readers
  * glob directories instead: a tree of few slide directories lists
  * with no job at all, however many files they hold, and a tree of
  * many lists with one task per directory. */
class FileListingSpec extends SparkTestBase {

  private def gz(path: Path, s: String): Unit = {
    Files.createDirectories(path.getParent)
    val os = new GZIPOutputStream(Files.newOutputStream(path))
    os.write(s.getBytes("UTF-8")); os.close()
  }

  private def segTree(slides: Int, files: Int): String = {
    val base = Files.createTempDirectory("seglist")
    for (s <- 0 until slides) {
      val dir = base.resolve(s"blca_polygon/S$s.svs.tar.gz/blca_polygon/S$s.svs")
      Files.createDirectories(dir)
      for (f <- 0 until files) Files.writeString(
        dir.resolve(s"${f}_0_10_10_z-features.csv"),
        "AreaInPixels,PhysicalSize,Polygon\n5,1.5,[1:2:3:4]\n")
    }
    base.toString
  }

  private def ttlTree(slides: Int, files: Int): String = {
    val base = Files.createTempDirectory("ttllist")
    for (s <- 0 until slides; f <- 0 until files)
      gz(base.resolve(f"S$s.svs/batch_$f%06d.ttl.gz"), "<urn:x> a so:Thing .\n")
    base.toString
  }

  /** (jobs, tasks) started while `read` builds its frame, and the
    * number of rows the frame then holds. */
  private def listing(read: => DataFrame): (Int, Int, Long) = {
    val tally = new TaskTally(spark.sparkContext)
    try {
      val before = tally.read()
      val df = read
      val w = tally.read() - before
      (w.jobMs.length, w.stageTaskMs.values.map(_.length).sum, df.count())
    } finally spark.sparkContext.removeSparkListener(tally)
  }

  test("2 slide directories x 40 files: the seg and repair readers " +
    "list on the driver, with no Spark job") {
    val seg = segTree(2, 40)
    assert(listing(SegCsvPipeline.read(spark, seg)) == ((0, 0, 80L)))
    val ttl = ttlTree(2, 40)
    assert(listing(HashRepairJob.readTtlTree(spark, ttl)) == ((0, 0, 80L)))
  }

  test("40 slide directories (above the threshold of 32): at most one " +
    "listing job, at most one task per directory") {
    val (segJobs, segTasks, segRows) =
      listing(SegCsvPipeline.read(spark, segTree(40, 1)))
    assert(segJobs <= 1 && segTasks <= 40 && segRows == 40L,
      (segJobs, segTasks, segRows))
    val (ttlJobs, ttlTasks, ttlRows) =
      listing(HashRepairJob.readTtlTree(spark, ttlTree(40, 1)))
    assert(ttlJobs <= 1 && ttlTasks <= 40 && ttlRows == 40L,
      (ttlJobs, ttlTasks, ttlRows))
  }

  test("a GeoJSON directory of 40 files lists with no Spark job") {
    val dir = Files.createTempDirectory("geolist")
    for (f <- 0 until 40) Files.writeString(
      dir.resolve(s"TCGA-ZZ-$f-01Z-00-DX1.u.geojson"), """{"features": []}""")
    assert(listing(GeoJsonPipeline.read(spark, dir.toString)) == ((0, 0, 40L)))
  }
}
