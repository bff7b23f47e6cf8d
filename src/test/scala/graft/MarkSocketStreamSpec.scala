package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The DSv2 connector's streaming face: `readStream` over the OP_MSG
  * mark store — the reference's cursor micro-batch loop (T1) +
  * durable checkpoint (T2) as a real Structured Streaming source with
  * `_id` high-water-mark offsets. */
class MarkSocketStreamSpec extends SparkTestBase {

  private def markDoc(i: Int): TcpMongoServer.Doc = {
    val id = f"m-$i%03d"
    val exec = if (i % 2 == 0) "exec-2" else "exec-1"
    TcpMongoServer.Doc(id, exec,
      s"""{"_id":"$id","provenance":{"analysis":{"execution_id":"$exec"},""" +
        s""""image":{"imageid":"img-$i","slide":"s"}}}""")
  }

  private def readStream(port: Int) =
    spark.readStream.format("graft.sources.MarkSocketDataSource")
      .option("host", "127.0.0.1").option("port", port.toString)
      .option("collection", "marks")
      .option("partitions", "3").option("batch.size", "4")
      .load()

  test("micro-batches follow the _id high-water mark, exactly once") {
    val srv = new TcpMongoServer(Map("marks" -> (1 to 6).map(markDoc)))
    val port = srv.start()
    val ckpt = Files.createTempDirectory("ms_ckpt").toString
    val out = Files.createTempDirectory("ms_out").toString
    def seen() = spark.read.parquet(out)
      .collect().map(_.getString(0)).sorted.toSeq
    def startQuery() = readStream(port).select("_id")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      val q = startQuery()
      try {
        q.processAllAvailable()
        assert(seen() == (1 to 6).map(i => f"m-$i%03d"))

        // new documents arrive: ONLY they appear in the next batch
        srv.add("marks", markDoc(7), markDoc(8))
        q.processAllAvailable()
        assert(seen() == (1 to 8).map(i => f"m-$i%03d"))

        // idle: no new ids → no duplicate emission
        q.processAllAvailable()
        assert(seen() == (1 to 8).map(i => f"m-$i%03d"))
      } finally q.stop()

      // restart from the checkpoint: the high-water mark survives, so
      // only the post-restart document flows (T2 durable-checkpoint) —
      // nothing re-emitted, nothing lost
      srv.add("marks", markDoc(9))
      val q2 = startQuery()
      try {
        q2.processAllAvailable()
        assert(seen() == (1 to 9).map(i => f"m-$i%03d"),
          s"restart diverged: ${seen()}")
      } finally q2.stop()
    } finally srv.stop()
  }

  test("server crash mid-batch: restart neither skips nor duplicates") {
    // the hard T2 case: the server dies AFTER serving part of a page.
    // The severed page must FAIL the task (not pass as a short final
    // page), the batch's offset must stay uncommitted, and a restarted
    // query against a revived server must re-read exactly that window.
    val docs0 = (1 to 6).map(markDoc)
    val srv = new TcpMongoServer(Map("marks" -> docs0))
    val port = srv.start()
    val ckpt = Files.createTempDirectory("ms_crash_ckpt").toString
    val out = Files.createTempDirectory("ms_crash_out").toString
    // reading the stream's own output dir goes through _spark_metadata,
    // so files from the failed (uncommitted) batch are invisible
    def seen() = spark.read.parquet(out)
      .collect().map(_.getString(0)).sorted.toSeq
    def startQuery() = readStream(port).select("_id")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      val q = startQuery()
      val crashed = try {
        q.processAllAvailable()
        assert(seen() == (1 to 6).map(i => f"m-$i%03d"))
        // new window arrives, then the server starts dying mid-page
        srv.add("marks", (7 to 12).map(markDoc): _*)
        srv.severMidPage = true
        intercept[Exception] { q.processAllAvailable() }
        true
      } finally q.stop()
      assert(crashed)
      // nothing of the failed window leaked into committed output
      assert(seen() == (1 to 6).map(i => f"m-$i%03d"),
        s"partial batch committed: ${seen()}")
      srv.stop()

      // server comes back at the SAME address with the same store
      val srv2 = new TcpMongoServer(Map("marks" -> (1 to 12).map(markDoc)))
      srv2.start(port)
      try {
        val q2 = startQuery()
        try {
          q2.processAllAvailable()
          assert(seen() == (1 to 12).map(i => f"m-$i%03d"),
            s"restart skipped or duplicated: ${seen()}")
        } finally q2.stop()
      } finally srv2.stop()
    } finally srv.stop()
  }

  test("option-level pushdown crosses the wire in streaming mode") {
    // Catalyst does not push filters into streaming DSv2 scans, so the
    // server-side predicates ride as reader options (the Kafka
    // startingOffsets pattern); a redundant engine-side filter stays
    // legal and cheap
    val srv = new TcpMongoServer(Map("marks" -> (1 to 10).map(markDoc)))
    val port = srv.start()
    val ckpt = Files.createTempDirectory("ms_ckpt2").toString
    try {
      val q = spark.readStream
        .format("graft.sources.MarkSocketDataSource")
        .option("host", "127.0.0.1").option("port", port.toString)
        .option("collection", "marks")
        .option("partitions", "3").option("batch.size", "4")
        .option("execution.ids", "exec-1")
        .option("start.from", "m-003")
        .load()
        .select("_id")
        .writeStream.format("memory").queryName("marks_stream3")
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try {
        q.processAllAvailable()
        val got = spark.table("marks_stream3")
          .collect().map(_.getString(0)).sorted.toSeq
        assert(got == (3 to 10).filter(_ % 2 == 1).map(i => f"m-$i%03d"),
          got.toString)
        assert(srv.requests.asScala.exists(r =>
          r.contains("\"$in\":[\"exec-1\"]") &&
            r.contains("\"$gte\":\"m-003\"")),
          "option pushdown did not cross the wire")
      } finally q.stop()
    } finally srv.stop()
  }
}
