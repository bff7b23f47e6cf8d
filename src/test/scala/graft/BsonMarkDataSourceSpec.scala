package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.pipelines.MongoMarksPipeline
import graft.sources.Bson
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The BSON face of the mark-store connector: the codec under the
  * OP_MSG bodies round-trips mark documents and fails loudly on
  * truncated or corrupt lengths, and a scan over that binary wire
  * parses to the exact rows Spark's JSON reader gives for the same
  * documents, with the Catalyst pushdown crossing it. */
class BsonMarkDataSourceSpec extends SparkTestBase {

  private def markDoc(i: Int): TcpMongoServer.Doc = {
    val id = f"m-$i%03d"
    val exec = if (i % 2 == 0) "exec-2" else "exec-1"
    TcpMongoServer.Doc(id, exec,
      s"""{"_id":"$id","provenance":{"analysis":{"execution_id":"$exec"},""" +
        s""""image":{"imageid":"img-$i","slide":"slide-${i % 3}"}},""" +
        s""""geometries":{"features":[{"geometry":{"type":"Polygon",""" +
        s""""coordinates":[[[0.1,0.2],[0.3,0.2],[0.3,0.4]]]},""" +
        s""""properties":{"footprint":${i * 0.5},"nucleustype":"a.b.c"}}]}}}""")
  }
  private val marks = (1 to 20).map(markDoc)

  private def withServer[A](f: (TcpMongoServer, Int) => A): A = {
    val srv = new TcpMongoServer(Map("marks" -> marks))
    val port = srv.start()
    try f(srv, port) finally srv.stop()
  }

  private def read(port: Int): DataFrame =
    spark.read.format("graft.sources.MarkSocketDataSource")
      .option("host", "127.0.0.1").option("port", port.toString)
      .option("collection", "marks")
      .option("partitions", "3").option("batch.size", "4")
      .load()

  test("codec round-trips documents structurally, numbers included") {
    val om = new ObjectMapper()
    for (d <- marks.take(3)) {
      val node = om.readTree(d.json)
      assert(Bson.read(new java.io.ByteArrayInputStream(
        Bson.encode(node))) == node)
    }
    // truncation is loud, not a short read
    val whole = Bson.encode(om.readTree(marks.head.json))
    intercept[java.io.EOFException] {
      Bson.read(new java.io.ByteArrayInputStream(
        whole.take(whole.length - 3)))
    }
  }

  test("full BSON scan parses to the same rows as the JSONL wire") {
    withServer { (srv, port) =>
      import spark.implicits._
      val viaBson = read(port)
      assert(viaBson.schema == MongoMarksPipeline.markSchema)
      // the same documents as JSON lines through Spark's JSON reader
      val viaJson = spark.read.schema(MongoMarksPipeline.markSchema)
        .json(spark.createDataset(marks.map(_.json)))
      val a = viaBson.orderBy("_id").toJSON.collect().toSeq
      val b = viaJson.orderBy("_id").toJSON.collect().toSeq
      assert(a == b, s"row parity broke:\n${a.take(2)}\nvs\n${b.take(2)}")
      val splitsCalls =
        srv.requests.asScala.count(_.contains("\"splitVector\""))
      assert(splitsCalls >= 1 && splitsCalls <= 3, s"$splitsCalls")
    }
  }

  test("pushdown crosses the binary wire and shows in the plan") {
    withServer { (srv, port) =>
      val df = read(port)
        .filter(col("_id") >= "m-010")
        .filter(col("provenance.analysis.execution_id").isin("exec-1"))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("start_from=m-010"),
        s"pushdown missing from scan:\n$plan")
      assert(plan.contains("execution_ids=exec-1"),
        s"exec-id pushdown missing from scan:\n$plan")
      val ids = df.select("_id").collect().map(_.getString(0)).sorted
      assert(ids.toSeq ==
        marks.filter(d => d.id >= "m-010" && d.execId == "exec-1").map(_.id))
      // the decoded OP_MSG body carries both predicates in one filter
      assert(srv.requests.asScala.exists(r =>
        r.startsWith("{\"find\"") && r.contains("\"$gte\":\"m-010\"") &&
          r.contains("\"$in\":[\"exec-1\"]")),
        s"predicates did not cross the wire: ${
          srv.requests.asScala.filter(_.contains("find")).take(3)}")
    }
  }

  test("a severed BSON frame mid-page fails the read, never truncates") {
    withServer { (srv, port) =>
      srv.severMidPage = true
      val ex = intercept[Exception] {
        read(port).select("_id").collect()
      }
      def hasEof(t: Throwable): Boolean =
        t != null && (t.isInstanceOf[java.io.EOFException] ||
          hasEof(t.getCause))
      assert(hasEof(ex), s"expected severed-page EOFException, got $ex")
    }
  }

  test("corrupt inner lengths near Int.MaxValue fail as the loud " +
    "protocol error, not an overflow-masked index exception") {
    val om = new ObjectMapper()
    // offsets in the FULL encoding: [0-3 outer len][4 type]
    // [5 name 'a'][6 NUL][7-10 inner length int32 LE]
    def corrupt(json: String): Array[Byte] = {
      val b = Bson.encode(om.readTree(json))
      b(7) = 0xF0.toByte; b(8) = 0xFF.toByte
      b(9) = 0xFF.toByte; b(10) = 0x7F.toByte // 0x7FFFFFF0
      b
    }
    for ((json, marker) <- Seq(
      ("""{"a":"hi"}""", "invalid BSON string length"),
      ("""{"a":{"b":1}}""", "invalid embedded document length"),
      ("""{"a":[1]}""", "invalid array document length"))) {
      val ex = intercept[IllegalArgumentException] {
        Bson.read(new java.io.ByteArrayInputStream(corrupt(json)))
      }
      // pre-fix, i + 4 + len wrapped negative, slipped past the Int
      // bound, and died inside String/parse instead of the require
      assert(ex.getMessage.contains(marker), s"$json -> $ex")
    }
  }

  test("embedded-doc length drift is a loud error, not tolerated — " +
    "mutation pin W5: an inner length field LONGER than the actual " +
    "content must throw, or the next element is parsed from garbage") {
    val om = new ObjectMapper()
    // layout: [0-3 outer len][4 0x03]["a" NUL][7-10 inner len]
    // {"b":1} encodes to 16 bytes; claim 18 so the inner doc's NUL
    // lands 2 bytes before the claimed end
    val b = Bson.encode(om.readTree("""{"a":{"b":1},"cc":1}"""))
    b(7) = (b(7) + 2).toByte
    val ex = intercept[IllegalArgumentException] {
      Bson.read(new java.io.ByteArrayInputStream(b))
    }
    assert(ex.getMessage.contains("embedded document length drift"),
      s"got $ex")
  }

  test("streaming face works over the BSON wire") {
    val srv = new TcpMongoServer(Map("marks" -> (1 to 6).map(markDoc)))
    val port = srv.start()
    val ckpt = java.nio.file.Files.createTempDirectory("bson_ckpt").toString
    try {
      val q = spark.readStream.format("graft.sources.MarkSocketDataSource")
        .option("host", "127.0.0.1").option("port", port.toString)
        .option("collection", "marks")
        .option("partitions", "2").option("batch.size", "4")
        .load().select("_id")
        .writeStream.format("memory").queryName("bson_stream")
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try {
        q.processAllAvailable()
        val got = spark.table("bson_stream")
          .collect().map(_.getString(0)).sorted.toSeq
        assert(got == (1 to 6).map(i => f"m-$i%03d"))
      } finally q.stop()
    } finally srv.stop()
  }
}
