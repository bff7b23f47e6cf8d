package graft

import graft.pipelines.MongoMarksPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The connector's OP_MSG wire: real find/getMore command documents
  * over server-side cursors, splitVector range planning, and Catalyst
  * pushdown landing as a genuine Mongo filter document — the closest
  * the connector gets to its production source in a zero-egress
  * sandbox. */
class MongoWireDataSourceSpec extends SparkTestBase {

  private def markDoc(i: Int): TcpMongoServer.Doc = {
    val id = f"m-$i%03d"
    val exec = if (i % 2 == 0) "exec-2" else "exec-1"
    TcpMongoServer.Doc(id, exec,
      s"""{"_id":"$id","provenance":{"analysis":{"execution_id":"$exec"},""" +
        s""""image":{"imageid":"img-$i","slide":"slide-${i % 3}"}}}""")
  }
  private val marks = (1 to 20).map(markDoc)
  private val analyses = Seq(
    TcpMongoServer.Doc("a-001", "exec-1",
      """{"_id":"a-001","analysis":{"execution_id":"exec-1",""" +
        """"algorithm_params":{"image_width":100,"image_height":200,""" +
        """"case_id":"c7"}},"image":{"imageid":"img-1","subject":"s",""" +
        """"study":"st","slide":"slide-0"}}"""),
    TcpMongoServer.Doc("a-002", "exec-2",
      """{"_id":"a-002","analysis":{"execution_id":"exec-2",""" +
        """"algorithm_params":{"image_width":100,"image_height":200,""" +
        """"case_id":"c8"}},"image":{"imageid":"img-2","subject":"s",""" +
        """"study":"st","slide":"slide-1"}}"""))

  private def withServer[A](f: (TcpMongoServer, Int) => A): A = {
    val srv = new TcpMongoServer(Map(
      "marks" -> marks, "analyses" -> analyses))
    val port = srv.start()
    try f(srv, port) finally srv.stop()
  }

  private def read(port: Int): DataFrame =
    spark.read.format("graft.sources.MarkSocketDataSource")
      .option("host", "127.0.0.1").option("port", port.toString)
      .option("collection", "marks")
      .option("partitions", "3").option("batch.size", "4")
      .load()

  test("OP_MSG frame length field agrees with the bytes on the wire — " +
    "mutation pin W6: a drifted length desyncs every later frame on " +
    "the cursor's long-lived socket") {
    import graft.sources.MongoWire
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val body = om.readTree("""{"find":"marks","batchSize":4}""")
    val frame = MongoWire.encodeMsg(7, 0, body)
    // the length field IS the frame's byte count
    val lenField = (frame(0) & 0xFF) | ((frame(1) & 0xFF) << 8) |
      ((frame(2) & 0xFF) << 16) | ((frame(3) & 0xFF) << 24)
    assert(lenField == frame.length,
      s"length field $lenField != frame ${frame.length}")
    // and readMsg round-trips it
    val (reqId, _, back) = MongoWire.readMsg(
      new java.io.ByteArrayInputStream(frame))
    // textual compare: the codec canonicalizes integrals to int64,
    // so 4 comes back a LongNode (IntNode != LongNode under equals)
    assert(reqId == 7 && back.toString == body.toString)
    // a corrupted length field (frame + pad so bytes exist either
    // way) is a LOUD drift error, not a silent desync
    for (delta <- Seq(-1, 1)) {
      val bad = frame.clone() :+ 0x00.toByte
      bad(0) = (bad(0) + delta).toByte
      val ex = intercept[IllegalArgumentException] {
        MongoWire.readMsg(new java.io.ByteArrayInputStream(bad))
      }
      assert(ex.getMessage.contains("frame length drift"), s"got $ex")
    }
  }

  test("full scan over server-side cursors: parity + getMore paging") {
    withServer { (srv, port) =>
      val viaMongo = read(port)
      assert(viaMongo.schema == MongoMarksPipeline.markSchema)
      val viaJson = MongoMarksPipeline.readMarks(spark,
        TcpMongoServer.jsonlFile(marks))
      assert(viaMongo.orderBy("_id").toJSON.collect().toSeq ==
        viaJson.orderBy("_id").toJSON.collect().toSeq)
      // ranges planned via the real splitVector command, and at least
      // one range was deep enough to need a getMore continuation
      assert(srv.requests.asScala.exists(_.contains("splitVector")))
      assert(srv.requests.asScala.exists(_.contains("getMore")),
        "no getMore issued: cursor paging untested")
    }
  }

  test("analyses exec-id pushdown targets the collection's OWN " +
    "dotted path — the marks path would match no analyses document") {
    withServer { (srv, port) =>
      // the test server is mongod-faithful (a filter on the wrong
      // collection's exec-id path matches nothing), so this pins the
      // connector emitting analysis.execution_id, not the marks path
      val df = spark.read.format("graft.sources.MarkSocketDataSource")
        .option("host", "127.0.0.1").option("port", port.toString)
        .option("collection", "analyses")
        .option("partitions", "1").option("batch.size", "4")
        .load()
        .filter(col("analysis.execution_id") === "exec-1")
      assert(df.count() == 1)
      assert(df.select("analysis.algorithm_params.case_id")
        .collect().head.getString(0) == "c7")
      assert(srv.requests.asScala.exists(r =>
        r.contains(""""analysis.execution_id":{"$in":["exec-1"]}""")),
        s"filter did not land on the analyses path: " +
          srv.requests.asScala.filter(_.contains("find")).mkString("\n"))
    }
  }

  test("pushdown lands as a real Mongo filter document") {
    withServer { (srv, port) =>
      val df = read(port)
        .filter(col("_id") >= "m-010")
        .filter(col("provenance.analysis.execution_id").isin("exec-1"))
      val ids = df.select("_id").collect().map(_.getString(0)).sorted
      assert(ids.toSeq == marks
        .filter(d => d.id >= "m-010" && d.execId == "exec-1").map(_.id))
      assert(srv.requests.asScala.exists(r =>
        r.contains(""""$gte":"m-010"""") &&
          r.contains(""""$in":["exec-1"]""")),
        s"filter doc missing pushdown: ${srv.requests.asScala
          .filter(_.contains("find")).take(3)}")
    }
  }

  test("column pruning travels as a find projection document") {
    withServer { (srv, port) =>
      val df = read(port).select("_id")
      val scanSchema = df.queryExecution.executedPlan.collectLeaves()
        .head.schema
      assert(scanSchema.fieldNames.toSeq == Seq("_id"))
      assert(df.collect().map(_.getString(0)).sorted.toSeq ==
        marks.map(_.id))
      // the wire request itself carries the projection - on this wire
      // pruning saves bytes on the socket, not just row width
      assert(srv.requests.asScala.exists(
        _.contains(""""projection":{"_id":1}""")),
        s"projection missing: ${srv.requests.asScala
          .filter(_.contains("find")).take(3)}")
    }
  }

  test("streaming over the mongo wire: max-id probe + windowed batches") {
    val srv = new TcpMongoServer(Map("marks" -> (1 to 6).map(markDoc)))
    val port = srv.start()
    val ckpt = java.nio.file.Files.createTempDirectory("mg_ckpt").toString
    try {
      val q = spark.readStream.format("graft.sources.MarkSocketDataSource")
        .option("host", "127.0.0.1").option("port", port.toString)
        .option("collection", "marks")
        .option("partitions", "2").option("batch.size", "4")
        .load().select("_id")
        .writeStream.format("memory").queryName("mongo_stream")
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try {
        q.processAllAvailable()
        val got = spark.table("mongo_stream")
          .collect().map(_.getString(0)).sorted.toSeq
        assert(got == (1 to 6).map(i => f"m-$i%03d"))
        // the latestOffset probe is a descending find, limit 1
        assert(srv.requests.asScala.exists(r =>
          r.contains(""""_id":-1""") && r.contains(""""limit":1""")))
      } finally q.stop()
    } finally srv.stop()
  }
}
