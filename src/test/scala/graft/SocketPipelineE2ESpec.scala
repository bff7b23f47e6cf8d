package graft

import graft.pipelines.{MongoMarksPipeline, TtlFileSink}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import java.util.zip.GZIPInputStream
import scala.jdk.CollectionConverters._

/** End-to-end composition of the LIVE socket store with the marks
  * pipeline: the same documents served over the OP_MSG wire (through
  * the DSv2 connector) and read from offline JSONL must produce
  * BYTE-identical TTL batch files through `MongoMarksPipeline.documents`
  * + `TtlFileSink`. This closes the seam between the proven connector
  * (`MarkSocketDataSourceSpec`) and the proven pipeline goldens
  * (`MongoMarksPipelineSpec`): the live store swaps in for the offline
  * reader with zero pipeline changes (reference flow
  * mongo-etl/mongodb_to_rdf.py:466-655).
  */
class SocketPipelineE2ESpec extends SparkTestBase {
  import spark.implicits._

  // --- fixture corpus: 2 analyses x marks with real geometry ---

  private def markJson(i: Int): String = {
    val id = f"m-$i%03d"
    val exec = if (i % 2 == 0) "exec-b" else "exec-a"
    val img = if (i % 2 == 0) "img-2" else "img-1"
    val x0 = 0.1 + (i % 5) * 0.01
    val y0 = 0.2 + (i % 7) * 0.01
    // open ring: the pipeline's string-level ring closure must fire
    s"""{"_id":"$id","provenance":{"analysis":{"execution_id":"$exec"},""" +
      s""""image":{"imageid":"$img","slide":"slide-${i % 3}"}},""" +
      s""""geometries":{"features":[{"geometry":{"type":"Polygon",""" +
      s""""coordinates":[[[$x0,$y0],[${x0 + 0.02},$y0],""" +
      s"""[${x0 + 0.02},${y0 + 0.03}]]]},"properties":{"footprint":${i * 1.5},""" +
      s""""nucleustype":"a.b.c"}}]},"userUpdate":{"mark":{"annotation":""" +
      s"""[{"annotationID":"http://snomed.info/id/$i"}]}}}"""
  }

  private def analysisJson(exec: String, img: String, aid: String): String =
    s"""{"_id":"$aid","analysis":{"execution_id":"$exec",""" +
      s""""algorithm_params":{"image_width":1000,"image_height":2000,""" +
      s""""case_id":"case-$exec"}},"image":{"imageid":"$img",""" +
      s""""subject":"subj","study":"st1","slide":"slide-0"}}"""

  private val markLines = (1 to 9).map(markJson)
  private val analysisLines = Seq(
    analysisJson("exec-a", "img-1", "a-001"),
    analysisJson("exec-b", "img-2", "a-002"))

  private def serverDocs(lines: Seq[String], execOf: String => String) =
    lines.map { l =>
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(l)
      TcpMongoServer.Doc(node.get("_id").asText(),
        execOf(l), l)
    }

  private def execOfMark(l: String): String =
    if (l.contains("\"execution_id\":\"exec-b\"")) "exec-b" else "exec-a"

  private def serve(): TcpMongoServer = new TcpMongoServer(Map(
    "marks" -> serverDocs(markLines, execOfMark),
    "analyses" -> serverDocs(analysisLines,
      l => if (l.contains("exec-b")) "exec-b" else "exec-a")))

  private def live(port: Int, collection: String, partitions: Int,
    batchSize: Int): DataFrame =
    spark.read.format("graft.sources.MarkSocketDataSource")
      .option("host", "127.0.0.1").option("port", port.toString)
      .option("collection", collection)
      .option("partitions", partitions.toString)
      .option("batch.size", batchSize.toString)
      .load()

  private def gunzip(p: Path): String =
    new String(new GZIPInputStream(
      Files.newInputStream(p)).readAllBytes(), "UTF-8")

  private def treeFiles(root: Path): Map[String, Array[Byte]] =
    Files.walk(root).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p))
      .toMap

  test("socket store and jsonl store yield byte-identical batch files") {
    // offline side: same lines as files
    val dir = Files.createTempDirectory("e2e_jsonl")
    val marksPath = dir.resolve("marks.jsonl")
    val analysesPath = dir.resolve("analyses.jsonl")
    Files.write(marksPath, markLines.mkString("\n").getBytes("UTF-8"))
    Files.write(analysesPath, analysisLines.mkString("\n").getBytes("UTF-8"))

    // live side: same lines behind the OP_MSG wire
    val srv = serve()
    val port = srv.start()
    try {
      val slideHashes = Seq(("slide-0", "deadbeef" * 8))
        .toDF("slide", "real_hash")

      // batchSize 4 forces multiple batch files per (exec, image)
      def run(marks: DataFrame, analyses: DataFrame, out: Path): Unit = {
        val docs = MongoMarksPipeline.documents(marks, analyses,
          slideHashes, batchSize = 4)
        TtlFileSink.write(docs, out.toString)
        graft.operators.Broadcasting.releaseAll()
      }

      val outSocket = Files.createTempDirectory("e2e_out_socket")
      val outJsonl = Files.createTempDirectory("e2e_out_jsonl")
      run(live(port, "marks", 3, 4), live(port, "analyses", 3, 4),
        outSocket)
      run(MongoMarksPipeline.readMarks(spark, marksPath.toString),
        MongoMarksPipeline.readAnalyses(spark, analysesPath.toString),
        outJsonl)

      val a = treeFiles(outSocket)
      val b = treeFiles(outJsonl)
      assert(a.keySet == b.keySet,
        s"file trees differ: ${a.keySet} vs ${b.keySet}")
      assert(a.nonEmpty, "pipeline produced no batch files")
      // gzip output embeds no timestamps (TtlFileSink is deterministic),
      // so compare raw bytes; fall back to content diff for a readable
      // failure if the sink ever loses that property
      a.keys.foreach { k =>
        if (!java.util.Arrays.equals(a(k), b(k))) {
          val (ca, cb) = (gunzip(outSocket.resolve(k)),
            gunzip(outJsonl.resolve(k)))
          assert(ca == cb, s"$k: content differs")
          fail(s"$k: identical TTL but different gzip bytes — " +
            "TtlFileSink stopped being deterministic")
        }
      }
      // sanity: both saw the multi-batch layout and the ring closure
      val multi = a.keys.filter(_.endsWith(".ttl.gz"))
      assert(multi.exists(_.contains("batch_000002")),
        s"expected a second batch file, got ${a.keys}")
      val sample = gunzip(outSocket.resolve(multi.head))
      assert(sample.contains("POLYGON (("))
      assert(sample.contains("hal:hasAnnotation <http://snomed.info/id/"))
    } finally srv.stop()
  }

  test("pushdown composes: start_from + execution_ids reach the pipeline") {
    val srv = serve()
    val port = srv.start()
    try {
      val marks = live(port, "marks", 2, 3)
        .filter(col("_id") >= "m-003")
        .filter(col("provenance.analysis.execution_id").isin("exec-a"))
      val docs = MongoMarksPipeline.documents(marks,
        live(port, "analyses", 2, 3), Seq.empty[(String, String)]
          .toDF("slide", "real_hash"), batchSize = 100)
      val rows = docs.collect()
      graft.operators.Broadcasting.releaseAll()
      // exec-a marks >= m-003: m-003 m-005 m-007 m-009 → one batch
      assert(rows.length == 1)
      val ttl = rows.head.getAs[String]("ttl")
      assert(Seq("m-003", "m-005", "m-007", "m-009")
        .forall(ttl.contains), ttl.take(400))
      assert(!ttl.contains("m-001") && !ttl.contains("m-002"))
      // the filter crossed the wire, not ran client-side
      assert(srv.requests.asScala
        .exists(r => r.contains("\"$gte\":\"m-003\"") &&
          r.contains("\"$in\":[\"exec-a\"]")))
    } finally srv.stop()
  }
}
