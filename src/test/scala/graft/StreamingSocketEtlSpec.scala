package graft

import graft.streaming.StreamingTtlEtl
import java.nio.file.{Files, Path}
import java.util.zip.GZIPInputStream
import scala.jdk.CollectionConverters._

/** The whole reference flow, live, end to end: an OP_MSG mark store
  * streamed through the DSv2 connector (cursor micro-batches, _id
  * high-water offsets) into the marks→TTL pipeline with batch-id-keyed
  * output files and ledger rows — the cursor loop (T1) + checkpoint
  * (T2) + batched sink (K3) composition the reference runs as one
  * process, here as one streaming query over a live socket. */
class StreamingSocketEtlSpec extends SparkTestBase {
  import spark.implicits._

  private def markDoc(i: Int): TcpMongoServer.Doc = {
    val id = f"m-$i%03d"
    TcpMongoServer.Doc(id, "exec-a",
      s"""{"_id":"$id","provenance":{"analysis":{"execution_id":"exec-a"},""" +
        s""""image":{"imageid":"img-1","slide":"slide-0"}},""" +
        s""""geometries":{"features":[{"geometry":{"type":"Polygon",""" +
        s""""coordinates":[[[0.1,0.2],[0.3,0.2],[0.3,0.4]]]},""" +
        s""""properties":{"footprint":1.5,"nucleustype":"a.b.c"}}]}}}""")
  }

  private val analysisJson =
    """{"_id":"a-001","analysis":{"execution_id":"exec-a",""" +
      """"algorithm_params":{"image_width":1000,"image_height":2000,""" +
      """"case_id":"c"}},"image":{"imageid":"img-1","subject":"s",""" +
      """"study":"st","slide":"slide-0"}}"""

  private def gunzip(p: Path): String =
    new String(new GZIPInputStream(
      Files.newInputStream(p)).readAllBytes(), "UTF-8")

  test("live socket stream -> batched TTL files with ledger rows") {
    val srv = new TcpMongoServer(Map("marks" -> (1 to 3).map(markDoc)))
    val port = srv.start()
    val out = Files.createTempDirectory("setl_out")
    val ledger = Files.createTempDirectory("setl_ledger").toString
    val ckpt = Files.createTempDirectory("setl_ckpt").toString
    try {
      val markStream = spark.readStream
        .format("graft.sources.MarkSocketDataSource")
        .option("host", "127.0.0.1").option("port", port.toString)
        .option("collection", "marks")
        .option("partitions", "2").option("batch.size", "2")
        .load()
      val analyses = graft.pipelines.MongoMarksPipeline.readAnalyses(
        spark, {
          val f = Files.createTempFile("analyses", ".jsonl")
          Files.writeString(f, analysisJson)
          f.toString
        })
      val hashes = Seq(("slide-0", "ab" * 32)).toDF("slide", "real_hash")

      val q = StreamingTtlEtl.start(markStream, analyses, hashes,
        out.toString, ledger, ckpt, batchSize = 2)
      try {
        q.processAllAvailable()
        def files() = Files.walk(out).iterator().asScala
          .filter(Files.isRegularFile(_))
          .map(p => out.relativize(p).toString).toList.sorted
        // first micro-batch: 3 marks at batchSize 2 → two batch files
        val first = files()
        assert(first.exists(_.startsWith("mb000000/exec-a/img-1/")),
          first.toString)
        assert(first.count(_.endsWith(".ttl.gz")) == 2, first.toString)

        // new marks over the wire → a SECOND micro-batch directory,
        // first batch untouched
        srv.add("marks", markDoc(4), markDoc(5))
        q.processAllAvailable()
        val second = files()
        assert(second.size > first.size, second.toString)
        assert(second.exists(_.startsWith("mb000001/")), second.toString)
        assert(first.forall(second.contains), "first batch was disturbed")

        // content sanity: real pipeline output, ring-closed WKT
        val sample = gunzip(out.resolve(
          second.find(_.endsWith(".ttl.gz")).get))
        assert(sample.contains("POLYGON ((") &&
          sample.contains("hal:executionId \"exec-a\""))
        // ledger carries one row per micro-batch
        val led = spark.read.parquet(ledger)
          .select("key").collect().map(_.getString(0)).sorted
        assert(led.toSeq == Seq("mb000000", "mb000001"), led.mkString(","))
      } finally q.stop()
      graft.operators.Broadcasting.releaseAll()
    } finally srv.stop()
  }
}
