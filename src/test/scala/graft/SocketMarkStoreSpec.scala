package graft

import graft.pipelines.MongoMarksPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The live socket mark store — `MarkSocketDataSource` over the OP_MSG
  * wire — used the way the marks pipeline queries its store: a
  * start-from and an execution-id filter on the scan, answered
  * server-side, with a severed page failing loudly (COVERAGE S6;
  * reference mongo-etl/mongodb_to_rdf.py:499-515). */
class SocketMarkStoreSpec extends SparkTestBase {

  private def markDoc(i: Int): TcpMongoServer.Doc = {
    val id = f"m-$i%03d"
    val exec = if (i % 2 == 0) "exec-2" else "exec-1"
    TcpMongoServer.Doc(id, exec,
      s"""{"_id":"$id","provenance":{"analysis":{"execution_id":"$exec"},""" +
        s""""image":{"imageid":"img-$i","slide":"slide-${i % 3}"}}}""")
  }
  private val marks = (1 to 20).map(markDoc)
  private val analyses = Seq(TcpMongoServer.Doc("a-001", "exec-1",
    """{"_id":"a-001","analysis":{"execution_id":"exec-1",""" +
      """"algorithm_params":{"image_width":100,"image_height":200,""" +
      """"case_id":"case-7"}},"image":{"imageid":"img-1",""" +
      """"subject":"s","study":"st","slide":"slide-0"}}"""))

  private def withServer[A](f: (TcpMongoServer, Int) => A): A = {
    val srv = new TcpMongoServer(Map("marks" -> marks,
      "analyses" -> analyses))
    val port = srv.start()
    try f(srv, port) finally srv.stop()
  }

  private def store(port: Int, collection: String = "marks",
    batchSize: Int = 4): DataFrame =
    spark.read.format("graft.sources.MarkSocketDataSource")
      .option("host", "127.0.0.1").option("port", port.toString)
      .option("collection", collection)
      .option("partitions", "3").option("batch.size", batchSize.toString)
      .load()

  /** The pipeline's two store filters, as DataFrame predicates. */
  private def query(df: DataFrame, startFromId: Option[String],
    executionIds: Option[Seq[String]]): DataFrame = {
    val from = startFromId.fold(df)(id => df.filter(col("_id") >= id))
    executionIds.fold(from)(ids => from.filter(
      col("provenance.analysis.execution_id").isin(ids: _*)))
  }

  test("a severed connection mid-page fails the read, never truncates") {
    withServer { (srv, port) =>
      srv.severMidPage = true
      // the task must THROW, for a filtered read as for a full one: a
      // truncated page read as a short final page would be data loss
      val ex = intercept[Exception] {
        query(store(port), Some("m-005"), Some(Seq("exec-1")))
          .select("_id").collect()
      }
      def hasEof(t: Throwable): Boolean =
        t != null && (t.isInstanceOf[java.io.IOException] ||
          hasEof(t.getCause))
      assert(hasEof(ex), s"expected severed-page IOException, got $ex")
      // and the FAILED tasks released their sockets (the first page
      // fails inside the cursor's construction, which must close too)
      val deadline = System.currentTimeMillis() + 5000
      while (srv.active.get() > 0 &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(srv.active.get() == 0,
        s"${srv.active.get()} connections leaked after failed read")
    }
  }

  test("pushdown travels in the request and filters server-side") {
    withServer { (srv, port) =>
      val from = query(store(port), Some("m-010"), None)
      // no engine-side Filter: the server alone drops the rows below
      val plan = from.queryExecution.executedPlan.toString
      assert(!plan.contains("Filter ("), s"start-from re-filtered:\n$plan")
      val fromIds = from.select("_id").collect().map(_.getString(0)).sorted
      assert(fromIds.toSeq == marks.map(_.id).filter(_ >= "m-010"))
      assert(srv.requests.asScala.exists(r =>
        r.startsWith("{\"find\"") && r.contains("\"$gte\":\"m-010\"")))

      val exec1 = query(store(port), None, Some(Seq("exec-1")))
      assert(exec1.select("provenance.analysis.execution_id").distinct()
        .collect().map(_.getString(0)).toSeq == Seq("exec-1"))
      assert(exec1.count() == marks.count(_.execId == "exec-1"))
      assert(srv.requests.asScala.exists(_.contains(
        "\"provenance.analysis.execution_id\":{\"$in\":[\"exec-1\"]}")))

      val analysesExec1 = store(port, "analyses")
        .filter(col("analysis.execution_id").isin("exec-1"))
      assert(analysesExec1.schema == MongoMarksPipeline.analysisSchema)
      assert(analysesExec1.select("analysis.algorithm_params.case_id")
        .collect().map(_.getString(0)).toSeq == Seq("case-7"))
    }
  }

  test("the pipeline's query path runs unchanged over the live store") {
    withServer { (_, port) =>
      // the same query over the offline reader and the live store,
      // at a batch size that splits every range across pages
      val offline = MongoMarksPipeline.readMarks(spark,
        TcpMongoServer.jsonlFile(marks))
      val live = store(port, batchSize = 7)
      assert(live.schema == offline.schema)
      def ids(df: DataFrame) =
        query(df, Some("m-005"), Some(Seq("exec-1")))
          .select("_id").collect().map(_.getString(0)).sorted.toSeq
      val got = ids(live)
      assert(got == ids(offline))
      assert(got ==
        marks.filter(d => d.id >= "m-005" && d.execId == "exec-1").map(_.id))
    }
  }
}
