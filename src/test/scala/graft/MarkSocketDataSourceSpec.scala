package graft

import graft.pipelines.MongoMarksPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The DSv2 connector over the OP_MSG mark-store wire: Catalyst
  * itself plans the pushdown (`PushedFilters` in the scan), predicates
  * travel server-side in the find filter document, every id range
  * drains its own cursor over its own connection, and rows parse to
  * the exact frames the offline JSONL reader produces. */
class MarkSocketDataSourceSpec extends SparkTestBase {

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
  private val analyses = Seq(TcpMongoServer.Doc("a-001", "exec-1",
    """{"_id":"a-001","analysis":{"execution_id":"exec-1",""" +
      """"algorithm_params":{"image_width":100,"image_height":200,""" +
      """"case_id":"c7"}},"image":{"imageid":"img-1","subject":"s",""" +
      """"study":"st","slide":"slide-0"}}"""))

  private def withServer[A](f: (TcpMongoServer, Int) => A): A = {
    val srv = new TcpMongoServer(Map(
      "marks" -> marks, "analyses" -> analyses))
    val port = srv.start()
    try f(srv, port) finally srv.stop()
  }

  private def read(port: Int, collection: String = "marks",
    extra: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("graft.sources.MarkSocketDataSource")
      .option("host", "127.0.0.1").option("port", port.toString)
      .option("collection", collection)
      .option("partitions", "3").option("batch.size", "4")
      .options(extra)
      .load()

  private def finds(srv: TcpMongoServer): Seq[String] =
    srv.requests.asScala.toSeq.filter(_.startsWith("{\"find\""))

  private def hasCause(t: Throwable)(p: Throwable => Boolean): Boolean =
    t != null && (p(t) || hasCause(t.getCause)(p))

  private def awaitNoneActive(srv: TcpMongoServer): Unit = {
    // reader.close() fires on task end; the server observes the socket
    // close asynchronously — poll briefly
    val deadline = System.currentTimeMillis() + 5000
    while (srv.active.get() > 0 &&
      System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  test("full scan parses to the same rows as the proven jsonl path") {
    withServer { (srv, port) =>
      val viaDsv2 = read(port)
      assert(viaDsv2.schema == MongoMarksPipeline.markSchema)
      // parity frame: the same documents through the offline reader
      val viaJson = MongoMarksPipeline.readMarks(spark,
        TcpMongoServer.jsonlFile(marks))
      assert(viaJson.schema == viaDsv2.schema)
      val a = viaDsv2.orderBy("_id").toJSON.collect().toSeq
      val b = viaJson.orderBy("_id").toJSON.collect().toSeq
      assert(a == b, s"row parity broke:\n${a.take(2)}\nvs\n${b.take(2)}")
      // splits happen ON THE DRIVER, once per scan planning (AQE may
      // re-plan); find connections fan out per range partition
      val splitsCalls =
        srv.requests.asScala.count(_.contains("\"splitVector\""))
      assert(splitsCalls >= 1 && splitsCalls <= 3, s"$splitsCalls")
      assert(srv.connections.get() >= 4)
    }
  }

  test("one connection per partition: the getMores ride their range's socket") {
    withServer { (srv, port) =>
      assert(read(port).select("_id").collect().length == marks.size)
      val reqs = srv.requests.asScala.toSeq
      val splits = reqs.count(_.startsWith("{\"splitVector\""))
      // 20 docs at partitions=3 → 2 split keys → 3 ranges
      assert(finds(srv).size == 3, finds(srv).mkString("\n"))
      // each driver command and each range reader opens exactly one
      // socket; the getMores ride their range's socket (the server
      // keeps cursors per connection, so any other socket would be
      // answered with CursorNotFound and fail the task)
      assert(srv.connections.get() == splits + 3,
        s"${srv.connections.get()} connections for $splits splitVector " +
          "calls and 3 ranges")
      assert(reqs.exists(_.startsWith("{\"getMore\"")))
    }
  }

  test("cursor paging: every find and getMore asks for batch.size") {
    withServer { (srv, port) =>
      assert(read(port).count() == marks.size)
      val getMores =
        srv.requests.asScala.toSeq.filter(_.startsWith("{\"getMore\""))
      // ranges of 6, 7 and 7 docs at batch.size 4: each needs a getMore
      assert(getMores.size >= 3, s"expected >= 3 getMores, saw $getMores")
      val pages = finds(srv) ++ getMores
      assert(pages.forall(_.contains("\"batchSize\":4")), pages.mkString("\n"))
    }
  }

  test("a frame severed mid-page fails the task, never truncates") {
    withServer { (srv, port) =>
      srv.severMidPage = true
      // the task must THROW: a silent partial read would look like a
      // short final batch, i.e. data loss
      val ex = intercept[Exception] {
        read(port).select("_id").collect()
      }
      assert(hasCause(ex)(_.isInstanceOf[java.io.EOFException]),
        s"expected a truncated-frame EOFException, got $ex")
      // and the FAILED tasks released their sockets (the first page
      // fails inside the cursor's construction, which must close too)
      awaitNoneActive(srv)
      assert(srv.active.get() == 0,
        s"${srv.active.get()} connections leaked after failed read")
    }
  }

  test("partitions or batch.size below 1 fails at scan build, before any connection") {
    val srv = new TcpMongoServer(Map.empty)
    val port = srv.start()
    try {
      for (k <- Seq("partitions", "batch.size"); v <- Seq("0", "-1")) {
        val ex = intercept[Exception] {
          read(port, extra = Map(k -> v)).queryExecution.executedPlan
        }
        assert(hasCause(ex)(t => t.isInstanceOf[IllegalArgumentException] &&
          t.getMessage.contains(s"$k must be >= 1")), s"$k=$v: $ex")
      }
      assert(srv.connections.get() == 0, srv.requests.asScala.mkString("\n"))
    } finally srv.stop()
  }

  test("a missing host or an unknown collection fails loudly") {
    val noHost = intercept[IllegalArgumentException] {
      spark.read.format("graft.sources.MarkSocketDataSource")
        .option("port", "1").load().queryExecution.executedPlan
    }
    assert(noHost.getMessage.contains("missing option 'host'"))
    val badColl = intercept[IllegalArgumentException] {
      read(1, collection = "images")
    }
    assert(badColl.getMessage.contains("unknown collection 'images'"))
  }

  test("_id >= pushes as start_from: PushedFilters + wire + no re-filter") {
    withServer { (srv, port) =>
      val df = read(port).filter(col("_id") >= "m-010")
      val plan = df.queryExecution.executedPlan.toString
      // the scan description carries the absorbed predicate...
      assert(plan.contains("start_from=m-010"),
        s"pushdown missing from scan:\n$plan")
      // ...and NOTHING re-runs engine-side: the plan is a bare
      // Project + BatchScan, no post-scan Filter node at all
      assert(!plan.contains("Filter (") && !plan.contains("isnotnull"),
        s"accepted filter still evaluated post-scan:\n$plan")
      val ids = df.select("_id").collect().map(_.getString(0)).sorted
      assert(ids.toSeq == marks.map(_.id).filter(_ >= "m-010"))
      assert(finds(srv).exists(_.contains("\"$gte\":\"m-010\"")))
    }
  }

  test("non-ASCII _id bound is NOT pushed — collation mismatch stays residual") {
    withServer { (srv, port) =>
      // Catalyst compares UTF8String (UTF-8 byte order), the server
      // compares Java Strings (UTF-16 order); only all-ASCII bounds
      // provably agree. A non-ASCII bound must stay engine-side.
      val bound = "m-01é"
      val df = read(port).filter(col("_id") >= bound)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("start_from"),
        s"non-ASCII bound leaked into the wire request:\n$plan")
      val got = df.select("_id").collect().map(_.getString(0)).sorted
      // BMP chars: UTF-8 and UTF-16 orders agree, so Java ordering
      // predicts Catalyst's residual-filter result
      assert(got.toSeq == marks.map(_.id).filter(_ >= bound))
      assert(finds(srv).nonEmpty && finds(srv).forall(!_.contains(bound)),
        "a find carried a bound it must not")
    }
  }

  test("early-terminated scan closes its per-partition connections") {
    withServer { (srv, port) =>
      assert(read(port).limit(1).collect().length == 1)
      awaitNoneActive(srv)
      assert(srv.active.get() == 0,
        s"${srv.active.get()} connections leaked after limit(1)")
    }
  }

  test("nested execution_id IN pushes as execution_ids") {
    withServer { (srv, port) =>
      val df = read(port)
        .filter(col("provenance.analysis.execution_id").isin("exec-1"))
      val n = df.count()
      assert(n == marks.count(_.execId == "exec-1"))
      assert(finds(srv).exists(_.contains(
        "\"provenance.analysis.execution_id\":{\"$in\":[\"exec-1\"]}")),
        s"exec-id predicate did not cross the wire: ${finds(srv).take(3)}")
    }
  }

  test("two _id lower bounds fold to the STRONGEST (max) — mutation " +
    "pin W11: folding to the min silently returns extra rows because " +
    "both filters left the residual") {
    withServer { (srv, port) =>
      val df = read(port)
        .filter(col("_id") >= "m-003").filter(col("_id") >= "m-005")
      val got = df.select("_id").collect().map(_.getString(0)).sorted
      assert(got.toSeq == marks.filter(_.id >= "m-005").map(_.id))
      assert(finds(srv).exists(_.contains("\"$gte\":\"m-005\"")),
        s"strongest bound did not cross the wire: ${finds(srv).take(3)}")
    }
  }

  test("multi-value execution_id IN is APPLIED, not just absorbed — " +
    "mutation pin W12: an In absorbed out of the residual but never " +
    "recorded for the reader returns every row") {
    withServer { (srv, port) =>
      val df = read(port).filter(
        col("provenance.analysis.execution_id").isin("exec-1", "exec-3"))
      val got = df.select("_id").collect().map(_.getString(0)).sorted
      assert(got.toSeq == marks.filter(_.execId == "exec-1").map(_.id))
      assert(finds(srv).exists(r =>
        r.contains("$in") && r.contains("exec-1") && r.contains("exec-3")),
        s"IN predicate did not cross the wire: ${finds(srv).take(3)}")
    }
  }

  test("combined pushdown + residual predicate stays with Catalyst") {
    withServer { (srv, port) =>
      val df = read(port)
        .filter(col("_id") >= "m-005")
        .filter(col("provenance.image.slide") === "slide-1")
      val got = df.select("_id").collect().map(_.getString(0)).sorted
      val want = marks.filter(d => d.id >= "m-005" &&
        (d.id.drop(2).toInt % 3) == 1).map(_.id)
      assert(got.toSeq == want)
      assert(finds(srv).exists(_.contains("\"$gte\":\"m-005\"")))
      // slide predicate is NOT pushable: must remain residual
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("slide"), s"residual filter vanished:\n$plan")
    }
  }

  test("column pruning reaches the scan") {
    withServer { (_, port) =>
      val df = read(port).select("_id")
      val scanSchema = df.queryExecution.executedPlan.collectLeaves()
        .head.schema
      assert(scanSchema.fieldNames.toSeq == Seq("_id"),
        s"scan still reads ${scanSchema.fieldNames.mkString(",")}")
      assert(df.collect().map(_.getString(0)).sorted.toSeq ==
        marks.map(_.id))
    }
  }

  test("analyses collection with its own schema and exec-id path") {
    withServer { (srv, port) =>
      val df = read(port, "analyses")
        .filter(col("analysis.execution_id") === "exec-1")
      assert(df.schema == MongoMarksPipeline.analysisSchema)
      assert(MongoMarksPipeline.readAnalyses(spark,
        TcpMongoServer.jsonlFile(analyses)).schema == df.schema)
      assert(df.count() == 1)
      assert(df.select("analysis.algorithm_params.case_id")
        .collect().head.getString(0) == "c7")
      assert(finds(srv).exists(_.contains(
        "\"analysis.execution_id\":{\"$in\":[\"exec-1\"]}")))
    }
  }

  test("connector frames join with the pipeline exactly like the store's") {
    withServer { (_, port) =>
      import spark.implicits._
      val hashes = Seq.empty[(String, String)].toDF("slide", "real_hash")
      def out(m: DataFrame, a: DataFrame): Seq[String] = {
        val d = MongoMarksPipeline.documents(m, a, hashes, batchSize = 5)
          .orderBy("rel_path").select("rel_path", "ttl")
          .collect().map(r => r.getString(0) + "\u0000" + r.getString(1)).toSeq
        graft.operators.Broadcasting.releaseAll()
        d
      }
      // the offline store: the same documents as JSONL files
      val viaStore = out(
        MongoMarksPipeline.readMarks(spark, TcpMongoServer.jsonlFile(marks)),
        MongoMarksPipeline.readAnalyses(spark,
          TcpMongoServer.jsonlFile(analyses)))
      val viaDsv2 = out(read(port), read(port, "analyses"))
      assert(viaDsv2 == viaStore)
      assert(viaDsv2.nonEmpty)
    }
  }
}
