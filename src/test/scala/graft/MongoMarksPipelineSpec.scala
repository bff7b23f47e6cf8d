package graft

import graft.expressions.RingWkt
import graft.functions.GeomFunctions
import graft.operators.Broadcasting
import graft.pipelines.{MongoMarksPipeline, TtlFileSink}
import org.apache.spark.sql.catalyst.expressions.{FormatString, Literal}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPInputStream

/** Golden test vs. the reference's mongodb_to_rdf batch output
  * (BATCH_SIZE=2 emulation; fully deterministic — no timestamp). The
  * golden run had no resolvable slide hash (slide ids must be int-able
  * for the reference's Drupal fetch), so hash_missing=true + fallback
  * sha256(imageid) — the engine reproduces that with an empty lookup. */
class MongoMarksPipelineSpec extends SparkTestBase
  with AdaptiveSparkPlanHelper {
  private val fx = "src/test/resources/fixtures/mongo"
  private def golden(b: Int): String =
    new String(Files.readAllBytes(Paths.get(
      f"src/test/resources/golden/mongo_batch_$b%06d.ttl")), "UTF-8")

  private def emptyHashes = {
    import spark.implicits._
    Seq.empty[(String, String)].toDF("slide", "real_hash")
  }

  private lazy val docs = MongoMarksPipeline.documents(
    MongoMarksPipeline.readMarks(spark, s"$fx/marks.jsonl"),
    MongoMarksPipeline.readAnalyses(spark, s"$fx/analyses.jsonl"),
    emptyHashes, batchSize = 2).collect()
    .map(r => r.getAs[String]("rel_path") ->
      (r.getAs[String]("ttl"), r.getAs[Long]("n_marks"))).toMap

  test("batch documents match reference output byte-for-byte") {
    assert(docs.keySet == Set(
      "exec-1/img-1/batch_000001.ttl.gz", "exec-1/img-1/batch_000002.ttl.gz"))
    for (b <- 1 to 2) {
      val (ttl, _) = docs(f"exec-1/img-1/batch_$b%06d.ttl.gz")
      assert(ttl == golden(b), {
        val a = ttl.linesIterator.toSeq
        val g = golden(b).linesIterator.toSeq
        s"batch $b first diff: ${
          a.zipAll(g, "<EOF>", "<EOF>").find(p => p._1 != p._2)}"
      })
    }
  }

  test("batch sizes: 2 + 1 (invalid Point mark dropped)") {
    assert(docs("exec-1/img-1/batch_000001.ttl.gz")._2 == 2L)
    assert(docs("exec-1/img-1/batch_000002.ttl.gz")._2 == 1L)
  }

  test("slide-hash enrichment: resolved hash clears hashMissing") {
    import spark.implicits._
    val hashes = Seq(("slide-42", "a" * 64)).toDF("slide", "real_hash")
    val enriched = MongoMarksPipeline.documents(
      MongoMarksPipeline.readMarks(spark, s"$fx/marks.jsonl"),
      MongoMarksPipeline.readAnalyses(spark, s"$fx/analyses.jsonl"),
      hashes, batchSize = 2).collect()
    val ttl = enriched.head.getAs[String]("ttl")
    assert(ttl.contains("<urn:sha256:" + "a" * 64 + ">"))
    assert(!ttl.contains("hal:hashMissing"))
  }

  test("TtlFileSink writes gzip files, atomic, skip-if-exists") {
    val tmp = Files.createTempDirectory("ttlsink").toString
    val df = MongoMarksPipeline.documents(
      MongoMarksPipeline.readMarks(spark, s"$fx/marks.jsonl"),
      MongoMarksPipeline.readAnalyses(spark, s"$fx/analyses.jsonl"),
      emptyHashes, batchSize = 2)
    TtlFileSink.write(df, tmp)
    val p = Paths.get(tmp, "exec-1/img-1/batch_000001.ttl.gz")
    assert(Files.exists(p))
    val content = new String(
      new GZIPInputStream(Files.newInputStream(p)).readAllBytes(), "UTF-8")
    assert(content == golden(1))
    // skip-if-exists: overwrite the file, re-run with skipExisting
    Files.writeString(Paths.get(tmp, "exec-1/img-1/batch_000002.ttl.gz"),
      "sentinel")
    TtlFileSink.write(df, tmp, skipExisting = true)
    assert(Files.readString(
      Paths.get(tmp, "exec-1/img-1/batch_000002.ttl.gz")) == "sentinel")
  }

  test("TtlFileSink's Hadoop path works end-to-end (driven via file:/)") {
    // writeHadoop is the HDFS/S3A code path; drive it through a file:
    // URI so its FileSystem/FileContext mechanics are exercised (the
    // public write() routes local schemes to the java.nio fast path).
    val tmp = Files.createTempDirectory("ttlsink_uri")
    val df = MongoMarksPipeline.documents(
      MongoMarksPipeline.readMarks(spark, s"$fx/marks.jsonl"),
      MongoMarksPipeline.readAnalyses(spark, s"$fx/analyses.jsonl"),
      emptyHashes, batchSize = 2)
    TtlFileSink.writeHadoop(df.select("rel_path", "ttl"),
      tmp.toUri.toString, skipExisting = false)
    val p = Paths.get(tmp.toString, "exec-1/img-1/batch_000001.ttl.gz")
    assert(Files.exists(p))
    val content = new String(
      new GZIPInputStream(Files.newInputStream(p)).readAllBytes(), "UTF-8")
    assert(content == golden(1))
    // no stray temp files left behind
    val strays = Files.walk(tmp).toArray.map(_.toString)
      .filter(_.contains(".tmp-"))
    assert(strays.isEmpty, strays.mkString(","))
  }

  test("TtlFileSink never URI-parses rel_path (':' and '#' in segments)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("ttlsink_colon").toString
    // exec ids are arbitrary store strings — "run:2020" must not be
    // read as a URI scheme, nor '#' as a fragment
    val df = Seq(
      ("run:2020-01/img#7/batch_000001.ttl", "content-a"),
      ("plain/batch_000002.ttl", "content-b"))
      .toDF("rel_path", "ttl")
    TtlFileSink.write(df, tmp)
    assert(Files.readString(
      Paths.get(tmp, "run:2020-01/img#7/batch_000001.ttl")) == "content-a")
    assert(Files.readString(
      Paths.get(tmp, "plain/batch_000002.ttl")) == "content-b")
  }

  test("a degenerate point ([], [x]) skips THAT mark silently " +
    "(reference behavior) instead of ANSI-crashing the job") {
    import spark.implicits._
    def mark(id: String, coords: String) =
      s"""{"_id":"$id","provenance":{"analysis":{"execution_id":"e1"},""" +
        s""""image":{"imageid":"i1","slide":""}},""" +
        s""""geometries":{"features":[{"geometry":{"type":"Polygon",""" +
        s""""coordinates":$coords},"properties":{"footprint":1.0,""" +
        s""""nucleustype":"a.b.c"}}]}}"""
    val marks = spark.read.schema(MongoMarksPipeline.markSchema)
      .json(Seq(
        mark("m-good", "[[[0.1,0.2],[0.3,0.2],[0.3,0.4]]]"),
        mark("m-empty-pt", "[[[0.1,0.2],[],[0.3,0.4]]]"),
        mark("m-one-coord", "[[[0.1,0.2],[0.5],[0.3,0.4]]]")).toDS)
    val analyses = spark.read
      .schema(MongoMarksPipeline.analysisSchema)
      .json(Seq("""{"_id":"a1","analysis":{"execution_id":"e1"},""" +
        """"image":{"imageid":"i1"}}""").toDS)
    val got = MongoMarksPipeline.markSide(marks,
      MongoMarksPipeline.analysisSide(analyses, emptyHashes))
      .select("mark_id").as[String].collect().toSet
    assert(got == Set("m-good"), got)
  }

  test("two analysis docs sharing (exec, image) never collide on " +
    "rel_path — highest analysis_id wins (reference last-wins proxy)") {
    import spark.implicits._
    val marks = MongoMarksPipeline.readMarks(spark, s"$fx/marks.jsonl")
    // duplicate every fixture analysis under a LOWER id ("00-" sorts
    // before any hex ObjectId) — max-wins must keep the original
    val base = spark.read.text(s"$fx/analyses.jsonl").as[String]
      .collect()
    val dup = base.flatMap { line =>
      Seq(line.replaceFirst("\"_id\"\\s*:\\s*\"", "\"_id\":\"00-"),
        line)
    }
    val analyses = spark.read
      .schema(MongoMarksPipeline.analysisSchema).json(dup.toSeq.toDS)
    val out = MongoMarksPipeline.documents(marks, analyses,
      emptyHashes, batchSize = 2).collect()
    val paths = out.map(_.getAs[String]("rel_path"))
    assert(paths.distinct.length == paths.length,
      s"colliding rel_paths: ${paths.mkString(", ")}")
    // the kept analysis is the HIGHEST id — "00-…" never appears
    assert(out.forall(!_.getAs[String]("ttl").contains("00-")),
      "00 won")
    // and the output equals the single-analysis golden run exactly
    assert(out.map(r => r.getAs[String]("rel_path") ->
      r.getAs[String]("ttl")).toMap ==
      docs.map { case (p, (t, _)) => p -> t })
  }

  private def fixtureMarks =
    MongoMarksPipeline.readMarks(spark, s"$fx/marks.jsonl")
  private def fixtureAnalyses =
    MongoMarksPipeline.readAnalyses(spark, s"$fx/analyses.jsonl")

  private def isMarksScan(p: SparkPlan) = p match {
    case s: FileSourceScanExec =>
      s.relation.location.rootPaths.exists(_.getName == "marks.jsonl")
    case _ => false
  }

  test("plan shape: the marks stream through the join (no broadcast " +
    "of the marks scan) and each ring is formatted once") {
    // a non-empty lookup, as in production: Catalyst's size-only
    // estimate of the analysis side is then the product of its join
    // children, larger than the marks scan — unhinted, it broadcasts
    // the marks
    import spark.implicits._
    val hashes = Seq(("slide-42", "a" * 64)).toDF("slide", "real_hash")
    try {
      val docs = MongoMarksPipeline.documents(fixtureMarks,
        fixtureAnalyses, hashes, batchSize = 2)
      docs.collect()
      // the AQE-final plan, query stages included
      val finalPlan = docs.queryExecution.executedPlan
      assert(find(finalPlan)(isMarksScan).isDefined, finalPlan)
      val marksBroadcast = collect(finalPlan) {
        case b: BroadcastExchangeExec if find(b)(isMarksScan).isDefined => b
      }
      assert(marksBroadcast.isEmpty, finalPlan)
      // the sorted-group pass: the only window is the analysis dedupe,
      // and there is no collect_list aggregate and no format_string
      val marksWindows = collect(finalPlan) {
        case w: WindowExec if find(w)(isMarksScan).isDefined => w
      }
      assert(marksWindows.isEmpty, finalPlan)
      assert(collect(finalPlan) { case a: ObjectHashAggregateExec => a }
        .isEmpty, finalPlan)
      assert(collect(finalPlan)(_.expressions).flatten
        .forall(_.find(_.isInstanceOf[FormatString]).isEmpty), finalPlan)

      val side = MongoMarksPipeline.markSide(fixtureMarks,
        MongoMarksPipeline.analysisSide(fixtureAnalyses, hashes))
      side.collect()
      // one ring kernel per plan, and no per-point "%.2f %.2f" format
      val sidePlan = side.queryExecution.executedPlan
      val exprs = collect(sidePlan)(_.expressions).flatten
      assert(exprs.map(_.collect { case k: RingWkt => k }.size).sum == 1,
        sidePlan)
      assert(exprs.forall(_.find {
        case FormatString(Literal(fmt, _), _*) =>
          String.valueOf(fmt) == "%.2f %.2f"
        case _ => false
      }.isEmpty), sidePlan)
    } finally Broadcasting.releaseAll()
  }

  test("markSide's wkt equals wktDenormalized on the same rings") {
    import spark.implicits._
    def mark(id: String, ring: String) =
      s"""{"_id":"$id","provenance":{"analysis":{"execution_id":"e1"},""" +
        s""""image":{"imageid":"i1","slide":""}},""" +
        s""""geometries":{"features":[{"geometry":{"type":"Polygon",""" +
        s""""coordinates":[$ring]},"properties":{"footprint":1.0}}]}}"""
    val rings = Seq(
      "open" -> "[[0.1,0.2],[0.3,0.2],[0.3,0.4]]",
      "closed" -> "[[0.1,0.2],[0.3,0.2],[0.3,0.4],[0.1,0.2]]",
      // 0.001111*100 and 0.001112*100 both format "0.11": closed at
      // 2 decimals, though the raw endpoints differ
      "format-equal" -> "[[0.001111,0.0],[0.05,0.05],[0.001112,0.0]]",
      "one-point" -> "[[0.25,0.5]]")
    val marks = spark.read.schema(MongoMarksPipeline.markSchema)
      .json(rings.map { case (id, r) => mark(id, r) }.toDS)
    val analyses = spark.read.schema(MongoMarksPipeline.analysisSchema)
      .json(Seq("""{"_id":"a1","analysis":{"execution_id":"e1",""" +
        """"algorithm_params":{"image_width":100,"image_height":200}},""" +
        """"image":{"imageid":"i1"}}""").toDS)
    try {
      val got = MongoMarksPipeline.markSide(marks,
        MongoMarksPipeline.analysisSide(analyses, emptyHashes))
        .select("mark_id", "wkt").as[(String, String)].collect().toMap
      val want = marks.select(col("_id"), GeomFunctions.wktDenormalized(
          expr("geometries.features[0].geometry.coordinates"),
          lit(100L), lit(200L)))
        .as[(String, String)].collect().toMap
      assert(got == want)
      assert(got.keySet == rings.map(_._1).toSet)
      assert(got("format-equal") ==
        "POLYGON ((0.11 0.00, 5.00 10.00, 0.11 0.00))")
      assert(got("one-point") == "POLYGON ((25.00 100.00))")
    } finally Broadcasting.releaseAll()
  }

  /** Runs `documents` over the fixture marks, checks its output
    * against the golden batches, and checks its AQE-final plan: a
    * ShuffledHashJoin that builds the analysis side over the marks,
    * exactly one Exchange above the marks scan (the join's, which the
    * batch window and grouping reuse) and no broadcast of the marks. */
  private def assertMarksShuffledOnce(analyses: DataFrame): Unit = {
    val docs = MongoMarksPipeline.documents(fixtureMarks, analyses,
      emptyHashes, batchSize = 2)
    val got = docs.collect().map(r =>
      r.getAs[String]("rel_path") -> r.getAs[String]("ttl")).toMap
    assert(got == (1 to 2).map(b =>
      f"exec-1/img-1/batch_$b%06d.ttl.gz" -> golden(b)).toMap)
    val plan = docs.queryExecution.executedPlan
    val joins = collect(plan) { case j: ShuffledHashJoinExec => j }
    assert(joins.exists(j => j.buildSide == BuildRight &&
      find(j.left)(isMarksScan).isDefined &&
      find(j.right)(isMarksScan).isEmpty), plan)
    val exchanges = collect(plan) {
      case e: ShuffleExchangeExec if find(e)(isMarksScan).isDefined => e
    }
    assert(exchanges.size == 1, plan)
    val broadcasts = collect(plan) {
      case b: BroadcastExchangeExec if find(b)(isMarksScan).isDefined => b
    }
    assert(broadcasts.isEmpty, plan)
  }

  test("adversarial sizes: with a 1g broadcast threshold the marks are " +
    "still shuffled once into a hash join that builds the analysis side") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "1g")
      assertMarksShuffledOnce(fixtureAnalyses)
    } finally spark.conf.set(key, prev)
  }

  test("adversarial sizes: an analysis side with more rows than the " +
    "marks is still the build side, and the marks are shuffled once") {
    val dir = Files.createTempDirectory("many_analyses")
    val extra = (1 to 200).map(i =>
      s"""{"_id":"an-x$i","analysis":{"execution_id":"exec-x$i"},""" +
        s""""image":{"imageid":"img-x$i","slide":"slide-x$i"}}""")
    Files.writeString(dir.resolve("analyses.jsonl"),
      (Files.readString(Paths.get(s"$fx/analyses.jsonl")).trim +: extra)
        .mkString("\n"))
    val analyses = MongoMarksPipeline.readAnalyses(spark,
      s"$dir/analyses.jsonl")
    assert(analyses.count() > fixtureMarks.count())
    assertMarksShuffledOnce(analyses)
  }
}
