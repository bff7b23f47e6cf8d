package graft

import graft.operators.Broadcasting
import graft.pipelines.MongoMarksPipeline
import graft.pipelines.MongoMarksPipeline.MarkRow
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `MongoMarksPipeline.documents` assembles each batch document in one
  * sorted-group pass. These specs hold it to the spelling it replaced —
  * a `row_number` batch window, `format_string` fragments and header,
  * and a `collect_list` / `array_sort` / `concat_ws` aggregate, kept
  * below as `WindowSpelling` — on adversarial marks, and pin its batch
  * numbering and cut. */
class MongoMarksBatchingSpec extends SparkTestBase {

  private val NucleusTypes = Seq(null, "", "a.b", "a.b.", "a..b", "a.b.c")
  private val Annotations = Seq("none", "null", "http://snomed.info/id/123",
    "urn:other:1")
  private val Footprints = Seq("1.0E7", "1.0E-4", "-0.0", "42.5", "none")

  private def markJson(id: String, exec: String, image: String,
    i: Int): String = {
    val nucleus = NucleusTypes(i % NucleusTypes.size)
    val props = Seq(
      Option(nucleus).map(n => s""""nucleustype":"$n""""),
      Some(Footprints(i % Footprints.size)).filter(_ != "none")
        .map(f => s""""footprint":$f""")).flatten.mkString(",")
    val ann = Annotations(i % Annotations.size) match {
      case "none" => ""
      case "null" => ""","userUpdate":{"mark":{"annotation":[{}]}}"""
      case a => s""","userUpdate":{"mark":{"annotation":""" +
        s"""[{"annotationID":"$a"}]}}"""
    }
    val x = 0.1 + i * 0.001
    "{" + Option(id).map(m => s""""_id":"$m",""").getOrElse("") +
      s""""provenance":{"analysis":{"execution_id":"$exec"},""" +
      s""""image":{"imageid":"$image","slide":"s"}},""" +
      s""""geometries":{"features":[{"geometry":{"type":"Polygon",""" +
      s""""coordinates":[[[$x,0.2],[0.3,0.2],[0.3,0.4]]]},""" +
      s""""properties":{$props}}]}""" + ann + "}"
  }

  /** Four kinds of analysis, by `g % 4`: a NULL `_id` with no params or
    * image fields; an empty case id and a slide the lookup resolves;
    * a case id and an unresolved slide; full params and image fields. */
  private def analysisJson(g: Int, exec: String, image: String): String =
    g % 4 match {
      case 0 => s"""{"analysis":{"execution_id":"$exec"},""" +
        s""""image":{"imageid":"$image"}}"""
      case 1 => s"""{"_id":"an-$g","analysis":{"execution_id":"$exec",""" +
        s""""algorithm_params":{"case_id":""}},""" +
        s""""image":{"imageid":"$image","slide":"slide-1"}}"""
      case 2 => s"""{"_id":"an-ü-$g","analysis":{"execution_id":"$exec",""" +
        s""""algorithm_params":{"case_id":"case-ü"}},""" +
        s""""image":{"imageid":"$image","slide":"slide-2"}}"""
      case _ => s"""{"_id":"an-$g","analysis":{"execution_id":"$exec",""" +
        s""""algorithm_params":{"image_width":1000,"image_height":2000}},""" +
        s""""image":{"imageid":"$image","subject":"subj","study":"st",""" +
        s""""slide":"slide-3"}}"""
    }

  /** Groups of 1, bs, bs+1 and 2·bs+1 marks, each size under two kinds
    * of analysis; every second group's first mark has a NULL `_id`.
    * Returns the marks, the analyses and each group's size. */
  private def corpus(bs: Int): (DataFrame, DataFrame, Map[(String, String), Int]) = {
    import spark.implicits._
    val sizes = Seq(1, bs, bs + 1, 2 * bs + 1)
    val groups = (0 until 2 * sizes.size).map { g =>
      (g, if (g % 3 == 0) s"exé-$g" else s"exec-$g", s"图像-$g",
        sizes(g % sizes.size))
    }
    val marks = groups.flatMap { case (g, e, im, n) =>
      (0 until n).map { i =>
        val id = if (i == 0 && g % 2 == 0) null else f"mark-ñ-$g-$i%05d"
        markJson(id, e, im, g + i)
      }
    } ++ Seq(
      // no analysis: the inner join drops it
      markJson("orphan", "exec-none", "img-none", 0),
      // not a polygon: the filter drops it
      markJson("point", groups.head._2, groups.head._3, 0)
        .replace("\"Polygon\"", "\"Point\""))
    val analyses = groups.map { case (g, e, im, _) => analysisJson(g, e, im) }
    (spark.read.schema(MongoMarksPipeline.markSchema).json(marks.toDS),
      spark.read.schema(MongoMarksPipeline.analysisSchema).json(analyses.toDS),
      groups.map { case (_, e, im, n) => (e, im) -> n }.toMap)
  }

  private def hashes = {
    import spark.implicits._
    Seq(("slide-1", "b" * 64)).toDF("slide", "real_hash")
  }

  private def docsOf(df: DataFrame): Map[String, (String, Long)] =
    df.collect().map(r => r.getAs[String]("rel_path") ->
      (r.getAs[String]("ttl"), r.getAs[Long]("n_marks"))).toMap

  for (bs <- Seq(1, 2, 3, 1000))
    test(s"documents equal the window/collect_list/format_string " +
      s"spelling at batch size $bs") {
      val (marks, analyses, sizes) = corpus(bs)
      try {
        val got = MongoMarksPipeline.documents(marks, analyses, hashes, bs)
        val want = WindowSpelling.documents(marks, analyses, hashes, bs)
        assert(got.schema.map(f => f.name -> f.dataType) ==
          want.schema.map(f => f.name -> f.dataType))
        val (g, w) = (docsOf(got), docsOf(want))
        assert(g.keySet == w.keySet)
        for ((path, doc) <- w)
          assert(g(path) == doc, {
            val diff = g(path)._1.linesIterator.toSeq
              .zipAll(doc._1.linesIterator.toSeq, "<EOF>", "<EOF>")
              .find(p => p._1 != p._2)
            s"$path: n_marks ${g(path)._2} vs ${doc._2}; first diff $diff"
          })
        // every kept mark is in one document, and every group is cut
        // into ceil(size / bs) documents
        assert(g.size == sizes.values.map(n => (n + bs - 1) / bs).sum)
        assert(g.values.map(_._2).sum == sizes.values.sum)
        val all = g.values.map(_._1).mkString
        assert(all.contains("hal:markId \"null\""))
        assert(all.contains("# Analysis ID: null\n"))
        assert(all.contains("hal:analysisId \"null\""))
        for (fp <- Seq("1.0E7", "1.0E-4", "-0.0", "0.0"))
          assert(all.contains(s"hal:footprint $fp ;\n"), fp)
      } finally Broadcasting.releaseAll()
    }

  private def row(id: String) = MarkRow(100L, 200L, "c", "", "", "", false,
    "h" * 64, id, "a.b.c", true, false, null, "1.0", "POLYGON ((0 0))")

  test("batch numbers 1, 999999, 1000000 and 1234567 are zero-padded to " +
    "six digits and never truncated, in # Batch: and in rel_path") {
    val want = Map(1 -> "000001", 999999 -> "999999",
      1000000 -> "1000000", 1234567 -> "1234567")
    var n = 0
    val seen = MongoMarksPipeline.batches("an", "ex", "im",
      Iterator.fill(1234567)(row("m")), 1)
      .flatMap { doc =>
        n += 1
        want.get(n).map(num => (num, doc))
      }.toList
    assert(n == 1234567)
    assert(seen.size == want.size)
    for ((num, (path, ttl, marks)) <- seen) {
      assert(path == s"ex/im/batch_$num.ttl.gz")
      assert(ttl.contains(s"\n# Batch: $num\n\n@prefix"), ttl.take(300))
      assert(marks == 1L)
    }
  }

  for (bs <- Seq(0, -1))
    test(s"batch size $bs is refused when the plan is built, with no job") {
      val (marks, analyses, _) = corpus(1)
      val tally = new TaskTally(spark.sparkContext)
      try {
        val before = tally.read()
        val e = intercept[IllegalArgumentException](
          MongoMarksPipeline.documents(marks, analyses, hashes, bs))
        assert(e.getMessage.contains(s"got $bs"), e.getMessage)
        assert((tally.read() - before).jobMs.isEmpty)
      } finally spark.sparkContext.removeSparkListener(tally)
    }

  test("a 25,000-mark group at batch size 1000 is 25 full documents " +
    "over ascending, disjoint mark ranges") {
    import spark.implicits._
    val marks = spark.read.schema(MongoMarksPipeline.markSchema).json(
      (0 until 25000).map(i => markJson(f"m-$i%05d", "e1", "i1", i)).toDS)
    val analyses = spark.read.schema(MongoMarksPipeline.analysisSchema)
      .json(Seq(analysisJson(1, "e1", "i1")).toDS)
    try {
      val docs = docsOf(MongoMarksPipeline.documents(marks, analyses,
        hashes, 1000)).toSeq.sortBy(_._1)
      assert(docs.map(_._1) ==
        (1 to 25).map(b => f"e1/i1/batch_$b%06d.ttl.gz"))
      assert(docs.forall(_._2._2 == 1000L))
      val ids = docs.map { case (_, (ttl, _)) =>
        "hal:markId \"([^\"]*)\"".r.findAllMatchIn(ttl).map(_.group(1)).toSeq
      }
      assert(ids.forall(_.size == 1000))
      assert(ids.flatten == (0 until 25000).map(i => f"m-$i%05d"))
    } finally Broadcasting.releaseAll()
  }
}

/** Test-only copy of `MongoMarksPipeline.documents` as it was spelled
  * before the sorted-group pass: `withColumn` chains on both sides, a
  * `row_number` batch window, `format_string` fragments and header, and
  * a `collect_list` aggregate sorted back into window order. */
object WindowSpelling {

  def analysisSide(analyses: DataFrame, slideHashes: DataFrame)
    : DataFrame = {
    val a = analyses.select(
      col("_id").as("analysis_id"),
      col("analysis.execution_id").as("exec_id"),
      col("image.imageid").as("image_id"),
      coalesce(col("analysis.algorithm_params.image_width"), lit(40000L))
        .as("image_width"),
      coalesce(col("analysis.algorithm_params.image_height"), lit(40000L))
        .as("image_height"),
      coalesce(when(col("analysis.algorithm_params.case_id") =!= "",
        col("analysis.algorithm_params.case_id")), col("image.imageid"))
        .as("case_id"),
      coalesce(col("image.subject"), lit("")).as("subject_id"),
      coalesce(col("image.study"), lit("")).as("study"),
      coalesce(col("image.slide"), lit("")).as("slide"))
    a.join(Broadcasting.maybeBroadcast(slideHashes), Seq("slide"), "left")
      .withColumn("hash_missing",
        col("slide") =!= "" && col("real_hash").isNull)
      .withColumn("image_hash",
        coalesce(col("real_hash"), sha2(col("image_id"), 256)))
      .drop("real_hash")
  }

  def markSide(marks: DataFrame, analysisSide: DataFrame): DataFrame =
    marks.select(
      col("_id").as("mark_id"),
      col("provenance.analysis.execution_id").as("exec_id"),
      col("provenance.image.imageid").as("image_id"),
      expr("""CASE WHEN size(geometries.features) > 0
             | THEN geometries.features[0] ELSE NULL END""".stripMargin)
        .as("feature"),
      expr("""CASE WHEN size(userUpdate.mark.annotation) > 0
             | THEN userUpdate.mark.annotation[0].annotationID
             | ELSE NULL END""".stripMargin).as("ann_id"))
      .join(analysisSide.hint("shuffle_hash"), Seq("exec_id", "image_id"))
      .filter(col("feature").isNotNull &&
        col("feature.geometry.type") === "Polygon" &&
        expr("size(feature.geometry.coordinates) >= 1") &&
        expr("size(feature.geometry.coordinates[0]) >= 1") &&
        expr("forall(feature.geometry.coordinates[0], p -> size(p) >= 2)"))
      .withColumn("wkt", graft.functions.GeomFunctions.wktDenormalized(
        col("feature.geometry.coordinates"),
        col("image_width"), col("image_height")))
      .withColumn("nucleustype",
        coalesce(col("feature.properties.nucleustype"), lit("")))
      .withColumn("footprint",
        coalesce(col("feature.properties.footprint"), lit(0.0)))
      .withColumn("is_nuclear",
        col("nucleustype") =!= "" &&
          expr("size(split(nucleustype, '\\\\.')) >= 3"))
      .withColumn("valid_ann",
        col("ann_id").isNotNull &&
          col("ann_id").startsWith("http://snomed.info/id/"))

  private val markFragment: Column = concat(
    lit(" ;\n        geo:hasMember [\n            a geo:Feature ;\n"),
    format_string("            hal:markId \"%s\" ;\n", col("mark_id")),
    format_string("            hal:executionId \"%s\" ;\n", col("exec_id")),
    when(col("nucleustype") =!= "",
      format_string("            hal:nucleusType \"%s\" ;\n",
        col("nucleustype"))).otherwise(lit("")),
    when(col("is_nuclear"),
      lit("            hal:hasMaterialType snomed:68841002 ;  # Nuclear material\n"))
      .otherwise(lit("")),
    when(col("valid_ann"),
      format_string("            hal:hasAnnotation <%s> ;  # Human-verified SNOMED code\n",
        col("ann_id"))).otherwise(lit("")),
    format_string("            hal:footprint %s ;\n",
      col("footprint").cast("string")),
    lit("            geo:hasGeometry [\n                geo:asWKT \""),
    col("wkt"),
    lit("\"^^geo:wktLiteral\n            ]\n        ]"))

  private val header: Column = concat(
    format_string(
      "# GeoSPARQL representation of pathology image analysis\n" +
        "# Analysis ID: %s\n# Execution: %s\n# Image: %s\n# Batch: %06d\n\n",
      col("analysis_id"), col("exec_id"), col("image_id"),
      col("batch_num")),
    lit("@prefix geo: <http://www.opengis.net/ont/geosparql#> .\n" +
      "@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .\n" +
      "@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .\n" +
      "@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .\n" +
      "@prefix snomed: <http://snomed.info/id/> .\n" +
      "@prefix so:   <https://schema.org/> .\n" +
      "@prefix loinc: <http://loinc.org/rdf/> .\n" +
      "@prefix hal: <https://halcyon.is/ns/> .\n\n"),
    format_string("<urn:sha256:%s>\n    a so:ImageObject ;\n" +
      "    hal:imageId \"%s\" ;\n", col("image_hash"), col("image_id")),
    when(col("case_id") =!= "",
      format_string("    hal:caseId \"%s\" ;\n", col("case_id")))
      .otherwise(lit("")),
    when(col("subject_id") =!= "",
      format_string("    hal:subjectId \"%s\" ;\n", col("subject_id")))
      .otherwise(lit("")),
    when(col("study") =!= "",
      format_string("    hal:studyId \"%s\" ;\n", col("study")))
      .otherwise(lit("")),
    when(col("slide") =!= "",
      format_string("    hal:slideId \"%s\" ;\n", col("slide")))
      .otherwise(lit("")),
    when(col("hash_missing"),
      lit("    hal:hashMissing \"true\"^^xsd:boolean ;\n"))
      .otherwise(lit("")),
    format_string("    hal:imageWidth %s ;\n    hal:imageHeight %s ;\n" +
      "    hal:analysisId \"%s\" ;\n    geo:hasGeometry [\n" +
      "        geo:asWKT \"POLYGON ((0 0, %s 0, %s %s, 0 %s, 0 0))\"^^geo:wktLiteral\n" +
      "    ] ;\n    hal:hasFeatureCollection [\n        a geo:FeatureCollection",
      col("image_width"), col("image_height"), col("analysis_id"),
      col("image_width"), col("image_width"), col("image_height"),
      col("image_height")))

  def documents(marks: DataFrame, analyses: DataFrame,
    slideHashes: DataFrame, batchSize: Int): DataFrame = {
    val dedupW = Window.partitionBy(col("exec_id"), col("image_id"))
      .orderBy(col("analysis_id").desc)
    val aSide = analysisSide(analyses, slideHashes)
      .withColumn("a_rn", row_number().over(dedupW))
      .filter(col("a_rn") === 1).drop("a_rn")
    val m = markSide(marks, aSide)
    val w = Window.partitionBy(col("analysis_id"), col("exec_id"),
      col("image_id")).orderBy(col("mark_id"))
    val batched = m.withColumn("rn", row_number().over(w))
      .withColumn("batch_num",
        (floor((col("rn") - 1) / batchSize) + 1).cast("int"))
      .withColumn("fragment", markFragment)
    val headerCols = Seq("analysis_id", "exec_id", "image_id",
      "image_width", "image_height", "case_id", "subject_id", "study",
      "slide", "hash_missing", "image_hash")
    batched
      .groupBy((headerCols.map(col) :+ col("batch_num")): _*)
      .agg(expr(
        """concat_ws('', transform(
          | array_sort(collect_list(named_struct('rn', rn, 'f', fragment))),
          | x -> x.f))""".stripMargin).as("members"),
        count(lit(1)).as("n_marks"))
      .withColumn("ttl",
        concat(header, col("members"), lit("\n    ] .\n")))
      .withColumn("rel_path", format_string("%s/%s/batch_%06d.ttl.gz",
        col("exec_id"), col("image_id"), col("batch_num")))
      .select("rel_path", "ttl", "n_marks")
  }
}
