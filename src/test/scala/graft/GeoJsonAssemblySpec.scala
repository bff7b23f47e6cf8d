package graft

import graft.pipelines.GeoJsonPipeline
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** `GeoJsonPipeline.documents` turns each file's `features` array into
  * members inside the row that was read. These specs hold it to the
  * spelling it replaced — a `posexplode_outer` of the features, a
  * `groupBy` of the file, a `collect_list` / `array_sort` aggregate and
  * a `format_string` header, kept below as `ExplodeSpelling` — on
  * adversarial files. */
class GeoJsonAssemblySpec extends SparkTestBase {

  private def put(dir: Path, name: String, body: String): Unit =
    Files.write(dir.resolve(name), body.getBytes("UTF-8"))

  private def docs(df: DataFrame): Map[String, String] = {
    val rows = df.collect()
      .map(r => r.getAs[String]("stem") -> r.getAs[String]("ttl"))
    assert(rows.map(_._1).distinct.length == rows.length)
    rows.toMap
  }

  private def firstDiff(a: String, b: String) =
    a.linesIterator.toSeq.zipAll(b.linesIterator.toSeq, "<EOF>", "<EOF>")
      .zipWithIndex.find(p => p._1._1 != p._1._2)

  private def members(ttl: String): Int = "rdfs:member".r.findAllIn(ttl).size

  private def feature(geometry: String, properties: String): String =
    s"""{"geometry": $geometry, "properties": $properties}"""

  private def polygon(rings: String): String =
    s"""{"type": "Polygon", "coordinates": $rings}"""

  /** Geometries: valid, empty ring, `[]` coordinates, a one-number
    * point, `1e-7`/`1e21`/`-0.0`/integer coordinates, a NULL geometry,
    * a polygon with a hole, a NULL coordinate. */
  private val Geometries = Seq(
    polygon("[[[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]]]"),
    polygon("[[]]"),
    polygon("[]"),
    polygon("[[[1.0], [2.0, 3.0]]]"),
    polygon("[[[1e-7, 1e21], [-0.0, 2], [3, 4.5]]]"),
    "null",
    polygon("[[[0, 0], [10, 0], [10, 10]], [[1, 1], [2, 2], [3, 3]]]"),
    polygon("[[[1.5, 2.5], [null, 3.0], [4.0, 5.0]]]"))

  /** Properties: a clear winner, both orders of a Necrosis/Tumor tie,
    * an unmapped winner, a NULL probability beside a `1e-7` winner,
    * all zero, `1e21` and `-0.0`, no measurements, no properties. */
  private val Properties = Seq(
    """{"measurements": {"prob_400p-Tumor": 0.91, "prob_400p-Stroma": 0.05}}""",
    """{"measurements": {"prob_400p-Necrosis": 0.5, "prob_400p-Tumor": 0.5}}""",
    """{"measurements": {"prob_400p-Tumor": 0.5, "prob_400p-Necrosis": 0.5}}""",
    """{"measurements": {"prob_NotAClass": 0.9, "prob_400p-Tumor": 0.1}}""",
    """{"measurements": {"prob_400p-Tumor": null, "prob_400p-Fibrosis": 1e-7}}""",
    """{"measurements": {"prob_400p-Tumor": 0.0}}""",
    """{"measurements": {"prob_400p-Stroma": 1e21, "area": 3.0, "prob_400p-Nerves": -0.0}}""",
    """{}""",
    "null")

  test("run equals the posexplode/groupBy/collect_list/format_string " +
    "spelling on adversarial GeoJSON files") {
    val dir = Files.createTempDirectory("geoparity")
    val mixed = (0 until 60).map(i =>
      feature(Geometries(i % Geometries.size), Properties(i % Properties.size)))
    val valid = feature(Geometries(0), Properties(0))
    put(dir, "TCGA-MM-0060-01Z-00-DX1.mixed.geojson",
      mixed.mkString("{\"features\": [\n", ",\n", "]}"))
    put(dir, "TCGA-AA-0001-01Z-00-DX1.none.geojson", "{}")
    put(dir, "TCGA-AA-0002-01Z-00-DX1.null.geojson", """{"features": null}""")
    put(dir, "TCGA-AA-0003-01Z-00-DX1.nullfeature.geojson",
      """{"features": [null]}""")
    put(dir, "TCGA-AA-0004-01Z-00-DX1.empty.geojson", """{"features": []}""")
    put(dir, "TCGA-AA-0005-01Z-00-DX1.truncated.geojson",
      """{"features": [{"geometry": {"type": "Polygon", "coordinates": [[[1.0, 2.0]""")
    put(dir, "TCGA-AA-0006-01Z-00-DX1.nullgeom.geojson",
      s"""{"features": [${feature("null", Properties(0))}, $valid]}""")
    put(dir, "TCGA SP 0007.u v.geojson", s"""{"features": [$valid, $valid]}""")
    put(dir, "TCGA-AA-0008-01Z-00-DX1.tie.geojson", s"""{"features": [${
      feature(Geometries(0), Properties(1))}, ${feature(Geometries(0), Properties(2))}]}""")
    Files.copy(Paths.get("src/test/resources/fixtures/" +
      "TCGA-AA-1111-01Z-00-DX1.abcd-uuid-1234.geojson"),
      dir.resolve("TCGA-AA-1111-01Z-00-DX1.abcd-uuid-1234.geojson"))

    val ts = "2024-01-02T03:04:05Z"
    val got = docs(GeoJsonPipeline.run(spark, dir.toString, ts))
    val want = docs(ExplodeSpelling.run(spark, dir.toString, ts))
    assert(got.keySet == want.keySet)
    for ((stem, doc) <- want)
      assert(got(stem) == doc, s"$stem: first diff ${firstDiff(got(stem), doc)}")

    // not vacuous: every file is a document, and the corner cases
    // reached the output
    assert(got.size == 10, got.keySet)
    for (s <- Seq("0001-01Z-00-DX1.none", "0002-01Z-00-DX1.null",
      "0003-01Z-00-DX1.nullfeature", "0004-01Z-00-DX1.empty",
      "0005-01Z-00-DX1.truncated")) {
      val doc = got(s"TCGA-AA-$s")
      assert(members(doc) == 0 && doc.endsWith("];\n .\n"), s)
    }
    assert(members(got("TCGA-AA-0006-01Z-00-DX1.nullgeom")) == 1)
    val spaced = got("TCGA SP 0007.u v")
    assert(members(spaced) == 2 && spaced.contains("dc:identifier \"TCGA SP 0007\""))
    val tie = got("TCGA-AA-0008-01Z-00-DX1.tie")
    assert(tie.indexOf("hal:classification  sno:6574001") <
      tie.indexOf("hal:classification  sno:108369006") &&
      tie.indexOf("hal:classification  sno:6574001") > 0, tie)
    val many = got("TCGA-MM-0060-01Z-00-DX1.mixed")
    assert(members(many) > 5 && members(many) < 60, members(many))
    assert(many.contains("1.0E-7 1.0E21, -0.0 2.0, 3.0 4.5"), many)
    assert(many.contains("POLYGON ((1.5 2.5, 4.0 5.0))"), many)
    assert(many.contains("hal:hasProbability  \"-0.000000\""), many)
  }

  test("documents equal the posexplode/groupBy/collect_list/format_string " +
    "spelling on rows with non-ASCII stems") {
    import spark.implicits._
    // a file name the JVM's file-name encoding here may not map, so the
    // rows are built, not read
    val valid = feature(Geometries(0), Properties(0))
    val rows = spark.read
      .schema(GeoJsonPipeline.geojsonSchema.add("stem", StringType))
      .json(Seq(
        s"""{"stem": "Ü-图像.ñ", "features": [$valid, ${
          feature(Geometries(3), Properties(0))}, $valid]}""",
        """{"stem": "é", "features": []}""",
        s"""{"stem": "图像 x.y.z", "features": [${
          feature(Geometries(4), Properties(6))}]}""").toDS)
      .withColumn("image_id", element_at(split(col("stem"), "\\."), 1))
      .withColumn("image_hash", sha2(col("image_id"), 256))
    val got = docs(GeoJsonPipeline.documents(rows, "tš"))
    val want = docs(ExplodeSpelling.documents(rows, "tš"))
    assert(got == want, got.keySet)
    assert(got.keySet == Set("Ü-图像.ñ", "é", "图像 x.y.z"))
    assert(members(got("Ü-图像.ñ")) == 2)
    assert(got("图像 x.y.z").contains("dc:identifier \"图像 x\""))
  }
}

/** Test-only copy of `GeoJsonPipeline.documents` as it was spelled
  * before the per-row assembly: one row per feature by
  * `posexplode_outer`, a `groupBy` of the file, a `collect_list` sorted
  * back into feature order by position, and a `format_string` header. */
object ExplodeSpelling {

  private val snomedIdMap: Column = map(GeoJsonPipeline.SnomedMappings.toSeq
    .flatMap { case (k, v) => Seq(lit(k), lit(v.split("/").last)) }: _*)

  private val dominant: Column = expr(
    """aggregate(map_entries(measurements),
      | named_struct('cls', '', 'prob', cast(0.0 as double)),
      | (acc, e) -> IF(startswith(e.key, 'prob_')
      |     AND e.value > acc.prob,
      |   named_struct('cls', substring(e.key, 6), 'prob', e.value),
      |   acc))""".stripMargin)

  private val wktRaw: Column = {
    val ring = expr("geometry.coordinates[0]")
    when(expr("size(geometry.coordinates) >= 1") &&
      size(ring) >= 1 &&
      expr("forall(geometry.coordinates[0], p -> size(p) >= 2)"),
      concat(lit("POLYGON (("),
        concat_ws(", ", expr(
          """transform(geometry.coordinates[0],
            | p -> concat(cast(p[0] as string), ' ',
            |             cast(p[1] as string)))""".stripMargin)),
        lit("))")))
  }

  private def entryCls(e: Column): Column = {
    val k = e.getField("key")
    element_at(snomedIdMap, k.substr(lit(6), length(k)))
  }

  private val measurementFrag: Column = concat_ws(",", transform(
    filter(map_entries(col("measurements")), e =>
      e.getField("key").startsWith("prob_") &&
        e.getField("value").isNotNull && entryCls(e).isNotNull),
    e => concat(
      lit("\n                                             [ hal:classification  sno:"),
      entryCls(e),
      lit(";\n                                               hal:hasProbability  \""),
      format_string("%.6f", e.getField("value")),
      lit("\"^^xsd:float\n                                             ]"))))

  private val fragmentCol: Column = concat(
    lit("        rdfs:member          [ a                   geo:Feature;\n" +
      "                               geo:hasGeometry     [ geo:asWKT  \""),
    col("wkt"),
    lit("\"^^geo:wktLiteral ];\n" +
      "                               hal:classification  sno:"),
    col("snomed_id"),
    lit(";\n                               hal:measurement     "),
    measurementFrag,
    lit("\n                             ]"))

  def documents(files: DataFrame, timestamp: String): DataFrame = {
    val frags = files
      .select(col("stem"), col("image_id"), col("image_hash"),
        posexplode_outer(col("features")).as(Seq("pos", "f")))
      .select(col("stem"), col("image_id"), col("image_hash"), col("pos"),
        col("f.geometry").as("geometry"),
        col("f.properties.measurements").as("measurements"))
      .withColumn("dom", dominant)
      .withColumn("cls", col("dom.cls"))
      .withColumn("snomed_id", element_at(snomedIdMap, col("cls")))
      .withColumn("wkt", wktRaw)
      .withColumn("fragment",
        when(col("snomed_id").isNotNull && col("wkt").isNotNull,
          fragmentCol))
      .groupBy(col("stem"), col("image_id"), col("image_hash"))
      .agg(concat_ws(";\n", expr("transform(array_sort(collect_list(" +
        "CASE WHEN fragment IS NOT NULL" +
        " THEN named_struct('pos', pos, 'f', fragment) END))," +
        " x -> x.f)")).as("members"))

    frags
      .select(col("stem"), concat(
        lit(graft.ttl.Turtle.PrefixHeader),
        format_string(
          "<urn:sha256:%s>\n        a            so:ImageObject;\n" +
            "        dc:identifier \"%s\" ;\n" +
            "        exif:height  \"40000\"^^xsd:int;\n" +
            "        exif:width   \"40000\"^^xsd:int .\n\n",
          col("image_hash"), col("image_id")),
        format_string(
          "<>      a                    geo:FeatureCollection;\n" +
            "        dc:creator           \"http://orcid.org/0000-0003-4165-4062\";\n" +
            "        dc:date              \"%s\"^^xsd:dateTime;\n" +
            "        dc:description       \"Raj's 10-class classification results produced via wsinfer and Tammy's PyTorch model for %s\";\n" +
            "        dc:title             \"tissue-classification-predictions\";\n" +
            "        prov:wasGeneratedBy  [ a                       prov:Activity;\n" +
            "                               prov:used               <urn:sha256:%s>;\n" +
            "                             ];\n",
          lit(timestamp), col("image_id"), col("image_hash")),
        col("members"), lit(" .\n")).as("ttl"))
  }

  def run(spark: org.apache.spark.sql.SparkSession, inDir: String,
    timestamp: String): DataFrame =
    documents(GeoJsonPipeline.read(spark, inDir), timestamp)
}
