package graft

import graft.pipelines.{PathMeta, SegCsvPipeline}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `SegCsvPipeline.run` reads each CSV whole (multiLine) and assembles
  * its document in the scan task. These specs hold it to the spelling
  * it replaced — a line-mode read, then a `collect_list` / `array_sort`
  * aggregate and a `format_string` header, kept below as
  * `LineModeSpelling` — on adversarial files, and pin the new output of
  * the three inputs on which the two reads differ: a field that holds a
  * line break. */
class SegCsvAssemblySpec extends SparkTestBase {

  private val Header = "AreaInPixels,PhysicalSize,Polygon"

  private def put(base: Path, rel: String, body: String): Unit = {
    val p = base.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, body.getBytes("UTF-8"))
  }

  private def docs(df: DataFrame): Map[String, String] = {
    val rows = df.collect()
      .map(r => r.getAs[String]("rel_path") -> r.getAs[String]("ttl"))
    assert(rows.map(_._1).distinct.length == rows.length)
    rows.toMap
  }

  private def firstDiff(a: String, b: String) =
    a.linesIterator.toSeq.zipAll(b.linesIterator.toSeq, "<EOF>", "<EOF>")
      .zipWithIndex.find(p => p._1._1 != p._1._2)

  /** One member as the pipeline writes it. */
  private def member(wkt: String, area: String, size: String): String =
    "        rdfs:member          [ a                   geo:Feature;\n" +
      "                               geo:hasGeometry     [ geo:asWKT  \"" +
      wkt + "\"^^geo:wktLiteral ];\n" +
      "                               hal:classification  sno:68841002;\n" +
      "                               hal:measurement     [ hal:hasProbability  \"1.0\"^^xsd:float ]" +
      (if (area.isEmpty) "" else ";\n                               hal:areaInPixels    \"" +
        area + "\"^^xsd:int") +
      (if (size.isEmpty) "" else ";\n                               hal:physicalSize    \"" +
        size + "\"^^xsd:float") +
      "\n                             ]"

  /** A document's text from its first member on. */
  private def members(ttl: String): String =
    ttl.substring(ttl.indexOf("        rdfs:member"))

  test("run equals the line-mode/collect_list/format_string spelling " +
    "on adversarial CSVs") {
    val base = Files.createTempDirectory("segparity")
    val blca = "blca_polygon/TCGA-XX-01.svs.tar.gz/blca_polygon/TCGA-XX-01.svs"
    val luad = "luad_polygon/G 1+2.svs.tar.gz/luad_polygon/G 1+2.svs"
    // a cancer directory the cancer_type regex does not match: ""
    val anon = "BLCA9_polygon/S.svs.tar.gz/BLCA9_polygon/S.svs"
    val many = (1 to 300).map(i => s"$i,$i.5,[$i:2:3:4:$i:2]").mkString("\n")
    val files = Seq(
      s"$blca/1_2_3_4_lf-features.csv" -> s"$Header\n5,1.5,[1:2:3:4:5:6]\n6,2.5,[1:2:3:4]\n",
      s"$blca/2_2_3_4_crlf-features.csv" -> s"$Header\r\n5,1.5,[1:2:3:4]\r\n6,2.5,[7:8:9:10]\r\n",
      s"$blca/3_2_3_4_cr-features.csv" -> s"$Header\r5,1.5,[1:2:3:4]\r6,2.5,[7:8:9:10]\r",
      s"$blca/4_2_3_4_noeol-features.csv" -> s"$Header\n5,1.5,[1:2:3:4]\n6,2.5,[7:8:9:10]",
      s"$blca/5_2_3_4_blank-features.csv" -> s"$Header\n\n5,1.5,[1:2:3:4]\n\n\n6,2.5,[7:8:9:10]\n\n",
      s"$blca/6_2_3_4_bom-features.csv" -> ("\uFEFF" + s"$Header\n5,1.5,[1:2:3:4]\n"),
      s"$blca/7_2_3_4_short-features.csv" ->
        s"$Header\n5,1.5\n6\n7,2.5,[1:2:3:4]\n8,,\n",
      s"$blca/8_2_3_4_long-features.csv" ->
        s"$Header\n5,1.5,[1:2:3:4],extra,more\n6,2.5,[7:8:9:10],x\n",
      s"$blca/9_2_3_4_cells-features.csv" -> (s"$Header\n1,1.5,\n2,1.5,   \n" +
        "3,1.5,[]\n4,1.5,[7]\n,,[1:2:3:4]\n5,,[5:6:7:8]\n,2.5,[9:8:7:6]\n" +
        "6,1.5, [1:2:3:4:1:2] \n"),
      s"$blca/10_2_3_4_quoted-features.csv" -> (s"$Header\n" +
        "\"5\",\"1,5\",\"[1:2:3:4]\"\n 6 , 2.5 ,[7:8:9:10]\n7,1.5µm,[1:2:3:4]\n"),
      s"$blca/11_2_3_4_reordered-features.csv" ->
        "Polygon,PhysicalSize,AreaInPixels\n5,1.5,[1:2:3:4]\n",
      s"$blca/12_2_3_4_many-features.csv" -> s"$Header\n$many\n",
      s"$blca/13_2_3_4_headeronly-features.csv" -> s"$Header\n",
      s"$blca/14_2_3_4_empty-features.csv" -> "",
      s"$blca/weird-features.csv" -> s"$Header\n5,1.5,[1:2:3:4]\n",
      s"$luad/1_1_1_1_g-features.csv" -> s"$Header\n5,1.5,[1:2:3:4]\n6,1.5,[3:4:5:6]\n",
      s"$luad/2_1_1_1_g-features.csv" -> s"$Header\n7,1.5,[1:2:3:4]\n",
      s"$anon/1_1_1_1_h-features.csv" -> s"$Header\n5,1.5,[1:2:3:4]\n")
    for ((rel, body) <- files) put(base, rel, body)

    val ts = "2024-01-02T03:04:05"
    val got = docs(SegCsvPipeline.run(spark, base.toString, ts))
    val want = docs(LineModeSpelling.run(spark, base.toString, ts))
    assert(got.keySet == want.keySet)
    for ((path, doc) <- want)
      assert(got(path) == doc, s"$path: first diff ${firstDiff(got(path), doc)}")
    // not vacuous: every file but the header-only and empty ones is a
    // document, and the corner cases reached the output
    assert(got.size == files.size - 2, got.keySet)
    assert(got.keySet.contains("TCGA-XX-01.svs/blca_weird-features.ttl.gz"))
    assert(got.keySet.contains("G 1+2.svs/luad_1_1_1_1_g-features.ttl.gz"))
    assert(got.keySet.contains("S.svs/_1_1_1_1_h-features.ttl.gz"))
    assert(!got("S.svs/_1_1_1_1_h-features.ttl.gz").contains("hal:cancerType"))
    assert(got("TCGA-XX-01.svs/blca_12_2_3_4_many-features.ttl.gz")
      .split("rdfs:member").length == 301)
    assert(got.values.exists(_.contains("POLYGON (())")))
  }

  test("documents equal the collect_list/format_string spelling on " +
    "rows with a non-ASCII image name and cancer type \"\"") {
    import spark.implicits._
    // a path the JVM's file-name encoding here may not map, so the
    // rows are built, not read: three files, each one run of rows
    val rows = Seq(
      ("1", "1.5", "[1:2:3:4]", "/b/blca_polygon/Ü-图像.svs/1_2_3_4_a-features.csv",
        "blca", "Ü-图像", "1_2_3_4_a-features.csv", "1_2_3_4_a-features"),
      ("2", "", "[5:6:7:8:5:6]", "/b/blca_polygon/Ü-图像.svs/1_2_3_4_a-features.csv",
        "blca", "Ü-图像", "1_2_3_4_a-features.csv", "1_2_3_4_a-features"),
      ("3", "2.5", "[]", "/b/X_polygon/Ü-图像.svs/ñ-features.csv",
        "", "Ü-图像", "ñ-features.csv", "ñ-features"),
      (null, null, "[9:9]", "/b/luad_polygon/é.svs/5_6_7_8_c-features.csv",
        "luad", "é", "5_6_7_8_c-features.csv", "5_6_7_8_c-features"))
      .toDF("AreaInPixels", "PhysicalSize", "Polygon", "path", "cancer_type",
        "image_name", "csv_name", "base_name").coalesce(1)
    val got = docs(SegCsvPipeline.documents(rows, "tš"))
    val want = docs(LineModeSpelling.documents(rows, "tš"))
    assert(got == want, got.keySet)
    assert(got.keySet == Set("Ü-图像.svs/blca_1_2_3_4_a-features.ttl.gz",
      "Ü-图像.svs/_ñ-features.ttl.gz", "é.svs/luad_5_6_7_8_c-features.ttl.gz"))
  }

  test("a quoted field with a line break is one row: the line break " +
    "stays in the field") {
    val base = Files.createTempDirectory("segquoted")
    val rel = "blca_polygon/I.svs.tar.gz/blca_polygon/I.svs/1_2_3_4_q-features.csv"
    put(base, rel, s"$Header\n5,1.5,\"[1:2:3:4\n:5:6]\"\n6,2.5,[7:8:9:10]\n")
    val got = docs(SegCsvPipeline.run(spark, base.toString, "T"))
    val path = "I.svs/blca_1_2_3_4_q-features.ttl.gz"
    assert(got.keySet == Set(path))
    assert(members(got(path)) ==
      Seq(member("POLYGON ((1 2, 3 4\n, 5 6, 1 2))", "5", "1.5"),
        member("POLYGON ((7 8, 9 10, 7 8))", "6", "2.5"))
        .mkString(";\n") + " .\n")
    assert(docs(LineModeSpelling.run(spark, base.toString, "T")) != got)
  }

  test("an unterminated quote runs to the end of the file") {
    val base = Files.createTempDirectory("segunterminated")
    val rel = "blca_polygon/I.svs.tar.gz/blca_polygon/I.svs/1_2_3_4_u-features.csv"
    put(base, rel, s"$Header\n5,1.5,[1:2:3:4]\n6,2.5,\"[5:6:7:8]\n7,3.5,[1:2:3:4]\n")
    val got = docs(SegCsvPipeline.run(spark, base.toString, "T"))
    val path = "I.svs/blca_1_2_3_4_u-features.ttl.gz"
    assert(got.keySet == Set(path))
    assert(members(got(path)) ==
      Seq(member("POLYGON ((1 2, 3 4, 1 2))", "5", "1.5"),
        member("POLYGON ((5 6, 7 8]\n7,3.5,[1, 2 3, 5 6))", "6", "2.5"))
        .mkString(";\n") + " .\n")
    assert(docs(LineModeSpelling.run(spark, base.toString, "T")) != got)
  }

  test("a file whose first line ends in LF and later ones in CRLF keeps " +
    "a trailing CR in the last field") {
    val base = Files.createTempDirectory("segmixed")
    val rel = "blca_polygon/I.svs.tar.gz/blca_polygon/I.svs/1_2_3_4_m-features.csv"
    put(base, rel, s"$Header\n5,1.5,[1:2:3:4]\r\n6,2.5,[7:8:9:10]\r\n")
    val got = docs(SegCsvPipeline.run(spark, base.toString, "T"))
    val path = "I.svs/blca_1_2_3_4_m-features.ttl.gz"
    assert(got.keySet == Set(path))
    assert(members(got(path)) ==
      Seq(member("POLYGON ((1 2, 3 4\r, 1 2))", "5", "1.5"),
        member("POLYGON ((7 8, 9 10\r, 7 8))", "6", "2.5"))
        .mkString(";\n") + " .\n")
    assert(docs(LineModeSpelling.run(spark, base.toString, "T")) != got)
  }
}

/** Test-only copy of `SegCsvPipeline.read` and `documents` as they were
  * spelled before the per-file assembly: a splittable line-mode read,
  * rows regrouped by file with `collect_list`, sorted back into file
  * order by (split offset, row id), and a `format_string` header. */
object LineModeSpelling {

  def read(spark: SparkSession, baseDir: String): DataFrame =
    PathMeta.filesIn(
      spark.read.format("csv").option("header", true)
        .schema(SegCsvPipeline.csvSchema),
      baseDir + "/*_polygon/*.svs.tar.gz/*_polygon/*.svs", "*-features.csv")
      .withColumn("cancer_type",
        regexp_extract(col("path"), "/([a-z]+)_polygon/[^/]+\\.svs/", 1))
      .withColumn("image_name",
        regexp_extract(col("path"), "/([^/]+)\\.svs/[^/]+$", 1))
      .withColumn("csv_name",
        regexp_extract(col("path"), "([^/]+)$", 1))
      .withColumn("base_name", regexp_replace(col("csv_name"), "\\.csv$", ""))

  def documents(rows: DataFrame, timestamp: String): DataFrame = {
    val withMeta = SegCsvPipeline.withPatchInfo(rows)
      .withColumn("image_hash", sha2(col("image_name"), 256))
      .withColumn("tokens",
        split(regexp_replace(trim(col("Polygon")), "^\\[|\\]$", ""), ":"))
      .withColumn("pairs", expr(
        """CASE WHEN size(tokens) >= 2 THEN transform(
          |  sequence(1, cast(floor(size(tokens) / 2) as int)),
          |  i -> concat(element_at(tokens, i * 2 - 1), ' ',
          |              element_at(tokens, i * 2)))
          | ELSE array() END""".stripMargin))
      .withColumn("closed_pairs", expr(
        """CASE WHEN size(pairs) > 0
          |  AND element_at(pairs, 1) <> element_at(pairs, -1)
          | THEN concat(pairs, array(element_at(pairs, 1)))
          | ELSE pairs END""".stripMargin))
      .filter(col("Polygon").isNotNull && length(trim(col("Polygon"))) > 0)
      .withColumn("wkt", concat(lit("POLYGON (("),
        concat_ws(", ", col("closed_pairs")), lit("))")))

    val frag = concat(
      lit("        rdfs:member          [ a                   geo:Feature;\n" +
        "                               geo:hasGeometry     [ geo:asWKT  \""),
      col("wkt"),
      lit("\"^^geo:wktLiteral ];\n" +
        "                               hal:classification  sno:68841002;\n" +
        "                               hal:measurement     [ hal:hasProbability  \"1.0\"^^xsd:float ]"),
      when(col("AreaInPixels").isNotNull && col("AreaInPixels") =!= "",
        concat(lit(";\n                               hal:areaInPixels    \""),
          col("AreaInPixels"), lit("\"^^xsd:int"))).otherwise(lit("")),
      when(col("PhysicalSize").isNotNull && col("PhysicalSize") =!= "",
        concat(lit(";\n                               hal:physicalSize    \""),
          col("PhysicalSize"), lit("\"^^xsd:float"))).otherwise(lit("")),
      lit("\n                             ]"))

    val byFile = withMeta
      .withColumn("split_off", expr("input_file_block_start()"))
      .withColumn("row_pos", monotonically_increasing_id())
      .withColumn("fragment", frag)
      .groupBy(col("path"), col("image_name"), col("cancer_type"),
        col("base_name"), col("image_hash"),
        col("patch_x"), col("patch_y"), col("patch_w"), col("patch_h"))
      .agg(concat_ws(";\n", expr("transform(array_sort(collect_list(" +
        "named_struct('off', split_off, 'pos', row_pos, 'f', fragment)" +
        ")), x -> x.f)"))
        .as("members"))

    byFile.select(
      concat(col("image_name"), lit(".svs/"), col("cancer_type"),
        lit("_"), col("base_name"), lit(".ttl.gz")).as("rel_path"),
      concat(
        lit(graft.ttl.Turtle.PrefixHeader),
        format_string(
          "<urn:sha256:%s>\n        a            so:ImageObject;\n" +
            "        dc:identifier \"%s\" .\n\n",
          col("image_hash"), col("image_name")),
        format_string(
          "<>      a                    geo:FeatureCollection;\n" +
            "        dc:creator           \"http://orcid.org/0000-0003-4165-4062\";\n" +
            "        dc:date              \"%s\"^^xsd:dateTime;\n" +
            "        dc:description       \"Nuclear segmentation predictions for %s - patch %s_%s (%sx%s)\";\n" +
            "        dc:publisher         <https://ror.org/01882y777> , <https://ror.org/05qghxh33>;\n" +
            "        dc:references        \"https://doi.org/10.1038/s41597-020-0528-1\";\n" +
            "        dc:title             \"nuclear-segmentation-predictions\";",
          lit(timestamp), col("image_name"), col("patch_x"), col("patch_y"),
          col("patch_w"), col("patch_h")),
        when(col("cancer_type") =!= "", format_string(
          "\n        hal:cancerType       \"%s\";", col("cancer_type")))
          .otherwise(lit("")),
        format_string(
          "\n        hal:patchX           \"%s\"^^xsd:int;\n" +
            "        hal:patchY           \"%s\"^^xsd:int;\n" +
            "        hal:patchWidth       \"%s\"^^xsd:int;\n" +
            "        hal:patchHeight      \"%s\"^^xsd:int;\n" +
            "        prov:wasGeneratedBy  [ a                       prov:Activity;\n" +
            "                               prov:used               <urn:sha256:%s>;\n" +
            "                             ];\n",
          col("patch_x"), col("patch_y"), col("patch_w"), col("patch_h"),
          col("image_hash")),
        col("members"), lit(" .\n")).as("ttl"))
  }

  def run(spark: SparkSession, baseDir: String, timestamp: String)
    : DataFrame =
    documents(read(spark, baseDir), timestamp)
}
