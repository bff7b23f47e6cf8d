package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Nuclear-segmentation CSV → TTL pipeline (§3.2 of SURVEY; reference
  * entry point segmentation-etl/nuclear_segmentation_etl.py:506-587).
  *
  * The reference's 4-level directory walk (S3, :362-446) becomes a
  * glob over the slide directories plus a file-name filter
  * (`PathMeta.filesIn`); cancer type, slide name and patch metadata
  * come from `input_file_name()` regex extraction (F6/F7) instead of
  * nested loops. Each CSV (≈ one patch) yields one gzip'd TTL
  * document (K2/K4); per-patch parallelism replaces the per-SVS
  * process pool (X2).
  *
  * Scale: a narrow scan→map over millions of small CSVs, with no
  * shuffle. The multiLine read is not splittable, so one task reads
  * each CSV whole, in file order, and assembles its document in the
  * same pass. The cost: one huge CSV no longer splits across tasks;
  * the reference's CSVs hold one patch each.
  */
object SegCsvPipeline {

  /** sno:68841002 = nucleoplasm (nuclear_segmentation_etl.py:44). */
  val NuclearMaterialSnomedId = "68841002"

  val csvSchema: StructType = StructType(Seq(
    StructField("AreaInPixels", StringType),
    StructField("PhysicalSize", StringType),
    StructField("Polygon", StringType)))

  /** S2/S3: scan `<base>/<cancer>_polygon/<slide>.svs.tar.gz/
    * <cancer>_polygon/<slide>.svs/<X>_<Y>_<W>_<H>_*-features.csv`,
    * extracting path-encoded metadata. The slide directories are the
    * root paths (one listing task per slide, not per CSV). */
  def read(spark: SparkSession, baseDir: String): DataFrame =
    PathMeta.filesIn(
      spark.read.format("csv").option("header", true)
        .option("multiLine", true).schema(csvSchema),
      baseDir + "/*_polygon/*.svs.tar.gz/*_polygon/*.svs", "*-features.csv")
      .withColumn("cancer_type",
        regexp_extract(col("path"), "/([a-z]+)_polygon/[^/]+\\.svs/", 1))
      .withColumn("image_name",
        regexp_extract(col("path"), "/([^/]+)\\.svs/[^/]+$", 1))
      .withColumn("csv_name",
        regexp_extract(col("path"), "([^/]+)$", 1))
      .withColumn("base_name", regexp_replace(col("csv_name"), "\\.csv$", ""))

  /** F6: patch metadata from `X_Y_W_H_*` filename; fallback
    * {0,0,40000,40000} on any non-integer part (:79-114). try_cast /
    * try_element_at keep ANSI mode error-free on malformed names. */
  def withPatchInfo(df: DataFrame): DataFrame = {
    val d = df.withColumn("fparts", split(col("base_name"), "_"))
      .withColumn("px", expr("try_cast(try_element_at(fparts, 1) as bigint)"))
      .withColumn("py", expr("try_cast(try_element_at(fparts, 2) as bigint)"))
      .withColumn("pw", expr("try_cast(try_element_at(fparts, 3) as bigint)"))
      .withColumn("ph", expr("try_cast(try_element_at(fparts, 4) as bigint)"))
    val ok = size(col("fparts")) >= 4 && col("px").isNotNull &&
      col("py").isNotNull && col("pw").isNotNull && col("ph").isNotNull
    d.withColumn("patch_x", when(ok, col("px")).otherwise(0L))
      .withColumn("patch_y", when(ok, col("py")).otherwise(0L))
      .withColumn("patch_w", when(ok, col("pw")).otherwise(40000L))
      .withColumn("patch_h", when(ok, col("ph")).otherwise(40000L))
      .drop("fparts", "px", "py", "pw", "ph")
  }

  /** A nucleus row: its file's header columns, then its member
    * fragment. None is NULL (`regexp_extract` gives "" on no match). */
  final case class SegRow(path: String, image_name: String,
    cancer_type: String, base_name: String, image_hash: String,
    patch_x: Long, patch_y: Long, patch_w: Long, patch_h: Long,
    fragment: String)

  /** A patch document's TTL, up to its first member. */
  private def header(r: SegRow, timestamp: String): String =
    graft.ttl.Turtle.PrefixHeader +
      s"<urn:sha256:${r.image_hash}>\n        a            so:ImageObject;\n" +
      s"        dc:identifier \"${r.image_name}\" .\n\n" +
      "<>      a                    geo:FeatureCollection;\n" +
      "        dc:creator           \"http://orcid.org/0000-0003-4165-4062\";\n" +
      s"        dc:date              \"$timestamp\"^^xsd:dateTime;\n" +
      s"        dc:description       \"Nuclear segmentation predictions for ${r.image_name}" +
      s" - patch ${r.patch_x}_${r.patch_y} (${r.patch_w}x${r.patch_h})\";\n" +
      "        dc:publisher         <https://ror.org/01882y777> , <https://ror.org/05qghxh33>;\n" +
      "        dc:references        \"https://doi.org/10.1038/s41597-020-0528-1\";\n" +
      "        dc:title             \"nuclear-segmentation-predictions\";" +
      (if (r.cancer_type.isEmpty) "" else s"\n        hal:cancerType       \"${r.cancer_type}\";") +
      s"\n        hal:patchX           \"${r.patch_x}\"^^xsd:int;\n" +
      s"        hal:patchY           \"${r.patch_y}\"^^xsd:int;\n" +
      s"        hal:patchWidth       \"${r.patch_w}\"^^xsd:int;\n" +
      s"        hal:patchHeight      \"${r.patch_h}\"^^xsd:int;\n" +
      "        prov:wasGeneratedBy  [ a                       prov:Activity;\n" +
      s"                               prov:used               <urn:sha256:${r.image_hash}>;\n" +
      "                             ];\n"

  /** One (rel_path, ttl) document per run of rows that share a `path`:
    * the header, the members joined by ";\n", then " .\n". */
  private def patches(rows: Iterator[SegRow], timestamp: String)
    : Iterator[(String, String)] = {
    val rs = rows.buffered
    new Iterator[(String, String)] {
      def hasNext: Boolean = rs.hasNext
      def next(): (String, String) = {
        val first = rs.next()
        val sb = new java.lang.StringBuilder(header(first, timestamp))
          .append(first.fragment)
        while (rs.hasNext && rs.head.path == first.path)
          sb.append(";\n").append(rs.next().fragment)
        (first.image_name + ".svs/" + first.cancer_type + "_" +
          first.base_name + ".ttl.gz", sb.append(" .\n").toString)
      }
    }
  }

  /** One TTL document per CSV file (gzip sink is TtlFileSink's job). */
  def documents(rows: DataFrame, timestamp: String): DataFrame = {
    val withMeta = withPatchInfo(rows)
      .withColumn("image_hash", sha2(col("image_name"), 256))
      .withColumn("tokens",
        split(regexp_replace(trim(col("Polygon")), "^\\[|\\]$", ""), ":"))
      // sequence(1,0) would DESCEND and drive element_at(_, 0) into an
      // error on degenerate cells like '[]' / '[7]' — guard to empty.
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
      // reference emits "POLYGON (())" for pairless rows (it only
      // skips when the STRING is empty) — preserve that quirk, which
      // the guarded transform above now reaches safely
      .filter(col("Polygon").isNotNull && length(trim(col("Polygon"))) > 0)
      .withColumn("wkt", concat(lit("POLYGON (("),
        concat_ws(", ", col("closed_pairs")), lit("))")))

    val frag = concat(
      lit("        rdfs:member          [ a                   geo:Feature;\n" +
        "                               geo:hasGeometry     [ geo:asWKT  \""),
      col("wkt"),
      lit("\"^^geo:wktLiteral ];\n" +
        s"                               hal:classification  sno:$NuclearMaterialSnomedId;\n" +
        "                               hal:measurement     [ hal:hasProbability  \"1.0\"^^xsd:float ]"),
      when(col("AreaInPixels").isNotNull && col("AreaInPixels") =!= "",
        concat(lit(";\n                               hal:areaInPixels    \""),
          col("AreaInPixels"), lit("\"^^xsd:int"))).otherwise(lit("")),
      when(col("PhysicalSize").isNotNull && col("PhysicalSize") =!= "",
        concat(lit(";\n                               hal:physicalSize    \""),
          col("PhysicalSize"), lit("\"^^xsd:float"))).otherwise(lit("")),
      lit("\n                             ]"))

    // The read is unsplittable, so each task reads whole files, one
    // after another: a file's rows are contiguous and in file order.
    import rows.sparkSession.implicits._
    withMeta.select(col("path"), col("image_name"), col("cancer_type"),
      col("base_name"), col("image_hash"), col("patch_x"), col("patch_y"),
      col("patch_w"), col("patch_h"), frag.as("fragment"))
      .as[SegRow].mapPartitions(patches(_, timestamp))
      .toDF("rel_path", "ttl")
  }

  def run(spark: SparkSession, baseDir: String, timestamp: String)
    : DataFrame =
    documents(read(spark, baseDir), timestamp)
}
