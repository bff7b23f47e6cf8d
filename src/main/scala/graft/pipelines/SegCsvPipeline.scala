package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
  * Scale: a narrow scan→map over millions of small CSVs; file-count
  * parallelism, no shuffle except the per-patch collect_list (bounded:
  * one patch's rows). maxRecordsPerFile/partitionBy handle the tree
  * layout.
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
      spark.read.format("csv").option("header", true).schema(csvSchema),
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

    // explicit member order: collect_list alone takes shuffle-fetch
    // arrival order, which varies across runs when several map tasks
    // feed one group (multi-split CSVs, speculative retries) — the
    // sibling pipelines sort for exactly this reason: GeoJSON by
    // `pos`, the mark path by `mark_id`.
    // monotonically_increasing_id alone is NOT file order for a CSV
    // larger than one split: ids are (partition id, row-in-partition)
    // and Spark packs file splits into FilePartitions in DESCENDING
    // split-size order, so a later split can land in an earlier
    // partition. Prefixing the sort key with input_file_block_start()
    // (the split's byte offset within its file) restores exact file
    // row order with no single-split assumption: splits sort by file
    // offset, rows within a split by the monotonic id.
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
