package graft.pipelines

import java.nio.charset.StandardCharsets.UTF_8
import java.util.regex.Pattern
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Nuclear-segmentation CSV → TTL pipeline (§3.2 of SURVEY; reference
  * entry point segmentation-etl/nuclear_segmentation_etl.py:506-587).
  *
  * The reference's 4-level directory walk (S3, :362-446) becomes a
  * glob over the slide directories plus a file-name filter
  * (`PathMeta.filesIn`). Each CSV (≈ one patch) yields one gzip'd TTL
  * document (K2/K4); per-patch parallelism replaces the per-SVS
  * process pool (X2).
  *
  * Scale: a narrow scan→map over millions of small CSVs, with no
  * shuffle. The multiLine read is not splittable, so one task reads
  * each CSV whole, in file order, and assembles its document in the
  * same pass. The cost: one huge CSV no longer splits across tasks;
  * the reference's CSVs hold one patch each.
  *
  * What is constant within a file is derived once, at its first row,
  * not per nucleus: cancer type, slide name and patch metadata from the
  * path (F6/F7), the slide's hash and the header. Each CSV gets its own
  * univocity parser, so the parse buffer is sized for a ~1 KB file:
  * the 2 MB default is a G1 humongous allocation at a 3 GB heap.
  */
object SegCsvPipeline {

  /** sno:68841002 = nucleoplasm (nuclear_segmentation_etl.py:44). */
  val NuclearMaterialSnomedId = "68841002"

  val csvSchema: StructType = StructType(Seq(
    StructField("AreaInPixels", StringType),
    StructField("PhysicalSize", StringType),
    StructField("Polygon", StringType)))

  /** univocity's parse buffer, in chars. It detects the line separator
    * in the first load only: a CRLF file whose first line is longer
    * keeps a `\r` in each row's last field (MIGRATION §2). */
  private val InputBufferSize = 8192

  /** S2/S3: scan `<base>/<cancer>_polygon/<slide>.svs.tar.gz/
    * <cancer>_polygon/<slide>.svs/<X>_<Y>_<W>_<H>_*-features.csv` with
    * each file's decoded `path`. The slide directories are the root
    * paths (one listing task per slide, not per CSV). */
  def read(spark: SparkSession, baseDir: String): DataFrame =
    PathMeta.filesIn(
      spark.read.format("csv").option("header", true)
        .option("multiLine", true).option("inputBufferSize", InputBufferSize)
        .schema(csvSchema),
      baseDir + "/*_polygon/*.svs.tar.gz/*_polygon/*.svs", "*-features.csv")

  /** A nucleus row: its file's path and its member fragment. */
  final case class SegRow(path: String, fragment: String)

  private val CancerType = Pattern.compile("/([a-z]+)_polygon/[^/]+\\.svs/")
  private val ImageName = Pattern.compile("/([^/]+)\\.svs/[^/]+$")
  private val CsvName = Pattern.compile("([^/]+)$")
  private val CsvSuffix = Pattern.compile("\\.csv$")

  /** `regexp_extract(s, p, 1)`: "" on no match or a NULL group. */
  private def group1(p: Pattern, s: String): String = {
    val m = p.matcher(s)
    if (m.find() && m.group(1) != null) m.group(1) else ""
  }

  /** F6: patch x/y/w/h from the `X_Y_W_H_*` base name, fallback
    * {0,0,40000,40000} (:79-114). A part parses as `try_cast(… as
    * bigint)` does: padding trimmed, no fraction and no overflow. */
  private def patchOf(baseName: String): Array[Long] = {
    val parts = baseName.split("_", -1)
    val xywh = if (parts.length < 4) None
      else try Some(Array.tabulate(4)(i => UTF8String.fromString(parts(i)).toLongExact))
      catch { case _: NumberFormatException => None }
    xywh.getOrElse(Array(0L, 0L, 40000L, 40000L))
  }

  /** The CSV's rel_path and its document up to the first member. */
  private def patchHeader(path: String, timestamp: String): (String, String) = {
    val cancerType = group1(CancerType, path)
    val imageName = group1(ImageName, path)
    val baseName = CsvSuffix.matcher(group1(CsvName, path)).replaceAll("")
    val Array(x, y, w, h) = patchOf(baseName)
    val hash = graft.Hex.digest("SHA-256", imageName.getBytes(UTF_8))
    (imageName + ".svs/" + cancerType + "_" + baseName + ".ttl.gz",
      graft.ttl.Turtle.PrefixHeader +
        s"<urn:sha256:$hash>\n        a            so:ImageObject;\n" +
        s"        dc:identifier \"$imageName\" .\n\n" +
        "<>      a                    geo:FeatureCollection;\n" +
        "        dc:creator           \"http://orcid.org/0000-0003-4165-4062\";\n" +
        s"        dc:date              \"$timestamp\"^^xsd:dateTime;\n" +
        s"        dc:description       \"Nuclear segmentation predictions for $imageName" +
        s" - patch ${x}_$y (${w}x$h)\";\n" +
        "        dc:publisher         <https://ror.org/01882y777> , <https://ror.org/05qghxh33>;\n" +
        "        dc:references        \"https://doi.org/10.1038/s41597-020-0528-1\";\n" +
        "        dc:title             \"nuclear-segmentation-predictions\";" +
        (if (cancerType.isEmpty) "" else s"\n        hal:cancerType       \"$cancerType\";") +
        s"\n        hal:patchX           \"$x\"^^xsd:int;\n" +
        s"        hal:patchY           \"$y\"^^xsd:int;\n" +
        s"        hal:patchWidth       \"$w\"^^xsd:int;\n" +
        s"        hal:patchHeight      \"$h\"^^xsd:int;\n" +
        "        prov:wasGeneratedBy  [ a                       prov:Activity;\n" +
        s"                               prov:used               <urn:sha256:$hash>;\n" +
        "                             ];\n")
  }

  /** One (rel_path, ttl) document per run of rows that share a `path`:
    * the header, the members joined by ";\n", then " .\n". */
  private def patches(rows: Iterator[SegRow], timestamp: String)
    : Iterator[(String, String)] = {
    val rs = rows.buffered
    new Iterator[(String, String)] {
      def hasNext: Boolean = rs.hasNext
      def next(): (String, String) = {
        val first = rs.next()
        val (relPath, header) = patchHeader(first.path, timestamp)
        val sb = new java.lang.StringBuilder(header).append(first.fragment)
        while (rs.hasNext && rs.head.path == first.path)
          sb.append(";\n").append(rs.next().fragment)
        (relPath, sb.append(" .\n").toString)
      }
    }
  }

  /** One TTL document per CSV file (gzip sink is TtlFileSink's job). */
  def documents(rows: DataFrame, timestamp: String): DataFrame = {
    val withWkt = rows
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
    withWkt.select(col("path"), frag.as("fragment"))
      .as[SegRow].mapPartitions(patches(_, timestamp))
      .toDF("rel_path", "ttl")
  }

  def run(spark: SparkSession, baseDir: String, timestamp: String)
    : DataFrame =
    documents(read(spark, baseDir), timestamp)
}
