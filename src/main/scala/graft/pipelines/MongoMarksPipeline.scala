package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Mongo `mark` documents → batched GeoSPARQL TTL (§3.3 of SURVEY;
  * reference entry point mongo-etl/mongodb_to_rdf.py:661-846 — the
  * ~4-billion-mark / ~4-million-file workload, Turtle File
  * Summary.md:52).
  *
  * Engine redesign of the reference's hand-built machinery:
  *  - worker pool + per-analysis cursor loop (X3/X6) → one declarative
  *    plan: marks ⋈ analyses equi-join on (execution_id, imageid) (J3),
  *    a shuffled hash join that builds the analysis side, so the
  *    marks stream through it and are shuffled exactly once.
  *  - cursor micro-batching + manual flush every 1000 (T1/W1) → one
  *    sorted-group pass: each group's marks, in mark-id order, cut
  *    into a document every `batchSize` — deterministic, resumable.
  *  - Drupal hash memo-cache (J4/X5) → precomputed slide→hash lookup
  *    joined once (broadcast while Catalyst's size estimate is under
  *    Broadcasting's cap), `coalesce` fallback to sha2(imageid) and
  *    a hal:hashMissing flag (mongodb_to_rdf.py:282-301,340-342).
  *  - checkpoint anti-join (J5/T2) belongs to incremental.BatchLedger.
  *
  * Scale: the mark→TTL map is narrow; the one wide op over the marks
  * is the join's hash partitioning on (exec, image), which the
  * (analysis, exec, image) grouping reuses, holding one document at a
  * time. No Spark job runs while the plan is built: every pass is one
  * lazy plan, run by its sink.
  *
  * A SKEWED corpus (one analysis holding a large share of all marks)
  * sorts its hot (exec, image) group in ONE task: the r20 Zipf rung
  * measured a 4.5× straggler at a 23% hot share.
  */
object MongoMarksPipeline {

  val BatchSize = 1000

  private def st(fields: StructField*): StructType = StructType(fields)
  private def f(name: String, t: DataType): StructField =
    StructField(name, t)

  val analysisSchema: StructType = st(
    f("_id", StringType),
    f("analysis", st(
      f("execution_id", StringType),
      f("algorithm_params", st(
        f("image_width", LongType),
        f("image_height", LongType),
        f("case_id", StringType))))),
    f("image", st(
      f("imageid", StringType),
      f("subject", StringType),
      f("study", StringType),
      f("slide", StringType))))

  val markSchema: StructType = st(
    f("_id", StringType),
    f("provenance", st(
      f("analysis", st(f("execution_id", StringType))),
      f("image", st(
        f("imageid", StringType),
        f("slide", StringType))))),
    f("geometries", st(
      f("features", ArrayType(st(
        f("geometry", st(
          f("type", StringType),
          f("coordinates", ArrayType(ArrayType(ArrayType(DoubleType)))))),
        f("properties", st(
          f("footprint", DoubleType),
          f("nucleustype", StringType)))))))),
    f("userUpdate", st(
      f("mark", st(
        f("annotation", ArrayType(st(f("annotationID", StringType)))))))))

  def readAnalyses(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(analysisSchema).json(path)
  def readMarks(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(markSchema).json(path)

  /** Analysis side: projected + hash-enriched (S4/P2/J4). `slideHashes`
    * is the precomputed (slide, real_hash) lookup (may be empty). */
  def analysisSide(analyses: DataFrame, slideHashes: DataFrame)
    : DataFrame = {
    val a = analyses.select(
      coalesce(col("image.slide"), lit("")).as("slide"),
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
      coalesce(col("image.study"), lit("")).as("study"))
    // size-gated by Catalyst's ESTIMATE, which fires no job: one row
    // per slide — small today, but it tracks the corpus. A lookup read
    // from slide_hashes.json is estimated near its file size; one
    // derived from a binaryFile scan (sha2 over image bytes) is
    // estimated far too high and so shuffle-joins, never OOMs.
    a.join(graft.operators.Broadcasting.maybeBroadcast(slideHashes),
      Seq("slide"), "left")
      .select(a.columns.toSeq.map(col) ++ Seq(
        (col("slide") =!= "" && col("real_hash").isNull).as("hash_missing"),
        coalesce(col("real_hash"), sha2(col("image_id"), 256))
          .as("image_hash")): _*)
  }

  /** Mark side: first-feature extraction (W2), predicates P7-P9,
    * denormalized "%.2f" WKT with string-level ring closure (F3,
    * mongodb_to_rdf.py:238-261), valid-annotation check P8. */
  def markSide(marks: DataFrame, analysisSide: DataFrame): DataFrame = {
    // W2 first-element extraction is spelled CASE WHEN size(..) > 0,
    // NOT try_element_at: when the filter below inlines this
    // expression, Spark's subexpression elimination generates
    // uncompilable code for TryElementAt (an undeclared isNull local
    // — janino rejects it), and the per-task compile-retry storm
    // serializes every executor thread behind the codegen cache lock
    // (measured 16× on EtlBench before interpreter fallback even
    // begins). The guarded CASE generates clean shared code and keeps
    // ANSI-safe null-on-missing semantics.
    val joined = marks.select(
      col("_id").as("mark_id"),
      col("provenance.analysis.execution_id").as("exec_id"),
      col("provenance.image.imageid").as("image_id"),
      expr("""CASE WHEN size(geometries.features) > 0
             | THEN geometries.features[0] ELSE NULL END""".stripMargin)
        .as("feature"),
      expr("""CASE WHEN size(userUpdate.mark.annotation) > 0
             | THEN userUpdate.mark.annotation[0].annotationID
             | ELSE NULL END""".stripMargin).as("ann_id"))
      // A shuffled hash join that builds the analysis side. Unhinted,
      // Catalyst (no CBO) sizes the analysis side as the PRODUCT of
      // its join children and broadcasts the MARKS instead (measured:
      // BroadcastHashJoin BuildLeft over the marks scan), and one task
      // then runs the WKT and batching for every mark. The
      // hint outranks any broadcast threshold and builds no
      // driver-side relation that ~4M analyses could overflow. Its
      // hash partitioning on (exec, image) also serves the analysis
      // dedupe window below it and the batch grouping above it, so the
      // marks are shuffled exactly once.
      .join(analysisSide.hint("shuffle_hash"), Seq("exec_id", "image_id"))

    val nucleus = coalesce(col("feature.properties.nucleustype"), lit(""))
    joined
      .filter(col("feature").isNotNull &&
        col("feature.geometry.type") === "Polygon" &&
        expr("size(feature.geometry.coordinates) >= 1") &&
        expr("size(feature.geometry.coordinates[0]) >= 1") &&
        // a degenerate POINT ([], [x]): the reference silently skips
        // such a mark (polygon_to_wkt's bare except → None,
        // mongodb_to_rdf.py:260-261) — so must we; the WKT kernel
        // would keep the mark with a NULL wkt
        expr("forall(feature.geometry.coordinates[0], p -> size(p) >= 2)"))
      // ONE implementation of the F3 denormalize+format+close contract:
      // the codegen'd ring kernel, whose outer-ring access the filter
      // above guards
      .select(col("*"),
        graft.functions.GeomFunctions.wktDenormalized(
          col("feature.geometry.coordinates"),
          col("image_width"), col("image_height")).as("wkt"),
        nucleus.as("nucleustype"),
        coalesce(col("feature.properties.footprint"), lit(0.0))
          .as("footprint"),
        (nucleus =!= "" && size(split(nucleus, "\\.")) >= 3)
          .as("is_nuclear"),
        (col("ann_id").isNotNull &&
          col("ann_id").startsWith("http://snomed.info/id/"))
          .as("valid_ann"))
  }

  /** A batching row: its group's header columns, then its own. A NULL
    * string appends as "null", as `format_string("%s", NULL)` did. */
  final case class MarkRow(image_width: Long, image_height: Long,
    case_id: String, subject_id: String, study: String, slide: String,
    hash_missing: Boolean, image_hash: String, mark_id: String,
    nucleustype: String, is_nuclear: Boolean, valid_ann: Boolean,
    ann_id: String, footprint: String, wkt: String)

  private def nonEmpty(s: String): Boolean = s != null && !s.isEmpty
  /** `%06d`: zero-padded to six digits, never truncated. */
  private def batchNumber(n: Int): String = "0" * (6 - s"$n".length) + n

  /** TTL header (mongodb_to_rdf.py:303-357), once per document. */
  private def header(analysisId: String, execId: String, imageId: String,
    batch: String, r: MarkRow): String = {
    def opt(pred: String, v: String) =
      if (nonEmpty(v)) s"""    hal:$pred "$v" ;\n""" else ""
    val (w, h) = (r.image_width, r.image_height)
    "# GeoSPARQL representation of pathology image analysis\n" +
      s"# Analysis ID: $analysisId\n# Execution: $execId\n" +
      s"# Image: $imageId\n# Batch: $batch\n\n" +
      "@prefix geo: <http://www.opengis.net/ont/geosparql#> .\n" +
      "@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .\n" +
      "@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .\n" +
      "@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .\n" +
      "@prefix snomed: <http://snomed.info/id/> .\n" +
      "@prefix so:   <https://schema.org/> .\n" +
      "@prefix loinc: <http://loinc.org/rdf/> .\n" +
      "@prefix hal: <https://halcyon.is/ns/> .\n\n" +
      s"<urn:sha256:${r.image_hash}>\n    a so:ImageObject ;\n" +
      s"""    hal:imageId "$imageId" ;\n""" + opt("caseId", r.case_id) +
      opt("subjectId", r.subject_id) + opt("studyId", r.study) +
      opt("slideId", r.slide) + (if (r.hash_missing)
        "    hal:hashMissing \"true\"^^xsd:boolean ;\n" else "") +
      s"    hal:imageWidth $w ;\n    hal:imageHeight $h ;\n" +
      s"""    hal:analysisId "$analysisId" ;\n    geo:hasGeometry [\n""" +
      s"""        geo:asWKT "POLYGON ((0 0, $w 0, $w $h, 0 $h, 0 0))"""" +
      "^^geo:wktLiteral\n    ] ;\n    hal:hasFeatureCollection [\n" +
      "        a geo:FeatureCollection"
  }

  /** Per-mark TTL fragment (mongodb_to_rdf.py:414-451), " ;"-led; the
    * markSide filter drops every ring whose `wkt` would be NULL. */
  private def appendMark(sb: java.lang.StringBuilder, execId: String,
    r: MarkRow): Unit = {
    sb.append(" ;\n        geo:hasMember [\n            a geo:Feature ;\n" +
      "            hal:markId \"").append(r.mark_id)
      .append("\" ;\n            hal:executionId \"").append(execId).append("\" ;\n")
    if (nonEmpty(r.nucleustype))
      sb.append("            hal:nucleusType \"").append(r.nucleustype)
        .append("\" ;\n")
    if (r.is_nuclear)
      sb.append("            hal:hasMaterialType snomed:68841002 ;  # Nuclear material\n")
    if (r.valid_ann)
      sb.append("            hal:hasAnnotation <").append(r.ann_id)
        .append("> ;  # Human-verified SNOMED code\n")
    sb.append("            hal:footprint ").append(r.footprint)
      .append(" ;\n            geo:hasGeometry [\n                geo:asWKT \"")
      .append(r.wkt).append("\"^^geo:wktLiteral\n            ]\n        ]")
  }

  /** One group's documents: its marks, in mark-id order, cut every
    * `batchSize` into (rel_path, ttl, n_marks), numbered from 1. */
  private[graft] def batches(analysisId: String, execId: String,
    imageId: String, rows: Iterator[MarkRow], batchSize: Int)
    : Iterator[(String, String, Long)] = {
    val marks = rows.buffered
    Iterator.from(1).takeWhile(_ => marks.hasNext).map { batch =>
      val num = batchNumber(batch)
      val sb = new java.lang.StringBuilder(
        header(analysisId, execId, imageId, num, marks.head))
      var n = 0
      while (n < batchSize && marks.hasNext) {
        appendMark(sb, execId, marks.next()); n += 1
      }
      (s"$execId/$imageId/batch_$num.ttl.gz",
        sb.append("\n    ] .\n").toString, n.toLong)
    }
  }

  /** Full pipeline: marks + analyses (+ slide hash lookup) →
    * (rel_path, ttl, n_marks) batch documents of ≤ batchSize marks,
    * paths `exec_id/image_id/batch_%06d.ttl.gz` (K3). */
  def documents(marks: DataFrame, analyses: DataFrame,
    slideHashes: DataFrame, batchSize: Int = BatchSize): DataFrame = {
    // a batch of 0 marks consumes none, so `batches` would never end
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    // rel_path carries only (exec, image, batch): if two analysis
    // docs ever share (exec, image), their outputs would collide on
    // the same paths and TtlFileSink's unique-path contract breaks —
    // one analysis's documents silently lost (the reference last-wins
    // overwrites in that case). Keep ONE analysis per (exec, image),
    // deterministically the HIGHEST analysis_id, BEFORE the mark
    // join: the reference's overwrite keeps the last-processed
    // analysis, and its cursor walks ascending ObjectIds — max _id is
    // the closest deterministic proxy for that winner.
    val dedupW = Window.partitionBy(col("exec_id"), col("image_id"))
      .orderBy(col("analysis_id").desc)
    val aSide = analysisSide(analyses, slideHashes)
      .withColumn("a_rn", row_number().over(dedupW))
      .filter(col("a_rn") === 1).drop("a_rn")
    import marks.sparkSession.implicits._
    // analysis_id is unique per (exec, image) after the dedupe above;
    // keeping it in the key documents the invariant. A column key, not
    // a key lambda, adds no AppendColumns: the join's partitioning
    // serves the grouping, and the marks are shuffled once.
    markSide(marks, aSide).select((Seq("analysis_id", "exec_id",
      "image_id", "image_width", "image_height", "case_id", "subject_id",
      "study", "slide", "hash_missing", "image_hash", "mark_id",
      "nucleustype", "is_nuclear", "valid_ann", "ann_id", "wkt").map(col) :+
      col("footprint").cast("string").as("footprint")): _*)
      .groupBy(col("analysis_id"), col("exec_id"), col("image_id"))
      .as[(String, String, String), MarkRow]
      .flatMapSortedGroups(col("mark_id")) { case ((a, e, i), rows) =>
        batches(a, e, i, rows, batchSize)
      }.toDF("rel_path", "ttl", "n_marks")
  }
}
