package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
  *  - cursor micro-batching + manual flush every 1000 (T1/W1) → window
  *    batch numbering: row_number over (exec, image) ordered by mark
  *    id, batch = (rn-1)/1000+1 — deterministic, resumable.
  *  - Drupal hash memo-cache (J4/X5) → precomputed slide→hash lookup
  *    joined once (broadcast while Catalyst's size estimate is under
  *    Broadcasting's cap), `coalesce` fallback to sha2(imageid) and
  *    a hal:hashMissing flag (mongodb_to_rdf.py:282-301,340-342).
  *  - checkpoint anti-join (J5/T2) belongs to incremental.BatchLedger.
  *
  * Scale: the mark→TTL map is narrow; the one wide op over the marks
  * is the join's hash partitioning on (exec, image), which the
  * (analysis, exec, image) window and the batch grouping reuse.
  * No Spark job runs while the plan is built: every pass is one lazy
  * plan, run by its sink.
  * (exec, image) groups are ~1k-1M marks — far below partition-skew
  * territory; the final grouping key includes batch_num, so no group
  * ever exceeds BATCH_SIZE rows when assembling documents.
  *
  * A SKEWED corpus (one analysis holding a large share of all marks)
  * sorts its hot (exec, image) group in ONE window task: the r20 Zipf
  * rung measured a 4.5× straggler at a 23% hot share. The file
  * assembly stays BatchSize-bounded because batch_num is in the
  * grouping key.
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
    // size-gated by Catalyst's ESTIMATE, which fires no job: one row
    // per slide — small today, but it tracks the corpus. A lookup read
    // from slide_hashes.json is estimated near its file size; one
    // derived from a binaryFile scan (sha2 over image bytes) is
    // estimated far too high and so shuffle-joins, never OOMs.
    a.join(graft.operators.Broadcasting.maybeBroadcast(slideHashes),
      Seq("slide"), "left")
      .withColumn("hash_missing",
        col("slide") =!= "" && col("real_hash").isNull)
      .withColumn("image_hash",
        coalesce(col("real_hash"), sha2(col("image_id"), 256)))
      .drop("real_hash")
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
      // then runs the WKT, window and aggregate for every mark. The
      // hint outranks any broadcast threshold and builds no
      // driver-side relation that ~4M analyses could overflow. Its
      // hash partitioning on (exec, image) also serves the analysis
      // dedupe window below it and the batch window and grouping
      // above it, so the marks are shuffled exactly once.
      .join(analysisSide.hint("shuffle_hash"), Seq("exec_id", "image_id"))

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
  }

  /** Per-mark TTL fragment (mongodb_to_rdf.py:414-451): starts with
    * " ;" continuing the previous predicate list. */
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

  /** TTL header (mongodb_to_rdf.py:303-357). */
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

  /** Full pipeline: marks + analyses (+ slide hash lookup) →
    * (rel_path, ttl) batch documents of ≤ BatchSize marks, paths
    * `exec_id/image_id/batch_%06d.ttl.gz` (K3). */
  def documents(marks: DataFrame, analyses: DataFrame,
    slideHashes: DataFrame, batchSize: Int = BatchSize): DataFrame = {
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
    val m = markSide(marks, aSide)

    // analysis_id is unique per (exec, image) after the dedupe above;
    // keeping it in the batching key documents the invariant
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
