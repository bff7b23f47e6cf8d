package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Compile-checked versions of the MIGRATION.md snippets — every
  * documented reference-to-engine mapping is a real method here, so
  * the guide can't drift from the API. */
object Examples {

  /** MIGRATION §1: GeoJSON dir → one .ttl per input stem. */
  def geojsonEtl(spark: SparkSession, inDir: String, outDir: String,
    timestamp: String): Unit = {
    import graft.pipelines.{GeoJsonPipeline, TtlFileSink}
    val docs = GeoJsonPipeline.run(spark, inDir, timestamp)
      .select(concat(col("stem"), lit(".ttl")).as("rel_path"),
        col("ttl"))
    TtlFileSink.write(docs, outDir)
  }

  /** MIGRATION §2: segmentation tree → gzip TTL per patch, resumable. */
  def segEtl(spark: SparkSession, baseDir: String, outDir: String,
    timestamp: String, startFrom: Option[String] = None): Unit = {
    import graft.pipelines.{SegCsvPipeline, TtlFileSink}
    val all = SegCsvPipeline.run(spark, baseDir, timestamp)
    val docs = startFrom.fold(all)(s => all.filter(col("rel_path") >= s))
    TtlFileSink.write(docs, outDir, skipExisting = true)
  }

  /** MIGRATION §3: marks + analyses (+ real image hashes) → batched
    * TTL with ledger bookkeeping. Each call is one ledger wave,
    * numbered one past the newest committed wave: a crashed call
    * re-runs its uncommitted wave id against an unchanged ledger, so
    * the pending ids it records are the same key set. A committed
    * wave is never re-run, so each call first folds every committed
    * wave, before `pending` builds its frame (no lazy frame is held
    * across the fold): the ledger lists at most four dirs however
    * many calls ran. */
  def mongoEtl(spark: SparkSession, marksPath: String,
    analysesPath: String, svsGlob: String, outDir: String,
    ledgerDir: String): Unit = {
    import graft.pipelines.{HashRepairJob, MongoMarksPipeline => M, TtlFileSink}
    import graft.incremental.BatchLedger
    val wave = BatchLedger.nextWave(spark, ledgerDir)
    BatchLedger.fold(spark, ledgerDir, wave - 1)
    // Persist the pending set so the sink write and the ledger record
    // see the SAME snapshot (pending re-evaluates the ledger dir
    // otherwise), and record the ~4M keys distributively — never
    // collect them to the driver.
    val analyses = BatchLedger.pending(
      M.readAnalyses(spark, analysesPath), ledgerDir, "_id").persist()
    try {
      // buildHashLookup already returns (slide, real_hash) keyed the
      // way documents() joins it — no translation step needed
      val hashes = HashRepairJob.buildHashLookup(spark, svsGlob)
      val docs = M.documents(M.readMarks(spark, marksPath), analyses,
        hashes)
      TtlFileSink.write(docs.select("rel_path", "ttl"), outDir)
      BatchLedger.record(analyses.select("_id"), ledgerDir, wave)
    } finally analyses.unpersist()
  }

  /** MIGRATION §3: the live store through the DataSource V2 connector
    * over the MongoDB OP_MSG wire — plain DataFrame filters; Catalyst
    * plans the server-side pushdown (`_id >=` → `$gte`, nested
    * execution_id IN → `$in` in the find filter) with zero residual
    * re-evaluation. */
  def marksViaDsv2(spark: SparkSession, host: String, port: Int,
    startFrom: String, execIds: Seq[String])
    : org.apache.spark.sql.DataFrame =
    spark.read.format("graft.sources.MarkSocketDataSource")
      .option("host", host).option("port", port.toString)
      .option("collection", "marks").load()
      .filter(col("_id") >= startFrom)
      .filter(col("provenance.analysis.execution_id")
        .isin(execIds: _*))

  /** MIGRATION §4: hash-repair snapshot job. */
  def hashRepair(spark: SparkSession, rdfTree: String,
    hashJson: String, outDir: String): Long = {
    graft.pipelines.HashRepairJob.run(spark, rdfTree, hashJson, outDir)
  }

  /** MIGRATION §4b: rdflib load_graph/serialize_graph equivalents.
    *
    * TEST/DEMO ONLY — `collect()`s every triple to the driver, the
    * faithful analog of rdflib's in-memory `serialize()`. For
    * corpus-scale graphs use the distributed sinks (TtlFileSink /
    * RdfDataSource) instead of this round-trip. */
  def rdfRoundTrip(spark: SparkSession, inPath: String, inFormat: String,
    outFormat: String): String = {
    import graft.ttl.Rdf
    val triples = Rdf.load(spark, inPath, inFormat)
    Rdf.serialize(triples.collect().toSeq, outFormat)
  }

  /** MIGRATION §3 sidebar: generic keyed-service enrichment (the
    * Drupal fetch shape) with a per-task connection. */
  def enrichExample(df: org.apache.spark.sql.DataFrame)
    : org.apache.spark.sql.DataFrame =
    graft.operators.Enrich.enrichWith(df, "slide", "hash") { () =>
      // val client = connect()  — one per task goes here
      (k: String) => if (k.isEmpty) None else Some(k.reverse)
    }
}
