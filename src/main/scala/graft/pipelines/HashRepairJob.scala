package graft.pipelines

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Hash-repair toolkit: the engine's replacement for the reference's
  * sha256-hash/ scripts (SURVEY S8/S9/F9/F13/F14/K8 — update_hashes*.py,
  * update_ttl_gz_from_json.py, sha256-csv-2019.py, remove_loinc_*.sh).
  *
  * The reference mutates .ttl.gz files in place (gzip → regex → regzip,
  * update_ttl_gz_from_json.py:43-83). In-place update is anti-Spark
  * (K8): this job reads the TTL tree, rewrites, and emits a NEW
  * snapshot directory via TtlFileSink — idempotent and atomic at file
  * granularity, so a killed run is just re-run.
  *
  * Scale: whole-file rows (one per .ttl.gz, ~5-20 MB gz — Turtle File
  * Summary.md:46) over ~4M files; the slide→hash lookup is broadcast
  * while Catalyst's size estimate allows; the rewrite is a narrow map.
  * File-count parallelism replaces the reference's
  * `Pool(20)`/`xargs -P 20`.
  */
object HashRepairJob {

  /** F9/GEN-SH replacement: real SHA-256 of image files via the
    * binaryFile source — builds the (slide, real_hash) lookup that the
    * reference computed with a generated bash script + sha256sum.
    *
    * KEY CONVENTION: `slide` here EXCLUDES the `.svs` extension
    * ("slide-42"), matching the mongo documents' `image.slide` field
    * (MongoMarksPipeline). `repair()`/`readTtlTree` and the
    * reference's slide_hashes.json key by FOLDER name, which INCLUDES
    * `.svs` ("slideA.svs") — append the extension before feeding this
    * frame into `repair()`. */
  def buildHashLookup(spark: SparkSession, svsGlob: String): DataFrame =
    spark.read.format("binaryFile").load(svsGlob)
      .select(
        regexp_extract(col("path"), "([^/]+)\\.svs$", 1).as("slide"),
        sha2(col("content"), 256).as("real_hash"))

  /** S9: slide_hashes.json list of {slide, hash} → lookup frame.
    * multiLine: the reference's file is ONE pretty-printed JSON array
    * (json.dump default), not JSONL — without this option Spark reads
    * it as a corrupt record. The explicit schema means no inference
    * job runs: other fields are ignored, an entry without `hash`
    * yields a null `real_hash` (treated as missing downstream), and
    * `[]` yields an empty lookup. */
  def loadHashJson(spark: SparkSession, path: String): DataFrame =
    spark.read.schema("slide STRING, hash STRING")
      .option("multiLine", true).json(path)
      .select(col("slide"), lower(col("hash")).as("real_hash"))

  /** S8: whole-file scan of `<base>/<slide>.svs/batch_*.ttl.gz`
    * (gzip transparent), one row per file with its slide key. The
    * slide directories are the root paths (one listing task per
    * slide, not per file). */
  def readTtlTree(spark: SparkSession, baseDir: String): DataFrame =
    // `path` is DECODED: a slide dir with a space would otherwise
    // never match its slide_hashes.json key (silently unrepaired) and
    // the new snapshot would land under the %20-spelled directory
    PathMeta.filesIn(spark.read.format("text").option("wholetext", true),
      baseDir + "/*.svs", "*.ttl.gz")
      .withColumn("slide",  // folder name INCLUDING .svs, like the
        // reference's svs_folder.name lookup key (:119-121)
        regexp_extract(col("path"), "/([^/]+\\.svs)/[^/]+$", 1))
      .withColumn("rel_path",
        regexp_extract(col("path"), "/([^/]+\\.svs/[^/]+)$", 1))
      .select(col("rel_path"), col("slide"), col("value").as("ttl"))

  /** F13: replace every `<urn:sha256:hex>` subject with the slide's
    * real hash; if none present, upgrade `<urn:md5:hex>` instead
    * (update_ttl_gz_from_json.py:60-73). Files whose slide has no
    * lookup entry pass through unchanged (flagged `repaired=false`). */
  def repair(ttlFiles: DataFrame, hashLookup: DataFrame): DataFrame =
    ttlFiles
      // size-gated by Catalyst's estimate (no job): one row per slide
      // image. The binaryFile-derived buildHashLookup variant is
      // estimated far too high and shuffle-joins, the safe direction.
      .join(graft.operators.Broadcasting.maybeBroadcast(hashLookup),
        Seq("slide"), "left")
      .withColumn("replacement",
        concat(lit("<urn:sha256:"), col("real_hash"), lit(">")))
      .withColumn("has_sha", col("ttl").rlike("<urn:sha256:[0-9a-fA-F]+>"))
      .withColumn("has_md5", col("ttl").rlike("<urn:md5:[0-9a-fA-F]+>"))
      .withColumn("repaired",
        col("real_hash").isNotNull && (col("has_sha") || col("has_md5")))
      .withColumn("ttl",
        when(col("real_hash").isNull, col("ttl"))
          .when(col("has_sha"), regexp_replace(col("ttl"),
            lit("<urn:sha256:[0-9a-fA-F]+>"), col("replacement")))
          .when(col("has_md5"), regexp_replace(col("ttl"),
            lit("<urn:md5:[0-9a-fA-F]+>"), col("replacement")))
          .otherwise(col("ttl")))
      .select("rel_path", "slide", "ttl", "repaired")

  /** F14: drop `@prefix loinc:` header lines (remove_loinc_xargs.sh:6
    * — `grep -Fv` per file), as a whole-file rewrite. */
  def removeLoincPrefix(ttlFiles: DataFrame): DataFrame =
    ttlFiles.withColumn("ttl",
      // \n? — a loinc prefix as the file's LAST line (no terminating
      // newline) must be removed too, as grep -Fv would
      regexp_replace(col("ttl"), "(?m)^@prefix loinc:[^\n]*\n?", ""))

  /** Full job: read tree → repair hashes → strip loinc → new snapshot
    * under outDir (same relative layout, gzip preserved by suffix).
    * Returns the number of repaired files.
    *
    * ONE scan of the gz tree: the write counts the repaired files as
    * it goes, through an observation, so no second action
    * decompresses the tree again, and nothing is persisted (a cache
    * would hold the whole DECOMPRESSED corpus, ~5-20 MB gz per file
    * ×4M files). The count is exact: the observation sits at the top
    * of the write's plan, so it runs in the result stage whatever
    * join the lookup gets, and Spark merges a result task's metrics
    * once per partition, from its first successful attempt only
    * (failed, retried and speculative attempts add nothing). */
  def run(spark: SparkSession, baseDir: String, hashJsonPath: String,
    outDir: String): Long = {
    val lookup = loadHashJson(spark, hashJsonPath)
    val counted = Observation("repaired")
    val repaired = removeLoincPrefix(
      repair(readTtlTree(spark, baseDir), lookup))
      .observe(counted, count_if(col("repaired")).as("n"))
    TtlFileSink.write(repaired.select("rel_path", "ttl"), outDir)
    counted.get("n").asInstanceOf[Long]
  }
}
