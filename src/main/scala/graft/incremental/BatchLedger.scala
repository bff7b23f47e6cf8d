package graft.incremental

import graft.streaming.BatchDirs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable work ledger: the engine's replacement for the reference's
  * checkpoint files (T2, mongo-etl/mongodb_to_rdf.py:114-192 and
  * utils/checkpoint.py:9-235 — append + fsync text files of completed/
  * failed ids), laid out as [[BatchDirs]] waves so a ledger that
  * accrues appends for months (a nightly ETL over the reference's ~4M
  * analyses, a resumable backfill) stays cheap to list and read.
  *
  * Each wave's keys land in `<dir>/batch=<waveId>/` (Spark's
  * `_SUCCESS` is the commit marker, so a replayed wave overwrites its
  * own directory — exactly-once per wave id), and [[fold]] =
  * [[BatchDirs.compactTiered]] keyed on `key` keeps the listing
  * bounded at O(compact + log runs + one cadence of waves) with
  * O(tail) minor folds — the ledger inherits the layout's measured
  * LSM write/read bounds, its single-compactor lease, and its
  * two-phase grace-window sweep. Readers and folds interleave safely
  * (the grace window); the key-bucketed layout lets the point-lookup
  * face [[doneOf]] ("is THIS analysis done?") prune to the asked
  * keys' buckets.
  *
  * Semantics: at-least-once work (a killed wave is absent from the
  * ledger and gets redone), a key is done once recorded with a
  * terminal status (completed/failed — the reference's
  * should_process, mongodb_to_rdf.py:149-152), selection is the
  * anti-join. The `batch` wave id is bookkeeping, not ordering:
  * doneKeys unions every committed wave.
  */
object BatchLedger {
  val Completed = "completed"
  val Failed = "failed"

  /** Append one wave's keys (FIRST column, cast to string) under
    * `batch=<waveId>`. Distributive — never collects. Re-running a
    * wave id overwrites its own directory (deterministic input ⇒
    * byte-identical, the exactly-once contract above).
    *
    * PRECONDITION the overwrite makes load-bearing: `keys` must be a
    * deterministic function of the wave id — the wave's assigned
    * slice, NOT the still-pending subset. Pending depends on ledger
    * state, so after a crash-rerun it shrinks at already-done waves,
    * and overwriting with the shrunken set ERASES completion records
    * (each execution then cascades one wave forward per rerun — the
    * failure tools/crash_rig.sh's census caught in r20). */
  def record(keys: DataFrame, ledgerDir: String, waveId: Long,
    status: String = Completed, runId: String = ""): Unit = {
    // batch=-1 would commit under a name no reader lists: its keys
    // would silently never be done
    require(waveId >= 0,
      s"BatchLedger.record: wave id $waveId is negative; wave ids " +
        "are the non-negative batch=<n> dirs readers list")
    keys.select(col(keys.columns.head).cast("string").as("key"))
      .withColumn("status", lit(status))
      .withColumn("run_id", lit(runId))
      .write.mode("overwrite").parquet(s"$ledgerDir/batch=$waveId")
  }

  /** The id one past the newest committed wave (0 for an empty
    * ledger): the wave id of a job that records one wave per run. An
    * id it returns re-runs only while its directory is uncommitted,
    * when the ledger state — and so a pending-derived key set — is
    * the one its first attempt saw, which keeps [[record]]'s
    * precondition. */
  def nextWave(spark: SparkSession, ledgerDir: String): Long =
    (BatchDirs.committedIds(spark, ledgerDir) :+
      BatchDirs.compactedThrough(spark, ledgerDir)).max + 1

  /** All keys recorded with the given statuses (default: anything
    * that should NOT be reprocessed — completed or failed) across
    * every committed wave — folded tiers and raw tail in one frame. */
  def doneKeys(spark: SparkSession, ledgerDir: String,
    statuses: Seq[String] = Seq(Completed, Failed)): DataFrame =
    BatchDirs.readCommitted(spark, ledgerDir) match {
      case None =>
        import spark.implicits._
        Seq.empty[String].toDF("key")
      case Some(df) =>
        df.filter(col("status").isin(statuses: _*))
          .select("key").distinct()
    }

  /** P12/J5: the work still to do = work anti-join done. `keyCol`
    * names the work table's key column. No broadcast hint: an
    * explicit hint is honored REGARDLESS of size, so a ledger that
    * outgrew the threshold would OOM the driver instead of degrading.
    * Unhinted, AQE broadcasts while the done side is small and falls
    * back to a shuffle join when it is not. */
  def pending(work: DataFrame, ledgerDir: String, keyCol: String)
    : DataFrame = {
    val done = doneKeys(work.sparkSession, ledgerDir)
      .withColumnRenamed("key", keyCol)
    work.join(done, Seq(keyCol), "left_anti")
  }

  /** The subset of `keys` already done — the point-lookup face, and
    * the payoff of the key-bucketed fold layout: the folded tiers of
    * the scan PRUNE to the buckets the asked keys hash into
    * ([[BatchDirs.bucketOf]] over the stored string key type), so an
    * "is THIS analysis done?" probe touches O(|keys| buckets +
    * cadence-bounded tail) of the ledger, not O(ledger). `keys` is a
    * bounded driver-known set (it becomes an `isin` filter and a
    * driver-side bucket derivation); for a frame-scale probe use
    * [[pending]]. The read is pinned to the generation the buckets
    * were computed for ([[BatchDirs.readCommittedAt]]). */
  def doneOf(spark: SparkSession, ledgerDir: String,
    keys: Seq[String],
    statuses: Seq[String] = Seq(Completed, Failed))
    : DataFrame = {
    import spark.implicits._
    val gen = BatchDirs.generation(spark, ledgerDir)
    val buckets = gen.modulus.map { n =>
      keys.toDF("raw")
        .select(BatchDirs.bucketOf(col("raw"), n).as("b"))
        .distinct().collect().map(_.getLong(0)).toSeq
    }
    BatchDirs.readCommittedAt(spark, ledgerDir, gen,
      pbuckets = buckets) match {
      case None => Seq.empty[String].toDF("key")
      case Some(df) =>
        df.filter(col("status").isin(statuses: _*))
          .filter(col("key").isin(keys: _*))
          .select("key").distinct()
    }
  }

  /** Fold committed waves ≤ `upTo` ([[BatchDirs.compactTiered]],
    * bucketed by `key`). Call on a cadence from the job that owns the
    * ledger — `upTo = currentWave − 1`: never fold the newest wave,
    * which may be re-run after a crash and needs its replay marker.
    * Returns the coverage reached. */
  def fold(spark: SparkSession, ledgerDir: String, upTo: Long,
    nBuckets: Int = 16): Long =
    BatchDirs.compactTiered(spark, ledgerDir, upTo, "key", nBuckets)
}
