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
  * [[BatchDirs.compact]] rewrites the folded waves into one
  * `compact=<cutoff>/` dir of plain parquet (`key, status, run_id,
  * batch`). Folded on the never-the-newest cadence, the ledger lists
  * at most four dirs whatever its age; it inherits the layout's
  * single-compactor lease and its two-phase grace-window sweep, so
  * readers and folds interleave safely.
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
    * every committed wave — the compact dir and the unfolded waves in
    * one frame. */
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

  /** The subset of `keys` already done: [[doneKeys]] filtered to a
    * bounded, driver-known key set (it becomes an `isin` filter). For
    * a frame-scale probe use [[pending]]. */
  def doneOf(spark: SparkSession, ledgerDir: String,
    keys: Seq[String],
    statuses: Seq[String] = Seq(Completed, Failed))
    : DataFrame =
    doneKeys(spark, ledgerDir, statuses)
      .filter(col("key").isin(keys: _*))

  /** Fold committed waves ≤ `upTo` ([[BatchDirs.compact]]). Call on
    * a cadence from the job that owns the ledger, with `upTo` below
    * every wave id it may still re-run (`currentWave − 1` for a job
    * that may re-run its newest wave after a crash): a re-run wave
    * needs its own directory to overwrite. Returns the coverage
    * reached. */
  def fold(spark: SparkSession, ledgerDir: String, upTo: Long): Long =
    BatchDirs.compact(spark, ledgerDir, upTo)
}
