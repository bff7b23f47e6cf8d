package graft.streaming

import org.apache.hadoop.fs.{FileContext, Options, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructType}

import graft.operators.IncrementalAgg

/** The streaming face of incremental aggregate maintenance: fold a
  * stream of signed changelog rows (IncrementalAgg's model — `_op`
  * = ±1) into a durably stored count/sum summary, one micro-batch at
  * a time. The corpus never re-aggregates; each batch costs
  * delta-agg + a summary-sized merge, so a 100 TB corpus's always-on
  * dashboard refreshes at changelog speed.
  *
  * Durability layout: `<dir>/gen=<N>/` parquet generations plus a
  * `_CURRENT` pointer file holding `<gen> <lastBatchId>`. Each batch
  * writes the NEXT generation, then swings the pointer with
  * FileContext's atomic overwrite rename — a crash between the two
  * leaves the old pointer naming the old complete generation.
  * Exactly-once across restarts comes from the batch-id guard: a
  * replayed micro-batch (id == the pointer's lastBatchId — the only
  * id legitimate recovery ever re-presents) is a no-op, so Spark's
  * checkpoint replay after failure cannot double-apply a delta (the
  * BatchLedger/StreamingTtlEtl idempotence model); an id BELOW it is
  * the fresh-checkpoint signature and fails loudly (applyBatch).
  */
object StreamingSummary {

  /** (generation, lastBatchId) from the pointer, if any. */
  def current(spark: SparkSession, dir: String): Option[(Long, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new HPath(dir, "_CURRENT")
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val Array(gen, batch) = scala.io.Source.fromInputStream(in)
          .mkString.trim.split(" ")
        Some((gen.toLong, batch.toLong))
      } finally in.close()
    }
  }

  /** The current summary frame — empty (correct schema) before the
    * first generation exists. */
  def read(spark: SparkSession, dir: String, groupSchema: StructType,
    sumCols: Seq[String]): DataFrame =
    current(spark, dir) match {
      case Some((gen, _)) => spark.read.parquet(s"$dir/gen=$gen")
      case None =>
        val schema = sumCols.foldLeft(
          groupSchema.add("cnt", LongType, nullable = false)) {
          (s, c) => s.add(s"sum_$c", LongType)
        }
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  private def swingPointer(spark: SparkSession, dir: String,
    gen: Long, batchId: Long): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new HPath(dir, "_CURRENT")
    val fs = p.getFileSystem(conf)
    val tmp = new HPath(dir, s"_CURRENT.tmp-$gen")
    val out = fs.create(tmp, true)
    try out.write(s"$gen $batchId".getBytes("UTF-8"))
    finally out.close()
    FileContext.getFileContext(fs.getUri, conf)
      .rename(tmp, p, Options.Rename.OVERWRITE)
  }

  /** Drop generation directories older than `keepFrom` — called
    * after a successful pointer swing with `keepFrom = gen - 1`, so
    * an always-on query holds at most the current generation plus
    * its predecessor (a reader that resolved the old pointer just
    * before the swing can still finish) instead of growing storage
    * without bound. */
  private def gcGenerations(spark: SparkSession, dir: String,
    keepFrom: Long): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val d = new HPath(dir)
    val fs = d.getFileSystem(conf)
    if (fs.exists(d)) fs.listStatus(d).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("gen=")) {
        scala.util.Try(name.drop(4).toLong).toOption
          .filter(_ < keepFrom)
          .foreach(_ => fs.delete(st.getPath, true))
      }
    }
  }

  /** One micro-batch's fold: maintain → write next generation →
    * swing the pointer → GC superseded generations. Public so the
    * replay guard is testable without driving a checkpoint-recovery
    * cycle: calling it again with an already-applied batchId is a
    * no-op. */
  def applyBatch(batch: DataFrame, batchId: Long, dir: String,
    groupCols: Seq[String], sumCols: Seq[String]): Unit = {
    val spark = batch.sparkSession
    val cur = current(spark, dir)
    // Checkpoint recovery re-presents at most the LAST applied id
    // (regression 0): the pointer swings DURING a batch, so it can
    // only run AHEAD of the engine's commit log, and batch N+1 only
    // ever runs after N committed — the engine can never re-present
    // N−1 once the pointer says N. ANY regression below the applied
    // id therefore means the stream restarted with a FRESH checkpoint
    // (ids reset to 0) against an existing summary dir; silently
    // no-opping would drop every delta until the new ids caught up
    // (with ≤ 2 applied batches: FOREVER), so fail loudly instead.
    cur.filter(_._2 > batchId).foreach { case (_, applied) =>
      throw new IllegalStateException(
        s"StreamingSummary: batch id $batchId regressed below the " +
          s"applied $applied in $dir — the stream restarted with a " +
          "fresh checkpoint against an existing summary. Keep the " +
          "checkpoint and summary dirs paired, or start a new summary dir")
    }
    // replay guard: a checkpoint-recovered batch re-presents the
    // same id; applying it twice would double the delta
    if (!cur.exists(_._2 >= batchId)) {
      val groupSchema = StructType(groupCols.map(batch.schema(_)))
      val summary = read(spark, dir, groupSchema, sumCols)
      val next = IncrementalAgg.maintain(summary, batch,
        groupCols, sumCols)
      val gen = cur.map(_._1 + 1).getOrElse(0L)
      next.write.mode("overwrite").parquet(s"$dir/gen=$gen")
      swingPointer(spark, dir, gen, batchId)
      gcGenerations(spark, dir, gen - 1)
    }
  }

  /** Start maintaining. `changelog` is a STREAMING frame carrying
    * groupCols ++ sumCols ++ `_op`; the stored summary has the
    * IncrementalAgg.aggregate shape. */
  def start(changelog: DataFrame, dir: String, checkpointDir: String,
    groupCols: Seq[String], sumCols: Seq[String]): StreamingQuery =
    changelog.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, dir, groupCols, sumCols)
      }
      .start()
}
