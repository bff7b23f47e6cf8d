package graft.streaming

import graft.incremental.BatchLedger
import graft.pipelines.{MongoMarksPipeline, TtlFileSink}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** End-to-end incremental ETL: a stream of mark documents → batched
  * TTL files + durable progress ledger. This is the Structured
  * Streaming face of the reference's cursor loop (T1, mongodb_to_rdf
  * .py:515-579) with its checkpoint files (T2, :114-192) replaced by
  * Spark's checkpointLocation plus the engine's BatchLedger.
  *
  * Idempotence model (exactly the one Spark documents for
  * foreachBatch): output paths are keyed by micro-batch id, so a
  * replayed batch after failure rewrites the same files (atomic
  * tmp+rename in TtlFileSink) rather than duplicating, and the ledger
  * records the batch's `mb<id>` key as wave `batchId`, so the replay
  * overwrites that wave's directory instead of adding a row.
  */
object StreamingTtlEtl {

  /** Start the query. `markStream` must carry MongoMarksPipeline's
    * mark schema; `analyses`/`slideHashes` are static. Each
    * micro-batch's plan re-reads them, persists nothing, and runs only
    * when its sink writes. */
  def start(markStream: DataFrame, analyses: DataFrame,
    slideHashes: DataFrame, outDir: String, ledgerDir: String,
    checkpointDir: String, batchSize: Int = 1000): StreamingQuery = {
    markStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val docs = MongoMarksPipeline
          .documents(batch, analyses, slideHashes, batchSize)
          .withColumn("rel_path",
            concat(lit(f"mb$batchId%06d/"), col("rel_path")))
        TtlFileSink.write(docs.select("rel_path", "ttl"), outDir)
        import batch.sparkSession.implicits._
        BatchLedger.record(Seq(f"mb$batchId%06d").toDF("key"), ledgerDir,
          batchId, runId = s"stream-$batchId")
      }
      .start()
  }
}
