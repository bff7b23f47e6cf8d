package graft

import graft.incremental.BatchLedger
import graft.pipelines.MongoMarksPipeline
import graft.streaming.StreamingTtlEtl
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.{Files, Paths}

class StreamingTtlEtlSpec extends SparkTestBase {

  test("micro-batched marks stream → TTL files + ledger rows") {
    implicit val sql = spark.sqlContext
    implicit val enc: ExpressionEncoder[Row] =
      ExpressionEncoder(MongoMarksPipeline.markSchema)
    val fx = "src/test/resources/fixtures/mongo"
    val marks = MongoMarksPipeline.readMarks(spark, s"$fx/marks.jsonl")
      .collect()
    val analyses = MongoMarksPipeline
      .readAnalyses(spark, s"$fx/analyses.jsonl")
    import spark.implicits._
    val hashes = Seq.empty[(String, String)].toDF("slide", "real_hash")

    val work = Files.createTempDirectory("stream_etl")
    val ledger = s"$work/ledger"
    val in = MemoryStream[Row](enc, spark)
    def start() = StreamingTtlEtl.start(in.toDF(), analyses, hashes,
      s"$work/out", ledger, s"$work/ckpt", batchSize = 2)
    val q = start()
    try {
      in.addData(marks.take(2).toSeq)   // first micro-batch: 2 marks
      q.processAllAvailable()
      in.addData(marks.drop(2).toSeq)   // second: 1 valid + 1 dropped
      q.processAllAvailable()
    } finally q.stop()

    assert(Files.exists(Paths.get(s"$work/out",
      "mb000000/exec-1/img-1/batch_000001.ttl.gz")))
    assert(Files.exists(Paths.get(s"$work/out",
      "mb000001/exec-1/img-1/batch_000001.ttl.gz")))
    def done = BatchLedger.doneKeys(spark, ledger).collect()
      .map(_.getString(0)).sorted.toSeq
    assert(done == Seq("mb000000", "mb000001"))

    // forget batch 1's commit: the restarted query re-runs batch 1
    // from its offset log, the recovery Spark does after a crash
    // between the sink write and the commit. The replay overwrites
    // its own ledger wave: one dir and one row per batch id.
    Seq("1", ".1.crc").foreach(f =>
      Files.deleteIfExists(Paths.get(s"$work/ckpt/commits", f)))
    val q2 = start()
    val replayed = try {
      q2.processAllAvailable()
      q2.recentProgress.map(_.batchId).toSeq
    } finally q2.stop()
    assert(replayed.contains(1L), s"batch 1 was not replayed: $replayed")
    val waves = new java.io.File(ledger).list()
      .filter(_.startsWith("batch=")).sorted
    assert(waves.toSeq == Seq("batch=0", "batch=1"))
    assert(spark.read.parquet(s"$ledger/batch=1").count() == 1L)
    assert(done == Seq("mb000000", "mb000001"))
  }

  test("micro-batches release their caches: no persisted RDD outlives " +
    "its batch, so the count does not grow with the batches") {
    implicit val sql = spark.sqlContext
    implicit val enc: ExpressionEncoder[Row] =
      ExpressionEncoder(MongoMarksPipeline.markSchema)
    val fx = "src/test/resources/fixtures/mongo"
    val marks = MongoMarksPipeline.readMarks(spark, s"$fx/marks.jsonl")
      .collect()
    val analyses = MongoMarksPipeline
      .readAnalyses(spark, s"$fx/analyses.jsonl")
    import spark.implicits._
    // a lookup no other test builds: re-persisting an identical plan is
    // a no-op for Spark's cache manager, so a cache left behind by
    // another query would hide this one's
    val hashes = Seq(("slide-none", "0" * 64)).toDF("slide", "real_hash")

    val work = Files.createTempDirectory("stream_etl_cache")
    val in = MemoryStream[Row](enc, spark)
    def persisted = spark.sparkContext.getPersistentRDDs.size
    val before = persisted
    val q = StreamingTtlEtl.start(in.toDF(), analyses, hashes,
      s"$work/out", s"$work/ledger", s"$work/ckpt", batchSize = 2)
    val (afterOne, afterThree) = try {
      in.addData(marks.take(1).toSeq)
      q.processAllAvailable()
      val one = persisted
      for (m <- marks.slice(1, 3)) {
        in.addData(Seq(m))
        q.processAllAvailable()
      }
      (one, persisted)
    } finally q.stop()
    assert(Files.exists(Paths.get(s"$work/out",
      "mb000002/exec-1/img-1/batch_000001.ttl.gz")))
    assert(afterThree <= afterOne,
      s"$afterOne persisted RDDs after 1 micro-batch, $afterThree after 3")
    assert(afterOne <= before,
      s"$before persisted RDDs before the query, $afterOne after 1 batch")
  }
}
