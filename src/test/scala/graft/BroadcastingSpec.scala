package graft

import graft.operators.Broadcasting
import graft.pipelines.{HashRepairJob, MongoMarksPipeline => M}
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class BroadcastingSpec extends SparkTestBase {
  import spark.implicits._

  private def planOf(joined: DataFrame) =
    joined.queryExecution.executedPlan.toString

  /** Auto-broadcast would mask the helper entirely: with the default
    * threshold the planner broadcasts tiny frames on its own, so every
    * assertion here runs with it disabled — the ONLY possible source
    * of a broadcast is the helper's explicit hint. */
  private def withAutoBroadcastOff[T](f: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      f
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("small frames get the broadcast hint (byte gate)") {
    withAutoBroadcastOff {
      val big = (1 to 1000).map(i => (i, s"v$i")).toDF("k", "v")
      val dim = Seq((1, "a"), (2, "b")).toDF("k", "name")
      val joined = big.join(Broadcasting.maybeBroadcast(dim), Seq("k"))
      assert(planOf(joined).contains("BroadcastHashJoin"), planOf(joined))
    }
  }

  test("frames past the byte cap do NOT get the hint") {
    withAutoBroadcastOff {
      val big = (1 to 1000).map(i => (i, s"v$i")).toDF("k", "v")
      val dim = (1 to 500).map(i => (i, "x" * 100)).toDF("k", "name")
      val joined = big.join(
        Broadcasting.maybeBroadcast(dim, maxBytes = 16), Seq("k"))
      val plan = planOf(joined)
      assert(!plan.contains("Broadcast"),
        s"oversized frame still broadcast:\n$plan")
      assert(joined.count() == 500)
    }
  }

  test("releaseAll unpersists every tracked cache") {
    import org.apache.spark.storage.StorageLevel
    val dim = (1 to 50).map(i => (i, s"h$i")).toDF("k", "h")
    Broadcasting.track(dim.persist())
    assert(dim.storageLevel != StorageLevel.NONE)
    Broadcasting.releaseAll()
    assert(dim.storageLevel == StorageLevel.NONE,
      "releaseAll should have unpersisted the tracked cache")
  }

  private val fx = "src/test/resources/fixtures/mongo"

  /** (slide, real_hash) lookups with the same 2 rows: one a local
    * relation, one a 20M-row range filtered down to 2, which Catalyst
    * (no CBO) estimates at the range's full size. */
  private def lookups(hit: String, other: String) = {
    val small = Seq((hit, "a" * 64), (other, "b" * 64))
      .toDF("slide", "real_hash")
    val overCap = spark.range(20000000L).filter(col("id") < 2)
      .select(
        when(col("id") === 0, lit(hit)).otherwise(lit(other)).as("slide"),
        when(col("id") === 0, lit("a" * 64)).otherwise(lit("b" * 64))
          .as("real_hash"))
    assert(overCap.queryExecution.optimizedPlan.stats.sizeInBytes >
      Broadcasting.DefaultMaxBytes)
    (small, overCap)
  }

  /** Whether the physical plan, before AQE re-plans it at run time,
    * broadcasts anything: the stats gate decides this plan. */
  private def broadcasts(df: DataFrame) =
    df.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin")

  test("a slide-hash lookup estimated over the cap shuffle-joins in " +
    "analysisSide and repair, with output identical to the broadcast") {
    val analyses = M.readAnalyses(spark, s"$fx/analyses.jsonl")
    val (small, overCap) = lookups("slide-42", "slide-x")
    val aSmall = M.analysisSide(analyses, small)
    val aOver = M.analysisSide(analyses, overCap)
    assert(broadcasts(aSmall), aSmall.queryExecution.sparkPlan)
    assert(!broadcasts(aOver), aOver.queryExecution.sparkPlan)
    val side = aSmall.collect().toSeq
    assert(side.map(_.getAs[String]("image_hash")) == Seq("a" * 64))
    assert(aOver.collect().toSeq == side)

    val tree = Files.createTempDirectory("lookup_tree")
    for (slide <- Seq("slideA.svs", "slideB.svs", "slideC.svs")) {
      val f = tree.resolve(s"$slide/batch_000001.ttl.gz")
      Files.createDirectories(f.getParent)
      val os = new java.util.zip.GZIPOutputStream(Files.newOutputStream(f))
      os.write(("<urn:sha256:" + "d" * 64 + "> a so:ImageObject .\n")
        .getBytes("UTF-8"))
      os.close()
    }
    val (rSmallLookup, rOverLookup) = lookups("slideA.svs", "slideB.svs")
    val files = HashRepairJob.readTtlTree(spark, tree.toString)
    val rSmall = HashRepairJob.repair(files, rSmallLookup)
    val rOver = HashRepairJob.repair(files, rOverLookup)
    assert(broadcasts(rSmall), rSmall.queryExecution.sparkPlan)
    assert(!broadcasts(rOver), rOver.queryExecution.sparkPlan)
    val repaired = rSmall.orderBy("rel_path").collect().toSeq
    assert(repaired.map(_.getAs[Boolean]("repaired")) ==
      Seq(true, true, false))
    assert(rOver.orderBy("rel_path").collect().toSeq == repaired)
  }

  test("loadHashJson, documents and repair fire no Spark job while " +
    "their plans are built") {
    val dir = Files.createTempDirectory("lazy_plans")
    val json = dir.resolve("slide_hashes.json")
    Files.writeString(json,
      s"""[{"slide": "slide-42", "hash": "${"A" * 64}"}]""")
    Files.createDirectories(dir.resolve("tree/slide-42.svs"))
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
        j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.GraftListenerShim.flush(sc)
    sc.addSparkListener(listener)
    val (docs, repaired) = try {
      val hashes = HashRepairJob.loadHashJson(spark, json.toString)
      val docs = M.documents(M.readMarks(spark, s"$fx/marks.jsonl"),
        M.readAnalyses(spark, s"$fx/analyses.jsonl"), hashes, 2)
      val repaired = HashRepairJob.repair(
        HashRepairJob.readTtlTree(spark, s"$dir/tree"), hashes)
      org.apache.spark.GraftListenerShim.flush(sc)
      (docs, repaired)
    } finally sc.removeSparkListener(listener)
    assert(started.get == 0, s"${started.get} jobs while building plans")
    assert(docs.count() == 2L && repaired.count() == 0L)
  }
}
