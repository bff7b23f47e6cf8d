package graft

import org.apache.spark.sql.SparkSession

/** Library entry point: a SparkSession configured the way the engine
  * expects (UTC, AQE on, right-sized shuffle partitions, graft
  * expressions registered), plus catalog registration of the testdata
  * tables for `spark.sql` users.
  *
  * On a real cluster the same knobs apply — shuffle partitions sized
  * to cores (not the 200 default), AQE for runtime coalescing/skew
  * joins; `spark.sql.extensions=graft.expressions.GraftExtensions`
  * replaces the explicit register call under spark-submit.
  */
object GraftSession {

  /** Local cores of the harness mains: `SPARK_GRAFT_CPUS`, default 4. */
  val Cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The one settings table: `create`, `harness` and the test session
    * all apply it, so the engine that is benched is the engine that is
    * tested and oracle-checked. The `spark.sql.*` rows are runtime
    * confs; the others only take effect when a context is built. */
  private[graft] def settings(cores: Int): Seq[(String, String)] =
    AnyMaster ++ localJvm(cores)

  private val AnyMaster = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    // allow shuffled-hash joins (r22, guide §3.1/§9): sort-merge's
    // per-round sorts dominate the many node-sized iterative joins
    // here, and the AQE rewrite below is gated on ACTUAL post-
    // shuffle partition size (≤128 MB per local map), so the choice
    // stays scale-adaptive — big partitions keep sort-merge's spill
    // safety at any corpus size. Interleaved full-suite A/B
    // (2×2 runs, min-of-2 per side, sf0.1/32c): total 91.0→87.1 s,
    // geomean 0.949, 10 queries >12% faster (u2 0.74×, v11/x12/u6
    // 0.76×, u1/v12/v10 0.81×, m5/q8 0.82×, q9 0.83×), ZERO queries
    // symmetrically slower. Both are runtime confs, so an SMJ A/B
    // sets them back with `spark.conf.set`.
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "128m",
    "spark.ui.enabled" -> "false")

  /** Rows sized for one local JVM: an external master keeps its own. */
  private def localJvm(cores: Int) = Seq(
    // shuffle.partitions=cores is right for query-sized inputs;
    // jobs whose PER-PARTITION volume outgrows executor memory
    // (the 10M-mark ETL: 32 partitions × ~312k fat rows spilled,
    // 31.3k vs 65.0k marks/sec — r13 probe, BASELINE.md) should
    // raise adaptive.coalescePartitions.initialPartitionNum for
    // that job (EtlBench sizes it from the mark count). NOT a
    // session-wide default: the same A/B showed 512 initial
    // partitions ruining small-stage iterative queries at sf0.1
    // (n6 3.7 → 12.6 s — 512 tasks scheduled per tiny round).
    "spark.sql.shuffle.partitions" -> cores.toString,
    // sort-based shuffle writer even at few partitions: the
    // bypass-merge writer creates numPartitions files per map task,
    // and a slow local FS degrades over a long run until trivial
    // queries take minutes (round-7 timeout cascade; r9 A/B in Bench's
    // history)
    "spark.shuffle.sort.bypassMergeThreshold" -> "0",
    // ContextCleaner needs GCs to reclaim shuffle/broadcast files;
    // long-lived local sessions otherwise accumulate block files
    // until queries crawl (the 30min default assumes cluster-sized
    // heaps that GC on their own)
    "spark.cleaner.periodicGC.interval" -> "45s")

  def create(cores: Int = Runtime.getRuntime.availableProcessors())
    : SparkSession = {
    // honor an externally supplied master (spark-submit --master):
    // only default to local[cores] when none is configured, so the
    // library entry point never forces a cluster job onto the driver
    val external = sys.props.contains("spark.master") ||
      sys.env.contains("SPARK_MASTER_URL")
    val rows = if (external) AnyMaster else settings(cores)
    val builder = SparkSession.builder().config(rows.toMap)
    val spark = (if (external) builder else builder.master(s"local[$cores]"))
      .getOrCreate()
    // getOrCreate may have returned a pre-existing session whose
    // builder configs were silently dropped: set the runtime rows
    // again. The local-JVM ones need a local live session too — one
    // built with builder.master("yarn"/"spark://…") never surfaces in
    // sys.props/env and must keep the cluster's own partitioning.
    val live =
      if (spark.sparkContext.master.startsWith("local")) rows else AnyMaster
    live.foreach { case (k, v) =>
      if (k.startsWith("spark.sql.")) spark.conf.set(k, v)
    }
    graft.expressions.GraftFunctions.register(spark)
    spark
  }

  /** THE harness session (Bench/Verify/Probe/Explain/PinAudit/
    * ScaleLadder and `perfbench/`): local[cpus] with the settings table.
    * A tuning change validated in Bench must not silently miss the
    * correctness dump or the probes (they MUST run under the same
    * engine). It does not call `GraftFunctions.register`, whose
    * optimizer rules (TopKRewrite, GroupedTopKPushdown) would rewrite
    * every plan the benchmark runs. */
  def harness(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config(settings(cpus.toInt).toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Register every testdata table as a temp view so `spark.sql`
    * works directly (`SELECT ... FROM lineitem`). */
  def registerTables(spark: SparkSession, dir: String): Unit =
    Tables.all.foreach { name =>
      Tables.load(spark, dir, name).createOrReplaceTempView(name)
    }
}
