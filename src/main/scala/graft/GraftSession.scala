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

  def create(cores: Int = Runtime.getRuntime.availableProcessors())
    : SparkSession = {
    // honor an externally supplied master (spark-submit --master):
    // only default to local[cores] when none is configured, so the
    // library entry point never forces a cluster job onto the driver
    val builder = SparkSession.builder()
      .config("spark.ui.enabled", "false")
    val withMaster =
      if (sys.props.contains("spark.master") ||
        sys.env.contains("SPARK_MASTER_URL")) builder
      else builder.master(s"local[$cores]")
        // shuffle.partitions=cores is right for query-sized inputs;
        // jobs whose PER-PARTITION volume outgrows executor memory
        // (the 10M-mark ETL: 32 partitions × ~312k fat rows spilled,
        // 31.3k vs 65.0k marks/sec — r13 probe, BASELINE.md) should
        // raise adaptive.coalescePartitions.initialPartitionNum for
        // that job (EtlBench sizes it from the mark count). NOT a
        // session-wide default: the same A/B showed 512 initial
        // partitions ruining small-stage iterative queries at sf0.1
        // (n6 3.7 → 12.6 s — 512 tasks scheduled per tiny round).
        .config("spark.sql.shuffle.partitions", cores.toString)
        // sort-based shuffle writer even at few partitions: the
        // bypass-merge writer creates numPartitions files per map
        // task, which crawls on slow local filesystems; >200-partition
        // production clusters never engage bypass anyway (local-mode
        // only — an external --master keeps the cluster's own setting)
        .config("spark.shuffle.sort.bypassMergeThreshold", "0")
        // ContextCleaner needs GCs to reclaim shuffle/broadcast files;
        // long-lived local sessions otherwise accumulate block files
        // until queries crawl (the 30min default assumes cluster-sized
        // heaps that GC on their own)
        .config("spark.cleaner.periodicGC.interval", "45s")
    val spark = withMaster.getOrCreate()
    // runtime confs set unconditionally — getOrCreate may have
    // returned a pre-existing session whose builder configs were
    // silently dropped, and oracle-verified behavior requires these
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // the headline right-sized-shuffle knob must survive the
    // pre-existing-session path too (it is runtime-settable) — but
    // only when BOTH hold: the live session is local (a pre-existing
    // session built with builder.master("yarn"/"spark://…") never
    // surfaces in sys.props/env and must keep the cluster's own
    // partitioning) AND no external --master was supplied
    // (spark-submit --master local[8] --conf
    // spark.sql.shuffle.partitions=200 is an explicit user choice
    // this must not stomp)
    if (spark.sparkContext.master.startsWith("local") &&
      !sys.props.contains("spark.master") &&
      !sys.env.contains("SPARK_MASTER_URL"))
      spark.conf.set("spark.sql.shuffle.partitions", cores.toString)
    graft.expressions.GraftFunctions.register(spark)
    spark
  }

  /** THE harness session (Bench/Verify/Probe/ScaleLadder/
    * StreamLadder): local[cpus] with the measured container knobs.
    * One definition — a tuning change validated in Bench must not
    * silently miss the correctness dump or the probes (they MUST run
    * under the same engine). Keep
    * `spark.shuffle.sort.bypassMergeThreshold=0`: the bypass-merge
    * writer creates numPartitions files per map task and this
    * container's FS degrades over a long run until trivial queries
    * take minutes (round-7 timeout cascade; r9 A/B in Bench's
    * history). `SPARK_GRAFT_BYPASS` exists only for that A/B — the
    * driver never sets it. The 45s periodic GC keeps the
    * ContextCleaner deleting shuffle/broadcast files on small heaps
    * that would otherwise never collect. */
  def harness(cpus: String): SparkSession = {
    // `SPARK_GRAFT_PREFER_SMJ=1` restores the pre-r22 join preference
    // (SMJ over SHJ; broadcast unaffected) for isolated A/Bs — the
    // driver never sets it
    val preferSmj = sys.env.get("SPARK_GRAFT_PREFER_SMJ").contains("1")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.shuffle.sort.bypassMergeThreshold",
        sys.env.getOrElse("SPARK_GRAFT_BYPASS", "0"))
      // allow shuffled-hash joins (r22, guide §3.1/§9): sort-merge's
      // per-round sorts dominate the many node-sized iterative joins
      // here, and the AQE rewrite below is gated on ACTUAL post-
      // shuffle partition size (≤128 MB per local map), so the choice
      // stays scale-adaptive — big partitions keep sort-merge's spill
      // safety at any corpus size. Interleaved full-suite A/B
      // (2×2 runs, min-of-2 per side, sf0.1/32c): total 91.0→87.1 s,
      // geomean 0.949, 10 queries >12% faster (u2 0.74×, v11/x12/u6
      // 0.76×, u1/v12/v10 0.81×, m5/q8 0.82×, q9 0.83×), ZERO queries
      // symmetrically slower.
      .config("spark.sql.join.preferSortMergeJoin", preferSmj.toString)
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        if (preferSmj) "0" else "128m")
      .config("spark.cleaner.periodicGC.interval", "45s")
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
