package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Round-count-gated lineage cut for the iterative operators (BFS,
  * PageRank, k-core, min-label CC).
  *
  * The cost being cut is DRIVER-side and data-independent: a
  * loop-carried frame's analyzed plan embeds its predecessor — twice,
  * for the frontier/visited shapes, so the tree DOUBLES per round —
  * and every persist()/count()/final consume re-analyzes it.
  * Measured on n6_bfs_hops (4 rounds over the co-purchase graph):
  * warm plan construction 7.4 s vs 4.3 s of actual job time before
  * the r12 lazy-mode fix, and still the suite max at 7.08 s in
  * BENCH_r12 — a cost that grows with ROUNDS, not data, i.e. the
  * term that strangles deep closures on any cluster size.
  *
  * The cut is `localCheckpoint` (eager): the frame materializes to
  * executor storage and its logical plan collapses to a LogicalRDD
  * leaf, so subsequent rounds re-plan against a leaf instead of the
  * whole history. localCheckpoint, not checkpoint: these are
  * round-local label/frontier frames a failed job simply re-derives
  * by re-running — none of it is fault-tolerance state — and the
  * reliable flavor would serialize corpus-sized frames to the
  * checkpoint dir every K rounds. A deployment that wants durable
  * checkpoints under executor churn swaps the one call site.
  *
  * Storage contract: checkpointed RDDs are NOT CacheManager entries,
  * so `Broadcasting.releaseAll()` cannot free them; the
  * ContextCleaner reclaims each once its frame goes out of scope
  * (`GraftSession.settings` pins a 45 s periodic GC for exactly
  * this kind of local-mode debris).
  *
  * Eagerness contract: a cut RUNS Spark jobs at the call site. Query
  * builders are normally lazy (no job fires while they run),
  * but iterative operators are the documented exception — like
  * s12's deliberate eager round-trip, the bounded per-K-rounds
  * materialization IS part of the operator, re-paid (and correctly
  * timed) on every bench pass. Setting the conf to 0 restores fully
  * lazy plans for callers that need them.
  */
object Iterate {

  /** Session conf: cut lineage every N rounds; 0 disables. Default 3:
    * tree size between cuts stays ≤ 2³ copies of the loop subtree,
    * and closures of ≤ 3 rounds (most property paths) see no change. */
  val CheckpointEveryKey = "spark.graft.iterate.checkpointEvery"
  val DefaultEvery = 3

  def every(spark: SparkSession): Int = {
    val n = spark.conf.get(CheckpointEveryKey, DefaultEvery.toString).toInt
    require(n >= 0, s"$CheckpointEveryKey must be >= 0, got $n")
    n
  }

  /** True when round `r` (1-based) lands on the cut cadence. */
  def due(spark: SparkSession, r: Int): Boolean = {
    val n = every(spark)
    n > 0 && r % n == 0
  }

  /** Materialize `df` and truncate its lineage to a LogicalRDD leaf. */
  def cut(df: DataFrame): DataFrame = df.localCheckpoint()

  /** The BFS collapse step, shared by minHops / minHopsPerSource:
    * fold the level frames into ONE leaf and re-split it by the
    * `hops` column so the head stays the round-`h` frontier and the
    * union of the pair stays the result-so-far. The fold frames'
    * caches release MID-LOOP, uniquely safely: the leaf carries no
    * lineage into them, so no dependent cache entry re-compiles (the
    * r12 CacheManager trap documented on Bfs). */
  def collapseByHops(fold: List[DataFrame], h: Int): List[DataFrame] = {
    import org.apache.spark.sql.functions.col
    val cp = cut(fold.reduce(_ unionAll _))
    fold.foreach(_.unpersist())
    List(cp.filter(col("hops") === h), cp.filter(col("hops") < h))
  }
}
