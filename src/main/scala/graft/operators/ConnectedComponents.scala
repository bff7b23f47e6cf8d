package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components — the transitive-closure step
  * that turns near-dup PAIRS into dedup GROUPS (d7's single-pass
  * keep-lowest is deliberately not closure; this is). Node ids must
  * be integral (doc ids); every node maps to its component's MIN id.
  *
  * Two-tier plan, gated on the edge count:
  *
  *  - **Local union-find** (edge count ≤ `localEdgeCap`): one task,
  *    path-compressed, min-root linking — exact in ONE pass. This is
  *    the right plan almost always: the edge set is the LSH pair
  *    list, which is tiny relative to the corpus (that is the whole
  *    point of banding), and a 5M-edge union-find is milliseconds —
  *    while every iterative round below costs a full shuffle cycle
  *    of fixed latency. The corpus never flows through the single
  *    task; only the pairs do.
  *
  *  - **Iterative min-label propagation** (edge count above the cap):
  *    neighbor-min each round, rounds bounded by component diameter,
  *    per-round persist (all released together downstream — see the
  *    cache-discipline notes inline) and the edge set cached once
  *    (its lineage is the whole upstream pipeline). Loud
  *    IllegalStateException on non-convergence.
  */
object ConnectedComponents {

  /** Above this many (directed) edges the single-task union-find is
    * no longer obviously cheap and the iterative path takes over. */
  val LocalEdgeCap: Long = 5000000L

  /** Edges (srcCol, dstCol) are undirected, ids integral. Returns
    * (id: long, comp: long) — every node of the edge set mapped to
    * its component's min id. */
  def minLabel(edges: DataFrame, srcCol: String, dstCol: String,
    maxIter: Int = 25, localEdgeCap: Long = LocalEdgeCap): DataFrame = {
    // tracked, NOT unpersisted here: an eager `sym.unpersist()` after
    // the branch returns would recache-invalidate the branch's JUST
    // materialized result (a parent uncache re-compiles dependent
    // cache entries, discarding their buffers — the Bfs.minHops
    // cache-discipline lesson), so the caller's first real read would
    // re-run the whole closure AND the upstream pair pipeline from
    // lineage. Released with everything else at `releaseAll()`.
    //
    // The ONE-directional frame persists FIRST (r21): sym embeds
    // `edges` twice (forward + reversed), so materializing it used to
    // run the whole upstream pair pipeline — the LSH band build for
    // d8/d12, the fuzzy-join blocking for n2 — twice per pass; the
    // reversal now reads the cache.
    val one = Broadcasting.track(Caching.persistCorpus(edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))))
    val sym = Broadcasting.track(Caching.persistCorpus(one
      .union(one.select(col("dst").as("src"), col("src").as("dst")))))
    val probe = math.min(localEdgeCap + 1, Int.MaxValue.toLong).toInt
    if (sym.limit(probe).count() <= localEdgeCap) localUnionFind(sym)
    else iterate(sym, maxIter)
  }

  /** One-task exact union-find: path compression + min-root linking,
    * so each root IS its component's min id. The iterator is consumed
    * fully before emitting, then results stream out. */
  private def localUnionFind(sym: DataFrame): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    val out = sym.as[(Long, Long)]
      .repartition(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap[Long]()
        def add(x: Long): Unit =
          if (!parent.contains(x)) parent(x) = x
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (a, b) =>
          add(a); add(b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) {
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
        parent.keys.toArray.sorted.iterator.map(k => (k, find(k)))
      }
      .toDF("id", "comp")
      .persist()
    out.count() // materialize before the caller releases the edge cache
    // tracked: Broadcasting.releaseAll() reclaims it (or unpersist the
    // returned frame directly) — callers get a lazy frame and this
    // method cannot know when they are done with it
    Broadcasting.track(out)
  }

  private def iterate(sym: DataFrame, maxIter: Int): DataFrame = {
    var comp = Broadcasting.track(
      sym.select(col("src").as("id")).distinct()
        .withColumn("comp", col("id"))
        .persist())
    comp.count() // each round starts from a cut lineage
    var round = 0
    var converged = false
    while (!converged) {
      if (round >= maxIter)
        throw new IllegalStateException(
          s"connected components did not converge in $maxIter rounds")
      // no mid-loop unpersist of the previous round: the `changed`
      // count has just materialized `next`, and uncaching its parent
      // would discard those buffers (see minLabel). Rounds release
      // together at `releaseAll()`; peak cache is rounds × (id, comp)
      // pairs — label frames, never the corpus.
      val step = sym.join(comp, col("src") === col("id"))
        .select(col("dst").as("id"), col("comp"))
        .union(comp.select(col("id"), col("comp")))
        .groupBy(col("id")).agg(min("comp").as("comp"))
      // lineage cut on the cadence (Iterate doc): each label frame
      // embeds the previous one twice (propagate + union), so the
      // analyzed tree doubles per round — the cut resets it to a
      // leaf; localCheckpoint persists, so the else-branch contract
      // (cached frame, counted below) is unchanged
      val next =
        if (Iterate.due(sym.sparkSession, round + 1)) Iterate.cut(step)
        else Broadcasting.track(step.persist())
      val changed = next.join(comp.withColumnRenamed("comp", "prev"),
        Seq("id"))
        .filter(col("comp") < col("prev")).count()
      comp = next
      converged = changed == 0
      round += 1
    }
    comp // tracked above — same release contract as localUnionFind
  }

  /** Dedup grouping: component assignment for every doc in `pairs`
    * plus the component SIZE — the group a doc's text belongs to. */
  def dedupGroups(pairs: DataFrame, aCol: String, bCol: String)
    : DataFrame = {
    val comp = minLabel(pairs, aCol, bCol)
    val sizes = comp.groupBy(col("comp")).agg(count(lit(1)).as("group_size"))
    comp.join(sizes, Seq("comp"))
      .select(col("id"), col("comp"), col("group_size"))
  }
}
