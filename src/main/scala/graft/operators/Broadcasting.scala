package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Size-gated broadcast: the middle ground between a forced
  * `broadcast()` hint (honored REGARDLESS of size — an outgrown
  * dimension OOMs the driver) and no hint (fine once AQE has runtime
  * stats, but the initial plan relies on Catalyst's estimate, which
  * parquet/JSON scans without collected stats often overestimate).
  *
  * `maybeBroadcast` applies the hint only when Catalyst's own
  * estimate for the optimized plan is under `maxBytes` — so a
  * dimension that quietly grew past the threshold degrades to a
  * shuffle join instead of failing, while the common small case
  * keeps the single-pass broadcast plan. Use for dimensions whose
  * size tracks the corpus (slide→hash lookups); skip for frames
  * bounded by construction (a 25-row nation table, 8 hyperplanes, a
  * localized centroid set), where the plain hint is already safe.
  */
object Broadcasting {

  /** Default cap matches Spark's autoBroadcastJoinThreshold default. */
  val DefaultMaxBytes: Long = 10L << 20

  /** Byte-estimate gate. It reads only the optimized plan's
    * statistics, so it fires no Spark job and is safe while a lazy
    * plan is being built. For a lookup backed by its own compact
    * file (JSON, parquet) the scan estimate is close to the file
    * size. For a narrow projection of a wide scan (the (slide, hash)
    * pairs derived from a binaryFile read) the estimate is far too
    * HIGH, so such a lookup degrades to a shuffle join: slower than
    * it need be, never a driver-side build that overflows. */
  def maybeBroadcast(df: DataFrame,
    maxBytes: Long = DefaultMaxBytes): DataFrame = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= maxBytes) broadcast(df) else df
  }

  /** Frames persisted by operators whose result is a lazy frame over
    * their own caches (ConnectedComponents' edge closure, PageRank's
    * edge sets, …): the operator cannot know when its caller is done,
    * so without a registry every invocation would leave cached
    * partitions behind until eviction pressure.
    *
    * The registry is JVM-GLOBAL: `releaseAll()` drains caches from
    * EVERY in-flight caller sharing the session — concurrent callers
    * that must not disturb each other should unpersist their own
    * returned frames instead (such frames are purged from the
    * registry on the next `track` call, so the manual path does not
    * pin them here). */
  private val cachedFrames =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Register an ALREADY-persisted frame in the release registry.
    * Returns the frame for call-site chaining. */
  def track(df: DataFrame): DataFrame = {
    cachedFrames.removeIf(f =>
      f.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    cachedFrames.add(df)
    df
  }

  /** Unpersist every frame `track` has registered since the last
    * release. Safe at any point — an unpersisted frame that a
    * still-lazy plan references simply recomputes — but the right
    * moment is after the consumer materializes (post-write). */
  def releaseAll(): Unit = {
    var d = cachedFrames.poll()
    while (d != null) { d.unpersist(); d = cachedFrames.poll() }
  }
}
