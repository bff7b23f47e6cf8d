package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Count-Min Sketch: fixed-size frequency summary for heavy-hitter /
  * approximate-count queries over unbounded key domains — the sketch
  * the reference lacks and a 100 TB corpus needs (exact per-key counts
  * of a high-cardinality column shuffle every key; the sketch shuffles
  * at most `Depth × Width` counters regardless of input size).
  *
  * Estimates are upper bounds (collisions only ADD), within
  * `ε·N` of truth with probability 1−δ for w = e/ε, d = ln(1/δ).
  *
  * Hashes are DETERMINISTIC (md5 of "i:key", first 60 bits) — the
  * same arithmetic is expressible in any engine with md5, so sketch
  * contents and estimates are bit-identical cross-engine (the driver's
  * DuckDB oracle replays them exactly). No seed, no RNG: a stage retry
  * re-deals every row to the same counter.
  *
  * Two faces, asserted equal by CmsSketchSpec:
  *  - relational (`counters`/`estimates`): codegen'd column
  *    expressions, narrow explode ×Depth, partial+final hash agg —
  *    the 100 TB path;
  *  - `CmsAggregator`: a typed Dataset Aggregator whose buffer IS the
  *    d×w counter array (8 KB) — for `ds.select(cms.toColumn)` users
  *    and mergeable per-partition sketches.
  */
object CmsSketch {
  val Depth = 4
  val Width = 256

  /** All Depth bucket indices come from ONE md5 evaluation per row:
    * row i reads bits [8i, 8i+8) of the 60-bit StableHash value
    * (Width = 256 = 8 bits; 4×8 = 32 of the 60 bits). One hash per
    * row instead of Depth — md5 dominates the sketch's map cost —
    * and the bit-slice is the same `>>`/`&` arithmetic in any
    * oracle. md5 bits are independent enough for the d pairwise
    * rows CMS asks for. */
  def rowHash(key: Column): Column =
    StableHash.md5Mod("cms", key, 1L << 60)

  def bucket(i: Int, hash: Column): Column =
    shiftright(hash, i * 8).bitwiseAND(lit(255L))

  /** NULL keys are NOT COUNTED (md5(null) is null — there is no
    * content to hash): both faces skip them, so the column sketch and
    * `CmsAggregator` stay bit-identical on null-bearing inputs. */
  private def probeFrame(df: DataFrame, keyCol: String): DataFrame =
    df.filter(col(keyCol).isNotNull)
      .select(col(keyCol), rowHash(col(keyCol)).as("_h"))
      .select(col(keyCol), explode(array((0 until Depth).map(i =>
        struct(lit(i).as("i"), bucket(i, col("_h")).as("bucket"))): _*))
        .as("ib"))
      .select(col(keyCol), col("ib.i").as("i"), col("ib.bucket").as("bucket"))

  /** Sketch counters as a frame: (i, bucket, c), ≤ Depth×Width rows.
    * One scan; the shuffle after partial aggregation carries at most
    * d×w rows PER MAP PARTITION, independent of input size. */
  def counters(df: DataFrame, keyCol: String): DataFrame =
    probeFrame(df, keyCol)
      .groupBy(col("i"), col("bucket"))
      .agg(count(lit(1)).as("c"))

  /** Point estimates for `keys`: min over the key's Depth counters.
    * `counters` is ≤ d×w rows by construction — the broadcast hint is
    * safe unconditionally. Inner join: keys absent from the sketched
    * frame are the caller's concern (their true count is 0 but their
    * buckets may still exist; probe with a left join + coalesce(c,0)
    * if that distinction matters). */
  def estimates(cnt: DataFrame, keys: DataFrame, keyCol: String)
    : DataFrame =
    probeFrame(keys, keyCol)
      .join(broadcast(cnt), Seq("i", "bucket"))
      .groupBy(col(keyCol))
      .agg(min("c").as("est"))

  /** Top-k heavy hitters of `df(keyCol)` by sketch estimate,
    * deterministic tie-break on the key.
    *
    * Spelled over per-key counts rather than raw rows: topK needs the
    * distinct-key frame ANYWAY (the estimate probe), so one
    * groupBy(key) pass feeds both the counters (bucket weight = the
    * key's count — identical counters, addition is associative) and
    * the probe, which cuts the md5 evaluations from one per ROW to
    * one per DISTINCT KEY and drops the second scan. The hash is
    * computed once per key and shared by counter build and probe.
    * `counters`/`estimates` keep their O(d×w)-shuffle row spelling
    * for sketch-only users with unbounded key domains. */
  def topK(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    val keyed = Broadcasting.track(df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol)).agg(count(lit(1)).as("_n"))
      .withColumn("_h", rowHash(col(keyCol)))
      .persist())
    def buckets(c: DataFrame): DataFrame = c
      .select(col(keyCol), col("_n"), explode(array((0 until Depth).map(
        i => struct(lit(i).as("i"), bucket(i, col("_h")).as("bucket"))): _*))
        .as("ib"))
      .select(col(keyCol), col("_n"),
        col("ib.i").as("i"), col("ib.bucket").as("bucket"))
    val cnt = buckets(keyed)
      .groupBy(col("i"), col("bucket"))
      .agg(sum("_n").as("c"))
    buckets(keyed)
      .join(broadcast(cnt), Seq("i", "bucket"))
      .groupBy(col(keyCol))
      .agg(min("c").as("est"))
      .orderBy(col("est").desc, col(keyCol))
      .limit(k)
  }

  /** JVM twin of `rowHash` — same arithmetic, bit for bit. One md5
    * per key; slice each row's bucket from it with `cellOf`. */
  private[graft] def hashJvm(key: String): Long = {
    val hex = graft.Hex.digest("MD5", s"cms:$key".getBytes("UTF-8"))
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  private[graft] def cellOf(i: Int, h: Long): Int =
    ((h >> (i * 8)) & 255L).toInt

  private[graft] def bucketJvm(i: Int, key: String): Int =
    cellOf(i, hashJvm(key))

  /** Mergeable typed aggregator: buffer = flat d×w counter array. */
  class CmsAggregator extends Aggregator[String, Array[Long], Array[Long]] {
    def zero: Array[Long] = new Array[Long](Depth * Width)
    def reduce(b: Array[Long], key: String): Array[Long] = {
      if (key == null) return b // null keys uncounted — see probeFrame
      val h = hashJvm(key) // one digest per row, like the column face
      var i = 0
      while (i < Depth) {
        b(i * Width + cellOf(i, h)) += 1L; i += 1
      }
      b
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    def finish(b: Array[Long]): Array[Long] = b
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder()
  }

  /** Estimate from a materialized sketch array (driver-side probe). */
  def estimateFrom(sketch: Array[Long], key: String): Long = {
    val h = hashJvm(key)
    (0 until Depth).map(i => sketch(i * Width + cellOf(i, h))).min
  }
}
