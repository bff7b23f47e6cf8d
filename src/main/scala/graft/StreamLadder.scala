package graft

import graft.streaming.{IvfIndexMaintenance, LshIndexMaintenance}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming-index maintenance scale probe: drives the LSH and IVF
  * maintainers over many micro-batches and times EACH batch, across
  * three maintenance modes — compaction OFF, single-tier (every fold
  * a governed major rewrite), and TIERED (L0 minors + triggered
  * majors) — the empirical face of the BatchDirs claims that
  * per-batch cost stays flat under compaction while the uncompacted
  * layout degrades with stream age (O(batches) listing + footer reads
  * on the face-2 index scan), and that tiering removes the
  * backstop-forced full rewrites, cutting cumulative WRITE bytes at
  * equal read latency. Not part of the driver contract — a diagnostic
  * main backing BASELINE.md's ladder table, like [[ScaleLadder]].
  *
  * Method notes: batches are hash-salted slices of the real
  * documents/embeddings tables (uniform sizes, corpus-like content);
  * all modes process IDENTICAL batch streams; each mode ends with a
  * full `pairsSoFar`/`index` read timing plus an equality check, so
  * the speed comparison is also a correctness witness. Quartile means
  * of per-batch wall time are the headline (Q1 = stream young, Q4 =
  * stream old): flat Q4/Q1 under compaction, growing without.
  * Cumulative write bytes per mode come from the Hadoop local-FS
  * statistics (parquet data + markers; shuffle files bypass the
  * Hadoop FS layer, so the counter isolates exactly the layout's
  * write amplification). */
object StreamLadder {

  private def timeMs[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e6, a)
  }

  /** JVM-wide bytes written through the Hadoop `file` scheme —
    * snapshot before/after a mode run; the delta is the mode's total
    * write volume (batch dirs + every fold rewrite). */
  private def fsBytesWritten: Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
  }

  // even index-range split (NOT grouped(n/4).take(4), which drops up
  // to 3 trailing batches — the oldest-stream ones carrying the
  // degradation signal — whenever the count isn't a multiple of 4)
  private def quartiles(ts: Seq[Double]): Seq[Double] =
    (0 until 4)
      .map(i => ts.slice(i * ts.size / 4, (i + 1) * ts.size / 4))
      .filter(_.nonEmpty)
      .map(q => q.sum / q.size)

  private def fmtQ(ts: Seq[Double]): String =
    quartiles(ts).map(q => f"$q%.0f").mkString("/")

  private def dirCount(spark: SparkSession, dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0 else fs.listStatus(p).length
  }

  private def clean(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true); ()
  }

  /** One maintenance configuration under measurement: compaction
    * cadence, fold shape, and the tiered fold's two levers
    * (major-merge byte trigger, L0 cascade factor). */
  final case class Mode(name: String, every: Int, tiered: Boolean,
    majorRatio: Double = 0.1, mergeFactor: Double = 2.0)

  /** The measurable design space. `tiered`/`single`/`off` are the
    * default ladder; `nocascade` (cascade off, run-count backstop
    * only) and `lazy` (majorRatio 1.0 — majors wait until the upper
    * tiers match the compact bytes) bracket the tiered levers. */
  val Modes: Seq[Mode] = Seq(
    Mode("tiered", 8, tiered = true),
    Mode("nocascade", 8, tiered = true, mergeFactor = 0.0),
    Mode("lazy", 8, tiered = true, majorRatio = 1.0),
    Mode("single", 8, tiered = false),
    Mode("off", 0, tiered = true))

  def lshRun(spark: SparkSession, docs: DataFrame, nBatches: Int,
    mode: Mode, base: String, nBuckets: Int = 8)
    : (Seq[Double], Set[(Long, Long, Long)]) = {
    import spark.implicits._
    val (ix, pr) = (s"$base/index", s"$base/pairs")
    clean(spark, ix); clean(spark, pr)
    val w0 = fsBytesWritten
    val times = (0 until nBatches).map { id =>
      val b = docs.filter(
        pmod(xxhash64(col("doc_id")), lit(nBatches)) === id)
      val (ms, _) = timeMs(LshIndexMaintenance.processBatch(
        b, id.toLong, "doc_id", "text", ix, pr,
        compactEvery = mode.every, nBuckets = nBuckets,
        tiered = mode.tiered, majorRatio = mode.majorRatio,
        mergeFactor = mode.mergeFactor))
      ms
    }
    val written = fsBytesWritten - w0
    val (readMs, pairs) = timeMs(
      LshIndexMaintenance.pairsSoFar(spark, pr, ix)
        .as[(Long, Long, Long)].collect().toSet)
    println(f"[stream-ladder] lsh ${mode.name}%-9s " +
      f"every=${mode.every}%-2d " +
      f"batchMs Q1/Q2/Q3/Q4 ${fmtQ(times)}  last ${times.last}%.0f  " +
      f"indexDirs ${dirCount(spark, ix)}  pairsDirs ${dirCount(spark, pr)}  " +
      f"written ${written / 1e6}%.1fMB  " +
      f"pairsRead ${readMs}%.0fms (${pairs.size} pairs)")
    (times, pairs)
  }

  def ivfRun(spark: SparkSession, emb: DataFrame, centroids: DataFrame,
    nBatches: Int, mode: Mode, base: String, nBuckets: Int = 8)
    : (Seq[Double], Set[(Int, Long)]) = {
    import spark.implicits._
    val ix = s"$base/index"
    clean(spark, ix)
    val w0 = fsBytesWritten
    val times = (0 until nBatches).map { id =>
      val b = emb.filter(
        pmod(xxhash64(col("vec_id")), lit(nBatches)) === id)
      val (ms, _) = timeMs(IvfIndexMaintenance.processBatch(
        b, id.toLong, centroids, ix,
        compactEvery = mode.every, nBuckets = nBuckets,
        tiered = mode.tiered, majorRatio = mode.majorRatio,
        mergeFactor = mode.mergeFactor))
      ms
    }
    val written = fsBytesWritten - w0
    val (readMs, rows) = timeMs(
      IvfIndexMaintenance.index(spark, ix).get
        .select("cluster_id", "vec_id").as[(Int, Long)]
        .collect().toSet)
    println(f"[stream-ladder] ivf ${mode.name}%-9s " +
      f"every=${mode.every}%-2d " +
      f"batchMs Q1/Q2/Q3/Q4 ${fmtQ(times)}  last ${times.last}%.0f  " +
      f"indexDirs ${dirCount(spark, ix)}  " +
      f"written ${written / 1e6}%.1fMB  " +
      f"indexRead ${readMs}%.0fms (${rows.size} postings)")
    (times, rows)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val nBatches =
      if (args.nonEmpty) args(0).toInt else 64
    // right-size the compact bucket count to the probe corpus: at
    // production index sizes data dominates parquet footers and a
    // wide bucket fan-out is free; at probe scale 64 buckets of
    // footer overhead swamp the byte-ratio governor (it compares
    // real bytes) and defer every fold
    val buckets = if (args.length > 1) args(1).toInt else 8
    // family selector (3rd arg): "true" = both, "false" = LSH only
    // (big rungs run one family alone to bound wall-clock), "ivf" =
    // IVF only
    val fam = if (args.length > 2) args(2) else "true"
    val runIvf = fam == "true" || fam == "ivf"
    val runLsh = fam != "ivf"
    // optional 4th arg: comma-separated mode subset — re-measuring
    // one mode after a change to its fold path only, without paying
    // the (slow, unchanged) other modes again
    val modes: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).toSet
      else Set("tiered", "single", "off")
    // optional 5th arg: SYNTHETIC corpus size — the data-dominated
    // rung. The sf0.1 documents table (5k rows) keeps per-fold band
    // volume under the per-run parquet footer floor (~2 KB/bucket
    // file), where the size-tiered cascade degenerates (every run
    // looks "comparable" to the byte test and L0 re-merges each
    // fold). A synthetic corpus of sha2-token texts is incompressible
    // and as large as asked, so run sizes are data-driven and the
    // cascade's geometric behavior (and its write bytes vs the other
    // modes) is measured, not spec-pinned. Ids < 64 form 8 near-dup
    // families so the cross-mode pair-equality witness stays
    // nonempty; all other texts are hash-distinct (no LSH structure).
    val synthDocs = if (args.length > 4) args(4).toLong else 0L
    val spark = GraftSession.harness(GraftSession.Cpus)
    val out = "target/stream_ladder"
    val docs =
      if (synthDocs <= 0)
        spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id", "text")
      else
        spark.range(synthDocs).select(col("id").as("doc_id"),
          when(col("id") < 64,
            concat(lit("shared family words that all the siblings " +
              "carry together fam"),
              (col("id") % 8).cast("string"), lit(" variant "),
              col("id").cast("string")))
            .otherwise(concat_ws(" ", (0 until 8).map(i =>
              sha2(concat(col("id").cast("string"), lit(s"-$i")),
                256)): _*))
            .as("text"))
    def q4q1(ts: Seq[Double]): Double = {
      val q = quartiles(ts); q.last / q.head
    }
    if (runLsh) {
      // warmup: one throwaway 2-batch run absorbs codegen/classload
      lshRun(spark, docs, 2, Mode("off", 0, tiered = true),
        s"$out/lsh_warm", buckets)
      val lsh = Modes
        .collect { case m if modes(m.name) =>
          m.name -> lshRun(spark, docs, nBatches, m,
            s"$out/lsh_${m.name}", buckets)
        }.toMap
      require(lsh.values.map(_._2).toSet.size <= 1,
        s"pair sets differ across modes: " +
          lsh.map { case (m, (_, p)) => s"$m=${p.size}" }.mkString(" "))
      println("[stream-ladder] degradation Q4/Q1 lsh " +
        lsh.map { case (m, (ts, _)) => f"$m ${q4q1(ts)}%.2f" }
          .mkString(" ") + s" ($nBatches batches)")
    }
    if (runIvf) {
      // the synthetic face mirrors the docs one: deterministic
      // hash-derived 16-dim vectors, as many as asked — posting rows
      // (vec_id + embedding) carry real byte weight, so fold sizes
      // are data-driven
      val emb =
        if (synthDocs <= 0)
          spark.read.parquet(s"$sfDir/embeddings.parquet")
            .select("vec_id", "embedding")
        else
          spark.range(synthDocs).select(col("id").as("vec_id"),
            expr("transform(sequence(0, 15), i -> " +
              "cast(pmod(xxhash64(id, i), 1000) / 1000.0 as float))")
              .as("embedding"))
      val centroids = graft.operators.IvfIndex
        .buildCentroids(emb, k = 16, iters = 3).persist()
      centroids.count()
      ivfRun(spark, emb, centroids, 2, Mode("off", 0, tiered = true),
        s"$out/ivf_warm", buckets)
      val ivf = Modes
        .collect { case m if modes(m.name) =>
          m.name -> ivfRun(spark, emb, centroids, nBatches, m,
            s"$out/ivf_${m.name}", buckets)
        }.toMap
      require(ivf.values.map(_._2).toSet.size <= 1,
        s"postings differ across modes: " +
          ivf.map { case (m, (_, p)) => s"$m=${p.size}" }.mkString(" "))
      println("[stream-ladder] degradation Q4/Q1 ivf " +
        ivf.map { case (m, (ts, _)) => f"$m ${q4q1(ts)}%.2f" }
          .mkString(" ") + s" ($nBatches batches)")
    }
    graft.operators.Broadcasting.releaseAll()
    spark.stop()
  }
}
