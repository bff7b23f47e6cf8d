package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed batch-perceptron training — the "learned quality
  * filter" stage of a corpus-curation pipeline (fastText-style
  * classifiers score every document at 100 TB; this is that shape,
  * with training expressed as Spark aggregates).
  *
  * The perceptron is chosen over logistic regression deliberately:
  * its update rule is INTEGER-EXACT —
  *
  *   w_{t+1} = w_t + Σ_{i : y_i·(w_t·x_i) ≤ 0} y_i·x_i
  *
  * (full-batch, so the result is independent of row order and
  * partitioning — a per-row SGD perceptron would not be
  * reproducible under Spark's nondeterministic partition order).
  * With int64 features, labels ∈ {−1,+1} and integer weights, every
  * margin and every update is exact int64 arithmetic, which is what
  * lets TRAINING — not just inference — hash-match a DuckDB oracle
  * of unrolled CTEs (the same trick as `KMeans.fitE6`).
  *
  * Plan shape per round: one crossJoin(broadcast(w)) — w is a 1-row
  * frame, so this is a broadcast nested loop over exactly one row —
  * then a single full aggregate producing the next 1-row w frame.
  * No driver-side collect anywhere: weights flow frame-to-frame, so
  * plan construction stays lazy (no job fires while a query builder
  * runs). Lineage doubles per round; for tens of rounds persist the
  * feature frame once (caller's choice) — each round still reads the
  * corpus exactly once, which is the theoretical minimum for
  * full-batch training.
  *
  * Margin overflow bound: |w| ≤ rounds·Σ|x| component-wise, so
  * |w·x| ≤ rounds·k·max|x|·Σ|x| — callers keep features scaled so
  * this stays under 2⁶³ (docs-corpus features at e0 scale give
  * headroom of ~10⁶ at a billion rows).
  */
object Perceptron {

  /** Train `rounds` full-batch rounds from w = 0 over integer
    * feature columns `featureCols` and ±1 label `labelCol`. Returns
    * a 1-row frame with one weight column per feature (named
    * `w_<feature>`).
    */
  def fit(features: DataFrame, featureCols: Seq[String],
    labelCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val spark = features.sparkSession
    val feats = features.select(
      (col(labelCol).cast("long").as("y") +:
        featureCols.map(c => col(c).cast("long").as(c))): _*)
    var w: DataFrame = spark.range(1).select(
      featureCols.map(c => lit(0L).as(s"w_$c")): _*)
    for (_ <- 1 to rounds) {
      // One aggregate per round, and the previous w frame is
      // referenced exactly ONCE (inside this crossJoin), so lineage
      // grows LINEARLY with rounds — the naive "w + delta" spelling
      // references w twice and doubles the plan every round.
      // first(w_c) is deterministic: every joined row carries the
      // same single weight row.
      val margin = featureCols
        .map(c => col(s"w_$c") * col(c))
        .reduce(_ + _)
      val updates = featureCols.map(c =>
        (first(col(s"w_$c")) +
          coalesce(sum(when(col("y") * margin <= 0L,
            col("y") * col(c)).otherwise(0L)), lit(0L)))
          .as(s"w_$c"))
      w = feats.crossJoin(broadcast(w))
        .agg(updates.head, updates.tail: _*)
    }
    w
  }

  /** Confusion counts of sign(w·x) against the ±1 labels: appends
    * (tp, fp, tn, fn) to the weight row. Ties (w·x = 0) predict
    * negative — the same convention the training margin uses.
    */
  def confusion(features: DataFrame, featureCols: Seq[String],
    labelCol: String, w: DataFrame): DataFrame = {
    val feats = features.select(
      (col(labelCol).cast("long").as("y") +:
        featureCols.map(c => col(c).cast("long").as(c))): _*)
    val score = featureCols
      .map(c => col(s"w_$c") * col(c))
      .reduce(_ + _)
    val scored = feats.crossJoin(broadcast(w))
      .withColumn("pred", when(score > 0L, 1L).otherwise(-1L))
    val counts = scored.agg(
      sum(when(col("pred") === 1L && col("y") === 1L, 1L)
        .otherwise(0L)).as("tp"),
      sum(when(col("pred") === 1L && col("y") === -1L, 1L)
        .otherwise(0L)).as("fp"),
      sum(when(col("pred") === -1L && col("y") === -1L, 1L)
        .otherwise(0L)).as("tn"),
      sum(when(col("pred") === -1L && col("y") === 1L, 1L)
        .otherwise(0L)).as("fn"))
    w.crossJoin(broadcast(counts))
  }
}
