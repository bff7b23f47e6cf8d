package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-pass table profiling ("analyze"): per-column row/null/distinct
  * counts and min/max, in long format — the data-quality summary a
  * pipeline records for every ingested partition.
  *
  * `summary` is EXACT and oracle-checkable: all requested columns are
  * profiled in a single aggregation job. Multiple exact distinct
  * counts make Catalyst plan an Expand (the input is replayed once per
  * distinct aggregate) — correct, but at 100 TB that is k scans' worth
  * of shuffle for k columns. Where an estimate of n_distinct is
  * enough, `approx_count_distinct` (HyperLogLog++) needs one pass and
  * no Expand.
  *
  * min/max are stringified AFTER aggregating (one cast per column per
  * final row, not per input row) to give the long format a uniform
  * schema.
  */
object Profiling {

  def summary(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "summary needs at least one column")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"column(s) ${missing.mkString(", ")} not found — have " +
        s"[${df.columns.mkString(", ")}]")
    val aggs = cols.flatMap(c => Seq(
      count(col(c)).as(s"_nn_$c"),
      count_distinct(col(c)).as(s"_nd_$c"),
      min(col(c)).cast("string").as(s"_mn_$c"),
      max(col(c)).cast("string").as(s"_mx_$c")))
    val one = df.agg(count(lit(1)).as("_n_rows"), aggs: _*)
    one.select(explode(array(cols.map(c => struct(
      lit(c).as("column"),
      col("_n_rows").as("n_rows"),
      (col("_n_rows") - col(s"_nn_$c")).as("n_nulls"),
      col(s"_nd_$c").as("n_distinct"),
      col(s"_mn_$c").as("min_val"),
      col(s"_mx_$c").as("max_val"))): _*)).as("p"))
      .select(col("p.*"))
  }
}
