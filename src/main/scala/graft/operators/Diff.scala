package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Snapshot diff: classify every key of two table versions as
  * added / removed / changed / unchanged — the audit step between a
  * pipeline's runs (what did yesterday's rebuild actually touch?)
  * and the input to incremental downstream refresh.
  *
  * Plan at 100 TB: one hash shuffle per side on the key columns into
  * a full-outer sort-merge join; payloads ride as ONE struct column
  * per side, compared with null-safe struct equality (`<=>`) — no
  * per-column join conditions, no second pass. Output carries the
  * keys + status (+ both payload structs for changed-row inspection);
  * counts-by-status is then a cheap partial agg.
  */
object Diff {

  /** Full-outer diff of `oldDf` vs `newDf` on `keyCols`: emits one
    * row per key present in either side, with `status` in
    * added|removed|changed|unchanged and the two payload structs.
    * Schemas must match (same columns, any order). */
  def snapshot(oldDf: DataFrame, newDf: DataFrame,
    keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "snapshot diff needs at least one key")
    require(oldDf.columns.sorted.toSeq == newDf.columns.sorted.toSeq,
      s"schemas differ — old [${oldDf.columns.mkString(", ")}] vs " +
        s"new [${newDf.columns.mkString(", ")}]")
    keyCols.foreach(k => require(oldDf.columns.contains(k),
      s"key column $k not in schema"))
    val payload = oldDf.columns.filterNot(keyCols.contains).toSeq
    require(payload.nonEmpty, "all columns are keys — nothing to diff")
    Seq("_old_p", "_new_p", "status").foreach(c =>
      require(!oldDf.columns.contains(c),
        s"column $c collides with the diff's output columns"))
    def pack(df: DataFrame, as: String): DataFrame =
      df.select(keyCols.map(col) :+
        struct(payload.map(col): _*).as(as): _*)
    // null-SAFE key join (<=>): a key that is NULL in both snapshots
    // is the same key — a plain equi-join would report it as one
    // 'removed' plus one 'added'. (Keys must still be unique per
    // side; duplicates multiply matches, as in any keyed join.)
    val o = pack(oldDf, "_old_p").as("_go")
    val n = pack(newDf, "_new_p").as("_gn")
    val cond = keyCols.map(k =>
      col(s"_go.$k") <=> col(s"_gn.$k")).reduce(_ && _)
    val joined = o.join(n, cond, "full_outer")
    val status: Column =
      when(col("_old_p").isNull, lit("added"))
        .when(col("_new_p").isNull, lit("removed"))
        .when(col("_old_p") <=> col("_new_p"), lit("unchanged"))
        .otherwise(lit("changed"))
    joined.select(keyCols.map(k =>
      coalesce(col(s"_go.$k"), col(s"_gn.$k")).as(k)) :+
      status.as("status") :+
      col("_old_p").as("old_payload") :+
      col("_new_p").as("new_payload"): _*)
  }

  /** Status → row count, the one-line audit summary. */
  def summary(oldDf: DataFrame, newDf: DataFrame,
    keyCols: Seq[String]): DataFrame =
    snapshot(oldDf, newDf, keyCols)
      .groupBy(col("status")).agg(count(lit(1)).as("cnt"))

  /** Derive IncrementalAgg's signed changelog from two snapshots —
    * the CDC bridge: removed/changed keys emit their OLD row at
    * `_op = -1`, added/changed keys their NEW row at `_op = +1`,
    * unchanged keys emit nothing. Feeding the result to
    * `IncrementalAgg.maintain` refreshes any stored count/sum summary
    * to the new snapshot's state without hand-building deltas — and
    * the changelog itself is diff-sized, so downstream cost tracks
    * what actually changed, not the table. */
  def toChangelog(oldDf: DataFrame, newDf: DataFrame,
    keyCols: Seq[String]): DataFrame = {
    val payload = oldDf.columns.filterNot(keyCols.contains).toSeq
    val s = snapshot(oldDf, newDf, keyCols)
      .filter(col("status") =!= "unchanged")
    val dels = s.filter(col("status").isin("removed", "changed"))
      .select(keyCols.map(col) ++
        payload.map(p => col(s"old_payload.$p").as(p)) :+
        lit(-1L).as("_op"): _*)
    val ins = s.filter(col("status").isin("added", "changed"))
      .select(keyCols.map(col) ++
        payload.map(p => col(s"new_payload.$p").as(p)) :+
        lit(1L).as("_op"): _*)
    dels.unionByName(ins)
  }
}
