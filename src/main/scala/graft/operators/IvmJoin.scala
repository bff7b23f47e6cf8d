package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental maintenance of a materialized equi-JOIN view — the
  * companion to [[IncrementalAgg]] (which maintains aggregates):
  * keep V = A ⋈ B current under signed changelogs on BOTH sides
  * without re-joining the bases. The algebra is the classic
  * delta-join rule over signed bags (differential-dataflow / DBSP
  * form):
  *
  *   (A + ΔA) ⋈ (B + ΔB)
  *     = A⋈B  +  ΔA⋈B  +  A⋈ΔB  +  ΔA⋈ΔB
  *
  * so the VIEW delta is the last three terms — every one of them has
  * a delta-sized side. Signs compose multiplicatively (a deleted A
  * row times an inserted B row contributes −1, exactly cancelling
  * the +1 that A⋈ΔB produced for the not-yet-deleted base row).
  *
  * Changelogs use [[IncrementalAgg.signedDelta]]'s `_op` (±1 long)
  * convention; an update is a −1/+1 pair.
  *
  * At 100 TB: the two base-side terms are delta⋈base equi-joins —
  * shuffle or broadcast the DELTA, and prune the base-side SCAN with
  * a semi/Bloom filter on the delta's join keys before it
  * ([[BloomJoin]]); the base never re-joins the base.
  * [[applyDelta]]'s multiplicity collapse groups by the view row —
  * view-sized, but at production that merge is the same
  * partitioned upsert the view's storage already does per refresh
  * (`Upsert`/`Scd2`); here it is spelled relationally so the oracle
  * can check it.
  */
object IvmJoin {

  /** The signed view delta for V = A ⋈key B: ΔA⋈B + A⋈ΔB + ΔA⋈ΔB.
    * `oldA`/`oldB` are the PRE-delta states; `dA`/`dB` carry `_op`.
    * A and B columns (beyond the key) must not collide. */
  def viewDelta(oldA: DataFrame, dA: DataFrame,
    oldB: DataFrame, dB: DataFrame, key: String): DataFrame = {
    Seq(dA -> "dA", dB -> "dB").foreach { case (d, n) =>
      require(d.columns.contains("_op"),
        s"$n is not a signed changelog — build it with signedDelta")
    }
    val t1 = dA.join(oldB, key) // sign rides in from dA
    val t2 = oldA.join(dB, key) // sign rides in from dB
    val t3 = dA.withColumnRenamed("_op", "_opa")
      .join(dB.withColumnRenamed("_op", "_opb"), key)
      .withColumn("_op", col("_opa") * col("_opb"))
      .drop("_opa", "_opb")
    t1.unionByName(t2, allowMissingColumns = false)
      .unionByName(t3, allowMissingColumns = false)
  }

  /** Merge a signed view delta into the stored view. `oldV` rows are
    * distinct (multiplicity 1 — the norm for key-preserving joins);
    * the result carries each surviving row's maintained multiplicity
    * `m` (≥ 1). A NEGATIVE multiplicity fails loudly — it means the
    * changelog deleted view rows the view never had. */
  def applyDelta(oldV: DataFrame, dV: DataFrame,
    viewCols: Seq[String]): DataFrame = {
    require(viewCols.nonEmpty, "applyDelta needs the view's columns")
    val merged = oldV.select(viewCols.map(col): _*)
      .withColumn("_op", lit(1L))
      .unionByName(dV.select((viewCols :+ "_op").map(col): _*))
      .groupBy(viewCols.map(col): _*)
      .agg(sum("_op").as("m"))
    merged.select(viewCols.map(col) :+
      when(col("m") < 0, raise_error(concat(
        lit("IvmJoin: view multiplicity went negative for ("),
        concat_ws(", ", viewCols.map(k =>
          coalesce(col(k).cast("string"), lit("null"))): _*),
        lit(") — the changelog deleted view rows the view never had"))))
        .otherwise(col("m")).as("m"): _*)
      .filter(col("m") > 0)
  }
}
