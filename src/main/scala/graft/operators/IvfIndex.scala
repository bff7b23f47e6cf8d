package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor: the k-means-
  * coarse-quantizer scale path for embedding search, complementing the
  * hyperplane-LSH variant (v2). Everything is deterministic — centroid
  * init is the first-k-by-id rule and Lloyd iterations are fixed-count
  * — so index builds are reproducible run to run.
  *
  * Scale shape (100 TB): centroids are a tiny broadcast table (k ≤
  * ~65k); assignment is a broadcast cross-join + per-row argmin (one
  * narrow pass over the corpus, no fact shuffle); the index is the
  * corpus repartitioned/bucketed by cluster_id; a query probes the
  * nProbe nearest clusters only — the candidate scan shrinks by
  * ~k/nProbe versus brute force, and the per-cluster scans are
  * co-located reads, not shuffles.
  *
  * Two implementation rules keep the build itself scale-safe:
  *  - centroids are MATERIALIZED to a driver-local frame after every
  *    Lloyd round (k×dim floats — driver-safe by design). Chaining
  *    rounds lazily instead would re-execute every prior round's full
  *    corpus assignment each iteration (the plan doubles per round);
  *  - the per-vector argmin is a ROW-LOCAL `greatest` over one
  *    `struct(sim, -cluster_id)` per centroid (the centroids are
  *    driver-local literals, see `assign`), so an assignment pass is a
  *    narrow projection with no shuffle — never a Window or aggregate
  *    over the n×k scored frame, which would shuffle n×k rows on
  *    every pass. Ties on sim go to the lower cluster_id.
  */
object IvfIndex {

  private def registered(s: SparkSession): Unit =
    graft.expressions.GraftFunctions.register(s)

  /** Collect a (small) centroid frame and re-create it as a local
    * relation: cuts the Lloyd lineage so iteration i+1's plan does not
    * re-execute iteration i's corpus-wide assignment. k×dim floats —
    * bounded and driver-safe by design (k ≤ ~65k). */
  private def localize(centroids: DataFrame): DataFrame = {
    val spark = centroids.sparkSession
    spark.createDataFrame(
      java.util.Arrays.asList(centroids.collect(): _*), centroids.schema)
  }

  /** Argmax-similarity cluster for each row of `vecs` against the
    * (bounded, localize()d) `centroids` frame. Ties break to the
    * lowest cluster_id. Cosine distance on graft_dot.
    *
    * The centroids are collected (k×dim floats — the same bounded
    * budget as [[localize]], whose output this always receives) and
    * the per-row argmax runs as ONE narrow codegen expression:
    * `greatest` over per-centroid struct(sim, -cluster_id) compares
    * field-wise — best sim wins, ties to the LOWEST cluster_id —
    * exactly the old max(struct(sim, nc, e)) aggregate rule ((sim,
    * nc) is unique per candidate set, so `e` never decided). The old
    * spelling shuffled one (vec_id, struct(sim, nc, EMBEDDING)) row
    * per corpus vector per assignment pass; this is zero-shuffle
    * (guide §2.4). sqrt(graft_dot(cv, cv)) over a literal constant-
    * folds to the identical IEEE double the per-row evaluation
    * produced. */
  private def assign(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    val cent = centroids.select(col("cluster_id"), col("centroid"))
      .collect().toSeq
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    if (cent.isEmpty)
      return vecs.select(col("vec_id"),
        lit(null).cast("int").as("cluster_id"), col("embedding"))
        .filter(lit(false))
    val cands = cent.map { case (cid, cv) =>
      struct(
        (call_function("graft_dot", col("embedding"), typedlit(cv)) /
          (sqrt(call_function("graft_dot", col("embedding"),
            col("embedding"))) *
            sqrt(call_function("graft_dot", typedlit(cv), typedlit(cv)))))
          .as("sim"),
        lit(-cid).as("nc"))
    }
    val best = if (cands.sizeIs == 1) cands.head else greatest(cands: _*)
    vecs.select(col("vec_id"),
      (-best.getField("nc")).as("cluster_id"), col("embedding"))
  }

  /** Deterministic k-means: init = k lowest vec_ids; `iters` Lloyd
    * rounds (assignment via broadcast argmin; recentering via
    * per-dimension avg with posexplode + partial aggs). */
  def buildCentroids(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    registered(emb.sparkSession)
    // partitionBy(lit(1)): same single-partition rank over the ≤k-row
    // init frame, but an explicit partition spec — the bare
    // Window.orderBy form spams "No Partition Defined" warnings into
    // every bench log and reads like a scale bug during triage
    var centroids = localize(emb.orderBy("vec_id").limit(k)
      .select(row_number().over(
        Window.partitionBy(lit(1)).orderBy(col("vec_id")))
        .as("cluster_id"), col("embedding").as("centroid")))
    var i = 0
    while (i < iters) {
      val assigned = assign(emb, centroids)
      // recenter over the E6-QUANTIZED integer, not the raw float:
      // integer partials are exactly-representable doubles, so the
      // shuffle-fetch merge order cannot move the mean by an ulp —
      // a raw avg(double) is order-dependent across runs/retries,
      // which contradicts this file's reproducible-index contract
      // (exact while cluster mass < 2^53/1e6 ≈ 9e9 unit-norm rows;
      // KMeans.fitE6 uses the same discipline)
      centroids = localize(assigned
        .select(col("cluster_id"), posexplode(col("embedding"))
          .as(Seq("dim", "x")))
        .groupBy(col("cluster_id"), col("dim"))
        .agg(avg(expr(
          "cast(floor(cast(x as double) * 1000000 + 0.5) as bigint)"))
          .as("m6"))
        .groupBy(col("cluster_id"))
        .agg(expr(
          """transform(array_sort(collect_list(named_struct(
            | 'dim', dim, 'm', m6))), s -> cast(s.m / 1000000.0d as float))"""
            .stripMargin).as("centroid")))
      i += 1
    }
    centroids
  }

  /** The index: corpus rows tagged with their cluster. */
  def build(emb: DataFrame, centroids: DataFrame): DataFrame =
    assign(emb, centroids)
      .select(col("cluster_id"), col("vec_id"), col("embedding"))

  /** The `nProbe` nearest centroids per probe: (probe_id, pe,
    * cluster_id). */
  private def probeClusters(centroids: DataFrame, probes: DataFrame,
    nProbe: Int): DataFrame = {
    registered(centroids.sparkSession)
    val scored = probes.crossJoin(broadcast(centroids))
      .withColumn("sim", expr(
        """graft_dot(embedding, centroid)
          | / (sqrt(graft_dot(embedding, embedding))
          |    * sqrt(graft_dot(centroid, centroid)))""".stripMargin))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("cluster_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nProbe)
      .select(col("vec_id").as("probe_id"),
        col("embedding").as("pe"), col("cluster_id"))
  }

  /** Top-`topK` cosine neighbors for each probe, scanning only the
    * `nProbe` clusters nearest to the probe vector. The probe-side
    * windows rank tiny frames (probes×k and candidates per probe),
    * not the corpus. */
  def search(index: DataFrame, centroids: DataFrame, probes: DataFrame,
    nProbe: Int, topK: Int): DataFrame =
    searchFrom(probeClusters(centroids, probes, nProbe), index, topK)

  /** [[search]] from a computed [[probeClusters]] frame. */
  private def searchFrom(probeClusters: DataFrame, index: DataFrame,
    topK: Int): DataFrame = {
    registered(index.sparkSession)
    val cands = probeClusters
      .join(index.withColumnRenamed("vec_id", "nbr_id")
        .withColumnRenamed("embedding", "ne"), Seq("cluster_id"))
      .filter(col("probe_id") =!= col("nbr_id"))
      .withColumn("cos_e6", expr(
        """cast(floor(graft_dot(pe, ne)
          | / (sqrt(graft_dot(pe, pe)) * sqrt(graft_dot(ne, ne)))
          | * 1000000 + 0.5) as bigint)""".stripMargin))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_e6").desc, col("nbr_id").asc)
    cands.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topK)
      .select("probe_id", "rnk", "nbr_id", "cos_e6")
      .orderBy("probe_id", "rnk")
  }
}
