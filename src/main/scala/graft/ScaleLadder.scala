package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-more-rung scale probe for the super-linear-suspect families:
  * times selected queries on sf0.1 and on a synthetic 10× documents
  * corpus, printing per-query ratios and output rows. Not part of the
  * driver contract — a diagnostic main backing BASELINE.md's ladder
  * table (the sf0.01→sf0.1 rung is recorded there; this adds
  * sf0.1→10×).
  *
  * The 10× corpus (built once under target/scale10) must NOT be ten
  * verbatim replicas — that would hand every document nine synthetic
  * near-dups and the pair-generating queries would blow up BY
  * CONSTRUCTION, drowning the plan-shape signal being measured.
  * Replica r>0 of doc i instead splices the first half of doc i with
  * the second half of doc (i + 137·r mod n): shingle/vocabulary
  * statistics stay corpus-like, but splice-to-source Jaccard lands
  * ~1/3, under every dedup threshold in the suite.
  */
object ScaleLadder {

  private val DefaultQueries = Seq("d2_ngram_jaccard", "d4_lsh_pairs",
    "d6_simhash_pairs", "d11_containment", "x10_tfidf_top",
    "x12_bm25_topk")

  /** The graph family's documented super-linear suspects: n1/n9's
    * unfiltered co-purchase edge build and n10's all-pairs doubling
    * closure. They read lineitem/orders, so they get their own
    * densified fixture ([[build10xGraph]]). */
  private val GraphQueries = Seq("n1_pagerank", "n9_ppr",
    "n10_order_chain")

  def build10x(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
    val n = base.count()
    val partner = base.select(col("doc_id").as("pid"),
      col("text").as("ptext"))
    val replicas = (0 until 10).map { r =>
      if (r == 0) base
      else base
        .withColumn("pid", (col("doc_id") + lit(137L * r)) % lit(n))
        .join(partner, "pid")
        .select(
          (col("doc_id") + lit(r * 1000000L)).as("doc_id"),
          concat(
            expr("substring(text, 1, cast(length(text)/2 as int))"),
            lit(" "),
            expr("substring(ptext, cast(length(ptext)/2 as int)+1, " +
              "length(ptext))")).as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    replicas.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  /** Densified graph fixture — the documents splice trick applied to
    * the graph tables, so edge DENSITY grows instead of stamping ten
    * disconnected copies (which would measure nothing: ten islands
    * parallelize embarrassingly and per-order pair counts stay flat).
    *
    *  - lineitem → 10× ORDERS with spliced baskets: replica r>0 of
    *    order k keeps the first half of k's part basket and takes the
    *    second half from order (rank(k) + 137·r mod n)'s — basket
    *    sizes (the per-order pair QUADRATIC term) and part degree
    *    stay corpus-like, while the distinct co-purchase edge set
    *    genuinely grows (new part combinations, not replayed ones).
    *  - orders → each customer's date-ordered CHAIN gets 10× longer:
    *    replica r shifts dates by r·3000 days under fresh orderkeys,
    *    so consecutive-order edges link straight through the replica
    *    boundary — the n10 closure walks chains of ~10× depth.
    *
    * One-time diagnostic build; the single-partition row_number over
    * the ~150k order keys is fine HERE (it ranks a distinct-key
    * frame once, not a per-query path). */
  def build10xGraph(spark: SparkSession, sfDir: String,
    outDir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
    val baskets = li.groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
    val ranked = baskets.withColumn("rk", row_number().over(
      Window.partitionBy(lit(1)).orderBy(col("l_orderkey")))
      .cast("long") - 1L).persist()
    val n = ranked.count()
    val keyOff = 10000000L
    val partner = ranked.select(col("rk").as("prk"),
      col("parts").as("pparts"))
    val liReplicas = (0 until 10).map { r =>
      if (r == 0) li
      else ranked
        .withColumn("prk", (col("rk") + lit(137L * r)) % lit(n))
        .join(partner, "prk")
        .select(
          (col("l_orderkey") + lit(r * keyOff)).as("l_orderkey"),
          explode(array_distinct(concat(
            expr("slice(parts, 1, cast(ceil(size(parts)/2.0) as int))"),
            expr("slice(pparts, cast(ceil(size(pparts)/2.0) as int)+1, " +
              "size(pparts))")))).as("l_partkey"))
    }
    liReplicas.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    ranked.unpersist()
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    (0 until 10).map { r =>
      orders.select(
        (col("o_orderkey") + lit(r * keyOff)).as("o_orderkey"),
        col("o_custkey"),
        // timestampadd, not date_add: o_orderdate is a timestamp in
        // the testdata and date_add would silently truncate its type
        expr(s"timestampadd(DAY, ${r * 3000}, o_orderdate)")
          .as("o_orderdate"))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
  }

  private def time(spark: SparkSession, name: String, dir: String)
    : (Double, Long) = {
    def pass(): (Double, Long) = {
      val t0 = System.nanoTime()
      val rows = SparkEntry.queries(name)(spark, dir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      graft.operators.Broadcasting.releaseAll()
      (sec, rows)
    }
    pass() // warmup
    val (s1, rows) = pass()
    val (s2, _) = pass()
    (math.min(s1, s2), rows)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE10_DIR",
      "target/scale10")
    val spark = GraftSession.harness(GraftSession.Cpus)
    val names = if (args.nonEmpty) args.toSeq else DefaultQueries
    if (names.exists(!GraphQueries.contains(_)) &&
      !new java.io.File(s"$out/documents.parquet").exists()) {
      build10x(spark, sfDir, out)
      println(s"[ladder] built 10x corpus at $out")
    }
    if (names.exists(GraphQueries.contains) &&
      !new java.io.File(s"$out/lineitem.parquet").exists()) {
      build10xGraph(spark, sfDir, out)
      println(s"[ladder] built 10x graph fixture at $out")
    }
    names.foreach { name =>
      val (s1, r1) = time(spark, name, sfDir)
      val (s10, r10) = time(spark, name, out)
      println(f"[ladder] $name%-18s sf0.1 $s1%6.2fs ($r1%d rows)  " +
        f"10x $s10%6.2fs ($r10%d rows)  time x${s10 / s1}%.2f  " +
        f"rows x${r10.toDouble / math.max(r1, 1)}%.2f")
    }
    spark.stop()
  }
}
