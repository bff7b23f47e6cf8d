package graft

import graft.plans.GroupedTopK
import org.apache.spark.sql.functions._

class GroupedTopKSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def windowRef(k: Int): Set[(String, Long)] = {
    import org.apache.spark.sql.expressions.Window
    val b = Tables.load(spark, sf, "orders").select(
      col("o_orderpriority"),
      (floor(col("o_totalprice") * 100 + 0.5).cast("long") *
        100000000L + col("o_orderkey")).as("rank_v"))
    b.withColumn("rn", row_number().over(
        Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("rank_v").desc)))
      .filter(col("rn") <= k)
      .select("o_orderpriority", "rank_v")
      .as[(String, Long)].collect().toSet
  }

  private def opRows(k: Int, parts: Int = 0): Set[(String, Long)] = {
    val base = Tables.load(spark, sf, "orders").select(
      col("o_orderpriority"),
      (floor(col("o_totalprice") * 100 + 0.5).cast("long") *
        100000000L + col("o_orderkey")).as("rank_v"))
    val df = if (parts > 0) base.repartition(parts) else base
    GroupedTopK.topK(df, Seq("o_orderpriority"), "rank_v", k)
      .select("o_orderpriority", "rank_v")
      .as[(String, Long)].collect().toSet
  }

  test("matches the window row_number spelling exactly") {
    assert(opRows(3) == windowRef(3))
    assert(opRows(1) == windowRef(1))
  }

  test("partitioning-invariant") {
    assert(opRows(5, parts = 13) == windowRef(5))
  }

  test("k beyond the group size returns the whole group") {
    val tiny = Seq(("a", 1L), ("a", 2L), ("b", 7L)).toDF("g", "v")
    val out = GroupedTopK.topK(tiny, Seq("g"), "v", 10)
      .as[(String, Long)].collect().toSet
    assert(out == Set(("a", 1L), ("a", 2L), ("b", 7L)))
  }

  test("ascending keeps the smallest k") {
    val tiny = Seq(("a", 3L), ("a", 1L), ("a", 2L), ("b", 9L))
      .toDF("g", "v")
    val out = GroupedTopK.topK(tiny, Seq("g"), "v", 2,
      descending = false)
      .as[(String, Long)].collect().toSet
    assert(out == Set(("a", 1L), ("a", 2L), ("b", 9L)))
  }

  test("null order values never displace real ones") {
    val tiny = Seq(("a", Some(5L)), ("a", None), ("a", Some(7L)),
      ("a", Some(1L))).toDF("g", "v")
    val out = GroupedTopK.topK(tiny, Seq("g"), "v", 2)
      .select("v").collect().map(r =>
        if (r.isNullAt(0)) None else Some(r.getLong(0))).toSet
    assert(out == Set(Some(7L), Some(5L)), s"got $out")
  }

  test("rankedTopK matches the full window spelling including ranks") {
    import org.apache.spark.sql.expressions.Window
    val b = Tables.load(spark, sf, "orders").select(
      col("o_orderpriority"),
      (floor(col("o_totalprice") * 100 + 0.5).cast("long") *
        100000000L + col("o_orderkey")).as("rank_v"))
    val ref = b.withColumn("rnk", row_number().over(
        Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("rank_v").desc)).cast("long"))
      .filter(col("rnk") <= 4)
      .select("o_orderpriority", "rank_v", "rnk")
      .as[(String, Long, Long)].collect().toSet
    val got = GroupedTopK.rankedTopK(b, Seq("o_orderpriority"),
      "rank_v", 4)
      .select("o_orderpriority", "rank_v", "rnk")
      .as[(String, Long, Long)].collect().toSet
    assert(got == ref)
  }

  test("random corpora match the window reference") {
    import org.scalacheck.Gen
    var seed = org.scalacheck.rng.Seed(808L)
    val gen = for {
      n <- Gen.choose(1, 300)
      rows <- Gen.listOfN(n, for {
        g <- Gen.choose(0, 6)
        v <- Gen.choose(-1000L, 1000L)
      } yield (g, v))
      k <- Gen.choose(1, 6)
    } yield (rows.zipWithIndex.map { case ((g, v), i) =>
      // unique order value: v·1000 + i, so ties never straddle k
      (g, v * 1000L + i)
    }, k)
    (0 until 8).foreach { _ =>
      val (rows, k) = gen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      val df = rows.toDF("g", "v").repartition(5)
      val got = GroupedTopK.topK(df, Seq("g"), "v", k)
        .as[(Int, Long)].collect().toSet
      // .toSeq first: flatMap on a Map would rebuild a Map and
      // dedup the (g, v) tuples by g
      val ref = rows.groupBy(_._1).toSeq.flatMap { case (_, vs) =>
        vs.sortBy(-_._2).take(k)
      }.toSet
      assert(got == ref, s"k=$k rows=${rows.size}")
    }
  }

  // ---- non-primitive order values: eval() returns VIEWS into the
  // scan's reused row buffer; the operator must retain copies ----

  private def stringFrame = spark.range(0, 4000).select(
    (col("id") % 37).as("g"),
    concat(lit("s"),
      lpad(((col("id") * 2654435761L) % 100000).cast("string"), 6, "0"))
      .as("v"))
    .repartition(7)

  test("string order column survives row-buffer reuse") {
    import org.apache.spark.sql.expressions.Window
    val ref = stringFrame.withColumn("rn", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("v").desc)))
      .filter(col("rn") <= 3).select("g", "v")
      .as[(Long, String)].collect().toSet
    val got = GroupedTopK.topK(stringFrame, Seq("g"), "v", 3)
      .select("g", "v").as[(Long, String)].collect().toSet
    assert(got == ref)
  }

  test("struct order column: mixed-direction composite (TfIdf shape)") {
    import org.apache.spark.sql.expressions.Window
    val base = spark.range(0, 3000).select(
      (col("id") % 11).as("g"),
      ((col("id") * 97) % 50).as("score"),
      concat(lit("t"), (col("id") % 400).cast("string")).as("term"))
      .repartition(5)
      .withColumn("_ord",
        struct((-col("score")).as("ns"), col("term").as("t")))
    val ref = base.withColumn("rn", row_number().over(
        Window.partitionBy(col("g"))
          .orderBy(col("score").desc, col("term").asc)))
      .filter(col("rn") <= 4).select("g", "score", "term")
      .as[(Long, Long, String)].collect().toSet
    val got = GroupedTopK
      .topK(base, Seq("g"), "_ord", 4, descending = false)
      .select("g", "score", "term")
      .as[(Long, Long, String)].collect().toSet
    assert(got == ref)
  }

  // ---- live-group cap: bounded memory at extreme group cardinality.
  // partial phase flushes + restarts; final phase degrades to
  // spill-capable sort-based eviction. Cap 4 with hundreds of groups
  // forces BOTH branches; results must stay exact. ----

  private def topkExecs(df: org.apache.spark.sql.DataFrame)
    : Seq[graft.plans.GroupedTopKExec] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // AQE hides executed instances inside leaf QueryStageExec
    // wrappers; descend into them or the metrics read come from
    // never-executed initial-plan copies
    def walk(p: SparkPlan): Seq[graft.plans.GroupedTopKExec] = p.collect {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case g: graft.plans.GroupedTopKExec => Seq(g)
    }.flatten
    walk(df.queryExecution.executedPlan)
  }

  test("live-group cap: both phases degrade, result stays exact") {
    val cap = GroupedTopK.MaxLiveGroupsKey
    spark.conf.set(cap, "4")
    try {
      val base = spark.range(0, 6000).select(
        (col("id") % 311).as("g"),
        when(col("id") % 97 === 0, lit(null).cast("long"))
          .otherwise((col("id") * 131) % 10000).as("v"))
        .repartition(6)
      import org.apache.spark.sql.expressions.Window
      val ref = base.withColumn("rn", row_number().over(
          Window.partitionBy(col("g"))
            .orderBy(col("v").desc_nulls_last)))
        .filter(col("rn") <= 3).filter(col("v").isNotNull)
        .select("g", "v").as[(Long, Long)].collect().toSet
      val df = GroupedTopK.topK(base, Seq("g"), "v", 3)
      // collect df ITSELF — a derived Dataset would execute its own
      // plan instances and the metrics read below would see the
      // never-executed originals
      val got = df.collect()
        .filterNot(_.isNullAt(1)).map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      assert(got == ref)
      val execs = topkExecs(df)
      assert(execs.size == 2, df.queryExecution.executedPlan.toString)
      val partial = execs.find(_.partial).get
      val fin = execs.find(!_.partial).get
      assert(partial.metrics("capFlushes").value > 0,
        "partial phase never hit the cap — test data too small")
      assert(fin.metrics("sortFallbacks").value > 0,
        "final phase never degraded to sort-based eviction")
    } finally spark.conf.unset(cap)
  }

  test("sort-eviction fallback survives a forced DISK spill") {
    // numElementsForceSpillThreshold makes ExternalSorter spill every
    // N records regardless of memory — driving the fallback's spill
    // serialization path ((group bytes, order value) keys + UnsafeRow
    // values through the JavaSerializer) for real, not just in-memory
    val cap = GroupedTopK.MaxLiveGroupsKey
    spark.conf.set(cap, "4")
    // a core (non-SQL) conf: in local mode every Spillable reads the
    // SparkContext's live SparkConf at construction, so a direct
    // mutation takes effect for sorters created from here on
    org.apache.spark.GraftListenerShim.liveConf(spark.sparkContext)
      .set("spark.shuffle.spill.numElementsForceSpillThreshold", "50")
    try {
      val base = spark.range(0, 4000).select(
        (col("id") % 211).as("g"),
        concat(lit("s"),
          lpad(((col("id") * 131) % 10000).cast("string"), 5, "0"))
          .as("v"))
        .repartition(6)
      import org.apache.spark.sql.expressions.Window
      val ref = base.withColumn("rn", row_number().over(
          Window.partitionBy(col("g")).orderBy(col("v").desc)))
        .filter(col("rn") <= 3).select("g", "v")
        .as[(Long, String)].collect().toSet
      val df = GroupedTopK.topK(base, Seq("g"), "v", 3)
      val got = df.collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == ref)
      val fin = topkExecs(df).find(!_.partial).get
      assert(fin.metrics("sortFallbacks").value > 0,
        "fallback never ran — spill path untested")
    } finally {
      spark.conf.unset(cap)
      org.apache.spark.GraftListenerShim.liveConf(spark.sparkContext)
        .remove("spark.shuffle.spill.numElementsForceSpillThreshold")
    }
  }

  test("default cap: neither degrade branch runs on small groups") {
    val df = GroupedTopK.topK(
      Seq(("a", 1L), ("a", 2L), ("b", 7L)).toDF("g", "v"),
      Seq("g"), "v", 2)
    df.collect()
    val execs = topkExecs(df)
    assert(execs.map(_.metrics("capFlushes").value).sum == 0)
    assert(execs.map(_.metrics("sortFallbacks").value).sum == 0)
  }

  test("plan: two heap phases around one exchange, no Window, no full Sort") {
    val base = Tables.load(spark, sf, "orders").select(
      col("o_orderpriority"), col("o_orderkey"))
    val p = GroupedTopK.topK(base, Seq("o_orderpriority"),
      "o_orderkey", 3).queryExecution.executedPlan.toString
    assert(p.contains("GroupedTopK"), p)
    assert(!p.contains("Window"), p)
    assert(!p.toLowerCase.contains("sort "), p)
  }

  test("SQLMetric names reach driver-side task accumulables (bench contract)") {
    // Bench attributes GroupedTopK fallback counters to queries through
    // a TaskTally over these accumulable NAMES — if the names drift or
    // stop flowing, the bench's grouped_topk section goes silently
    // empty. The tasks counter is the always-nonzero witness; the
    // fallback counters stay 0 on a healthy run (headroom).
    val tally = new TaskTally(spark.sparkContext,
      Set(GroupedTopK.TasksMetricName, GroupedTopK.CapFlushesMetricName,
        GroupedTopK.SortFallbacksMetricName))
    try {
      val df = Seq((1L, 10L), (1L, 20L), (2L, 5L), (2L, 7L), (1L, 30L))
        .toDF("g", "v")
      GroupedTopK.topK(df, Seq("g"), "v", 1).collect()
      val seen = tally.read()
      assert(seen.accumulables(GroupedTopK.TasksMetricName) > 0,
        seen.accumulables.toString)
    } finally spark.sparkContext.removeSparkListener(tally)
  }

  test("rankedTopK ascending ranks surviving nulls LAST — the " +
    "window spells the heap's null contract, not Spark's asc " +
    "NULLS FIRST default") {
    val df = Seq(("a", Some(7L)), ("a", None), ("a", None))
      .toDF("g", "v")
    val got = GroupedTopK.rankedTopK(df, Seq("g"), "v", k = 2,
      descending = false)
      .select("v", "rnk").collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        r.getLong(1))).toSet
    // the heap keeps {7, null} (null is worst in both directions);
    // the rank must agree: 7 first, null second
    assert(got == Set((Some(7L), 1L), (None, 2L)), s"$got")
  }

  test("SQL-equal floating group keys share one heap: -0.0 and 0.0 " +
    "are one group, NaN bit patterns are one group") {
    val df = Seq((0.0, 1L), (-0.0, 2L), (0.0, 3L),
      (Double.NaN, 4L),
      (java.lang.Double.longBitsToDouble(0x7ff8000000000001L), 5L))
      .toDF("g", "v")
    val got = GroupedTopK.topK(df, Seq("g"), "v", k = 1).collect()
      .map(r => (r.getDouble(0), r.getLong(1))).toSet
    // one row per SQL-distinct key: the zero group keeps v=3, the
    // NaN group keeps v=5 — byte-distinct keys would emit 4 rows
    assert(got.map(_._2) == Set(3L, 5L), s"$got")
  }

  test("group keys with floats NESTED in struct/array are rejected " +
    "loudly (only top-level floats are normalized)") {
    // a -0.0 inside a struct key would be byte-compared, silently
    // splitting one SQL group into two heaps — fail at plan build
    val structKey = Seq((0.0, 1L), (-0.0, 2L)).toDF("x", "v")
      .select(struct(col("x")).as("g"), col("v"))
    val e1 = intercept[IllegalArgumentException] {
      GroupedTopK.topK(structKey, Seq("g"), "v", k = 1)
    }
    assert(e1.getMessage.contains("nested inside"), e1.getMessage)
    val arrayKey = Seq((0.5f, 1L)).toDF("x", "v")
      .select(array(col("x")).as("g"), col("v"))
    val e2 = intercept[IllegalArgumentException] {
      GroupedTopK.topK(arrayKey, Seq("g"), "v", k = 1)
    }
    assert(e2.getMessage.contains("nested inside"), e2.getMessage)
    // non-float structs stay accepted: byte equality IS SQL equality
    val okKey = Seq(("a", 1L, 10L), ("a", 1L, 20L), ("b", 2L, 5L))
      .toDF("s", "i", "v")
      .select(struct(col("s"), col("i")).as("g"), col("v"))
    val got = GroupedTopK.topK(okKey, Seq("g"), "v", k = 1)
      .select("v").as[Long].collect().toSet
    assert(got == Set(20L, 5L), s"$got")
  }
}
