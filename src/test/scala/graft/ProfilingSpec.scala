package graft

import graft.operators.Profiling

class ProfilingSpec extends SparkTestBase {
  import spark.implicits._

  // 5 rows: `k` has 2 NULLs and 2 distinct values, `v` 1 NULL and a
  // numeric range where string order and numeric order disagree
  // (9 < 10 numerically, "10" < "9" as strings)
  private val df = Seq[(Option[String], Option[Int])](
    (Some("a"), Some(10)),
    (Some("b"), Some(9)),
    (None, Some(-3)),
    (Some("a"), None),
    (None, Some(10))).toDF("k", "v")

  private def rows(cols: Seq[String]) =
    Profiling.summary(df, cols).collect()
      .map(r => r.getString(0) -> r).toMap

  test("one long-format row per column: n_rows, n_nulls, n_distinct without NULL") {
    val out = Profiling.summary(df, Seq("k", "v"))
    assert(out.columns.toSeq ==
      Seq("column", "n_rows", "n_nulls", "n_distinct", "min_val", "max_val"))
    val got = rows(Seq("k", "v"))
    assert(got.keySet == Set("k", "v"))
    val k = got("k")
    assert(k.getLong(1) == 5L)
    assert(k.getLong(2) == 2L)
    assert(k.getLong(3) == 2L, "NULL must not count as a distinct value")
    val v = got("v")
    assert(v.getLong(1) == 5L)
    assert(v.getLong(2) == 1L)
    assert(v.getLong(3) == 3L)
  }

  test("min and max are typed aggregates rendered as strings, NULLs ignored") {
    val got = rows(Seq("v", "k"))
    // numeric order, then cast: min -3 and max 10, not the string order
    assert(got("v").getString(4) == "-3")
    assert(got("v").getString(5) == "10")
    assert(got("k").getString(4) == "a")
    assert(got("k").getString(5) == "b")
    val allNull = Seq[Option[Int]](None, None).toDF("z")
    val z = Profiling.summary(allNull, Seq("z")).collect().head
    assert(z.getLong(2) == 2L && z.getLong(3) == 0L)
    assert(z.isNullAt(4) && z.isNullAt(5))
  }

  test("rejects an empty column list and names the frame's columns for an unknown one") {
    val empty = intercept[IllegalArgumentException](
      Profiling.summary(df, Seq.empty))
    assert(empty.getMessage.contains("at least one column"))
    val unknown = intercept[IllegalArgumentException](
      Profiling.summary(df, Seq("k", "nope")))
    assert(unknown.getMessage.contains("nope"))
    assert(unknown.getMessage.contains("[k, v]"), unknown.getMessage)
  }
}
