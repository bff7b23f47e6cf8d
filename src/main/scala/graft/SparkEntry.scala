package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates one entry per implemented SURVEY §2 operator
  * (plus the north-star LLM-pipeline extensions); `oracleSql` carries the
  * DuckDB-equivalent SQL for the driver's hash compare. Keys present in
  * `queries` but absent from `oracleSql` get a weaker rows-only check.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.queries ++ TextDedupQueries.queries ++
      SimilarityQueries.queries ++ GeomQueries.queries ++
      EventTimeQueries.queries ++ MultimodalQueries.queries ++
      CurationQueries.queries ++ LinkageQueries.queries

  lazy val oracleSql: Map[String, String] =
    RelationalQueries.oracle ++ TextDedupQueries.oracle ++
      SimilarityQueries.oracle ++ GeomQueries.oracle ++
      EventTimeQueries.oracle ++ MultimodalQueries.oracle ++
      CurationQueries.oracle ++ LinkageQueries.oracle
}
