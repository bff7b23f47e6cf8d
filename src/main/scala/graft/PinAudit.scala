package graft

/** Executed-plan operator-count audit for the named queries at
  * sf0.001 — the exact counting TopQueryPlanShapeSpec pins (same
  * regex, same sliding-window substring count), so a deliberate plan
  * change can be re-audited and the pin moved with measured numbers
  * instead of guesses. Harness tooling, not driver contract (the
  * Probe/Explain tier). */
object PinAudit {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.harness(GraftSession.Cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      val p = try SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      finally graft.operators.Broadcasting.releaseAll()
      def c(s: String) = p.sliding(s.length).count(_ == s)
      val ex = "(?<!Reused)Exchange".r.findAllIn(p).length
      println(s"$name ex=$ex bhj=${c("BroadcastHashJoin")} " +
        s"win=${c("Window")} inmem=${c("InMemoryTableScan")} " +
        s"rdd=${c("Scan ExistingRDD")} cart=${c("CartesianProduct")}")
    }
    spark.stop()
  }
}
