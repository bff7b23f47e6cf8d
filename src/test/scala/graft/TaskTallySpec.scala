package graft

import org.apache.spark.sql.functions.col

class TaskTallySpec extends SparkTestBase {

  test("a two-stage job: one duration per task in each stage, shuffle " +
    "bytes on the map side, one wall time per job, stable after a flush") {
    val tally = new TaskTally(spark.sparkContext)
    try {
      val before = tally.read()
      // 3 map tasks → exchange → 4 reduce tasks (shuffle.partitions);
      // AQE off so the reduce side keeps every partition in one job
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try spark.range(0, 300, 1, 3).groupBy((col("id") % 7).as("k"))
        .count().collect()
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
      val after = tally.read()
      val w = after - before
      assert(w.stageTaskMs.values.map(_.length).toSeq.sorted == Seq(3, 4),
        w.stageTaskMs.toString)
      assert(w.shuffleTasks == 3)
      assert(w.shuffleBytes > 0)
      assert(w.jobMs.length == 1, w.jobMs.toString)
      assert(tally.read() == after)
    } finally spark.sparkContext.removeSparkListener(tally)
  }
}
