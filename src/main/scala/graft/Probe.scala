package graft
import org.apache.spark.sql.SparkSession

/** Scratch timing probe for harness triage: construction vs first/second
  * execution per query, plus Spark job-level timing via listener. Not
  * part of the driver contract; kept for round-over-round perf work. */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.harness(GraftSession.Cpus)
    // in-process stack sampler (attach/SIGQUIT are blocked in the
    // sandbox): every 200ms, tally the top interesting frame of each
    // runnable executor/worker thread
    val samples = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val sampler = sys.env.get("PROBE_SAMPLER").contains("1")
    if (sampler) {
      val t = new Thread(() => {
        while (true) {
          Thread.sleep(200)
          val all = Thread.getAllStackTraces
          all.forEach { (th, frames) =>
            if (th.getState == Thread.State.RUNNABLE &&
              (th.getName.startsWith("Executor task launch") ||
               th.getName.contains("budget") || th.getName == "main")) {
              frames.take(48).find { f =>
                val c = f.getClassName
                c.startsWith("org.apache.spark.sql.catalyst") ||
                c.startsWith("org.apache.spark.sql.execution") ||
                c.startsWith("org.apache.spark.storage") ||
                c.startsWith("org.apache.spark.shuffle") ||
                c.startsWith("org.apache.spark.util.collection") ||
                c.startsWith("org.codehaus") ||
                c.startsWith("graft") ||
                c.contains("codegen") || c.contains("Janino")
              }.orElse(frames.headOption).foreach { f =>
                val k = s"${f.getClassName}.${f.getMethodName}"
                samples.merge(k, 1, (a, b) => a + b)
              }
            }
          }
        }
      }, "probe-sampler")
      t.setDaemon(true)
      t.start()
    }
    val tally = new TaskTally(spark.sparkContext)
    args.foreach { name =>
      val before = tally.read()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      df.count()
      val t2 = System.nanoTime()
      val mid = tally.read()
      graft.operators.Broadcasting.releaseAll()
      val df2 = SparkEntry.queries(name)(spark, sfDir)
      val t3 = System.nanoTime()
      df2.count()
      val t4 = System.nanoTime()
      val after = tally.read()
      graft.operators.Broadcasting.releaseAll()
      val jobs1 = (mid - before).jobMs.sortBy(_._1)
      val jobs2 = (after - mid).jobMs.sortBy(_._1)
      def s(a: Long, b: Long) = f"${(b - a) / 1e9}%.2f"
      println(s"== $name construct=${s(t0, t1)} exec1=${s(t1, t2)} " +
        s"construct2=${s(t2, t3)} exec2=${s(t3, t4)}")
      println(s"   jobs1: ${jobs1.map { case (i, ms) => s"$i:${ms}ms" }.mkString(" ")}")
      println(s"   jobs2: ${jobs2.map { case (i, ms) => s"$i:${ms}ms" }.mkString(" ")}")
      if (sampler) {
        import scala.jdk.CollectionConverters._
        val top = samples.asScala.toSeq.sortBy(-_._2).take(20)
        top.foreach { case (k, n) => println(f"   $n%6d  $k") }
        samples.clear()
      }
    }
    spark.stop()
  }
}
