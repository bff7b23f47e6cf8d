package graft
import org.apache.spark.sql.SparkSession

/** Plan inspector: prints `explain(formatted)` for the named queries
  * (or all) — used to audit pushdown/broadcast/codegen per operator. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.001")
    // same engine as Bench/Verify (GraftSession.settings) so the
    // captured plans are the plans the bench actually runs — a
    // local[4]/4-partition session diverged on AQE/broadcast sizing
    val spark = GraftSession.harness(GraftSession.Cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
