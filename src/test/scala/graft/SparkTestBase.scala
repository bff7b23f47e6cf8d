package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM via Test/fork). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  /** Deterministic ScalaCheck driver shared by the property suites:
    * n cases from a fixed seed chain (reproducible failures, no
    * wall-clock/randomness in tests). */
  protected def seededForAll[T](gen: org.scalacheck.Gen[T], n: Int,
    seed0: Long)(f: T => Unit): Unit = {
    var seed = org.scalacheck.rng.Seed(seed0)
    (0 until n).foreach { _ =>
      f(gen.pureApply(org.scalacheck.Gen.Parameters.default, seed))
      seed = seed.next
    }
  }
}

object SparkTestBase {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config(GraftSession.settings(4).toMap)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .getOrCreate()
}
