package graft

import graft.expressions.RingWkt
import graft.functions.GeomFunctions
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The ring-WKT kernel against what it replaced: its `%.2f` writer
  * against `String.format(Locale.US, "%.2f")`, and the whole kernel,
  * codegen'd and interpreted, against a copy of the per-point
  * `format_string` spelling of F1 and F3 on adversarial rings. */
class RingWktSpec extends SparkTestBase {

  private def javaFixed2(v: Double): String =
    String.format(java.util.Locale.US, "%.2f", Double.box(v))

  private def assertFixed2(vs: Iterator[Double]): Int = {
    var n = 0
    vs.foreach { v =>
      val (got, want) = (RingWkt.fixed2(v), javaFixed2(v))
      assert(got == want,
        s"fixed2($v) [bits ${java.lang.Double.doubleToRawLongBits(v)}]")
      n += 1
    }
    n
  }

  test("the %.2f writer matches String.format: ties, signs, non-finite, " +
    "huge, subnormal and random values") {
    val named = Seq(0.125, 1.005, 2.675, 0.005, 0.015, 0.045, 1.115,
      -0.125, -1.005, -2.675, 0.0, -0.0, -0.001, -0.004999, -0.005,
      -1e-300, 1e-300, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 1e13, -1e13, 1e13 - 0.01, 9999999999999.995,
      1.5e13, 1e300, -1e300, Double.MaxValue, Double.MinPositiveValue,
      -Double.MinPositiveValue, java.lang.Double.MIN_NORMAL,
      java.lang.Double.longBitsToDouble(0x7ff8000000000001L),
      java.lang.Double.longBitsToDouble(0xfff8000000000000L),
      40000.0 * 0.123455, 40000.0 * 0.5, 0.9999999999999999, 99.995)
    val rnd = new scala.util.Random(7)
    // decimal ties x.xx5 at several magnitudes, and their neighbours
    val ties = Iterator.fill(60000) {
      val k = rnd.nextInt(2000000)
      val t = (k * 10 + 5) / math.pow(10, 3 + rnd.nextInt(4))
      val v = if (rnd.nextBoolean()) t else -t
      rnd.nextInt(3) match {
        case 0 => v
        case 1 => math.nextUp(v)
        case _ => math.nextDown(v)
      }
    }
    val bits = Iterator.fill(200000)(
      java.lang.Double.longBitsToDouble(rnd.nextLong()))
    val subnormal = Iterator.fill(5000)(java.lang.Double.longBitsToDouble(
      rnd.nextLong() & 0x800fffffffffffffL))
    // the mark path: a [0,1] coordinate times an image side
    val marks = Iterator.fill(200000)(
      rnd.nextDouble() * Seq(40000.0, 1000.0, 2000.0, 1.0)(rnd.nextInt(4)))
    val wide = Iterator.fill(100000)(
      (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(30) - 15))
    val n = assertFixed2(named.iterator ++ ties ++ bits ++ subnormal ++
      marks ++ wide)
    assert(n == named.size + 565000)
  }

  // ---- the per-point format_string spelling the kernel replaced ----
  private def pointsWellFormed(ring: Column): Column =
    forall(ring, p => size(p) >= 2)

  private def hofDenormalized(geom: Column, w: Column, h: Column): Column = {
    val ring = get(geom, lit(0))
    val pairs = when(pointsWellFormed(ring), transform(ring, p =>
      format_string("%.2f %.2f",
        element_at(p, 1) * w, element_at(p, 2) * h)))
    val closed = when(size(pairs) === 0, pairs)
      .when(element_at(pairs, 1) === element_at(pairs, -1), pairs)
      .otherwise(concat(pairs, array(element_at(pairs, 1))))
    when(pairs.isNotNull,
      concat(lit("POLYGON (("), concat_ws(", ", closed), lit("))")))
  }

  private def hofOuterRing(geom: Column): Column = {
    val ring = get(geom, lit(0))
    when(pointsWellFormed(ring), concat(lit("POLYGON (("),
      concat_ws(", ", transform(ring, p =>
        concat(format_string("%.2f", element_at(p, 1)), lit(" "),
          format_string("%.2f", element_at(p, 2))))),
      lit("))")))
  }

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("g", ArrayType(ArrayType(ArrayType(DoubleType)))),
    StructField("w", DoubleType), StructField("h", LongType)))

  private def pt(x: Any, y: Any): Seq[Any] = Seq(x, y)

  /** (geometry, width, height) cases; a geometry is rings × points. */
  private def adversarial: Seq[(Any, Any, Any)] = {
    val sq = Seq(pt(0.1, 0.2), pt(0.3, 0.2), pt(0.3, 0.4))
    Seq[(Any, Any, Any)](
      (null, 100.0, 200L),                               // NULL geometry
      (Seq(), 100.0, 200L),                              // zero rings
      (Seq(null), 100.0, 200L),                          // NULL ring
      (Seq(Seq(pt(0.1, 0.2), null, pt(0.3, 0.4))), 100.0, 200L),
      (Seq(Seq(pt(0.1, null), pt(0.3, 0.4))), 100.0, 200L),
      (Seq(Seq(pt(null, null))), 100.0, 200L),
      (Seq(Seq(pt(0.1, 0.2), Seq(0.5))), 100.0, 200L),   // short point
      (Seq(Seq(pt(0.1, 0.2), Seq())), 100.0, 200L),      // empty point
      (Seq(Seq(Seq(0.1, 0.2, 0.3), pt(0.3, 0.4))), 100.0, 200L),
      (Seq(Seq()), 100.0, 200L),                         // empty ring
      (Seq(Seq(pt(0.25, 0.5))), 100.0, 200L),            // one point
      (Seq(sq), 100.0, 200L),                            // open
      (Seq(sq :+ pt(0.1, 0.2), Seq(pt(9.0, 9.0))), 100.0, 200L),
      // raw-differ, format-equal endpoints: already closed at 2 dp
      (Seq(Seq(pt(0.001111, 0.0), pt(0.05, 0.05), pt(0.001112, 0.0))),
        100.0, 100L),
      (Seq(sq), null, 200L),                             // NULL scale
      (Seq(sq), 100.0, null),
      (Seq(sq), null, null),
      (Seq(Seq(pt(0.00125, 0.005025), pt(0.02675, -0.00001),
        pt(-0.0, 0.0))), 100.0, 200L),                   // ties, signs
      (Seq(Seq(pt(Double.NaN, 1.0), pt(Double.PositiveInfinity,
        Double.NegativeInfinity), pt(1e12, -3e11))), 100.0, 200L),
      (Seq(Seq(pt(0.5, 0.5), pt(1.0, 1.0))), Double.NaN, 0L))
  }

  private def randomRings(n: Int): Seq[(Any, Any, Any)] = {
    val rnd = new scala.util.Random(11)
    def coord: Any = rnd.nextInt(40) match {
      case 0 => null
      case 1 => (rnd.nextInt(2000) * 10 + 5) / 1e6 // a tie after scaling
      case _ => rnd.nextDouble()
    }
    def point: Any = rnd.nextInt(60) match {
      case 0 => null
      case 1 => Seq(coord)
      case _ => pt(coord, coord)
    }
    Seq.fill(n) {
      val ring = Seq.fill(rnd.nextInt(7))(point)
      // a closing point equal to the first, or equal once formatted
      val closed = rnd.nextInt(3) match {
        case 0 if ring.nonEmpty => ring :+ ring.head
        case 1 if ring.nonEmpty && ring.head.isInstanceOf[Seq[_]] =>
          ring :+ ring.head.asInstanceOf[Seq[Any]].map {
            case d: Double => d + 1e-9
            case other => other
          }
        case _ => ring
      }
      (Seq(closed), Seq[Any](null, 1.0, 1000.0, 40000.0)(rnd.nextInt(4)),
        Seq[Any](null, 1L, 2000L, 40000L)(rnd.nextInt(4)))
    }
  }

  test("RingWkt equals the format_string spelling of F1 and F3 on " +
    "adversarial rings, codegen'd and interpreted") {
    val cases = adversarial ++ randomRings(400)
    val rows = cases.zipWithIndex.map { case ((g, w, h), i) =>
      Row(i, g, w, h) }
    // repartitioned: a projection over a local relation is folded on
    // the driver and never compiles
    val df = spark.createDataFrame(rows.asJava, schema).repartition(2)
    def run(f3: (Column, Column, Column) => Column,
      f1: Column => Column): Map[Int, (String, String)] =
      df.select(col("id"), f3(col("g"), col("w"), col("h")),
          f1(col("g")))
        .collect().map(r => r.getInt(0) -> (r.getString(1), r.getString(2)))
        .toMap
    val want = run(hofDenormalized, hofOuterRing)
    def kernel = run(GeomFunctions.wktDenormalized,
      GeomFunctions.wktOuterRing)
    def under(conf: (String, String)*)(body: => Map[Int, (String, String)]) = {
      val prev = conf.map { case (k, _) => k -> spark.conf.get(k) }
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
    }
    val codegen = under("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(
      kernel)
    val interpreted = under(
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")(kernel)
    assert(want.size == cases.size)
    for (got <- Seq(codegen, interpreted); id <- want.keys.toSeq.sorted)
      assert(got(id) == want(id), s"case $id: ${cases(id)}")
    // the spelling's own quirks, pinned
    assert(want(0) == ((null, null)) && want(1) == ((null, null)))
    assert(want(4) == (("POLYGON ((10.00 nu, 30.00 80.00, 10.00 nu))",
      "POLYGON ((0.10 nu, 0.30 0.40))")))
    assert(want(9) == (("POLYGON (())", "POLYGON (())")))
    assert(want(10)._1 == "POLYGON ((25.00 100.00))")
    assert(want(13)._1 == "POLYGON ((0.11 0.00, 5.00 5.00, 0.11 0.00))")
    assert(want(14)._1 == "POLYGON ((nu 40.00, nu 40.00, nu 80.00, " +
      "nu 40.00))")
    assert(want(17)._1 == "POLYGON ((0.13 1.01, 2.68 -0.00, " +
      "-0.00 0.00, 0.13 1.01))")
  }
}
