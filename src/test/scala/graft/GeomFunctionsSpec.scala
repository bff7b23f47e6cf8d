package graft

import graft.functions.GeomFunctions._
import org.apache.spark.sql.functions._

class GeomFunctionsSpec extends SparkTestBase {
  import spark.implicits._

  private def one(colFn: org.apache.spark.sql.Column): Any =
    Seq(1).toDF("x").select(colFn.as("r")).collect().head.get(0)

  test("polygonFromColonString closes an open ring") {
    val g = polygonFromColonString(lit("[1:2:3:2:3:4]"))
    assert(one(stNumPoints(g)) == 4L)   // 3 points + closure
    assert(one(stIsValid(g)) == true)
  }

  test("polygonFromColonString keeps an already-closed ring") {
    val g = polygonFromColonString(lit("[0:0:5:0:5:5:0:0]"))
    assert(one(stNumPoints(g)) == 4L)
    assert(one(stIsValid(g)) == true)
  }

  test("shoelace area and perimeter on a unit-ish rectangle") {
    val g = polygonFromColonString(lit("[0:0:4:0:4:3:0:3]"))
    assert(one(stArea(g)) == 12.0)
    assert(one(stPerimeter(g)) == 14.0)
  }

  test("triangle area (shoelace, non-axis-aligned)") {
    val g = polygonFromColonString(lit("[0:0:4:0:0:3]"))
    assert(one(stArea(g)) == 6.0)
  }

  test("stContains: rectangle, inside/outside/edge-adjacent") {
    val g = polygonFromColonString(lit("[0:0:4:0:4:3:0:3]"))
    assert(one(stContains(g, lit(2.0), lit(1.5))) == true)
    assert(one(stContains(g, lit(5.0), lit(1.5))) == false)
    assert(one(stContains(g, lit(-0.5), lit(1.5))) == false)
    assert(one(stContains(g, lit(2.0), lit(3.5))) == false)
  }

  test("stContains: concave L-shape excludes the notch (not a bbox test)") {
    // L: (0,0)-(4,0)-(4,2)-(2,2)-(2,4)-(0,4); notch = [2,4]x[2,4]
    val L = expr(
      """array(array(array(0d,0d), array(4d,0d), array(4d,2d),
        |  array(2d,2d), array(2d,4d), array(0d,4d)))""".stripMargin)
    assert(one(stContains(L, lit(1.0), lit(1.0))) == true)   // in leg
    assert(one(stContains(L, lit(3.0), lit(1.0))) == true)   // in foot
    assert(one(stContains(L, lit(3.0), lit(3.0))) == false)  // in notch
    assert(one(stContains(L, lit(1.0), lit(3.5))) == true)   // upper leg
  }

  test("stArea is orientation-invariant (mutation survivor G1: " +
    "dropping abs() leaked the shoelace sign for CW rings)") {
    // same rectangle, wound CCW and CW — the fixtures elsewhere are
    // all one orientation, which let a sign bug survive the suite
    val ccw = polygonFromColonString(lit("[0:0:4:0:4:3:0:3]"))
    val cw = polygonFromColonString(lit("[0:3:4:3:4:0:0:0]"))
    assert(one(stArea(ccw)) == 12.0)
    assert(one(stArea(cw)) == 12.0)
  }

  test("stContains: ray through a VERTEX counts once (mutation " +
    "survivor G7: >= on the upper bound double-counts the vertex)") {
    // triangle (0,-1) (4,0) (0,1); a +x ray from (1,0) passes exactly
    // through the vertex (4,0) where one edge ends and the next
    // begins — the half-open straddle test must count ONE crossing
    val tri = expr(
      "array(array(array(0d,-1d), array(4d,0d), array(0d,1d)))")
    assert(one(stContains(tri, lit(1.0), lit(0.0))) == true)
    // same vertex seen from OUTSIDE on the same ray height
    assert(one(stContains(tri, lit(5.0), lit(0.0))) == false)
  }

  test("stContains closes an open ring defensively") {
    val open = expr(
      "array(array(array(0d,0d), array(4d,0d), array(2d,3d)))")
    assert(one(stContains(open, lit(2.0), lit(1.0))) == true)
    assert(one(stContains(open, lit(0.2), lit(2.5))) == false)
  }

  test("envelope spans all rings") {
    val g = polygonFromColonString(lit("[1:2:7:2:7:9:1:9]"))
    val env = one(stEnvelope(g)).asInstanceOf[org.apache.spark.sql.Row]
    assert((env.getDouble(0), env.getDouble(1), env.getDouble(2),
      env.getDouble(3)) == (1.0, 2.0, 7.0, 9.0))
  }

  test("wktOuterRing does NOT close the ring (reference F1 quirk)") {
    val openG = expr(
      "array(array(array(0.0d,0.0d), array(2.0d,0.0d), array(2.0d,2.0d)))")
    assert(one(wktOuterRing(openG)) ==
      "POLYGON ((0.00 0.00, 2.00 0.00, 2.00 2.00))")
    assert(one(stIsValid(openG)) == false)
  }

  test("wktDenormalized scales and closes (reference F3 quirk)") {
    val g = expr(
      "array(array(array(0.1d,0.2d), array(0.3d,0.2d), array(0.3d,0.4d)))")
    assert(one(wktDenormalized(g, lit(100.0), lit(200.0))) ==
      "POLYGON ((10.00 40.00, 30.00 40.00, 30.00 80.00, 10.00 40.00))")
  }

  test("wktDenormalized closes on FORMATTED equality, like the " +
    "reference — raw-differ-format-equal endpoints add no closing point") {
    // 0.001111*100 = 0.1111 and 0.001112*100 = 0.1112 both format
    // "0.11": the reference compares the formatted strings
    // (mongodb_to_rdf.py:254-257), so the ring is ALREADY closed
    val g = expr(
      "array(array(array(0.001111d,0.0d), array(0.05d,0.05d), " +
        "array(0.001112d,0.0d)))")
    assert(one(wktDenormalized(g, lit(100.0), lit(100.0))) ==
      "POLYGON ((0.11 0.00, 5.00 5.00, 0.11 0.00))")
  }

  test("degenerate POINTS ([], [x]) null-propagate through the " +
    "whole st_* family instead of ANSI-crashing the query") {
    // a one-coordinate point inside an otherwise-valid ring: every
    // coordinate accessor would throw INVALID_ARRAY_INDEX under
    // Spark 4's default ANSI mode — the family must answer NULL
    // (dirty input), like it does for NULL geometry
    val dirty = expr(
      "array(array(array(0.0d,0.0d), array(5.0d), array(2.0d,2.0d)))")
    assert(one(stArea(dirty)) == null)
    assert(one(stPerimeter(dirty)) == null)
    assert(one(stEnvelope(dirty)) == null)
    assert(one(stContains(dirty, lit(1.0), lit(1.0))) == null)
    assert(one(wktOuterRing(dirty)) == null)
    assert(one(wktDenormalized(dirty, lit(10.0), lit(10.0))) == null)
    // and a fully empty point array
    val empty = expr("array(array(array(0.1d,0.2d), array()))")
    assert(one(stArea(empty.cast(
      "array<array<array<double>>>"))) == null)
    // well-formed geometry is untouched by the guard
    val ok = expr(
      "array(array(array(0.0d,0.0d), array(2.0d,0.0d), " +
        "array(2.0d,2.0d), array(0.0d,0.0d)))")
    assert(one(stArea(ok)) == 2.0)
  }

  test("degenerate colon strings do not crash (sequence(1,0) guard)") {
    for (s <- Seq("[]", "[7]", "[1:2]")) {
      val g = polygonFromColonString(lit(s))
      val n = one(stNumPoints(g))
      assert(n.asInstanceOf[Long] <= 1L, s"$s -> $n points")
      assert(one(stArea(g)) == 0.0)
      assert(one(stPerimeter(g)) == 0.0)
      assert(one(stIsValid(g)) == false)
    }
  }

  test("safeWkt falls back to POINT EMPTY") {
    assert(one(safeWkt(lit(null).cast("string"))) == "POINT EMPTY")
    assert(one(safeWkt(lit("POLYGON EMPTY"))) == "POLYGON EMPTY")
  }

  test("NULL and zero-ring geometries null-propagate through the " +
    "st_* family — no ANSI INVALID_ARRAY_INDEX, no silent 0.0") {
    val nullGeom = lit(null).cast("array<array<array<double>>>")
    val emptyGeom = array().cast("array<array<array<double>>>")
    // a null geometry's area/perimeter/point count is NULL (what the
    // DuckDB oracle's list ops return), never 0
    assert(one(stArea(nullGeom)) == null)
    assert(one(stPerimeter(nullGeom)) == null)
    assert(one(stNumPoints(nullGeom)) == null)
    // an EMPTY rings array (dirty input) must not fail the query
    // under Spark 4's default ANSI mode — outerRing is NULL-safe
    assert(one(stArea(emptyGeom)) == null)
    assert(one(stNumPoints(emptyGeom)) == null)
    assert(one(stContains(emptyGeom, lit(1.0), lit(1.0))) == null)
  }

  test("the st_* family and F3 compile under forced codegen, a " +
    "zero-ring geometry included — no interpreted fallback") {
    // CODEGEN_ONLY turns a codegen fallback into a hard error. Rows are
    // repartitioned: a projection over a local relation is folded by
    // the interpreter during optimization and never compiles.
    def five(g: org.apache.spark.sql.Column) = Seq(stArea(g),
      stPerimeter(g), stNumPoints(g), stIsValid(g),
      wktDenormalized(g, lit(10.0), lit(10.0)))
    // the g2_geom_stats shape: a ring built from columns, whose shared
    // outer-ring subexpression once generated uncompilable code
    val rect = expr("""array(array(array(x0, y0), array(x0 + w, y0),
      |  array(x0 + w, y0 + h), array(x0, y0 + h), array(x0, y0)))"""
      .stripMargin)
    val rects = Seq((1, 0.0, 0.0, 4.0, 3.0)).toDF("id", "x0", "y0", "w", "h")
      .repartition(1)
    val triangle =
      Seq(Seq(Seq(0.0, 0.0), Seq(4.0, 0.0), Seq(4.0, 3.0), Seq(0.0, 0.0)))
    val geoms = Seq[(Int, Option[Seq[Seq[Seq[Double]]]])](
      (2, Some(triangle)), (3, Some(Seq.empty)), (4, None))
      .toDF("id", "g").repartition(1)
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    val got = try (
      rects.select(col("id") +: five(rect): _*).collect() ++
        geoms.select(col("id") +: five(col("g")): _*).collect())
      .map(r => r.getInt(0) -> r.toSeq.tail).toMap
    finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    assert(got(1) == Seq(12.0, 14.0, 5L, true, "POLYGON ((0.00 0.00, " +
      "40.00 0.00, 40.00 30.00, 0.00 30.00, 0.00 0.00))"))
    assert(got(2) == Seq(6.0, 12.0, 4L, true,
      "POLYGON ((0.00 0.00, 40.00 0.00, 40.00 30.00, 0.00 0.00))"))
    // zero rings: NULL measures, not valid, no WKT
    assert(got(3) == Seq(null, null, null, false, null))
    assert(got(4) == Seq(null, null, null, null, null))
  }
}
