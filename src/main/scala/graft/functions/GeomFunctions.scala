package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.functions._

/** In-house geometry expression family (no Sedona jar ships with this
  * build — SURVEY §7.3). Replaces the reference's shapely usage
  * (`mongo-etl/utils/geometry.py:12-242`) with Catalyst expressions over
  * the coordinate representation `array<array<array<double>>>` (rings ×
  * points × [x,y]) — no UDFs, so everything stays inside Catalyst's
  * optimizer and the narrow map stage. The measures and predicates are
  * higher-order-function compositions; the WKT writers (F1, F3) are one
  * codegen'd kernel, [[graft.expressions.RingWkt]], which formats a
  * ring in one loop where a per-point `format_string` lambda would run
  * interpreted and build a Formatter per point.
  *
  * Reference quirks preserved on purpose (SURVEY §7.4):
  *  - `wktOuterRing` uses ONLY `coordinates[0]` and does NOT close the
  *    ring (json-etl/geojson_to_geosparql_etl.py:27-42);
  *  - `polygonFromColonString` DOES close an open ring
  *    (segmentation-etl/nuclear_segmentation_etl.py:47-76);
  *  - `wktDenormalized` scales by (width, height) and formats "%.2f"
  *    (mongo-etl/mongodb_to_rdf.py:238-261).
  */
object GeomFunctions {

  /** Outer ring of a geometry (rings × points × 2). `get`, the
    * NULL-on-out-of-bounds index: a zero-ring geometry (dirty input)
    * yields NULL, not an INVALID_ARRAY_INDEX failure of the whole
    * query under Spark 4's default ANSI mode — every st_* consumer
    * then null-propagates via [[idx]]. Not `try_element_at`: its
    * generated code does not compile (janino: "isNull_N is not an
    * rvalue") once the ring is a shared subexpression, as in
    * g2_geom_stats, and the projection falls back to the interpreter.
    * Not a guarded CASE either: inside the st_* folds, whose lambda
    * bodies run interpreted, it made an area fold ~4× slower. */
  def outerRing(geom: Column): Column = get(geom, lit(0))

  /** F2: parse `[x1:y1:x2:y2:…]` into a single closed ring.
    * Closes the ring iff first point != last point, exactly like
    * nuclear_segmentation_etl.py:66-70. Returns rings×points×2 (one
    * ring). */
  def polygonFromColonString(s: Column): Column = {
    val parsed = regexp_replace(trim(s), "^\\[|\\]$", "")
    val pts = expr_pts(parsed)
    array(close_ring(pts))
  }

  /** Guarded 1..n index range: Spark's sequence(1, 0) DESCENDS ([1,0])
    * and would drive element_at(_, 0) into a hard error, so empty/
    * degenerate inputs must map to an empty array, not sequence(1,n). */
  // A NULL size (null geometry or ring) propagates NULL — a null
  // geometry's area/perimeter/point count is NULL, not 0 (SQL null
  // propagation, and what the DuckDB oracle's list ops do).
  private def idx(n: Column): Column =
    when(n >= 1, sequence(lit(1), n.cast("int")))
      .when(n.isNotNull, array().cast("array<int>"))

  private def expr_pts(cleaned: Column): Column = {
    val nums = split(cleaned, ":")
    val nPairs = floor(size(nums) / 2).cast("int")
    transform(
      idx(nPairs),
      i => array(
        element_at(nums, i * 2 - 1).cast("double"),
        element_at(nums, i * 2).cast("double")))
  }

  private def close_ring(pts: Column): Column =
    when(size(pts) === 0, pts)
      .when(element_at(pts, 1) === element_at(pts, -1), pts)
      .otherwise(concat(pts, array(element_at(pts, 1))))

  /** Every point of every ring has both coordinates. A degenerate
    * point ([], [x]) anywhere in dirty input would otherwise throw
    * INVALID_ARRAY_INDEX out of the coordinate accessors under
    * Spark 4's default ANSI mode, aborting the whole query — the
    * st_* family null-propagates instead (same convention as NULL
    * geometry, r17). NULL points make this NULL, which the `when`
    * wrappers pass through. */
  private def pointsWellFormed(geom: Column): Column =
    forall(flatten(geom), p => size(p) >= 2)

  /** F1: WKT of the outer ring only, NO ring closure, "%.2f" formatting.
    * NULL on a degenerate point (reference: except -> None), not an
    * ANSI crash from the coordinate accessors. */
  def wktOuterRing(geom: Column): Column = ringWkt(outerRing(geom), Nil,
    close = false)

  /** F3: WKT with coordinates denormalized from [0,1] to pixel space
    * (x*width, y*height), "%.2f", operating on the outer ring closed.
    *
    * Closure compares the FORMATTED "%.2f %.2f" strings, exactly like
    * the reference (mongodb_to_rdf.py:254-257 closes on
    * `wkt_coords[0] != wkt_coords[-1]`, i.e. post-format) — a
    * raw-value comparison would disagree on rings whose endpoints
    * differ in raw value but format equal at 2 decimals. This is THE
    * one implementation; MongoMarksPipeline.markSide uses it too. */
  def wktDenormalized(geom: Column, width: Column, height: Column): Column =
    ringWkt(outerRing(geom), Seq(width, height), close = true)

  /** The codegen'd ring kernel ([[graft.expressions.RingWkt]]): one
    * loop over the points, no interpreted lambda, no Formatter. */
  private def ringWkt(ring: Column, scale: Seq[Column],
    close: Boolean): Column =
    GraftShims.column(graft.expressions.RingWkt(
      GraftShims.expression(ring),
      scale.map(c => GraftShims.expression(c.cast("double"))), close))

  /** Folds `step(ring, acc, i)` over the edges i = 1..n-1 of `ring`.
    * The ring rides in the accumulator: a fold's lambda body runs
    * interpreted, out of reach of subexpression elimination, so a
    * ring expression referenced from inside it is rebuilt on every
    * reference of every iteration (2× slower g2_geom_stats, measured
    * on 200k rows). NULL ring → NULL. */
  private def edgeFold(ring: Column, zero: Column)(
    step: (Column, Column, Column) => Column): Column =
    aggregate(idx(size(ring) - 1), struct(ring.as("r"), zero.as("v")),
      (acc, i) => struct(acc("r").as("r"), step(acc("r"), acc("v"), i).as("v")),
      acc => acc("v"))

  /** Shoelace area of the outer ring (assumed closed); |Σ cross|/2. */
  def stArea(geom: Column): Column =
    when(pointsWellFormed(geom), abs(edgeFold(outerRing(geom), lit(0.0)) {
      (r, acc, i) => acc +
        element_at(element_at(r, i), 1) * element_at(element_at(r, i + 1), 2) -
        element_at(element_at(r, i + 1), 1) * element_at(element_at(r, i), 2)
    }) / 2)

  /** Perimeter of the outer ring (assumed closed). */
  def stPerimeter(geom: Column): Column =
    when(pointsWellFormed(geom), edgeFold(outerRing(geom), lit(0.0)) {
      (r, acc, i) =>
        val dx = element_at(element_at(r, i + 1), 1) -
          element_at(element_at(r, i), 1)
        val dy = element_at(element_at(r, i + 1), 2) -
          element_at(element_at(r, i), 2)
        acc + sqrt(dx * dx + dy * dy)
    })

  /** Envelope (xmin, ymin, xmax, ymax) over ALL rings. */
  def stEnvelope(geom: Column): Column = {
    val xs = flatten(transform(geom, r => transform(r, p => element_at(p, 1))))
    val ys = flatten(transform(geom, r => transform(r, p => element_at(p, 2))))
    when(pointsWellFormed(geom), struct(
      array_min(xs).as("xmin"), array_min(ys).as("ymin"),
      array_max(xs).as("xmax"), array_max(ys).as("ymax")))
  }

  /** Simple validity: outer ring exists, has ≥ 4 points, and is closed.
    */
  def stIsValid(geom: Column): Column = {
    val r = outerRing(geom)
    size(geom) >= 1 && size(r) >= 4 &&
      (element_at(r, 1) === element_at(r, -1))
  }

  /** Point count of the outer ring. */
  def stNumPoints(geom: Column): Column = size(outerRing(geom)).cast("long")

  /** Even-odd ray cast: is (px, py) strictly inside the outer ring?
    * Works for ANY simple polygon (convex or concave; holes are
    * ignored — outer ring only, like the rest of the family). The
    * ring is closed defensively; a horizontal ray to +x toggles on
    * each edge whose y-span straddles py and whose crossing lies
    * right of px. Points exactly ON an edge are
    * numerically ambiguous (shared-edge floats) — callers wanting
    * boundary semantics should offset test points off the lattice.
    * A narrow codegen'd HOF fold over the edge list: zero shuffle,
    * pipelines inside the scan like stArea/stPerimeter. */
  def stContains(geom: Column, px: Column, py: Column): Column = {
    val crossings = edgeFold(close_ring(outerRing(geom)), lit(0)) {
      (r, acc, i) =>
        val x1 = element_at(element_at(r, i), 1)
        val y1 = element_at(element_at(r, i), 2)
        val x2 = element_at(element_at(r, i + 1), 1)
        val y2 = element_at(element_at(r, i + 1), 2)
        val straddles = (y1 <= py && y2 > py) || (y2 <= py && y1 > py)
        val crossesRight =
          px < x1 + (x2 - x1) * (py - y1) / (y2 - y1)
        acc + when(straddles && crossesRight, 1).otherwise(0)
    }
    when(pointsWellFormed(geom), crossings % 2 === 1)
  }

  /** F18 `.geom_type` accessor (`get_geometry_type`,
    * mongo-etl/utils/geometry.py:176-191): the reference parses the
    * GeoJSON `type` field via shapely's `shape()` — case-insensitive
    * in, canonical CamelCase out — and returns None when extraction
    * fails. Mirrored here as a when-chain over the seven GeoJSON
    * types (not a map literal: `element_at` on a missing map key
    * throws under ANSI mode, and `try_element_at` broke whole-stage
    * codegen once already — see MongoMarksPipeline.markSide). */
  def stGeometryType(declared: Column): Column = {
    val t = lower(trim(declared))
    Seq("Point", "MultiPoint", "LineString", "MultiLineString",
      "Polygon", "MultiPolygon", "GeometryCollection")
      .foldLeft(lit(null).cast("string")) { (acc, name) =>
        when(t === name.toLowerCase, lit(name)).otherwise(acc)
      }
  }

  /** F19: WKT with null fallback (`safe_geometry_to_wkt`,
    * mongo-etl/utils/geometry.py:245-260). */
  def safeWkt(wkt: Column): Column = coalesce(wkt, lit("POINT EMPTY"))
}
