package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the WKT `POLYGON ((x y, …))` of one ring
  * (points × [x, y]), each coordinate optionally multiplied by a
  * (width, height) scale and printed `"%.2f"`, the ring optionally
  * closed. The fourth member of the graft codegen kernel family
  * (graft_dot, graft_l2sq, graft_bloom_might_contain): the HOF spelling
  * `transform(ring, p -> format_string("%.2f %.2f", …))` evaluates its
  * lambda interpreted per point and builds a `java.util.Formatter`, which
  * re-parses the pattern, for every point; this writes the ASCII bytes
  * of the whole ring in one loop inside whole-stage codegen.
  *
  * Semantics (fixed: byte-identical to the HOF spelling it replaces):
  *  - `%.2f` is `String.format(Locale.US, "%.2f", v)`, which rounds the
  *    shortest decimal of `v` half-up (0.125 → 0.13, 1.005 → 1.01) and
  *    prints `-` on the sign bit (-0.001 → -0.00);
  *  - a NULL coordinate, or any coordinate under a NULL scale, prints
  *    `nu`: the Formatter prints "null" cut to the precision;
  *  - NULL ring, or a NULL point or one with fewer than two coordinates
  *    anywhere in it → NULL (the reference's `except → None`);
  *  - with `close`, a non-empty ring whose first and last points print
  *    differently gets the first point appended: closure compares the
  *    formatted text, like `mongodb_to_rdf.py:254-257`, not raw values.
  */
case class RingWkt(ring: Expression, scale: Seq[Expression], close: Boolean)
  extends Expression {

  override def prettyName: String = "graft_ring_wkt"
  override def children: Seq[Expression] = ring +: scale
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def foldable: Boolean = children.forall(_.foldable)

  override def checkInputDataTypes(): TypeCheckResult = ring.dataType match {
    case ArrayType(ArrayType(DoubleType, _), _)
        if (scale.isEmpty || scale.size == 2) &&
          scale.forall(_.dataType == DoubleType) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<array<double>> ring and no scale " +
        s"or a (width, height) double scale, got " +
        children.map(_.dataType.catalogString).mkString(", "))
  }

  override def eval(input: InternalRow): Any = {
    val r = ring.eval(input)
    if (r == null) null
    else if (scale.isEmpty)
      RingWkt.format(r.asInstanceOf[ArrayData], false, 0.0, false, 0.0,
        false, close)
    else {
      val (w, h) = (scale(0).eval(input), scale(1).eval(input))
      RingWkt.format(r.asInstanceOf[ArrayData], true,
        if (w == null) 0.0 else w.asInstanceOf[Double], w == null,
        if (h == null) 0.0 else h.asInstanceOf[Double], h == null, close)
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ring.genCode(ctx)
    val kernel = RingWkt.getClass.getName.stripSuffix("$")
    val (scaleCode, args) = scale.map(_.genCode(ctx)) match {
      case Seq(w, h) => (s"${w.code}\n${h.code}",
        s"true, ${w.value}, ${w.isNull}, ${h.value}, ${h.isNull}")
      case _ => ("", "false, 0.0, false, 0.0, false")
    }
    ev.copy(code = code"""
         |${r.code}
         |boolean ${ev.isNull} = ${r.isNull};
         |UTF8String ${ev.value} = null;
         |if (!${ev.isNull}) {
         |  $scaleCode
         |  ${ev.value} = $kernel.format(${r.value}, $args, $close);
         |  ${ev.isNull} = ${ev.value} == null;
         |}
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
    newChildren: IndexedSeq[Expression]): RingWkt =
    copy(ring = newChildren.head, scale = newChildren.tail)
}

object RingWkt {
  /** |v| at or above this prints through `String.format`: |v|·100 must
    * stay an exact integer in a double and a long. */
  private val FastLimit = 1e13
  /** A scaled value this many ulps from a .5 tie prints through
    * `String.format`: there `v`, its shortest decimal and `v`·100 can
    * round different ways. Two ulps bound the gap; four is margin. */
  private val TieUlps = 4.0

  /** The WKT bytes of `ring`, or null when a point is NULL or has
    * fewer than two coordinates. One loop: each point is checked, then
    * written straight into the output buffer. */
  def format(ring: ArrayData, scaled: Boolean, w: Double, wNull: Boolean,
    h: Double, hNull: Boolean, close: Boolean): UTF8String = {
    val n = ring.numElements()
    val out = new Ascii(16 + 24 * n)
    out.put("POLYGON ((")
    val firstStart = out.pos
    var firstEnd = firstStart
    var lastStart = firstStart
    var i = 0
    while (i < n) {
      if (ring.isNullAt(i)) return null
      val p = ring.getArray(i)
      if (p.numElements() < 2) return null
      if (i > 0) out.put(", ")
      lastStart = out.pos
      out.coord(p, 0, scaled, w, wNull)
      out.put(' ')
      out.coord(p, 1, scaled, h, hNull)
      if (i == 0) firstEnd = out.pos
      i += 1
    }
    if (close && n > 0 &&
        !out.same(firstStart, firstEnd, lastStart, out.pos)) {
      out.put(", ")
      out.copy(firstStart, firstEnd)
    }
    out.put("))")
    UTF8String.fromBytes(out.buf, 0, out.pos)
  }

  /** `String.format(Locale.US, "%.2f", v)` through the kernel's writer. */
  private[graft] def fixed2(v: Double): String = {
    val out = new Ascii(24)
    out.fixed2(v)
    new String(out.buf, 0, out.pos, java.nio.charset.StandardCharsets.US_ASCII)
  }

  /** A growable ASCII byte buffer. */
  private final class Ascii(initial: Int) {
    var buf = new Array[Byte](initial)
    var pos = 0

    private def room(k: Int): Unit =
      if (pos + k > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, pos + k))

    def put(c: Char): Unit = { room(1); buf(pos) = c.toByte; pos += 1 }

    def put(s: String): Unit = {
      room(s.length)
      var i = 0
      while (i < s.length) { buf(pos) = s.charAt(i).toByte; pos += 1; i += 1 }
    }

    def same(a: Int, aEnd: Int, b: Int, bEnd: Int): Boolean =
      java.util.Arrays.equals(buf, a, aEnd, buf, b, bEnd)

    def copy(from: Int, until: Int): Unit = {
      room(until - from)
      System.arraycopy(buf, from, buf, pos, until - from)
      pos += until - from
    }

    def coord(p: ArrayData, i: Int, scaled: Boolean, s: Double,
      sNull: Boolean): Unit =
      if (p.isNullAt(i) || (scaled && sNull)) put("nu")
      else fixed2(if (scaled) p.getDouble(i) * s else p.getDouble(i))

    def fixed2(v: Double): Unit = {
      val a = math.abs(v)
      val s = a * 100
      val whole = math.floor(s)
      val frac = s - whole
      // NaN and ±Infinity fail `a < FastLimit` too
      if (!(a < FastLimit) || math.abs(frac - 0.5) <= TieUlps * math.ulp(s))
        put("%.2f".formatLocal(java.util.Locale.US, v))
      else {
        val cents = whole.toLong + (if (frac > 0.5) 1 else 0)
        if (java.lang.Double.doubleToRawLongBits(v) < 0) put('-')
        digits(cents / 100)
        put('.')
        put(('0' + cents % 100 / 10).toChar)
        put(('0' + cents % 10).toChar)
      }
    }

    private def digits(x: Long): Unit = {
      var k = 1
      var t = x
      while (t >= 10) { t /= 10; k += 1 }
      room(k)
      var j = pos + k - 1
      t = x
      while (j >= pos) { buf(j) = ('0' + t % 10).toByte; t /= 10; j -= 1 }
      pos += k
    }
  }
}
