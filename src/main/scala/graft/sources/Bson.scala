package graft.sources

import java.io.{ByteArrayOutputStream, DataInputStream, EOFException,
  InputStream}
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory,
  ObjectNode}

import scala.jdk.CollectionConverters._

/** Minimal BSON codec (bsonspec.org) over Jackson trees — the wire
  * format of the reference's primary source (MongoDB;
  * mongo-etl/mongodb_to_rdf.py:499-515). Implements the element types
  * mark/analysis documents use: double 0x01, string 0x02, document
  * 0x03, array 0x04, boolean 0x08, null 0x0A, int32 0x10, int64 0x12.
  * Encoding always writes integral numbers as int64 (decode accepts
  * both); field order is preserved both ways, so a JSON→BSON→JSON
  * round trip is structurally identical and the connector's row
  * conversion (`JsonRows`) is codec-agnostic.
  *
  * Truncation is LOUD: `read` throws EOFException when the stream
  * ends inside a document — the exactly-once discipline of the OP_MSG
  * wire ([[MongoWire]]: a severed connection must fail the task, not
  * pass as a short page). */
object Bson {
  private val nf = JsonNodeFactory.instance

  /** MongoDB's own per-document cap, mirrored here as the outer
    * length field's plausibility bound (read()). */
  private val MaxDocBytes = 16 * 1024 * 1024

  /** Encode one document. */
  def encode(doc: JsonNode): Array[Byte] = {
    require(doc.isObject, s"BSON document must be an object, got $doc")
    writeDoc(doc.asInstanceOf[ObjectNode].properties().asScala.iterator
      .map(e => (e.getKey, e.getValue)))
  }

  private def writeDoc(fields: Iterator[(String, JsonNode)])
    : Array[Byte] = {
    val body = new ByteArrayOutputStream()
    fields.foreach { case (name, v) => writeElement(body, name, v) }
    val out = new ByteArrayOutputStream()
    val total = 4 + body.size() + 1 // length prefix + body + terminator
    writeInt32(out, total)
    body.writeTo(out)
    out.write(0x00)
    out.toByteArray
  }

  private def writeElement(out: ByteArrayOutputStream, name: String,
    v: JsonNode): Unit = {
    def header(tpe: Int): Unit = {
      out.write(tpe)
      val nb = name.getBytes(UTF_8)
      require(!nb.contains(0.toByte), s"BSON field name has NUL: $name")
      out.write(nb); out.write(0x00)
    }
    v match {
      case _ if v.isNull => header(0x0A)
      case _ if v.isBoolean =>
        header(0x08); out.write(if (v.asBoolean) 1 else 0)
      case _ if v.isIntegralNumber =>
        header(0x12); writeInt64(out, v.asLong)
      case _ if v.isNumber =>
        header(0x01)
        writeInt64(out, java.lang.Double.doubleToLongBits(v.asDouble))
      case _ if v.isTextual =>
        header(0x02)
        val b = v.asText.getBytes(UTF_8)
        writeInt32(out, b.length + 1); out.write(b); out.write(0x00)
      case a: ArrayNode =>
        header(0x04)
        val enc = writeDoc(a.elements().asScala.zipWithIndex
          .map { case (e, i) => (i.toString, e) })
        out.write(enc, 0, enc.length)
      case o: ObjectNode =>
        header(0x03)
        val enc = encode(o)
        out.write(enc, 0, enc.length)
      case other => throw new IllegalArgumentException(
        s"unsupported BSON value for '$name': $other")
    }
  }

  private def writeInt32(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
    out.write((v >> 16) & 0xFF); out.write((v >> 24) & 0xFF)
  }
  private def writeInt64(out: ByteArrayOutputStream, v: Long): Unit = {
    var i = 0
    while (i < 8) { out.write(((v >> (8 * i)) & 0xFF).toInt); i += 1 }
  }

  /** Read ONE document from the stream. EOF at the FIRST byte is a
    * clean end (returns null); EOF anywhere inside a document is a
    * severed connection and throws. */
  def read(in: InputStream): ObjectNode = {
    val din = new DataInputStream(in)
    val b0 = din.read()
    if (b0 < 0) return null
    val len = b0 | (readByte(din) << 8) | (readByte(din) << 16) |
      (readByte(din) << 24)
    // upper plausibility bound BEFORE allocating: a corrupted length
    // field must surface as the codec's loud protocol error, not as
    // an unbounded allocation/OOM. 16 MB is MongoDB's own document
    // cap, which this wire mirrors.
    require(len >= 5 && len <= MaxDocBytes,
      s"invalid BSON document length $len (must be in [5, $MaxDocBytes])")
    val body = new Array[Byte](len - 4)
    din.readFully(body) // throws EOFException on truncation
    require(body(body.length - 1) == 0,
      "BSON document missing terminator")
    val (doc, consumed) = parseDoc(body, 0, body.length - 1)
    require(consumed == body.length - 1,
      s"BSON document has trailing bytes ($consumed of ${body.length - 1})")
    doc
  }

  private def readByte(in: DataInputStream): Int = {
    val b = in.read()
    if (b < 0) throw new EOFException("BSON length truncated")
    b
  }

  /** Parse elements of one document body in buf[from, to). Returns
    * (node, next offset past the elements). */
  private def parseDoc(buf: Array[Byte], from: Int, to: Int)
    : (ObjectNode, Int) = {
    val doc = nf.objectNode()
    var i = from
    while (i < to && buf(i) != 0) {
      val tpe = buf(i) & 0xFF
      i += 1
      val nameEnd = buf.indexOf(0.toByte, i)
      require(nameEnd >= 0 && nameEnd < to, "unterminated field name")
      val name = new String(buf, i, nameEnd - i, UTF_8)
      i = nameEnd + 1
      val (node, next) = parseValue(buf, i, tpe)
      doc.set[JsonNode](name, node)
      i = next
    }
    (doc, i)
  }

  private def int32(buf: Array[Byte], i: Int): Int =
    (buf(i) & 0xFF) | ((buf(i + 1) & 0xFF) << 8) |
      ((buf(i + 2) & 0xFF) << 16) | ((buf(i + 3) & 0xFF) << 24)
  private def int64(buf: Array[Byte], i: Int): Long = {
    var v = 0L; var j = 7
    while (j >= 0) { v = (v << 8) | (buf(i + j) & 0xFFL); j -= 1 }
    v
  }

  private def parseValue(buf: Array[Byte], i: Int, tpe: Int)
    : (JsonNode, Int) = tpe match {
    case 0x01 =>
      (nf.numberNode(java.lang.Double.longBitsToDouble(int64(buf, i))),
        i + 8)
    case 0x02 =>
      val len = int32(buf, i) // includes the trailing NUL
      // bound against the BODY, not just non-negativity: a corrupted
      // inner length must throw the codec's documented protocol error,
      // not ArrayIndexOutOfBounds from deep inside String construction.
      // Long arithmetic: a len near Int.MaxValue would wrap i+4+len
      // negative and sneak past an Int-typed bound.
      require(len >= 1 && i.toLong + 4L + len <= buf.length,
        s"invalid BSON string length $len at offset $i " +
          s"(body ${buf.length} bytes)")
      (nf.textNode(new String(buf, i + 4, len - 1, UTF_8)), i + 4 + len)
    case 0x03 =>
      val len = int32(buf, i)
      require(len >= 5 && i.toLong + len <= buf.length,
        s"invalid embedded document length $len at offset $i " +
          s"(body ${buf.length} bytes)")
      val (doc, consumed) = parseDoc(buf, i + 4, i + len - 1)
      require(consumed == i + len - 1, "embedded document length drift")
      (doc, i + len)
    case 0x04 =>
      val len = int32(buf, i)
      require(len >= 5 && i.toLong + len <= buf.length,
        s"invalid array document length $len at offset $i " +
          s"(body ${buf.length} bytes)")
      val (doc, consumed) = parseDoc(buf, i + 4, i + len - 1)
      require(consumed == i + len - 1, "array document length drift")
      val arr = nf.arrayNode()
      // BSON arrays are documents keyed "0","1",…; iteration order IS
      // index order for documents we encoded; sort defensively anyway
      doc.properties().asScala.toSeq.sortBy(e => e.getKey.toInt)
        .foreach(e => arr.add(e.getValue))
      (arr, i + len)
    case 0x08 => (nf.booleanNode(buf(i) != 0), i + 1)
    case 0x0A => (nf.nullNode(), i)
    case 0x10 => (nf.numberNode(int32(buf, i)), i + 4)
    case 0x12 => (nf.numberNode(int64(buf, i)), i + 8)
    case other => throw new IllegalArgumentException(
      f"unsupported BSON element type 0x$other%02x")
  }
}
