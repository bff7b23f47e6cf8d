package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException,
  InputStream}
import java.net.Socket

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}

import scala.jdk.CollectionConverters._

/** The MongoDB wire protocol's modern framing and command surface
  * (public spec: OP_MSG, opcode 2013) — the wire of the mark-store
  * connector ([[MarkSocketDataSource]]) and the commands the
  * reference's source drives through pymongo
  * (mongo-etl/mongodb_to_rdf.py:499-515):
  *
  *   frame   = messageLength:i32 requestID:i32 responseTo:i32
  *             opCode:i32(=2013) flagBits:i32(=0)
  *             section(kind 0x00 + BSON command document)
  *   find    = {find: coll, filter: …, sort: {_id: 1},
  *              batchSize: n}            → {cursor: {id, firstBatch}}
  *   getMore = {getMore: id, collection: coll, batchSize: n}
  *                                       → {cursor: {id, nextBatch}}
  *   splitVector = {splitVector: coll, keyPattern: {_id: 1},
  *              maxChunks: n}            → {splitKeys: [{_id: …}]}
  *
  * Cursors are SERVER-side state: the find opens a cursor, the
  * reader drains it with getMore until the server returns id 0 — the
  * exact shape pymongo's batch_size find() produces. Filters compose
  * as {_id: {$gte/$gt/$lt}} + {execution_id: {$in}} inside the find
  * command, so pushdown is a real Mongo filter document.
  *
  * Fail-loud contract: EOF inside a frame throws, so a connection
  * severed mid-page fails the task instead of passing as a short final
  * batch (a streaming batch would otherwise commit an offset it never
  * fully read); a reply with ok != 1 throws with the server's error.
  * Out of scope, documented: auth handshake, compression
  * (OP_COMPRESSED), checksums (flagBit 0), multi-section OP_MSG —
  * none of which change the scan shape. */
object MongoWire {
  private val nf = JsonNodeFactory.instance
  private val OpCodeMsg = 2013

  // ---- framing ----------------------------------------------------------

  /** Encode one OP_MSG frame carrying a single kind-0 body section. */
  def encodeMsg(requestId: Int, responseTo: Int,
    body: JsonNode): Array[Byte] = {
    val doc = Bson.encode(body)
    val len = 16 + 4 + 1 + doc.length
    val out = new java.io.ByteArrayOutputStream(len)
    def i32(v: Int): Unit = {
      out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
      out.write((v >> 16) & 0xFF); out.write((v >> 24) & 0xFF)
    }
    i32(len); i32(requestId); i32(responseTo); i32(OpCodeMsg)
    i32(0) // flagBits: no checksum, no moreToCome
    out.write(0x00) // section kind 0: body
    out.write(doc, 0, doc.length)
    out.toByteArray
  }

  /** Byte counter over the frame body: the frame's length field must
    * agree with the bytes the sections actually consume, or the NEXT
    * frame on this connection is read from a desynced offset — a
    * silent-corruption mode on the cursor's long-lived socket. */
  private final class CountingIn(in: InputStream)
    extends java.io.FilterInputStream(in) {
    var n: Long = 0L
    override def read(): Int = {
      val b = super.read(); if (b >= 0) n += 1; b
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val r = super.read(b, off, len); if (r > 0) n += r; r
    }
  }

  /** Read one OP_MSG frame → (requestId, responseTo, body document).
    * Clean EOF at the first byte returns null; EOF inside a frame
    * throws; a frame whose length field disagrees with its actual
    * section bytes throws (stream-desync guard). */
  def readMsg(in: InputStream): (Int, Int, ObjectNode) = {
    val b0 = in.read()
    if (b0 < 0) return null
    val counted = new CountingIn(in)
    def byte(): Int = {
      val b = counted.read()
      if (b < 0) throw new EOFException("OP_MSG frame truncated")
      b
    }
    def i32(first: Option[Int] = None): Int = {
      val a = first.getOrElse(byte())
      a | (byte() << 8) | (byte() << 16) | (byte() << 24)
    }
    val len = i32(Some(b0))
    require(len >= 26, s"OP_MSG frame too short: $len")
    val requestId = i32(); val responseTo = i32(); val opCode = i32()
    require(opCode == OpCodeMsg, s"unsupported opCode $opCode")
    val flags = i32()
    require((flags & 0x1) == 0, "checksummed OP_MSG not supported")
    val kind = byte()
    require(kind == 0, s"unsupported OP_MSG section kind $kind")
    val body = Bson.read(counted)
    if (body == null) throw new EOFException("OP_MSG body truncated")
    // counted.n excludes the first length byte (read before wrapping)
    // but includes the other 3, so expected = len - 1
    require(counted.n == len - 1,
      s"OP_MSG frame length drift: length field $len, " +
        s"consumed ${counted.n + 1}")
    (requestId, responseTo, body)
  }

  // ---- command construction --------------------------------------------

  /** The find FILTER document for a range scan — a real Mongo filter:
    * conjunction of `_id` bounds and the indexed execution-id $in
    * (reference build_indexes.sh:18-36 is what makes both
    * server-cheap). `execPath` is the COLLECTION's dotted
    * execution-id field ([[MarkSocketDataSource.execIdPath]]):
    * marks nest it under provenance, analyses do not — the absorbed
    * filter left no Catalyst residual, so emitting the wrong
    * collection's path here would silently match zero documents on a
    * real server. */
  private[sources] def filterDoc(minId: Option[String],
    maxId: Option[String], startFrom: Option[String],
    execIds: Option[Seq[String]], afterId: Option[String],
    execPath: String): ObjectNode = {
    val f = nf.objectNode()
    val idCond = nf.objectNode()
    // $gte folds with startFrom (Java order — the connector only
    // pushes ASCII bounds, where collations agree)
    val gte = (minId.toSeq ++ startFrom.toSeq).sorted.lastOption
    gte.foreach(v => idCond.put("$gte", v))
    afterId.foreach(v => idCond.put("$gt", v))
    maxId.foreach(v => idCond.put("$lt", v))
    if (idCond.size() > 0) f.set[JsonNode]("_id", idCond)
    execIds.foreach { ids =>
      val in = nf.objectNode()
      val arr = in.putArray("$in"); ids.foreach(arr.add)
      f.set[JsonNode](execPath, in)
    }
    f
  }

  private def command(host: String, port: Int, body: ObjectNode)
    : ObjectNode = {
    val sock = new Socket(host, port)
    try {
      val out = new BufferedOutputStream(sock.getOutputStream)
      out.write(encodeMsg(1, 0, body)); out.flush()
      reply(new BufferedInputStream(sock.getInputStream))
    } finally sock.close()
  }

  private def reply(in: InputStream): ObjectNode = {
    val msg = readMsg(in)
    if (msg == null) throw new EOFException(
      "server closed without replying")
    val body = msg._3
    val ok = Option(body.get("ok")).exists(_.asDouble == 1.0)
    if (!ok) throw new java.io.IOException(
      s"command failed: ${Option(body.get("errmsg")).fold("?")(_.asText)}")
    body
  }

  /** Driver-side splits — the real splitVector admin command. */
  private[sources] def querySplits(host: String, port: Int,
    collection: String, nPartitions: Int): Seq[String] = {
    val cmd = nf.objectNode()
    cmd.put("splitVector", collection)
    cmd.set[JsonNode]("keyPattern",
      nf.objectNode().put("_id", 1))
    cmd.put("maxChunks", nPartitions)
    val keys = command(host, port, cmd).get("splitKeys")
    require(keys != null && keys.isArray, s"bad splitVector reply")
    keys.elements().asScala.map(_.get("_id").asText()).toSeq
  }

  /** Streaming latestOffset — find sorted descending, limit 1. */
  private[sources] def queryMaxId(host: String, port: Int,
    collection: String): Option[String] = {
    val cmd = nf.objectNode()
    cmd.put("find", collection)
    cmd.set[JsonNode]("sort", nf.objectNode().put("_id", -1))
    cmd.put("limit", 1)
    cmd.put("batchSize", 1)
    val batch = command(host, port, cmd).get("cursor").get("firstBatch")
    batch.elements().asScala.toSeq.headOption.map(_.get("_id").asText())
  }

  /** One id-range over a server-side cursor: find opens it, getMore
    * drains it, cursor id 0 ends it. One connection per partition
    * (the cursor lives on that connection's session). The socket
    * closes on drain; an early-terminated scan never drains, so the
    * reader must also `close()` it (idempotent). `projection`
    * (top-level field names) travels IN the find command — on this
    * wire column pruning saves wire bytes, not just row width. */
  private[sources] final class MongoDocCursor(host: String, port: Int,
    collection: String, batchSize: Int, filter: ObjectNode,
    projection: Seq[String] = Nil)
    extends Iterator[JsonNode] with AutoCloseable {
    private val sock = new Socket(host, port)
    private val out = new BufferedOutputStream(sock.getOutputStream)
    private val in = new BufferedInputStream(sock.getInputStream)
    private var reqId = 0

    private def roundTrip(body: ObjectNode): ObjectNode = {
      reqId += 1
      out.write(encodeMsg(reqId, 0, body)); out.flush()
      reply(in)
    }

    private var cursorId: Long = 0L
    // construction-failure path must not leak the socket: Spark only
    // calls close() on a reader that was built
    private var buf: Vector[JsonNode] =
      try {
        val cmd = nf.objectNode()
        cmd.put("find", collection)
        cmd.set[JsonNode]("filter", filter)
        cmd.set[JsonNode]("sort", nf.objectNode().put("_id", 1))
        if (projection.nonEmpty) {
          val p = nf.objectNode()
          projection.foreach(f => p.put(f, 1))
          cmd.set[JsonNode]("projection", p)
        }
        cmd.put("batchSize", batchSize)
        val cur = roundTrip(cmd).get("cursor")
        cursorId = cur.get("id").asLong
        cur.get("firstBatch").elements().asScala.toVector
      } catch { case t: Throwable => close(); throw t }
    private var i = 0
    private var done = false

    private def advance(): Unit =
      while (!done && i >= buf.length) {
        if (cursorId == 0L) { done = true; close() }
        else {
          val cmd = nf.objectNode()
          cmd.put("getMore", cursorId)
          cmd.put("collection", collection)
          cmd.put("batchSize", batchSize)
          val cur = roundTrip(cmd).get("cursor")
          cursorId = cur.get("id").asLong
          buf = cur.get("nextBatch").elements().asScala.toVector
          i = 0
        }
      }
    override def hasNext: Boolean = { advance(); !done && i < buf.length }
    override def next(): JsonNode = {
      advance()
      if (done) throw new NoSuchElementException("cursor drained")
      val d = buf(i); i += 1; d
    }
    override def close(): Unit = if (!sock.isClosed) sock.close()
  }
}
