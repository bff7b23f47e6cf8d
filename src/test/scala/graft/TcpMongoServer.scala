package graft

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.JsonNodeFactory

import graft.sources.MongoWire

import scala.jdk.CollectionConverters._

/** In-test OP_MSG server: find / getMore with real SERVER-SIDE
  * cursors, splitVector, filter documents with `_id` $gte/$gt/$lt and
  * the dotted execution-id $in — the observable behavior of a MongoDB
  * node for the commands the connector issues, standing in for a live
  * MongoDB in the zero-egress sandbox. Records decoded command bodies
  * (as JSON text) for pushdown assertions, plus connection counters
  * for the per-partition and leak assertions. */
object TcpMongoServer {
  /** A served document: sort/filter keys + its raw JSON text. */
  final case class Doc(id: String, execId: String, json: String)

  /** The same documents as a JSONL file, for parity against the
    * offline readers (`MongoMarksPipeline.readMarks`/`readAnalyses`). */
  def jsonlFile(docs: Seq[Doc]): String = {
    val f = java.nio.file.Files.createTempFile("served", ".jsonl")
    java.nio.file.Files.writeString(f, docs.map(_.json).mkString("\n"))
    f.toString
  }
}

final class TcpMongoServer(
  collections: Map[String, Seq[TcpMongoServer.Doc]]) {
  private val om = new ObjectMapper()
  private val nf = JsonNodeFactory.instance
  @volatile private var sorted =
    collections.view.mapValues(_.sortBy(_.id)).toMap
  val requests = new ConcurrentLinkedQueue[String]()
  val connections = new AtomicInteger(0)
  /** Currently-open client connections — lets specs assert that an
    * early-terminated scan (limit, stopped stream) closed its socket
    * instead of leaking it. */
  val active = new AtomicInteger(0)
  /** When set, every document-page reply (ascending find, getMore)
    * writes only the first half of its frame and severs the
    * connection — a server crash mid-page, for exactly-once restart
    * specs. The driver-side probes (splitVector, the descending
    * max-id find) still answer. */
  @volatile var severMidPage = false
  private val nextCursor = new AtomicLong(1000L)
  @volatile private var server: ServerSocket = _
  @volatile private var running = false

  /** Append documents at runtime (streaming-source specs: new data
    * arriving between micro-batches). Open cursors keep their
    * snapshot, like a real server's. */
  def add(collection: String, docs: TcpMongoServer.Doc*): Unit =
    synchronized {
      sorted = sorted.updated(collection,
        (sorted.getOrElse(collection, Nil) ++ docs).sortBy(_.id))
    }

  /** Binds 127.0.0.1:`port` (0 = ephemeral; a fixed port lets a spec
    * restart a "crashed" server at the address a stream has pinned). */
  def start(port: Int = 0): Int = {
    server = new ServerSocket()
    server.setReuseAddress(true) // rebinding a just-crashed address
    // a fixed-port rebind can race the previous server's close (the
    // old socket lingers briefly even with SO_REUSEADDR when its
    // accept loop is mid-teardown) — retry briefly instead of
    // failing the restart spec on scheduler timing
    var attempts = 0
    var bound = false
    while (!bound) {
      try {
        server.bind(new java.net.InetSocketAddress(
          InetAddress.getByName("127.0.0.1"), port), 16)
        bound = true
      } catch {
        case _: java.net.BindException if port != 0 && attempts < 50 =>
          attempts += 1
          Thread.sleep(100)
          server.close()
          server = new ServerSocket()
          server.setReuseAddress(true)
      }
    }
    running = true
    val t = new Thread(() => {
      while (running) {
        try {
          val sock = server.accept()
          connections.incrementAndGet()
          val h = new Thread(() => handle(sock), "tcp-mongo-conn")
          h.setDaemon(true)
          h.start()
        } catch { case _: Throwable => () } // closed during accept
      }
    }, "tcp-mongo-accept")
    t.setDaemon(true)
    t.start()
    server.getLocalPort
  }

  def stop(): Unit = { running = false; if (server != null) server.close() }

  private def matches(collection: String, d: TcpMongoServer.Doc,
    filter: JsonNode): Boolean = {
    if (filter == null || !filter.isObject) return true
    // mongod-faithful: only the COLLECTION's actual dotted exec-id
    // path matches — the wrong collection's path is just a field the
    // documents don't have, matching nothing. (An earlier, laxer
    // version accepted either path for any collection, which masked
    // the connector emitting the marks path for analyses.)
    val execPath = collection match {
      case "marks" => "provenance.analysis.execution_id"
      case _ => "analysis.execution_id"
    }
    filter.properties().asScala.forall { e =>
      e.getKey match {
        case "_id" =>
          val c = e.getValue
          Option(c.get("$gte")).forall(v => d.id >= v.asText) &&
            Option(c.get("$gt")).forall(v => d.id > v.asText) &&
            Option(c.get("$lt")).forall(v => d.id < v.asText)
        case p if p == execPath =>
          Option(e.getValue.get("$in")).forall(_.elements().asScala
            .exists(_.asText == d.execId))
        case "provenance.analysis.execution_id" |
          "analysis.execution_id" =>
          false // the OTHER collection's path: field absent, no match
        case other =>
          throw new IllegalArgumentException(s"unsupported filter $other")
      }
    }
  }

  private def handle(sock: Socket): Unit = {
    active.incrementAndGet()
    // cursors are per-connection session state, like a real mongod
    val cursors = scala.collection.mutable.Map[Long, Vector[JsonNode]]()
    try {
      val in = new BufferedInputStream(sock.getInputStream)
      val out = new BufferedOutputStream(sock.getOutputStream)
      var msg = MongoWire.readMsg(in)
      while (msg != null) {
        val (reqId, _, body) = msg
        requests.add(body.toString)
        val reply = nf.objectNode()
        var docPage = false // a reply carrying documents of a range scan
        def cursorReply(id: Long, batch: Vector[JsonNode],
          key: String): Unit = {
          val cur = nf.objectNode()
          cur.put("id", id)
          val arr = cur.putArray(key)
          batch.foreach(arr.add)
          reply.set[JsonNode]("cursor", cur)
          ()
        }
        if (body.has("find")) {
          val coll = body.get("find").asText
          val docs = sorted.getOrElse(coll, Nil)
            .filter(matches(coll, _, body.get("filter")))
          val desc = Option(body.get("sort"))
            .exists(s => Option(s.get("_id")).exists(_.asInt == -1))
          docPage = !desc
          val ordered0 = if (desc) docs.reverse else docs
          val limited = Option(body.get("limit"))
            .map(l => ordered0.take(l.asInt)).getOrElse(ordered0)
          val batchSize = Option(body.get("batchSize"))
            .map(_.asInt).getOrElse(101)
          // inclusion projection: keep listed top-level fields; _id
          // rides along unless explicitly excluded (mongod default).
          // EXCLUSION projections ({x: 0}) are not implemented — treat
          // them loudly instead of silently including x (a permissive
          // double here would mask a connector projection bug, the
          // r17 filterDoc lesson)
          val proj = Option(body.get("projection")).map { p =>
            val entries = p.properties().asScala.toSeq
            def excluded(e: java.util.Map.Entry[String, JsonNode]) =
              (e.getValue.isNumber && e.getValue.asInt == 0) ||
                (e.getValue.isBoolean && !e.getValue.asBoolean)
            // {_id: 0} inside an inclusion projection is the ONE legal
            // exclusion real mongod permits — honor it; any other
            // exclusion is unimplemented and must stay loud
            entries.filter(e => excluded(e) && e.getKey != "_id")
              .foreach { e =>
                throw new IllegalArgumentException(
                  s"exclusion projection '${e.getKey}: " +
                    s"${e.getValue}' unsupported by TcpMongoServer")
              }
            val keep = entries.filterNot(excluded).map(_.getKey).toSet
            if (entries.exists(e => excluded(e) && e.getKey == "_id"))
              keep
            else keep + "_id"
          }
          val nodes = limited.map { d =>
            val node = om.readTree(d.json)
            proj.fold(node) { keep =>
              val o = node.asInstanceOf[
                com.fasterxml.jackson.databind.node.ObjectNode]
              o.properties().asScala.map(_.getKey).toSeq
                .filterNot(keep).foreach(o.remove)
              o
            }
          }.toVector
          val (first, rest) = nodes.splitAt(batchSize)
          val id = if (rest.isEmpty) 0L else {
            val cid = nextCursor.getAndIncrement()
            cursors(cid) = rest
            cid
          }
          cursorReply(id, first, "firstBatch")
        } else if (body.has("getMore")) {
          docPage = true
          val cid = body.get("getMore").asLong
          val batchSize = Option(body.get("batchSize"))
            .map(_.asInt).getOrElse(101)
          cursors.get(cid) match {
            case None =>
              // real mongod: CursorNotFound — an unknown-cursor
              // getMore is a connector bug, not a clean EOF; serving
              // an empty final batch here would mask it
              reply.put("ok", 0.0)
              reply.put("code", 43)
              reply.put("errmsg", s"cursor id $cid not found")
              ()
            case Some(rest) =>
              val (batch, remaining) = rest.splitAt(batchSize)
              if (remaining.isEmpty) cursors.remove(cid)
              else cursors(cid) = remaining
              cursorReply(if (remaining.isEmpty) 0L else cid, batch,
                "nextBatch")
          }
        } else if (body.has("splitVector")) {
          val coll = body.get("splitVector").asText
          val docs = sorted.getOrElse(coll, Nil)
          val n = body.get("maxChunks").asInt
          val keys = reply.putArray("splitKeys")
          if (docs.nonEmpty && n > 1)
            (1 until n).map(i => docs(i * docs.size / n).id).distinct
              .foreach(id => keys.add(nf.objectNode().put("_id", id)))
        } else {
          reply.put("ok", 0.0)
          reply.put("errmsg",
            s"no such command: ${body.fieldNames().asScala.toSeq}")
        }
        if (!reply.has("ok")) reply.put("ok", 1.0)
        val frame = MongoWire.encodeMsg(reqId + 10000, reqId, reply)
        if (severMidPage && docPage) {
          out.write(frame, 0, frame.length / 2)
          out.flush()
          throw new java.io.IOException("simulated mid-page crash")
        }
        out.write(frame)
        out.flush()
        msg = MongoWire.readMsg(in)
      }
    } catch {
      case _: java.io.IOException => () // teardown / simulated crash
      case t: Throwable =>
        // a protocol break must be VISIBLE, not a silent close a
        // spec could mistake for clean EOF
        System.err.println(s"TcpMongoServer protocol error: $t")
    }
    finally { sock.close(); active.decrementAndGet() }
  }
}
