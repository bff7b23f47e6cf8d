package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual, In, IsNotNull}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.pipelines.MongoMarksPipeline

/** DataSource V2 connector over the MongoDB OP_MSG wire
  * ([[MongoWire]]) — the full production-connector shape (what
  * `mongo-spark` is to MongoDB) for the reference's primary source
  * (mongo-etl/mongodb_to_rdf.py:499-515; server-side indexes
  * build_indexes.sh:18-36):
  *
  * {{{
  *   spark.read.format("graft.sources.MarkSocketDataSource")
  *     .option("host", h).option("port", p)
  *     .option("collection", "marks")      // or "analyses"
  *     .option("partitions", "8")          // id-range splits
  *     .option("batch.size", "256")        // cursor page size
  *     .load()
  *     .filter($"_id" >= "m-010")          // pushed: start_from
  *     .filter($"provenance.analysis.execution_id".isin("e1"))
  *                                         // pushed: execution_ids
  * }}}
  *
  * Catalyst plans the pushdown: `_id >= x` and `execution_id IN (…)`
  * predicates are recognized in `pushFilters`, travel in the find
  * command's filter document, and are REMOVED from the residual
  * (server evaluation is exact: equality/IN are ordering-free, and
  * `_id >=` only pushes for all-ASCII bounds, where Catalyst's UTF-8
  * and the server's UTF-16 orderings provably agree — non-ASCII bounds
  * stay residual), so `.explain` shows them under PushedFilters and
  * no re-filtering happens engine-side. Everything else stays residual
  * with Catalyst. Column pruning keeps only the requested TOP-LEVEL
  * fields and travels as the find projection, so it saves wire bytes.
  *
  * Execution shape: one driver-side splitVector call, then one
  * InputPartition per id range, each reader draining its own
  * server-side cursor over its own connection in `batch.size` pages
  * (find, then getMore until cursor id 0). At 4B marks the fan-out
  * scales with partitions and no document ever materializes outside
  * its range reader.
  */
class MarkSocketDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap)
    : StructType =
    MarkSocketDataSource.schemaFor(
      options.getOrDefault("collection", "marks"))

  override def getTable(schema: StructType,
    partitioning: Array[Transform],
    properties: util.Map[String, String]): Table =
    new MarkSocketTable(properties.asScala.toMap)

  override def supportsExternalMetadata(): Boolean = false
}

object MarkSocketDataSource {
  private[sources] def schemaFor(collection: String): StructType =
    collection match {
      case "marks" => MongoMarksPipeline.markSchema
      case "analyses" => MongoMarksPipeline.analysisSchema
      case other => throw new IllegalArgumentException(
        s"unknown collection '$other' (marks | analyses)")
    }

  /** Dotted path of the execution-id field per collection (the
    * server's indexed `execution_id`). Filter column names may arrive
    * backtick-quoted — compare after stripping. */
  private[sources] def execIdPath(collection: String): String =
    collection match {
      case "marks" => "provenance.analysis.execution_id"
      case _ => "analysis.execution_id"
    }

  private[sources] def colName(raw: String): String =
    raw.replace("`", "")

  /** True iff every char is ASCII. An ASCII bound compares identically
    * under Catalyst's UTF-8 byte order and the server's Java UTF-16
    * order against ANY string: at the first differing position either
    * both chars are ASCII (same comparison) or the other side is
    * non-ASCII — and a non-ASCII char is greater than every ASCII char
    * in BOTH encodings (UTF-16 unit >= 0x80 > ASCII; UTF-8 lead byte
    * >= 0xC2 > ASCII byte). A non-ASCII bound has no such guarantee
    * (UTF-16 surrogates vs UTF-8 4-byte sequences order differently),
    * so it stays residual and is NOT pushed. */
  private[sources] def isAscii(s: String): Boolean = s.forall(_ < 0x80)

  /** Split conjunctive filters into (pushable start_from,
    * pushable execution_ids, residual). Multiple `_id >=` bounds fold
    * to the max (all must hold); only STRING-typed all-ASCII values
    * push (see [[isAscii]] — ordering-dependent pushdown must agree
    * with the server's collation). */
  private[sources] def splitFilters(collection: String,
    filters: Array[Filter])
    : (Option[String], Option[Seq[String]], Array[Filter]) = {
    val execPath = execIdPath(collection)
    var startFrom: Option[String] = None
    var execIds: Option[Seq[String]] = None
    val residual = filters.filterNot { f =>
      f match {
        case GreaterThanOrEqual(c, v: String)
          if colName(c) == "_id" && isAscii(v) =>
          startFrom = Some(startFrom.fold(v)(prev =>
            if (v > prev) v else prev))
          true
        case In(c, vs) if colName(c) == execPath &&
          vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
          val ids = vs.collect { case s: String => s }.toSeq
          // two IN filters on the same column: intersect (conjunction)
          execIds = Some(execIds.fold(ids)(_.intersect(ids)))
          true
        case EqualTo(c, v: String) if colName(c) == execPath =>
          execIds = Some(execIds.fold(Seq(v))(_.intersect(Seq(v))))
          true
        case IsNotNull(c) if colName(c) == "_id" =>
          // _id is the store's primary key — trivially non-null, so
          // Catalyst's implicit null guard need not re-run post-scan
          true
        case _ => false
      }
    }
    (startFrom, execIds, residual)
  }
}

private[sources] class MarkSocketTable(props: Map[String, String])
  extends Table with SupportsRead {
  private val collection = props.getOrElse("collection", "marks")
  override def name(): String =
    s"marksocket($collection@${props.getOrElse("host", "?")}:${
      props.getOrElse("port", "?")})"
  override def schema(): StructType =
    MarkSocketDataSource.schemaFor(collection)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
    : ScanBuilder =
    new MarkSocketScanBuilder(props ++ options.asScala)
}

private[sources] class MarkSocketScanBuilder(props: Map[String, String])
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with SupportsPushDownFilters {

  private val collection = props.getOrElse("collection", "marks")
  private val fullSchema = MarkSocketDataSource.schemaFor(collection)
  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var startFrom: Option[String] = None
  private var execIds: Option[Seq[String]] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    // top-level pruning with OUR canonical nested types and field order
    required = StructType(fullSchema.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sf, ids, residual) =
      MarkSocketDataSource.splitFilters(collection, filters)
    startFrom = sf
    execIds = ids
    pushed = filters.diff(residual)
    residual // accepted predicates are exact server-side: not re-run
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = {
    def opt(k: String): String = props.getOrElse(k,
      throw new IllegalArgumentException(
        s"MarkSocketDataSource: missing option '$k'"))
    // Option-level pushdown, the streaming escape hatch: Catalyst
    // does not push filters into streaming DSv2 scans, so readStream
    // users state the server-side predicates as reader options (the
    // same pattern Kafka's startingOffsets takes). Batch filters,
    // when present, COMPOSE with them (conjunction = tightest bound /
    // intersection). Unlike pushed filters, the options are a direct
    // statement of the SERVER-side predicate (Java/UTF-16 ordering by
    // the wire contract) — nothing re-checks them engine-side.
    val optStartFrom = props.get("start.from")
    val optExecIds = props.get("execution.ids")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
    val sf = (startFrom, optStartFrom) match {
      case (Some(a), Some(b)) => Some(if (a > b) a else b)
      case (a, b) => a.orElse(b)
    }
    val ids = (execIds, optExecIds) match {
      case (Some(a), Some(b)) => Some(a.intersect(b))
      case (a, b) => a.orElse(b)
    }
    val nPartitions = props.getOrElse("partitions", "4").toInt
    val batchSize = props.getOrElse("batch.size", "256").toInt
    // a zero page size would getMore forever on an empty batch
    require(nPartitions >= 1, s"partitions must be >= 1: $nPartitions")
    require(batchSize >= 1, s"batch.size must be >= 1: $batchSize")
    new MarkSocketScan(opt("host"), opt("port").toInt, collection,
      nPartitions, batchSize, required, sf, ids)
  }
}

private[sources] class MarkSocketScan(host: String, port: Int,
  collection: String, nPartitions: Int, batchSize: Int,
  required: StructType, startFrom: Option[String],
  execIds: Option[Seq[String]])
  extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    val push = Seq(
      startFrom.map(s => s"start_from=$s"),
      execIds.map(ids => s"execution_ids=${ids.mkString(",")}"))
      .flatten.mkString(" ")
    s"graft-marksocket $collection@$host:$port $push".trim
  }

  override def planInputPartitions(): Array[InputPartition] =
    MarkSocketScan.idRanges(host, port, collection, nPartitions)
      .map { case (min, max) =>
        MarkRangePartition(host, port, collection, batchSize,
          min, max, startFrom, execIds.map(_.toArray)): InputPartition
      }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new MarkSocketReaderFactory(required)

  /** Streaming face: the reference's cursor micro-batch loop (T1) as
    * a real Structured Streaming source. Offsets are the collection's
    * monotonically-growing `_id` high-water mark — each micro-batch
    * reads the (last, latest] id window, split into the same
    * per-range paging partitions as the batch path, so replay after a
    * checkpoint restart re-reads exactly the same deterministic
    * window (T2's durable-checkpoint semantics for free). */
  override def toMicroBatchStream(checkpointLocation: String)
    : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new MarkSocketMicroBatchStream(host, port, collection, nPartitions,
      batchSize, required, startFrom, execIds)
}

private[sources] object MarkSocketScan {
  /** One driver-side splitVector call → the `[min, max)` id ranges it
    * bounds (None = open end). */
  private[sources] def idRanges(host: String, port: Int,
    collection: String, nPartitions: Int)
    : Seq[(Option[String], Option[String])] = {
    val bounds = MongoWire.querySplits(host, port, collection, nPartitions)
      .map(Option(_))
    (None +: bounds).zip(bounds :+ None)
  }
}

private[sources] case class MarkRangePartition(host: String, port: Int,
  collection: String, batchSize: Int, minId: Option[String],
  maxId: Option[String], startFrom: Option[String],
  execIds: Option[Array[String]],
  afterStart: Option[String] = None) extends InputPartition

/** `_id` high-water-mark offset for the streaming face. `lastId`
  * None = before everything. */
private[sources] case class MarkIdOffset(lastId: Option[String])
  extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    s"""{"last_id":${lastId.fold("null")(graft.Json.str)}}"""
}

private[sources] object MarkIdOffset {
  def fromJson(json: String): MarkIdOffset = {
    val node = new ObjectMapper().readTree(json).get("last_id")
    MarkIdOffset(
      if (node == null || node.isNull) None else Some(node.asText()))
  }
}

private[sources] class MarkSocketMicroBatchStream(host: String,
  port: Int, collection: String, nPartitions: Int, batchSize: Int,
  required: StructType, startFrom: Option[String],
  execIds: Option[Seq[String]])
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  /** Smallest string strictly greater than `s` — turns an inclusive
    * id bound into the filter's exclusive `$lt`. */
  private def successor(s: String): String = s + "\u0000"

  override def initialOffset(): Offset = MarkIdOffset(None)

  override def latestOffset(): Offset =
    MarkIdOffset(MongoWire.queryMaxId(host, port, collection))

  override def deserializeOffset(json: String): Offset =
    MarkIdOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset)
    : Array[InputPartition] = {
    val s = start.asInstanceOf[MarkIdOffset].lastId
    val e = end.asInstanceOf[MarkIdOffset].lastId
    if (e.isEmpty || s == e) return Array.empty
    val endEx = successor(e.get) // include the high-water id itself
    // same splitVector step as the batch path; each range clamps to
    // the (start, end] window via $gt / $lt in the filter document
    MarkSocketScan.idRanges(host, port, collection, nPartitions)
      .map { case (min, max) =>
        val maxEx = max.fold(endEx)(m => if (m < endEx) m else endEx)
        MarkRangePartition(host, port, collection, batchSize,
          min, Some(maxEx), startFrom, execIds.map(_.toArray),
          afterStart = s): InputPartition
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new MarkSocketReaderFactory(required)

  override def commit(end: Offset): Unit = () // server holds no cursor state
  override def stop(): Unit = ()
}

private[sources] class MarkSocketReaderFactory(required: StructType)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
    : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[MarkRangePartition]
    new MarkRangeReader(p, required)
  }
}

/** One id-range: a single connection draining one server-side cursor
  * in batch.size pages, each document converted straight to an
  * InternalRow of the (pruned) schema. */
private[sources] class MarkRangeReader(p: MarkRangePartition,
  required: StructType) extends PartitionReader[InternalRow] {

  // only the streaming window's lower bound (afterStart = the
  // previous batch's high-water mark) enters the filter: continuation
  // is the cursor itself. The pruned schema doubles as the find
  // PROJECTION (mongo includes _id regardless, like the real server).
  private val docs = new MongoWire.MongoDocCursor(p.host, p.port,
    p.collection, p.batchSize, MongoWire.filterDoc(p.minId, p.maxId,
      p.startFrom, p.execIds.map(_.toSeq), p.afterStart,
      MarkSocketDataSource.execIdPath(p.collection)),
    projection = required.fieldNames.toSeq)
  private var current: InternalRow = _

  override def next(): Boolean =
    if (docs.hasNext) {
      current = JsonRows.toRow(docs.next(), required)
      true
    } else false

  override def get(): InternalRow = current
  // Spark calls close() on normal completion AND on early termination
  // (limit, cancelled/failed task, stream stop) — the one hook that
  // guarantees the per-partition connection never leaks.
  override def close(): Unit = docs.close()
}

/** Minimal JSON → InternalRow conversion for the mark/analysis
  * schemas (strings, integral/floating numerics, booleans, structs,
  * arrays). PERMISSIVE-style: a missing field or type mismatch yields
  * null, matching what `MongoMarksPipeline.readMarks` produces for
  * these documents — `SocketPipelineE2ESpec`/`MarkSocketDataSourceSpec`
  * pin the parity. */
private[sources] object JsonRows {
  def toRow(node: JsonNode, schema: StructType): InternalRow =
    if (node == null || node.isNull || !node.isObject) null
    else InternalRow.fromSeq(schema.fields.toSeq.map(f =>
      value(node.get(f.name), f.dataType)))

  private def value(node: JsonNode, dt: DataType): Any =
    if (node == null || node.isNull) null
    else dt match {
      case StringType =>
        if (node.isTextual) UTF8String.fromString(node.asText)
        else if (node.isValueNode) UTF8String.fromString(node.asText)
        else null
      case LongType => if (node.canConvertToLong) node.asLong else null
      case IntegerType => if (node.canConvertToInt) node.asInt else null
      case DoubleType => if (node.isNumber) node.asDouble else null
      case FloatType => if (node.isNumber) node.floatValue else null
      case BooleanType => if (node.isBoolean) node.asBoolean else null
      case st: StructType => toRow(node, st)
      case ArrayType(et, _) =>
        if (!node.isArray) null
        else new GenericArrayData(
          node.elements().asScala.map(value(_, et)).toArray)
      case other => throw new IllegalArgumentException(
        s"JsonRows: unsupported type $other")
    }
}
