package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed region around a public call; `value` is what the call
  * returned. The QueryExecutions of its actions are those from index
  * `qeFrom` up to `qeTo` of the tracer's queue. */
final class Span[T](val id: Int, val name: String, val parent: Int, val startNs: Long,
    val qeFrom: Int) {
  var endNs = 0L
  var qeTo = 0
  var value: T = _
  def secs: Double = (endNs - startNs) / 1e9
}

/** Task metrics summed over the tasks of one span's jobs. */
final class TaskAgg {
  var jobs, tasks, cpuNs, gcMs, schedMs, fetchWaitMs, shuffleBytes, spillBytes, records = 0L
}

/** Spans recorded in the benchmark's own code, kept in memory. Each
  * span sets the job group to its id, so a listener attributes every
  * task to the innermost open span; Catalyst phase times come from the
  * QueryExecution of every action that completes inside a span. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span[_]]
  private var stack = List.empty[Span[_]]
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val aggs = new ConcurrentHashMap[Int, TaskAgg]()
  private val qes = new ConcurrentLinkedQueue[QueryExecution]()

  private def agg(id: Int): TaskAgg = aggs.computeIfAbsent(id, _ => new TaskAgg)
  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).flatMap(_.toIntOption)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach(id => agg(id).synchronized { agg(id).jobs += 1 })
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach(id => stageSpan.put(e.stageInfo.stageId, id))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (stageSpan.containsKey(e.stageId) && m != null) {
        val a = agg(stageSpan.get(e.stageId))
        val i = e.taskInfo
        val sched = i.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L)
        a.synchronized {
          a.tasks += 1
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.schedMs += math.max(0L, sched)
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          a.records += m.inputMetrics.recordsRead
        }
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = qes.add(qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def span[T](name: String)(f: => T): Span[T] = {
    drained()
    val from = qes.size
    val s = new Span[T](spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      System.nanoTime(), from)
    spans += s
    stack = s :: stack
    sc.setJobGroup(s.id.toString, name)
    try s.value = f
    finally {
      s.endNs = System.nanoTime()
      drained()
      s.qeTo = qes.size
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.id.toString, p.name)
        case None => sc.clearJobGroup()
      }
    }
    s
  }

  /** Forget the previous traced pass and reset the heap peaks. */
  def reset(): Unit = {
    spans.clear(); stack = Nil; aggs.clear(); qes.clear()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  }

  private def drained(): Unit = org.apache.spark.GraftListenerShim.flush(sc)

  def metrics(id: Int): TaskAgg = { drained(); agg(id) }

  def byName: Map[String, Seq[Span[_]]] = spans.toSeq.groupBy(_.name)

  /** Executor CPU, shuffle write and spill of the given spans. */
  def mongoTotals(ids: Seq[Int]): Map[String, Double] = {
    val ms = ids.map(metrics)
    Map("mongo.cpu_s" -> ms.map(_.cpuNs).sum / 1e9,
      "mongo.shuffle_mb" -> ms.map(_.shuffleBytes).sum / 1e6,
      "mongo.spill_mb" -> ms.map(_.spillBytes).sum / 1e6)
  }

  /** Job and task counts, GC, scheduler delay and Catalyst phase times
    * summed over the given spans, plus the old generation's peak. */
  def totals(ids: Seq[Int]): Map[String, Double] = {
    drained()
    val ms = ids.map(agg)
    val all = qes.asScala.toIndexedSeq
    val phases = ids.map(spans(_)).flatMap(s => all.slice(s.qeFrom, s.qeTo)).map(_.tracker.phases)
    val catalyst = Seq("analysis", "optimization", "planning").map { p =>
      s"catalyst.${p}_s" -> phases.map(_.get(p).map(_.durationMs).getOrElse(0L)).sum / 1e3
    }
    // the old generation: with a fixed-size heap the young pools fill
    // to capacity between collections whatever the program retains
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getName.matches(".*(Old|Tenured).*"))
      .map(_.getPeakUsage.getUsed).sum
    Map("spark.jobs" -> ms.map(_.jobs).sum.toDouble,
      "spark.tasks" -> ms.map(_.tasks).sum.toDouble,
      "spark.gc_s" -> ms.map(_.gcMs).sum / 1e3,
      "spark.sched_delay_s" -> ms.map(_.schedMs).sum / 1e3,
      "spark.fetch_wait_s" -> ms.map(_.fetchWaitMs).sum / 1e3,
      "spark.jvm.peak_heap_mb" -> heap / 1e6) ++ catalyst
  }

  def spansJson: String = {
    drained()
    Json.arr(spans.toSeq.map { s =>
      val a = agg(s.id)
      Json.obj(Seq("id" -> Json.num(s.id), "name" -> Json.str(s.name),
        "parent" -> Json.num(s.parent), "start_ns" -> Json.num(s.startNs),
        "end_ns" -> Json.num(s.endNs), "jobs" -> Json.num(a.jobs),
        "tasks" -> Json.num(a.tasks), "cpu_s" -> Json.num(a.cpuNs / 1e9),
        "records" -> Json.num(a.records)))
    })
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

/** Just enough JSON writing for the result file. */
final class Json {
  private val fields = mutable.ArrayBuffer.empty[(String, String)]
  def raw(k: String, v: String): Unit = fields += k -> v
  def num(k: String, v: Double): Unit = raw(k, Json.num(v))
  def str(k: String, v: String): Unit = raw(k, Json.str(v))
  def render: String = Json.obj(fields.toSeq)
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
