package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** The one task listener of the harness tools (Bench, Probe,
  * EtlBench); it registers itself on `sc`. Its figures are cumulative
  * from construction: a caller attributes them to a window by diffing
  * two reads. `read` drains the listener bus first, so a read taken
  * after an action sees every task of that action. */
final class TaskTally(sc: SparkContext, accumulables: Set[String] = Set.empty)
  extends SparkListener {

  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private var shuffleTasks, shuffleBytes = 0L
  private val accSums = mutable.HashMap.empty[String, Long]
  private val jobStarts = mutable.HashMap.empty[Int, Long]
  private val jobMs = mutable.ArrayBuffer.empty[(Int, Long)]
  sc.addSparkListener(this)

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    stageTaskMs.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty)
      .addOne(t.taskInfo.duration)
    for (a <- t.taskInfo.accumulables; n <- a.name if accumulables(n);
      u <- a.update) accSums(n) = accSums.getOrElse(n, 0L) + u.toString.toLong
    // taskMetrics is null for some failed tasks
    val written =
      Option(t.taskMetrics).fold(0L)(_.shuffleWriteMetrics.bytesWritten)
    if (written > 0) { shuffleTasks += 1; shuffleBytes += written }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    jobStarts(j.jobId) = System.nanoTime()
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(j.jobId).foreach { s =>
      jobMs += j.jobId -> (System.nanoTime() - s) / 1000000L
    }
  }

  /** Everything tallied so far, after draining the listener bus. */
  def read(): TaskTally.Snapshot = {
    org.apache.spark.GraftListenerShim.flush(sc)
    synchronized {
      TaskTally.Snapshot(stageTaskMs.view.mapValues(_.toVector).toMap,
        shuffleTasks, shuffleBytes, accSums.toMap.withDefaultValue(0L),
        jobMs.toVector)
    }
  }
}

object TaskTally {

  /** One `read`: the task durations (ms) of each stage id; the tasks
    * that wrote shuffle output (sort-based shuffle writes 1 data + 1
    * index file each) and their bytes; the sums of the requested
    * accumulables (0 for a name no task reported); and (job id, wall
    * ms) of every finished job, in job-end order. */
  final case class Snapshot(stageTaskMs: Map[Int, Vector[Long]],
    shuffleTasks: Long, shuffleBytes: Long, accumulables: Map[String, Long],
    jobMs: Vector[(Int, Long)]) {

    /** The figures of the window since `before`, an earlier read. */
    def -(before: Snapshot): Snapshot = Snapshot(
      stageTaskMs.map { case (s, ds) =>
        s -> ds.drop(before.stageTaskMs.get(s).fold(0)(_.length))
      }.filter(_._2.nonEmpty),
      shuffleTasks - before.shuffleTasks,
      shuffleBytes - before.shuffleBytes,
      accumulables.map { case (n, v) => n -> (v - before.accumulables(n)) }
        .withDefaultValue(0L),
      jobMs.drop(before.jobMs.length))
  }
}
