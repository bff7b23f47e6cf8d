package graft

import org.apache.spark.sql.SparkSession
import java.util.concurrent.CountDownLatch

/** Per-query wall-clock budget for the harness mains (Bench/Verify).
  *
  * Round 7 lesson: one pathological query (an eager-action pipeline
  * taking minutes per pass) starved the WHOLE harness — the driver's
  * global timeout killed the run and the round shipped empty
  * correctness/bench artifacts. A per-query budget converts "one slow
  * query kills the round" into "one slow query reports timeout and
  * the other 100+ still produce signal".
  *
  * Cancellation is two-pronged, because a breach can be stuck in two
  * different places:
  *  - Spark jobs → `cancelJobGroupAndFutureJobs` (running tasks are
  *    interrupted — the group is set with interruptOnCancel = true —
  *    AND any job the abandoned thread submits later dies on arrival;
  *    plain cancelJobGroup let zombie threads keep launching jobs and
  *    their shuffles starved every later query in the round-8 shakeout);
  *  - driver-side planning/codegen (no job yet) → thread interrupt.
  * The worker thread is a daemon: if it ignores both (Janino mid-
  * compile does not poll interrupts), it is abandoned — it burns one
  * core at worst and cannot block JVM exit.
  */
object Budget {

  /** Outcome of a budgeted run. */
  sealed trait Result[+A]
  final case class Done[A](value: A, sec: Double) extends Result[A]
  final case class Failed(error: String) extends Result[Nothing]
  case object TimedOut extends Result[Nothing]

  /** Default per-query budget, overridable for the whole harness run;
    * under 1 s every query would time out before it could finish. */
  val DefaultSec: Int = budgetSec(sys.env.get("SPARK_GRAFT_QUERY_BUDGET_SEC"))

  private[graft] def budgetSec(raw: Option[String]): Int = raw.fold(60)(s =>
    s.trim.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_QUERY_BUDGET_SEC must be an integer >= 1, got '$s'")))

  /** Run `action` on a budgeted daemon thread; cancel + abandon on
    * breach. The session stays usable afterwards either way. */
  def run[A](spark: SparkSession, name: String, budgetSec: Int = DefaultSec)
    (action: => A): Result[A] = {
    val group = s"budget-$name-${System.nanoTime()}"
    val done = new CountDownLatch(1)
    @volatile var result: Result[A] = TimedOut
    val t0 = System.nanoTime()
    val t = new Thread(() => {
      try {
        spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
        val v = action
        result = Done(v, (System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          // an interrupt-induced failure after the deadline is a
          // timeout, not a query bug — don't misreport it as one
          if ((System.nanoTime() - t0) / 1e9 >= budgetSec) result = TimedOut
          else result = Failed(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      } finally {
        try spark.sparkContext.clearJobGroup() catch { case _: Throwable => () }
        done.countDown()
      }
    }, s"graft-budget-$name")
    t.setDaemon(true)
    t.start()
    val finished = done.await(budgetSec.toLong, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) {
      try spark.sparkContext.cancelJobGroupAndFutureJobs(group)
      catch { case _: Throwable => () }
      t.interrupt()
      // brief grace for the cancel to unwind the thread; then abandon
      done.await(5, java.util.concurrent.TimeUnit.SECONDS)
    }
    result
  }
}
