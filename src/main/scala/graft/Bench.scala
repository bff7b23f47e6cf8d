package graft
import org.apache.spark.sql.SparkSession

/** Headline benchmark: runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints one JSON line. Each query gets one
  * untimed warmup pass first — local[N] single-JVM timings are otherwise
  * dominated by JIT/codegen/classload warmup of whichever query happens
  * to run first, not by the plan being measured.
  *
  * Every pass is wall-budgeted (`Budget.run`): a query that breaches
  * reports -1 and the suite moves on, so one pathological plan can
  * never starve the whole harness (round-7 failure mode). A warmup
  * breach also skips that query's timed passes — rerunning a known-DNF
  * query twice more would spend 3x the budget for zero signal.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // session settings + measured rationale: GraftSession.settings
    // (one table for Bench/Verify/probes; r9 A/B history there)
    val spark = GraftSession.harness(GraftSession.Cpus)
    // Per-query shuffle-write tally (round-11 ask: make the FS-regime
    // sensitivity story empirical, not narrative) and GroupedTopKExec
    // SQLMetrics (round-12 ask: record whether production queries ever
    // trip the operator's bounded-memory fallbacks — expected 0 at
    // sf0.1, which is headroom, not absence, because the tasks counter
    // witnesses every task the operator ran). Attribution = tally
    // delta around the last clean timed pass.
    import graft.plans.GroupedTopK.{CapFlushesMetricName,
      SortFallbacksMetricName, TasksMetricName}
    val tally = new TaskTally(spark.sparkContext,
      Set(TasksMetricName, CapFlushesMetricName, SortFallbacksMetricName))
    val known = SparkEntry.queries.keySet
    val names = if (args.nonEmpty) {
      args.filterNot(known).foreach(n =>
        System.err.println(s"[bench] unknown query: $n (skipped)"))
      args.toSeq.filter(known)
    } else known.toSeq.sorted
    // first pass pays codegen + classload + cache builds → 2x budget
    val warmupBudget = Budget.DefaultSec * 2
    // warmup: one full pass (count) per query, untimed. Caches that
    // operators persist internally (TfIdf, SpanDedup, d2…) are
    // released after every pass: a timed pass must pay its own cache
    // build, and 100+ queries of accumulated caches would otherwise
    // squeeze execution memory for the rest of the run.
    def onePass(name: String, budgetSec: Int): Budget.Result[Long] =
      try Budget.run(spark, name, budgetSec) {
        SparkEntry.queries(name)(spark, sfDir).count()
      } finally graft.operators.Broadcasting.releaseAll()
    // min of two timed passes: local[N] run-to-run variance is ±20%,
    // and min-of-k reports the plan's cost rather than scheduler
    // noise. A failing/timed-out query reports -1, never a partial time.
    val windows = scala.collection.mutable.LinkedHashMap.empty[String, TaskTally.Snapshot]
    // a pass that times out (or fails) can leave a straggler task
    // alive — Budget cancels the job group, but a task stuck in
    // non-interrupt-polling code finishes LATER and posts its
    // task-end counters into whichever snapshot window is open then.
    // The window immediately after a timeout therefore records no
    // attribution (absent beats wrong; any clean pass supplies the
    // plan-determined volume). One-window discard — a straggler
    // outliving a whole further pass is possible but unobserved.
    var tainted = false
    val results = names.map { name =>
      onePass(name, warmupBudget) match {
        case Budget.TimedOut =>
          System.err.println(s"[bench] $name TIMEOUT in warmup (${warmupBudget}s)")
          tainted = true
          name -> -1.0
        case Budget.Failed(e) =>
          System.err.println(s"[bench] $name FAILED in warmup: $e")
          tainted = true
          name -> -1.0
        case Budget.Done(_, _) =>
          val times = (1 to 2).flatMap { _ =>
            val before = tally.read()
            onePass(name, Budget.DefaultSec) match {
              case Budget.Done(_, sec) =>
                // last successful pass wins: shuffle volume is
                // plan-determined, identical across passes
                if (!tainted) windows(name) = tally.read() - before
                tainted = false
                Some(sec)
              case Budget.TimedOut =>
                System.err.println(s"[bench] $name TIMEOUT (${Budget.DefaultSec}s)")
                tainted = true
                None
              case Budget.Failed(e) =>
                System.err.println(s"[bench] $name FAILED: $e")
                tainted = true
                None
            }
          }
          name -> (if (times.nonEmpty) times.min else -1.0)
      }
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val sh = results.flatMap { case (k, _) =>
      windows.get(k).map { w =>
        // locale-independent 2dp: the f interpolator uses the JVM
        // default locale, and a comma-decimal locale would emit
        // "mb":1,23 — breaking the driver's JSON parse of this line
        val mb2 = math.round(w.shuffleBytes / 1048576.0 * 100) / 100.0
        s""""$k":{"files":${2 * w.shuffleTasks},"mb":$mb2}"""
      }
    }.mkString("{", ",", "}")
    // only queries whose last clean timed pass ran the operator
    val gtk = results.flatMap { case (k, _) =>
      windows.get(k).map(_.accumulables)
        .filter(_(TasksMetricName) > 0).map { acc =>
          s""""$k":{"tasks":${acc(TasksMetricName)},""" +
            s""""capFlushes":${acc(CapFlushesMetricName)},""" +
            s""""sortFallbacks":${acc(SortFallbacksMetricName)}}"""
        }
    }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"query_shuffle":$sh,"grouped_topk":$gtk,"sf":"$sfDir"}""")
    // Tail-survivable per-query seconds (round-12 ask #1): the driver
    // archives only the LAST 2000 chars of stdout, and the full line
    // above is ~3× that, so per-query times printed inside it are
    // truncated away (the r11 artifact lost exactly this field). This
    // second, compact line prints LAST: keys shortened to their
    // unique enumeration prefix ("x10_tfidf_top" → "x10" — prefixes
    // are unique across the whole suite by construction), values as
    // INTEGER centiseconds ("queries_cs" — 1.63 s prints as 163;
    // DNF's -1.0 as -100), which is 2-3 chars shorter per query than
    // a 2-decimal float and held 0.01 s resolution at 182 queries
    // where the decimal form had already overflowed to 0.1 s.
    def compactLine(unit: String, mult: Int): String = results.map {
      case (k, v) =>
        s""""${k.takeWhile(_ != '_')}":${math.round(v * mult)}"""
    }.mkString(s"""{"queries_$unit":{""", ",", "}}")
    // stay under the tail window with headroom as the suite grows:
    // drop to integer deciseconds before overflowing (0.1 s
    // resolution still adjudicates the regressions the gate cares
    // about)
    val cs = compactLine("cs", 100)
    println(if (cs.length <= 1900) cs else compactLine("ds", 10))
    spark.stop()
  }
}
