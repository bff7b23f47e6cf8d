package perfbench

import graft.{GraftSession, SparkEntry}
import graft.incremental.BatchLedger
import graft.operators.Broadcasting
import graft.pipelines.{HashRepairJob, MongoMarksPipeline, SegCsvPipeline, TtlFileSink}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.util.zip.GZIPInputStream
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** JVM side of the benchmark: drives the library through its public
  * entry points on `GraftSession.harness` at local[nproc].
  *
  * Args are key=value: workload, seconds, trace, in (generated inputs),
  * work (scratch for outputs), result (JSON written here) and the
  * generator's expectations (expect_*), the warm-up corpus (warm_in)
  * and its expectations (warm_expect_*); with trace=1 also `tables`, the
  * query tables. The warm-up passes run untimed; timed passes
  * then repeat until `seconds` have elapsed and at least two have run,
  * each into a fresh output (and ledger) directory
  * that is checked and deleted. Each timed pass records the mean time of
  * the calibration kernel run just before and just after it.
  * With trace=1 a traced pass follows each untraced one: spans around
  * each public call, task metrics attributed to spans through job
  * groups, Catalyst phases from each action's QueryExecution; both are
  * summed over the spans that make up the pass. On a workload whose
  * rungs add up to the pass, the traced pass must come within
  * `RungTolerance` of the untraced wall time. */
object Bench {

  /** How far the traced pass of a workload whose rungs add up to the pass
    * may stray from the untraced passes. Passes of one run differ by ~6.5%
    * (standard deviation) on a shared 4-core machine, so the ratio of one
    * run's two traced passes to its three untraced ones differs by ~7%
    * from run to run: a 10% gate would fail many correct runs, while 25%
    * still catches a top rung that does other work than the pass. The
    * median ratio over runs is the figure to hold within 10%. */
  val RungTolerance = 0.25

  /** Untimed passes before the timed ones, on the warm-up corpus and then
    * on the workload's own: the JIT keeps making passes faster for many
    * passes after the first. Small passes load and compile the same code
    * as full ones in less time, the cold first pass above all. */
  val SmallWarmups = 3
  val Warmups = 2

  val workloads: Map[String, Ctx => Workload] = Map(
    "marks_ttl" -> (new MarksTtl(_)),
    "seg_patches" -> (new SegPatches(_)))

  def parse(args: Array[String]): Map[String, String] =
    args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val sessionT0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.harness(cores.toString)
    val sessionS = (System.currentTimeMillis - sessionT0) / 1e3
    val ctx = Ctx(spark, Paths.get(a("in")), Paths.get(a("work")), a)
    val w = workloads(a("workload"))(ctx)
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val res = new Json
    res.num("session_s", sessionS)
    // the warehouse dir is a location under the working directory, not
    // a setting; leaving it out keeps the record comparable across checkouts
    res.raw("spark_sql_conf", Json.obj(spark.conf.getAll.toSeq
      .filter(kv => kv._1.startsWith("spark.sql.") && kv._1 != "spark.sql.warehouse.dir").sortBy(_._1)
      .map { case (k, v) => k -> Json.str(v) }))

    // the warm-up corpus: the same workload on the small inputs, with
    // their own expectations (warm_expect_*) and no side work
    val small = workloads(a("workload"))(ctx.copy(in = Paths.get(a("warm_in")),
      args = a.filter { case (k, _) => !k.startsWith("expect_") && k != "tables" } ++
        a.collect { case (k, v) if k.startsWith("warm_expect_") => k.stripPrefix("warm_") -> v }))

    var passNo = 0
    // a timed pass is calibrated just before and just after; the figure
    // after one timed pass serves as the one before the next
    var lastCal: Option[Double] = None
    def onePass(w: Workload = w, timed: Boolean = false): Pass = {
      val out = ctx.work.resolve(s"pass$passNo"); passNo += 1
      val calBefore = if (timed) lastCal.getOrElse(Calibration.measure(cores)) else 0.0
      val cpu0 = processCpu()
      val t0 = System.nanoTime()
      val extra = w.pass(out)
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = processCpu() - cpu0
      val p = w.check(out, extra)
      delete(out)
      lastCal = if (timed) Some(Calibration.measure(cores)) else None
      p.copy(wall = wall, cpu = cpu, cal = lastCal.fold(0.0)(c => (calBefore + c) / 2))
    }

    // the cold first pass and the two after it run on the warm-up
    // corpus; a traced run holds its traced passes to the untraced ones, so it
    // warms up longer, until passes have nearly stopped getting faster
    val warmSmall = Seq.fill(SmallWarmups)(onePass(small))
    val warm = Seq.fill(if (trace) Warmups + 1 else Warmups)(onePass())
    res.num("warmup_s", (warm ++ warmSmall).map(_.wall).sum)
    res.num("setup_s", (System.currentTimeMillis - sessionT0) / 1e3)
    // with trace=1 untraced passes alternate with traced ones and one
    // more untraced pass closes the loop, so every traced pass sits
    // between two untraced ones and both sides of the tracing overhead
    // see the same JIT warmth
    val tr = if (trace) Some(new Tracer(spark)) else None
    val passes = mutable.ArrayBuffer.empty[Pass]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    // each checked pass is one attempted operation; a pass with any
    // error is one failed operation
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted, failed = 0
    def record(errs: Seq[String]): Unit = {
      attempted += 1
      if (errs.nonEmpty) { failed += 1; errors ++= errs }
    }
    (warm ++ warmSmall).foreach(p => record(p.errors))
    val loopT0 = System.nanoTime()
    while (passes.size < 2 || (System.nanoTime() - loopT0) / 1e9 < seconds) {
      passes += onePass(timed = true)
      tr.foreach { t =>
        lastCal = None
        val out = ctx.work.resolve(s"pass$passNo"); passNo += 1
        t.reset()
        val r = w.traced(out, t)
        val p = w.check(out, r.extra)
        delete(out)
        record(p.errors ++
          (if (p.digest != warm.head.digest) Seq("traced output differs from the untraced") else Nil))
        layers += (r.layers ++ w.layerCounts(p) ++ t.totals(r.top.map(_.id)) +
          ("trace.wall_s" -> r.top.map(_.secs).sum))
      }
    }
    if (trace) passes += onePass(timed = true)
    passes.foreach(p => record(p.errors))
    // side work runs last, so that it leaves the passes' JIT state alone
    val side = tr.map { t =>
      val (m, errs) = w.sideWork(t)
      record(errs)
      m
    }
    val digests = (warm ++ passes).map(_.digest).distinct
    record(if (digests.size > 1) Seq(s"output differs between passes: ${digests.mkString(",")}") else Nil)
    res.raw("passes", Json.arr(passes.toSeq.map(_.json)))
    res.raw("warmup", Json.arr(warm.map(_.json)))
    res.raw("warmup_small", Json.arr(warmSmall.map(_.json)))
    res.raw("digests", Json.obj((w.sideDigests + (a("workload") -> warm.head.digest))
      .toSeq.sorted.map { case (k, v) => k -> Json.str(v) }))

    tr.foreach { t =>
      val untraced = median(passes.toSeq.map(_.wall))
      val merged = layers.flatMap(_.keys).distinct.map { k =>
        k -> median(layers.toSeq.map(_.getOrElse(k, 0.0)))
      }.toMap ++ side.get
      val tracedWall = merged("trace.wall_s")
      val ratio = tracedWall / untraced
      // the rung self times add up to the traced wall by construction
      if (w.rungsAddUp)
        record(if (math.abs(ratio - 1) <= RungTolerance) Nil else Seq(f"the rung self times add up " +
          f"to $tracedWall%.3f s, $ratio%.3f of the untraced wall time $untraced%.3f s " +
          f"(allowed 1 +/- $RungTolerance)"))
      val withOverhead = merged - "trace.wall_s" ++ Map(
        "trace.overhead_s" -> (tracedWall - untraced),
        "trace.rung_sum_ratio" -> ratio)
      res.raw("layers", Json.obj(withOverhead.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))
      res.num("traced_passes", layers.size)
      res.raw("spans", t.spansJson)
      t.close()
    }
    res.num("attempted", attempted)
    res.num("failed", failed)
    res.raw("errors", Json.arr(errors.toSeq.map(Json.str)))
    Files.write(Paths.get(a("result")), res.render.getBytes(UTF_8))
    spark.stop()
  }

  private def processCpu(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator.asScala.toSeq.sortBy(-_.getNameCount)
      all.foreach(Files.delete)
    }
}

final case class Ctx(spark: SparkSession, in: Path, work: Path, args: Map[String, String]) {
  def expect(k: String): Long = args(s"expect_$k").toLong
}

/** What a traced pass returns: per-layer figures, the spans that
  * together do the work of `pass` and what the check needs (as `pass`
  * returns it). */
final case class Traced(layers: Map[String, Double], top: Seq[Span[_]],
  extra: Map[String, Long] = Map.empty)

/** One pass's checked outcome: `items` is the workload's input unit
  * (marks, nuclei), `units` its output unit (files, patches). */
final case class Pass(wall: Double, cpu: Double, cal: Double, items: Long, units: Long,
  outBytes: Long, rawBytes: Long, tmpLeft: Long, digest: String,
  errors: Seq[String]) {
  def json: String = Json.obj(Seq(
    "wall_s" -> Json.num(wall), "cpu_s" -> Json.num(cpu), "cal_s" -> Json.num(cal),
    "items" -> Json.num(items), "units" -> Json.num(units),
    "out_bytes" -> Json.num(outBytes), "raw_bytes" -> Json.num(rawBytes),
    "tmp_left" -> Json.num(tmpLeft), "errors" -> Json.num(errors.size)))
}

abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  /** Runs the workload once into `out`; returns what the check needs
    * from the run itself (e.g. the resume pass's pending count). */
  def pass(out: Path): Map[String, Long]
  def check(out: Path, extra: Map[String, Long]): Pass
  /** The same work as `pass`, with spans around each public call and
    * rungs forced by noop writes. */
  def traced(out: Path, tr: Tracer): Traced
  /** Side work of traced runs, done once after the last pass: per-layer
    * figures and errors. */
  def sideWork(tr: Tracer): (Map[String, Double], Seq[String]) = (Map.empty, Nil)
  /** Digests of side work's results, by name, for the recorded seed. */
  def sideDigests: Map[String, String] = Map.empty
  /** Whether the traced pass's rung self times are meant to add up to
    * the untraced pass, so that a traced wall time off by more than
    * `Bench.RungTolerance` is an error rather than tracing overhead. */
  def rungsAddUp: Boolean = false
  def layerCounts(p: Pass): Map[String, Double] = Map.empty

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** The output-tree census the ETL workloads share: every file gunzips,
  * no `*.tmp-*` file is left, and a digest of the decompressed tree. */
object Tree {
  final case class Census(files: Int, tmp: Int, gzBytes: Long, rawBytes: Long,
    digest: String, texts: Seq[(String, String)], errors: Seq[String])

  def census(root: Path): Census = {
    val files = if (Files.exists(root))
      Files.walk(root).iterator.asScala.filter(Files.isRegularFile(_)).toSeq
        .map(p => root.relativize(p).toString -> p).sortBy(_._1)
    else Seq.empty
    val tmp = files.count(_._1.matches(".*\\.tmp-[0-9a-f]{8}$"))
    val errors = mutable.ArrayBuffer.empty[String]
    if (tmp > 0) errors += s"$tmp *.tmp-* files left under $root"
    val md = MessageDigest.getInstance("SHA-256")
    var gz, raw = 0L
    val texts = files.filterNot(_._1.matches(".*\\.tmp-[0-9a-f]{8}$")).flatMap { case (rel, p) =>
      gz += Files.size(p)
      try {
        val in = new GZIPInputStream(Files.newInputStream(p))
        val bytes = try in.readAllBytes() finally in.close()
        raw += bytes.length
        md.update(rel.getBytes(UTF_8)); md.update(0.toByte); md.update(bytes)
        Some(rel -> new String(bytes, UTF_8))
      } catch {
        case e: java.io.IOException => errors += s"$rel does not gunzip: $e"; None
      }
    }
    Census(files.size, tmp, gz, raw, hex(md.digest()), texts, errors.toSeq)
  }

  def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  def occurrences(s: String, sub: String): Int = {
    var n, i = 0
    while ({ i = s.indexOf(sub, i); i >= 0 }) { n += 1; i += sub.length }
    n
  }
}

/** Mongo marks → batched `.ttl.gz`, one single pass. */
class MarksTtl(c: Ctx) extends Workload(c) {
  val in: Path = c.in
  def marks: DataFrame = MongoMarksPipeline.readMarks(spark, s"$in/marks")
  def analyses: DataFrame = MongoMarksPipeline.readAnalyses(spark, s"$in/analyses.json")
  def hashes: DataFrame = HashRepairJob.loadHashJson(spark, s"$in/slide_hashes.json")
  private val queries = c.args.get("tables").map(new Queries(spark, _, c.work))

  override def sideDigests: Map[String, String] = queries.map("queries" -> _.digest).toMap

  def pass(out: Path): Map[String, Long] = {
    val docs = MongoMarksPipeline.documents(marks, analyses, hashes)
    TtlFileSink.write(docs.select("rel_path", "ttl"), out.toString)
    Broadcasting.releaseAll()
    Map.empty
  }

  def check(out: Path, extra: Map[String, Long]): Pass = {
    val t = Tree.census(out)
    val emitted = t.texts.map(x => Tree.occurrences(x._2, "hal:markId ")).sum.toLong
    val errors = t.errors ++ Seq(
      (t.files == c.expect("files")) ->
        s"${t.files} files, expected ${c.expect("files")} (one per distinct rel_path)",
      (emitted == c.expect("emitted")) ->
        s"$emitted hal:markId in the tree, expected ${c.expect("emitted")}"
    ).collect { case (false, msg) => msg }
    Pass(0, 0, 0, c.expect("marks"), t.files, t.gzBytes, t.rawBytes, t.tmp, t.digest, errors)
  }

  override def layerCounts(p: Pass): Map[String, Double] = Map(
    "sink.files" -> p.units, "sink.gz_mb" -> p.outBytes / 1e6,
    "sink.raw_mb" -> p.rawBytes / 1e6, "sink.tmp_left" -> p.tmpLeft,
    "mongo.emitted_ratio" -> c.expect("emitted").toDouble / c.expect("marks"))

  override def rungsAddUp: Boolean = true

  /** The rung ladder read → markSide → documents → sink: each rung is
    * forced separately, and its self time is its time minus the
    * previous rung's, so the self times add up to the top rung, the
    * whole pass. */
  def traced(out: Path, tr: Tracer): Traced = {
    val read = tr.span("rung.read") {
      noop(marks); noop(analyses)
    }
    val side = tr.span("rung.markSide") {
      noop(MongoMarksPipeline.markSide(marks,
        MongoMarksPipeline.analysisSide(analyses, hashes)))
      Broadcasting.releaseAll()
    }
    val docs = tr.span("rung.documents") {
      noop(MongoMarksPipeline.documents(marks, analyses, hashes))
      Broadcasting.releaseAll()
    }
    val top = tr.span("rung.sink") { pass(out) }
    Traced(Map("mongo.read_s" -> read.secs,
      "mongo.markSide_s" -> (side.secs - read.secs),
      "mongo.documents_s" -> (docs.secs - side.secs),
      "sink.write_s" -> (top.secs - docs.secs)) ++ tr.mongoTotals(Seq(top.id)), Seq(top))
  }

  /** The corpus through BatchLedger; then the queries: a cold collect,
    * each query in a span, and a second collect that must match. */
  override def sideWork(tr: Tracer): (Map[String, Double], Seq[String]) = {
    val (ledger, errs) = checkpoint(c.work.resolve("ledger"), tr)
    queries.fold((ledger, errs)) { q =>
      val cold = q.check()
      val m = q.traced(tr)
      (ledger ++ m, errs ++ cold ++ q.check())
    }
  }

  /** The reference's should_process checkpoint on this corpus: each wave
    * anti-joins the marks against the ledger and records its slice of
    * executions (the wave's deterministic slice, as BatchLedger.record
    * requires); the second wave folds the first. */
  private def checkpoint(dir: Path, tr: Tracer): (Map[String, Double], Seq[String]) = {
    val ledger = dir.toString
    val work = marks.withColumn("_exec", col("provenance.analysis.execution_id"))
    def wave(c: org.apache.spark.sql.Column) = pmod(xxhash64(c), lit(2L))
    val pending = (0 to 1).map { w =>
      val p = tr.span("ledger.pending") {
        BatchLedger.pending(work.filter(wave(col("_exec")) <= w), ledger, "_exec").count()
      }
      tr.span("ledger.record") {
        BatchLedger.record(analyses.select(col("analysis.execution_id"))
          .filter(wave(col("execution_id")) === w), ledger, w, runId = s"wave$w")
      }
      p
    }
    val fold = tr.span("ledger.fold") { BatchLedger.fold(spark, ledger, 0L) }
    val resume = tr.span("ledger.pending") { BatchLedger.pending(work, ledger, "_exec").count() }
    val processed = pending.map(_.value).sum
    val dirs = Option(dir.toFile.list()).map(_.length).getOrElse(0)
    Bench.delete(dir)
    val errs = if (resume.value == 0 && processed == c.expect("marks")) Nil
      else Seq(s"checkpoint: ${resume.value} pending on resume, " +
        s"$processed of ${c.expect("marks")} marks processed")
    val spans = pending :+ resume
    (Map("ledger.pending_s" -> spans.map(_.secs).sum,
      "ledger.record_s" -> tr.byName("ledger.record").map(_.secs).sum,
      "ledger.fold_s" -> fold.secs,
      "ledger.dirs_end" -> dirs.toDouble,
      "ledger.scan_ratio" -> spans.map(s => tr.metrics(s.id).records).sum.toDouble / processed),
      errs)
  }
}

/** Segmentation CSV tree → one `.ttl.gz` per patch, then a hash repair
  * of that tree into a new snapshot. */
class SegPatches(c: Ctx) extends Workload(c) {
  val Timestamp = "2024-01-01T00:00:00"
  private val repairHashes: Seq[String] =
    "\"hash\":\\s*\"([0-9A-Fa-f]+)\"".r
      .findAllMatchIn(new String(Files.readAllBytes(c.in.resolve("slide_hashes.json")), UTF_8))
      .map(_.group(1).toLowerCase).toSeq

  def pass(out: Path): Map[String, Long] = {
    val docs = SegCsvPipeline.run(spark, s"${c.in}/seg", Timestamp)
    TtlFileSink.write(docs.select("rel_path", "ttl"), s"$out/seg")
    val n = HashRepairJob.run(spark, s"$out/seg", s"${c.in}/slide_hashes.json", s"$out/repaired")
    Map("repaired" -> n)
  }

  def check(out: Path, extra: Map[String, Long]): Pass = {
    val seg = Tree.census(out.resolve("seg"))
    val rep = Tree.census(out.resolve("repaired"))
    val nuclei = seg.texts.map(x => Tree.occurrences(x._2, "rdfs:member ")).sum.toLong
    val repNuclei = rep.texts.map(x => Tree.occurrences(x._2, "rdfs:member ")).sum.toLong
    val carrying = rep.texts.count(x => repairHashes.exists(h => x._2.contains(s"<urn:sha256:$h>")))
    val files = c.expect("files")
    val errors = seg.errors ++ rep.errors ++
      Seq(
        (seg.files == files) -> s"seg tree has ${seg.files} files, expected $files",
        (rep.files == files) -> s"repaired tree has ${rep.files} files, expected $files",
        (nuclei == c.expect("nuclei")) -> s"$nuclei nuclei in the seg tree, expected ${c.expect("nuclei")}",
        (repNuclei == nuclei) -> s"repair changed the nucleus count: $repNuclei vs $nuclei",
        (extra("repaired") == c.expect("repaired")) -> s"HashRepairJob repaired ${extra("repaired")}, expected ${c.expect("repaired")}",
        (carrying == c.expect("repaired")) -> s"$carrying repaired files carry a slide_hashes.json hash, expected ${c.expect("repaired")}"
      ).collect { case (false, msg) => msg }
    val md = MessageDigest.getInstance("SHA-256")
    md.update(seg.digest.getBytes(UTF_8)); md.update(rep.digest.getBytes(UTF_8))
    Pass(0, 0, 0, nuclei, files, seg.gzBytes + rep.gzBytes, seg.rawBytes + rep.rawBytes,
      seg.tmp + rep.tmp, Tree.hex(md.digest()), errors)
  }

  override def layerCounts(p: Pass): Map[String, Double] = Map(
    "sink.files" -> 2.0 * p.units, "sink.gz_mb" -> p.outBytes / 1e6,
    "sink.raw_mb" -> p.rawBytes / 1e6, "sink.tmp_left" -> p.tmpLeft,
    "repair.repaired_ratio" -> c.expect("repaired").toDouble / p.units)

  /** Two ladders over one listing each: list (the glob listing happens
    * in the read call) → scan → documents → sink for the seg tree, then
    * the repair job's steps as HashRepairJob.run calls them (its count
    * and its write each rescan the tree). Self times add up to the
    * traced pass; repair.scan_s is the rescan the two actions share. */
  def traced(out: Path, tr: Tracer): Traced = {
    val list = tr.span("seg.list") { SegCsvPipeline.read(spark, s"${c.in}/seg") }
    val scan = tr.span("seg.scan") { noop(list.value) }
    val docs = tr.span("seg.documents") { noop(SegCsvPipeline.documents(list.value, Timestamp)) }
    val write = tr.span("seg.write") {
      TtlFileSink.write(SegCsvPipeline.documents(list.value, Timestamp)
        .select("rel_path", "ttl"), s"$out/seg")
    }
    val rList = tr.span("repair.list") { HashRepairJob.readTtlTree(spark, s"$out/seg") }
    val rScan = tr.span("repair.scan") { noop(rList.value) }
    val repaired = HashRepairJob.removeLoincPrefix(HashRepairJob.repair(rList.value,
      HashRepairJob.loadHashJson(spark, s"${c.in}/slide_hashes.json")))
    val rCount = tr.span("repair.count") { repaired.filter(col("repaired")).count() }
    val rWrite = tr.span("repair.write") {
      TtlFileSink.write(repaired.select("rel_path", "ttl"), s"$out/repaired")
      Broadcasting.releaseAll()
    }
    Traced(Map("seg.list_s" -> list.secs, "seg.scan_s" -> scan.secs,
      "seg.documents_s" -> (docs.secs - scan.secs),
      "seg.write_s" -> (write.secs - docs.secs),
      "repair.list_s" -> rList.secs, "repair.scan_s" -> rScan.secs,
      "repair.count_s" -> rCount.secs, "repair.write_s" -> rWrite.secs,
      "sink.write_s" -> (write.secs - docs.secs + rWrite.secs)),
      Seq(list, write, rList, rCount, rWrite), Map("repaired" -> rCount.value))
  }
}

/** GeoSPARQL-facing queries over TPC-H-shaped tables, each materialized
  * by a noop write: the geometry functions (g2 area/perimeter/validity,
  * g5 denormalized WKT, g7 grid point-in-polygon join) and the RDF view
  * (n5 BGP joins, n8 a property-path closure rolled up per ancestor).
  * They run only in traced runs, beside the marks pipeline. */
class Queries(spark: SparkSession, tables: String, work: Path) {
  val Geom: Seq[String] = Seq("g2_geom_stats", "g5_denorm_wkt", "g7_grid_pip_join")
  val Rdf: Seq[String] = Seq("n5_bgp", "n8_hierarchy_rollup")
  val Names: Seq[String] = Geom ++ Rdf
  private def query(n: String): DataFrame = SparkEntry.queries(n)(spark, tables)
  /** The digest of the first collect; later ones must match it. */
  var digest = ""

  /** Collects every result: the rows go to results.json for the DuckDB
    * oracle, and their digest is compared with the first collect's. */
  def check(): Seq[String] = {
    val results = Names.map { n =>
      val rows = query(n).collect().toSeq.map(_.toSeq.map {
        case null => "\\N"
        case v => v.toString
      }.mkString("\t"))
      Broadcasting.releaseAll()
      n -> rows
    }
    val md = MessageDigest.getInstance("SHA-256")
    results.foreach { case (n, rows) =>
      md.update(n.getBytes(UTF_8)); rows.sorted.foreach(r => md.update((r + "\n").getBytes(UTF_8)))
    }
    val d = Tree.hex(md.digest())
    if (digest.isEmpty) digest = d
    Files.write(work.resolve("results.json"), Json.obj(results.map { case (n, rows) =>
      n -> Json.obj(Seq("oracle_sql" -> Json.str(SparkEntry.oracleSql(n)),
        "rows" -> Json.arr(rows.map(Json.str))))
    }).getBytes(UTF_8))
    results.collect { case (n, rows) if rows.isEmpty => s"$n returned no rows" } ++
      (if (d != digest) Seq(s"query results differ between collects: $d vs $digest") else Nil)
  }

  def traced(tr: Tracer): Map[String, Double] = {
    val spans = Names.map { n =>
      n -> tr.span(s"query.$n") { noop(query(n)); Broadcasting.releaseAll() }
    }
    val cpu = spans.map(s => tr.metrics(s._2.id).cpuNs).sum / 1e9
    def sum(ns: Seq[String]) = spans.filter(s => ns.contains(s._1)).map(_._2.secs).sum
    spans.map { case (n, s) => s"query.${n}_s" -> s.secs }.toMap ++ Map(
      "query.cpu_s" -> cpu, "query.geom_s" -> sum(Geom), "query.bgp_s" -> sum(Rdf))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
