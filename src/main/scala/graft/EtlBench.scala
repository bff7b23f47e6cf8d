package graft

import graft.incremental.BatchLedger
import graft.pipelines.{MongoMarksPipeline, TtlFileSink}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** ETL throughput benchmark: synthetic mark documents → batched TTL
  * files, reported as marks/sec — the reference's only runtime metric
  * (mongodb_to_rdf.py:799-821 computes exactly this for its 20-process
  * pool; ~4B marks total). Args: [nMarks] [nAnalyses] [outDir]
  * [ledgerDir] [nWaves].
  *
  * Marks are synthesized deterministically from spark.range — schema
  * identical to MongoMarksPipeline.markSchema, ~5 polygon points per
  * mark, 1k marks per (exec, image) batch like production.
  *
  * With a ledger dir the bench runs the INCREMENTAL face (T2/T4
  * semantics beyond spec size) as nWaves WAVES (default 1) with the
  * ledger maintenance in the loop — the compacted-regime figure for
  * the reference-shaped pipeline: each wave sees a growing slice of
  * the corpus, anti-joins the BatchLedger for the still-pending
  * executions (the reference's should_process check,
  * mongodb_to_rdf.py:149-152), processes exactly those marks,
  * records the wave, and folds every wave below it
  * (BatchLedger.fold on the never-the-newest cadence). One
  * JSON line reports overall marks/sec plus the fold count and the
  * final (bounded) ledger dir count. Rerunning the same command over
  * the same ledger is the resume figure: every execution is done, so
  * it reports n_processed = 0 (tools/crash_rig.sh's final rerun).
  */
object EtlBench {
  def main(args: Array[String]): Unit = {
    val nMarks = args.headOption.map(_.toLong).getOrElse(200000L)
    val nAnalyses = args.lift(1).map(_.toInt).getOrElse(20)
    val outDir = args.lift(2).getOrElse(
      java.nio.file.Files.createTempDirectory("etl_bench").toString)
    val cpus = GraftSession.Cpus.toInt
    val spark = GraftSession.create(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // volume-sized AQE fan-out (GraftSession doc): at 10M marks the
    // cores-sized reducer count spills the sort under the batch
    // assembly (31.3k vs 65.0k marks/sec, r13 A/B, measured on a
    // window sort); one initial partition per ~20k
    // marks keeps per-partition volume flat as nMarks grows, and AQE
    // coalesces small stages back down so the 1M rung is unaffected
    spark.conf.set(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      math.min(2048L, math.max(cpus.toLong, nMarks / 20000L)).toString)
    import spark.implicits._

    val skew = sys.env.get("SPARK_GRAFT_SKEW")
    val marks = synthMarks(spark, nMarks, nAnalyses, skew)
    val analyses = synthAnalyses(spark, nAnalyses)
    val hashes = Seq.empty[(String, String)].toDF("slide", "real_hash")

    args.lift(3) match {
      case None =>
        // SPARK_GRAFT_BATCH_SIZE shrinks marks-per-file to probe the
        // FILE-COUNT axis (TtlFileSink's commit protocol at ~1M
        // files, the reference's ~4M-file contract) without paying
        // for the mark-volume axis, which r13/r14/r18 measured
        // separately at 10M/100M marks
        val batchSize = sys.env.get("SPARK_GRAFT_BATCH_SIZE")
          .map(_.toInt).getOrElse(MongoMarksPipeline.BatchSize)
        // per-stage task-duration capture: under skew the question is
        // whether ANY stage develops a straggler tail
        val tally = new TaskTally(spark.sparkContext)
        val t0 = System.nanoTime()
        val docs = MongoMarksPipeline.documents(marks, analyses, hashes,
          batchSize)
        TtlFileSink.write(docs.select("rel_path", "ttl"), outDir)
        val secs = (System.nanoTime() - t0) / 1e9
        val rate = nMarks / secs
        // task-spread table of the heaviest stage (by total task
        // time — the grouping/write stage at scale), computed OUTSIDE
        // the timed window after the listener bus drains
        val spread = tally.read().stageTaskMs.toSeq
          .map { case (sid, ds) => (sid, ds.sorted) }
          .sortBy { case (_, ds) => -ds.sum }
          .take(2)
          .map { case (sid, ds) =>
            s""""stage_$sid":{"n_tasks":${ds.length},""" +
              s""""p50_ms":${ds(ds.length / 2)},""" +
              s""""max_ms":${ds.last}}"""
          }.mkString(",")
        // measured hottest-analysis share (not the closed form) —
        // also outside the timed window
        val hotShare = skew.map { _ =>
          val hot = marks
            .groupBy(col("provenance.analysis.execution_id"))
            .count().agg(max("count")).head.getLong(0)
          hot.toDouble / nMarks
        }
        // file census by WALKING the tree (outside the timed window):
        // the count the commit protocol actually delivered, not what
        // logs claim — zero loss / zero collision is `n_files ==
        // distinct rel_path count`, checked by the caller
        // walked via the Hadoop FS of outDir (not java.nio), so the
        // census works for HDFS/object-store outDirs too — the same
        // API TtlFileSink writes through
        val nFiles = countTtlGz(spark, outDir)
        println(s"""{"metric":"etl_marks_per_sec","value":$rate,""" +
          s""""unit":"marks/sec","n_marks":$nMarks,"secs":$secs,""" +
          s""""n_files":$nFiles,"batch_size":$batchSize,""" +
          s""""n_analyses":$nAnalyses""" +
          skew.map(s => s""","skew":"$s"""").getOrElse("") +
          hotShare.map(h => s""","hot_share":$h""").getOrElse("") +
          s""","task_spread":{$spread}}""")
      case Some(ledgerDir) =>
        val nWaves = args.lift(4).map(_.toInt).getOrElse(1)
        // startup recovery: a kill -9 mid-wave leaves *.tmp-* files
        // under the wave dirs (the rename protocol's garbage); sweep
        // ONCE per process start, never per wave
        val swept = TtlFileSink.sweepOrphanedTemps(spark, outDir)
        val t0 = System.nanoTime()
        var processed = 0L
        var folds = 0
        (0 until nWaves).foreach { w =>
          // the corpus visible so far grows wave over wave; the
          // anti-join narrows it to the executions not yet recorded,
          // so each wave processes exactly its new slice. Persisted:
          // the count, the pipeline run, and the ledger record all
          // consume it — unpersisted they would each re-execute the
          // cumulative scan + anti-join, inflating the wave cost the
          // benchmark attributes to the ledger.
          val execWave = pmod(xxhash64(
            col("provenance.analysis.execution_id")), lit(nWaves.toLong))
          val work = marks
            .withColumn("_exec", col("provenance.analysis.execution_id"))
            .filter(execWave <= w)
          val todo = BatchLedger.pending(work, ledgerDir, "_exec")
            .persist()
          try {
            val nPending = todo.count()
            if (nPending > 0) {
              val docs = MongoMarksPipeline.documents(
                todo.drop("_exec"), analyses, hashes)
              TtlFileSink.write(docs.select("rel_path", "ttl"),
                s"$outDir/wave$w")
            }
            // record EVEN AN EMPTY wave: skipping it would (a) leave
            // a hole below the fold coverage — out of the BatchDirs
            // contract — and (b) let the next fold(w−1) cover the
            // actual newest recorded dir, destroying the replay
            // marker the never-the-newest rule protects.
            //
            // Record the wave's DETERMINISTIC delta slice (hash == w),
            // NOT the pending subset: record() overwrites batch=<w>,
            // and its exactly-once contract requires a replayed wave
            // to rewrite the SAME key set. Pending depends on ledger
            // state — in a crash-rerun it shrinks to ∅ at already-done
            // waves, and recording ∅ would ERASE the wave's completion
            // record, cascading every execution one wave forward per
            // rerun (caught by tools/crash_rig.sh's census: duplicated
            // outputs across wave dirs). In a clean run the delta
            // slice EQUALS the pending set, so nothing else changes.
            // the slice's key set derives from the ANALYSES side
            // (nAnalyses rows — marks' exec ids are exactly the
            // analyses' execution_id domain), not from a full
            // nMarks-scan + distinct per wave inside the timed window
            BatchLedger.record(
              analyses.select(col("analysis.execution_id"))
                .filter(pmod(xxhash64(col("execution_id")),
                  lit(nWaves.toLong)) === w),
              ledgerDir, w, runId = s"etlbench-wave$w")
            processed += nPending
          } finally { todo.unpersist(); () }
          // fold the tail on the never-the-newest cadence: wave w is
          // the newest recorded id and may re-run after a crash
          if (w > 0) {
            BatchLedger.fold(spark, ledgerDir, w - 1L); folds += 1
          }
        }
        val secs = (System.nanoTime() - t0) / 1e9
        val ledgerDirs = {
          val p = new org.apache.hadoop.fs.Path(ledgerDir)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fs.exists(p)) fs.listStatus(p).length else 0
        }
        println(s"""{"metric":"etl_marks_per_sec","value":${processed / secs},""" +
          s""""unit":"marks/sec","n_waves":$nWaves,"folds":$folds,""" +
          s""""ledger_dirs":$ledgerDirs,"n_marks":$nMarks,""" +
          s""""n_processed":$processed,"secs":$secs,""" +
          s""""swept_temps":$swept,""" +
          s""""n_analyses":$nAnalyses}""")
    }
    spark.stop()
  }

  /** Synthetic mark documents, schema-identical to
    * MongoMarksPipeline.markSchema: ~5 polygon points per mark, ids
    * deterministic from spark.range. `skew`:
    *  - None → uniform marks-per-analysis (id % nAnalyses);
    *  - Some("zipf") → harmonic Zipf (s=1) via the closed-form
    *    inverse CDF u ~ U[0,1) → floor((N+1)^u) − 1, so rank k holds
    *    ln((k+2)/(k+1))/ln(N+1) of all marks — rank 0 gets
    *    ln(2)/ln(N+1) (~23% of the corpus at N=20). The reference's
    *    real corpus is certainly not uniform; the r20 skew rung
    *    measures the W1 batching construction under a hot analysis.
    */
  def synthMarks(spark: SparkSession, nMarks: Long, nAnalyses: Int,
    skew: Option[String] = None): org.apache.spark.sql.DataFrame = {
    val aIdx = skew match {
      case Some("zipf") =>
        val u = pmod(xxhash64(col("id")), lit(1000000000L)) / 1e9
        (floor(pow(lit((nAnalyses + 1).toDouble), u)) - 1).cast("long")
      case None => col("id") % nAnalyses
      case Some(other) => throw new IllegalArgumentException(
        s"skew=$other (only 'zipf' is supported)")
    }
    spark.range(nMarks).select(
      format_string("m-%012d", col("id")).as("_id"),
      struct(
        struct(format_string("exec-%d", aIdx)
          .as("execution_id")).as("analysis"),
        struct(format_string("img-%d", aIdx)
          .as("imageid"),
          format_string("slide-%d", aIdx).as("slide"))
          .as("image")).as("provenance"),
      struct(array(struct(
        struct(lit("Polygon").as("type"), expr(
          """array(transform(sequence(0, 4), i -> array(
            | cast((pmod(id * 7 + i * 13, 1000)) / 1000.0 as double),
            | cast((pmod(id * 11 + i * 17, 1000)) / 1000.0 as double))))"""
            .stripMargin).as("coordinates")).as("geometry"),
        struct((col("id") % 100 / 10.0).as("footprint"),
          lit("tumor.ep.1").as("nucleustype")).as("properties")))
        .as("features")).as("geometries"),
      struct(struct(array(struct(
        lit("http://snomed.info/id/108369006").as("annotationID")))
        .as("annotation")).as("mark")).as("userUpdate"))
  }

  /** One synthetic analysis document per exec/img/slide triple. */
  def synthAnalyses(spark: SparkSession, nAnalyses: Int)
    : org.apache.spark.sql.DataFrame =
    spark.range(nAnalyses).select(
      format_string("an-%d", col("id")).as("_id"),
      struct(format_string("exec-%d", col("id")).as("execution_id"),
        struct(lit(40000L).as("image_width"),
          lit(40000L).as("image_height"),
          format_string("case-%d", col("id")).as("case_id"))
          .as("algorithm_params")).as("analysis"),
      struct(format_string("img-%d", col("id")).as("imageid"),
        lit("subj").as("subject"), lit("study").as("study"),
        format_string("slide-%d", col("id")).as("slide")).as("image"))

  /** Recursive `.ttl.gz` census of `dir` through the Hadoop
    * FileSystem that owns the path (local, HDFS, or object store) —
    * the same API the sink writes through, so the census sees
    * exactly what the commit protocol delivered. */
  private[graft] def countTtlGz(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var n = 0L
    while (it.hasNext)
      if (it.next().getPath.getName.endsWith(".ttl.gz")) n += 1
    n
  }
}
