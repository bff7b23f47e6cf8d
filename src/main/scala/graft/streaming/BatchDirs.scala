package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}

/** Batch-id-keyed parquet directory layout (`<dir>/batch=<id>/`,
  * `_SUCCESS` as the commit marker) under the work ledger
  * ([[graft.incremental.BatchLedger]]), plus the fold that keeps it
  * bounded. The layout IS the exactly-once mechanism: a replayed wave
  * overwrites its own directory with deterministic content — nothing
  * accumulates.
  *
  * Why fold: a directory per wave means every read pays an
  * O(batches) driver `listStatus`, and months of waves leave 10⁴–10⁵
  * tiny dirs — the small-files shape that kills a long-lived job.
  * [[compact]] rewrites the newest committed `compact=<cutoff>/` dir
  * plus the committed batch dirs above it, up to a new cutoff, as ONE
  * fresh `compact=<newCutoff>/` dir of plain parquet part files (the
  * batch id survives as a long data column). A reader lists the base
  * dir once and reads the newest committed compact dir plus the
  * committed batch dirs above its cutoff. On the never-the-newest
  * cadence (fold up to the wave below the newest after each wave) the
  * base dir holds at most four dirs: the compact dir, its predecessor
  * and the last folded wave (both in their grace window, below), and
  * the newest wave.
  *
  * == Commit protocol and sweep ==
  *
  * Same marker discipline as the batches:
  *  1. write the compact dir (parquet `overwrite` → `_SUCCESS` is the
  *     commit);
  *  2. only then sweep — TWO-PHASE: delete what was ALREADY redundant
  *     when this call listed the directory state (dirs a previous
  *     fold covered); the compact dir and the batch dirs folded into
  *     THIS call's output survive until the next compactor call as a
  *     grace window for concurrent readers. A lazy frame from
  *     [[readCommitted]] must therefore be CONSUMED within one
  *     compactor call of being built — past two calls its file
  *     listing can hit swept dirs (FileNotFoundException, never a
  *     silently short answer; a consumer that must hold rows longer
  *     writes them out itself).
  * A crash inside (1) leaves an unmarked dir readers ignore; a crash
  * inside (2) leaves debris that readers also ignore (they read the
  * newest committed compact dir + batch dirs STRICTLY ABOVE its
  * cutoff) and the next compactor call sweeps — every call, fold or
  * no-op, runs the (listing-only) sweep, so debris does not outlive
  * one call. Coverage rule after any fold: every batch id ≤ the
  * newest compact cutoff is committed — sound because folds only ever
  * cover committed batches and the caller folds only waves it will
  * not re-run (backfills that leave holes below the coverage are out
  * of contract).
  *
  * == Single-compactor lease ==
  *
  * Folds are not safe against a concurrent fold of the same dir, so
  * every fold call holds the compactor lease: a JVM-wide mutex per
  * qualified base path (exact within one process — `local[*]` and
  * any driver-side maintenance thread), plus a `_COMPACTING` marker
  * created with `overwrite = false` for cross-process exclusion.
  * CROSS-PROCESS exclusion is only as strong as the filesystem's
  * exclusive create: atomic on HDFS and precondition-capable object
  * stores; on a raw local FS the create is check-then-write
  * (TOCTOU), so raw-local deployments are single-process territory —
  * there the JVM mutex is the real guard. A marker older than
  * [[LeaseStaleMs]] is presumed abandoned by a crashed compactor and
  * taken over — a LIVE fold that overruns it can have its lease
  * stolen, and every residual race below lives strictly inside that
  * overrun window.
  * Takeover and release share one atomic-grab discipline: RENAME the
  * marker to a private token-named graveyard, verify the grabbed
  * file (mtime for takeover, token for release), then delete it —
  * never a bare read-then-delete, whose window a concurrent takeover
  * could land in. When the verify says the grab was wrong (a racing
  * takeover already replaced the marker), the graveyard is renamed
  * back; if even the rename-back fails (a third compactor created a
  * fresh marker while the path was momentarily empty — possible only
  * inside the overrun window), the grabbed file is deleted and the
  * call FAILS LOUDLY (`IllegalStateException` naming both markers)
  * rather than silently continuing with the protocol state torn.
  * Graveyard files a crashed compactor leaves behind
  * (`_COMPACTING.stale.*` / `_COMPACTING.rel.*`) are deleted by the
  * sweep; a sweep racing a live takeover of the SWEEPER's own
  * overrun lease can abort that takeover (it retries) — again
  * confined to the overrun window.
  * On contention a fold defers silently by default (folding is
  * opportunistic; the next cadence retries); an out-of-band caller
  * passes `failIfBusy = true` to fail loudly
  * (`IllegalStateException`) so a misconfigured double-cron is
  * impossible to miss. */
object BatchDirs {

  /** `batch=<digits>` only — a stray `batch=tmp` (editor leftover,
    * manual debris) must not throw in `.toLong` and wedge every
    * reader. */
  private val BatchName = "batch=(\\d+)".r
  private val CompactName = "compact=(\\d+)".r

  /** Cross-process compactor lease marker (class doc). */
  val LeaseName = "_COMPACTING"

  // token-named graveyard files of the lease's atomic-grab takeover
  // and release steps (class doc); normally deleted by the step that
  // made them, swept here only when a compactor crashed mid-step
  private val GraveName = "_COMPACTING\\.(?:stale|rel)\\..+".r

  /** Stale-lease takeover horizon: one hour. A crashed compactor
    * blocks folds (never reads) for at most this long; a LIVE fold
    * running longer than this can have its lease stolen. */
  val LeaseStaleMs: Long = 60L * 60L * 1000L

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def committed(fs: FileSystem, dir: Path): Boolean =
    fs.exists(new Path(dir, "_SUCCESS"))

  /** The directory state from ONE listing of `baseDir`: the newest
    * committed compact cutoff (−1 before the first fold) and the
    * committed batch ids above it. Batch dirs at or below the cutoff
    * (the grace window's leftovers) are not reported: they are
    * folded, and reporting them would double-represent them to any
    * consumer that unions this list with the compact dir. */
  private def listState(fs: FileSystem, baseDir: String)
    : (Long, Seq[Long]) = {
    val path = new Path(baseDir)
    if (!fs.exists(path)) (-1L, Nil)
    else {
      val named = fs.listStatus(path).toSeq.filter(_.isDirectory)
        .map(s => (s.getPath.getName, s.getPath))
      val covered = named
        .collect { case (CompactName(c), p) if committed(fs, p) =>
          c.toLong }
        .maxOption.getOrElse(-1L)
      (covered, named
        .collect { case (BatchName(id), p) => (id.toLong, p) }
        .filter { case (id, p) => id > covered && committed(fs, p) }
        .map(_._1))
    }
  }

  /** Ids of the committed batches above the compact cutoff (empty
    * batches included — a commit is a commit; only READING their
    * parquet needs the part-file guard below). */
  def committedIds(spark: SparkSession, baseDir: String): Seq[Long] =
    listState(fsOf(spark, baseDir), baseDir)._2

  /** Every batch id ≤ this is committed and folded (−1 before any
    * fold). */
  def compactedThrough(spark: SparkSession, baseDir: String): Long =
    listState(fsOf(spark, baseDir), baseDir)._1

  /** The dirs of a view that hold data: the compact dir at `covered`
    * and the batch dirs `ids`. A committed dir with no part file (an
    * empty wave, or a fold of only empty waves, commits a marker-only
    * dir) is skipped: the parquet reader throws on schema inference
    * over a file-less dir, which would wedge every later read. */
  private def dataDirs(fs: FileSystem, baseDir: String, covered: Long,
    ids: Seq[Long]): Seq[Path] = {
    def hasData(p: Path): Boolean = fs.listStatus(p).exists(f =>
      f.isFile && f.getPath.getName.startsWith("part-"))
    (Seq(covered).filter(_ >= 0)
      .map(c => new Path(baseDir, s"compact=$c")) ++
      ids.map(id => new Path(baseDir, s"batch=$id"))).filter(hasData)
  }

  /** `dirs` as one frame, `batch` a LongType data column in every row
    * (the compact dir stores it; batch dirs carry it as a
    * partition-inferred int, cast so the two union cleanly). The
    * compact dir is read on its own: as a sibling root of the batch
    * dirs, Spark's partition discovery would throw on the mixed
    * `compact=`/`batch=` names. */
  private def read(spark: SparkSession, baseDir: String,
    dirs: Seq[Path]): Option[DataFrame] = {
    val (compacts, batches) =
      dirs.partition(_.getName.startsWith("compact="))
    val batchPart =
      if (batches.isEmpty) None
      else Some(spark.read.option("basePath", baseDir)
        .parquet(batches.map(_.toString): _*)
        .withColumn("batch", col("batch").cast("long")))
    (compacts.map(p => spark.read.parquet(p.toString)) ++ batchPart)
      .reduceOption(_.unionByName(_))
  }

  /** Everything committed under `baseDir` as one frame — the newest
    * committed compact dir plus the committed, non-empty `batch=*`
    * dirs above its cutoff; None when none holds data. Half-written
    * directories (no marker) are excluded, so a reader never sees a
    * torn batch.
    *
    * The frame's file listing is fixed here, and the two-phase sweep
    * keeps those files for ONE subsequent compactor call — consume
    * within a cadence. */
  def readCommitted(spark: SparkSession, baseDir: String)
    : Option[DataFrame] = {
    val fs = fsOf(spark, baseDir)
    val (covered, ids) = listState(fs, baseDir)
    read(spark, baseDir, dataDirs(fs, baseDir, covered, ids))
  }

  // ---------------------------------------------------------------
  // Writers
  // ---------------------------------------------------------------

  /** JVM-wide single-compactor mutex keyed by qualified base path
    * (class doc: exact in-process, marker-based cross-process). */
  private val jvmLeases =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Runs `body` under the compactor lease; None when the lease is
    * busy and `failIfBusy` is false. `private[graft]` so the lease
    * protocol spec can drive acquire/release with an injected body
    * (the fold faces are the only production callers). */
  private[graft] def withCompactorLease[A](spark: SparkSession,
    baseDir: String, staleMs: Long, failIfBusy: Boolean)
    (body: => A): Option[A] = {
    val fs = fsOf(spark, baseDir)
    val base = new Path(baseDir)
    fs.mkdirs(base) // the marker needs a parent even before batch 0
    val marker = new Path(base, LeaseName)
    def busy(detail: String): Option[A] =
      if (!failIfBusy) None
      else throw new IllegalStateException(
        s"another compactor holds the lease on $baseDir ($detail); " +
          "one compactor at a time — if its process crashed, the " +
          s"lease is taken over after ${staleMs}ms or can be removed " +
          s"manually: $marker")
    val key = fs.makeQualified(base).toString
    if (!jvmLeases.add(key)) busy("held in this process")
    else try {
      // the marker carries a per-acquisition token so release can
      // tell OUR marker from one a takeover replaced it with — an
      // unconditional delete after a (legitimately) stolen lease
      // would unlock the thief's fold for a third compactor
      val token = java.util.UUID.randomUUID().toString
      def tryCreate(): Boolean = {
        // a create failure is CONTENTION (someone else's marker —
        // leave it); a write/close failure AFTER the exclusive
        // create succeeded is a half-written marker that is provably
        // OURS — delete it before reporting failure, or a transient
        // IO hiccup would wedge every fold behind an orphan marker
        // for the full staleMs horizon
        val created =
          try Some(fs.create(marker, false))
          catch { case _: java.io.IOException => None }
        created.exists { out =>
          try {
            out.write(token.getBytes(java.nio.charset.StandardCharsets
              .UTF_8))
            out.close()
            true
          } catch {
            case _: java.io.IOException =>
              try out.close()
              catch { case _: java.io.IOException => () }
              try fs.delete(marker, false)
              catch { case _: java.io.IOException => () }
              false
          }
        }
      }
      // Some(None) = file absent; Some(Some(t)) = its full token;
      // None = file EXISTS but is unreadable (transient IO error) —
      // callers must fail CLOSED on that case (a wrong delete here
      // unlocks a live fold for a third compactor). The read loops to
      // EOF: a short read would truncate the token and make release
      // skip deleting our OWN marker, wedging folds for staleMs.
      def tokenOf(p: Path): Option[Option[String]] =
        try {
          val in = fs.open(p)
          try {
            val out = new java.io.ByteArrayOutputStream()
            val buf = new Array[Byte](64)
            var n = in.read(buf)
            while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
            Some(Some(new String(out.toByteArray,
              java.nio.charset.StandardCharsets.UTF_8)))
          } finally in.close()
        } catch {
          case _: java.io.FileNotFoundException => Some(None)
          case _: java.io.IOException => None
        }
      // restore a wrongly-grabbed LIVE marker from its graveyard; on
      // restore failure (a third compactor's fresh marker landed
      // while the path was empty) delete the graveyard — it must not
      // leak, and the live holder it held will fail its own release
      // token check harmlessly — and FAIL LOUDLY: the protocol state
      // is torn (two processes now believe they hold the lease) and
      // silently continuing hides exactly the double-fold hazard the
      // lease exists to prevent (class doc: confined to folds that
      // overran staleMs)
      def restoreOrDie(graveyard: Path, detail: String): Unit = {
        val restored =
          try fs.rename(graveyard, marker)
          catch { case _: java.io.IOException => false }
        if (!restored) {
          try fs.delete(graveyard, false)
          catch { case _: java.io.IOException => () }
          throw new IllegalStateException(
            s"compactor lease protocol torn on $baseDir ($detail): " +
              s"grabbed a live marker but could not restore it — a " +
              s"third compactor created $marker while the path was " +
              "empty. Two holders may now run concurrently; this " +
              "happens only when a fold overran the lease's stale " +
              s"horizon (${staleMs}ms); retry")
        }
      }
      val acquired = tryCreate() || {
        val staleMtime =
          try {
            val m = fs.getFileStatus(marker).getModificationTime
            if (System.currentTimeMillis() - m > staleMs) Some(m)
            else None
          } catch { case _: java.io.FileNotFoundException =>
            Some(-1L) // released between the probes
          }
        staleMtime.exists { m =>
          if (m < 0) tryCreate() // marker gone: plain re-create race
          else {
            // takeover via RENAME, not delete-then-create: two
            // processes that both judged the marker stale would each
            // delete (the second delete killing the first's FRESH
            // marker) and both acquire. The rename grabs whatever
            // sits at the path, so the winner RE-VERIFIES the
            // graveyard's mtime: a fresh mtime means a racing
            // takeover already replaced the stale marker and we
            // renamed a LIVE one — restore it and back off (failing
            // loudly, never silently, when even the restore loses a
            // race: restoreOrDie)
            val graveyard = new Path(base, s"$LeaseName.stale.$token")
            val won = try fs.rename(marker, graveyard)
            catch { case _: java.io.IOException => false }
            won && {
              val reallyStale =
                try System.currentTimeMillis() - fs
                  .getFileStatus(graveyard).getModificationTime > staleMs
                catch { case _: java.io.IOException => false }
              if (!reallyStale) {
                restoreOrDie(graveyard, "stale takeover grabbed a " +
                  "marker a racing takeover had just refreshed")
                false
              } else {
                fs.delete(graveyard, false)
                tryCreate()
              }
            }
          }
        }
      }
      if (!acquired) busy("marker held by another process")
      else
        try Some(body)
        finally {
          // release only OUR marker, by the same atomic-grab
          // discipline as takeover (class doc): RENAME the marker to
          // a private graveyard, verify the grabbed file's token,
          // delete only on a match. A bare read-token-then-delete
          // has a window — a takeover replacing the marker between
          // the read and the delete (possible only when the fold
          // overran staleMs) would have its fresh marker deleted,
          // unlocking a third compactor. The grab is atomic and the
          // grabbed file immutable, so the verify is exact; a
          // grabbed THIEF marker is restored (fail-loud on a lost
          // restore race, like takeover). An UNREADABLE or absent
          // marker fails closed — no grab, no delete; the stale
          // horizon cleans up if it really was ours.
          tokenOf(marker) match {
            case Some(Some(t)) if t == token =>
              val grave = new Path(base, s"$LeaseName.rel.$token")
              val grabbed =
                try fs.rename(marker, grave)
                catch { case _: java.io.IOException => false }
              if (grabbed) tokenOf(grave) match {
                case Some(Some(t2)) if t2 == token =>
                  fs.delete(grave, false); ()
                case Some(Some(_)) =>
                  restoreOrDie(grave, "release grabbed a marker a " +
                    "takeover had just replaced")
                case Some(None) =>
                  // grave already gone (a concurrent graveyard
                  // sweep): nothing held, nothing to leak
                  ()
                case None =>
                  // grave EXISTS but is unreadable (transient IO):
                  // it could be OURS or a thief's LIVE marker — fail
                  // CLOSED by restoring it to the marker path (ours
                  // → a stale marker the horizon cleans in staleMs;
                  // thief's → its lease preserved). Deleting here
                  // would fail OPEN: destroying a live lease unlocks
                  // a third compactor mid-fold.
                  restoreOrDie(grave, "release grabbed a marker it " +
                    "could not read back")
              }
            case _ => ()
          }
        }
    } finally { jvmLeases.remove(key); () }
  }

  /** TWO-PHASE sweep: delete only what was ALREADY redundant when
    * this call listed the state at entry — committed batch dirs at or
    * below the entry coverage, and compact dirs below it. The entry
    * compact dir and the batch dirs folded into THIS call's output
    * survive one more compactor call as a grace window for
    * concurrent readers: a reader that listed directories before
    * this commit can still open every file it saw. Readers never
    * DUPLICATE retained dirs (the strictly-above-coverage rule
    * excludes batch grace dirs; only the newest compact dir is ever
    * read), so the grace debris costs one call of extra listing,
    * bounded. A crash mid-sweep just leaves debris for the next call. */
  private def sweep(fs: FileSystem, baseDir: String,
    entryCovered: Long): Unit =
    fs.listStatus(new Path(baseDir)).foreach { s =>
      s.getPath.getName match {
        case BatchName(id) if id.toLong <= entryCovered =>
          // only committed dirs: a torn batch dir (no marker) at or
          // below the coverage is out-of-contract debris, but
          // deleting a dir a concurrent writer is mid-writing would
          // corrupt its commit — leave it
          if (committed(fs, s.getPath)) fs.delete(s.getPath, true)
        case CompactName(c) if c.toLong < entryCovered =>
          fs.delete(s.getPath, true)
        case GraveName() if s.isFile =>
          // orphaned lease graveyard (compactor crashed between the
          // grab and the delete/restore): without this it leaks
          // forever — no other path matches the token-named file.
          // The sweep runs under the lease, so the only LIVE
          // graveyard this could race belongs to a takeover of the
          // sweeper's own overrun lease (class doc: that takeover
          // aborts loudly and retries — confined to folds that
          // overran LeaseStaleMs)
          fs.delete(s.getPath, false)
        case _ => ()
      }
    }

  /** Fold (class doc): rewrite the newest committed compact dir plus
    * the committed batch dirs in (its cutoff, `upTo`] as
    * `compact=<newCutoff>`, then sweep. The output has one part file
    * per `spark.sql.files.maxPartitionBytes` of input, so the compact
    * dir's file count tracks its bytes, not the number of folds.
    * Returns the coverage reached (−1 when nothing is committed).
    * Idempotent and crash-safe (commit protocol in the class doc):
    * re-running after any crash converges. Lease-guarded, deferring
    * (or failing, with `failIfBusy`) on contention; every
    * non-deferred call sweeps. */
  def compact(spark: SparkSession, baseDir: String, upTo: Long,
    failIfBusy: Boolean = false): Long =
    withCompactorLease(spark, baseDir, LeaseStaleMs, failIfBusy) {
      val fs = fsOf(spark, baseDir)
      val (covered, ids) = listState(fs, baseDir)
      val folded = ids.filter(_ <= upTo)
      val cutoff = (covered +: folded).max
      if (cutoff > covered) {
        val target = new Path(baseDir, s"compact=$cutoff")
        val inputs = dataDirs(fs, baseDir, covered, folded)
        read(spark, baseDir, inputs) match {
          case Some(df) =>
            val bytes =
              inputs.map(fs.getContentSummary(_).getLength).sum
            val split = spark.sessionState.conf.filesMaxPartitionBytes
            df.coalesce((bytes / split + 1).toInt)
              .write.mode("overwrite").parquet(target.toString)
          case None =>
            // only empty batches in range: commit an empty dir (marker
            // only) so the coverage rule advances past them
            fs.mkdirs(target)
            fs.create(new Path(target, "_SUCCESS"), true).close()
        }
      }
      sweep(fs, baseDir, covered)
      cutoff
    }.getOrElse(compactedThrough(spark, baseDir))
}
