package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}

/** Batch-id-keyed parquet directory layout (`<dir>/batch=<id>/`,
  * `_SUCCESS` as the commit marker) under the work ledger
  * ([[graft.incremental.BatchLedger]]), plus the COMPACTION layer that
  * keeps it production-shaped. The layout IS the exactly-once
  * mechanism: a replayed wave overwrites its own directory with
  * deterministic content — nothing accumulates.
  *
  * Why compaction: a directory per wave means every read pays an
  * O(batches) driver `listStatus`, and months of waves leave 10⁴–10⁵
  * tiny dirs — the small-files shape that kills a long-lived job.
  *
  * == Two tiers ==
  *
  * The folded layout is LSM-shaped, two levels:
  *
  *   `<dir>/l0=<cutoff>.n<buckets>/pbucket=<b>/…`      (minor fold)
  *   `<dir>/compact=<cutoff>.n<buckets>/pbucket=<b>/…` (major merge)
  *
  * A MINOR fold ([[compactTiered]]) consolidates the recent batch-dir
  * tail into one L0 run — O(tail) bytes written, the main compacted
  * table untouched — then SIZE-TIERS the run stack: adjacent runs
  * merge while the older is not `mergeFactor`× larger than the
  * newer, so run sizes stay geometric, the stack depth stays
  * O(log L0 bytes), and every L0 byte is rewritten O(log) times.
  * Each run's name carries its coverage interval
  * (`l0=<hi>.f<lo>`), so readers reconstruct the current chain from
  * one listing even while a merge's superseded inputs linger in
  * their grace window. A MAJOR merge folds the compact dir + every
  * L0 run + the tail into a fresh compact dir — O(index), paid only
  * when the accumulated upper tiers reach `majorRatio` of the
  * compact bytes (the LSM write-amplification discipline: every byte
  * lands in its batch dir once, O(log) L0 runs, and
  * O(log n / log(1+r)) compact rewrites), when the L0 run count
  * would exceed `maxL0Runs` (the listing backstop), or when the
  * caller changes the bucket count (all tiers of a generation share
  * ONE modulus — see below). The dir pressure of many small batches
  * is absorbed by O(tail) minors, so it never forces an O(index)
  * rewrite.
  *
  * Both folded kinds are hash-bucketed by the caller's key
  * (`pbucket = pmod(xxhash64(key), buckets)` — the ledger's `key`
  * column), so a reader that knows which key
  * values it probes can prune the scan of EVERY folded tier to the
  * touched buckets; only the cadence-bounded raw tail is read whole.
  * The original `batch` id survives as a data column (cast long), so
  * gating semantics are unchanged. All folded dirs of one generation
  * carry the same bucket count — a modulus change forces a major
  * merge — so one bucket derivation prunes every tier; a reader that
  * ever meets a mixed-modulus generation (out-of-contract debris)
  * reads the mismatched dir whole rather than mis-pruning it.
  *
  * == Commit protocol and sweep ==
  *
  * Same marker discipline as the batches:
  *  1. write the folded dir (parquet `overwrite` → `_SUCCESS` is the
  *     commit);
  *  2. only then sweep — TWO-PHASE: delete what was ALREADY redundant
  *     when this call resolved the directory state (dirs a previous
  *     fold covered); dirs folded into THIS generation survive until
  *     the next compactor call as a grace window for concurrent
  *     readers. A lazy frame from [[readCommitted]] must therefore be
  *     CONSUMED within one compactor call of being built — past two
  *     calls its pinned file listing can hit swept dirs (a consumer
  *     that must hold rows longer writes them out itself).
  * A crash inside (1) leaves an unmarked dir readers ignore; a crash
  * inside (2) leaves debris that readers also ignore (they read the
  * resolved [[Gen]] + batch dirs STRICTLY ABOVE its coverage) and the
  * next compactor call sweeps — every call, fold or no-op, runs the
  * (listing-only) sweep, so debris does not outlive one call.
  * Coverage rule after any fold: every batch id ≤
  * [[Gen.coveredThrough]] is committed — sound because folds only
  * ever cover committed batches and the caller folds only waves below
  * its newest (backfills that leave holes below the coverage are out
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
  * `leaseStaleMs` is presumed abandoned by a crashed compactor and
  * taken over — size the timeout ABOVE the longest plausible fold: a
  * LIVE fold that overruns it can have its lease stolen, and every
  * residual race below lives strictly inside that overrun window.
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
    * reader; readCommitted shares the guard so both faces see the
    * same directory set. */
  private val BatchName = "batch=(\\d+)".r
  private val CompactName = "compact=(\\d+)\\.n(\\d+)".r
  // l0=<hi>.f<lo>.n<buckets>: the run covers batch ids in (lo, hi].
  // The lower bound is IN THE NAME because size-tiered run merging
  // writes runs that supersede several predecessors — a reader must
  // reconstruct coverage from the listing alone, and "each run covers
  // down to the previous run's cutoff" stops holding the moment a
  // merged run and its superseded inputs coexist (grace window).
  private val L0Name = "l0=(\\d+)\\.f(-?\\d+)\\.n(\\d+)".r

  /** Cross-process compactor lease marker (class doc). */
  val LeaseName = "_COMPACTING"

  // token-named graveyard files of the lease's atomic-grab takeover
  // and release steps (class doc); normally deleted by the step that
  // made them, swept here only when a compactor crashed mid-step
  private val GraveName = "_COMPACTING\\.(?:stale|rel)\\..+".r

  /** Default stale-lease takeover horizon: one hour. A crashed
    * compactor blocks folds (never reads) for at most this long;
    * a LIVE fold running longer than this can have its lease stolen,
    * so raise it for indexes whose major merge exceeds the hour. */
  val DefaultLeaseStaleMs: Long = 60L * 60L * 1000L

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def committed(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir, "_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** One L0 run: covers batch ids in (lo, hi], bucketed by
    * [[bucketOf]] modulo `nBuckets`. */
  final case class L0Run(lo: Long, hi: Long, nBuckets: Int) {
    def name: String = s"l0=$hi.f$lo.n$nBuckets"
  }

  /** One committed fold generation: the highest committed compact
    * (L1) dir plus a CONTIGUOUS CHAIN of committed L0 runs covering
    * (compact cutoff, coveredThrough], ascending by `hi`. Runs are
    * created and merged only under the compactor lease, and each
    * run's coverage interval is in its name, so the chain is
    * reconstructed from one listing: walk down from the highest `hi`,
    * each step requiring a run whose `hi` equals the previous run's
    * `lo` — superseded runs (inputs of a size-tiered merge, still
    * present as sweep grace) overlap the chain and drop out
    * naturally. */
  final case class Gen(compact: Option[(Long, Int)],
    l0: Seq[L0Run]) {
    /** Every batch id ≤ this is committed and folded (−1 when empty). */
    def coveredThrough: Long =
      (compact.map(_._1).toSeq ++ l0.map(_.hi)).maxOption
        .getOrElse(-1L)
    /** The generation's shared bucket count (class doc: one modulus
      * per generation, a change forces a major merge). Defensively
      * the NEWEST tier wins, so a pruned reader facing out-of-contract
      * mixed-modulus debris derives buckets it can safely apply — the
      * reader skips pruning on any dir whose count differs. */
    def modulus: Option[Int] =
      l0.lastOption.map(_.nBuckets).orElse(compact.map(_._2))
    /** Directory names of every tier, for sweep keep-sets. */
    def dirNames: Seq[String] =
      compact.map { case (c, n) => s"compact=$c.n$n" }.toSeq ++
        l0.map(_.name)
  }

  /** Ids of the batches whose OWN directory under `baseDir` carries
    * the commit marker (empty batches included — a commit is a
    * commit; only READING their parquet needs the part-file guard
    * below). Batches folded into a compact or L0 dir no longer appear
    * here, EVEN while their directory lingers in the two-phase
    * sweep's grace window: ids ≤ [[compactedThrough]] are filtered
    * out (they are committed by the coverage rule, and reporting them
    * here would double-represent them to any consumer that unions
    * this list with the folded view). One `listStatus` — the coverage
    * is computed from the same directory listing. */
  def committedIds(spark: SparkSession, baseDir: String): Seq[Long] =
    listState(spark, baseDir)._2

  /** The committed fold generation under `baseDir` (empty [[Gen]]
    * before the first fold). One `listStatus` of the base dir — never
    * of the folded dirs.
    *
    * Two committed dirs of one kind can share a cutoff: an explicit
    * bucket-count change refolds the same coverage under a new
    * modulus, and the superseded dir survives one call (sweep grace
    * window) — or a crash leaves both until the next call converges.
    * The pick is DETERMINISTIC: latest `_SUCCESS` mtime (the commit
    * instant) wins, higher bucket count breaking a same-instant tie.
    * Both candidates hold complete coverage of the cutoff, so even a
    * granularity-collapsed mtime tie picks a CORRECT layout — the
    * pick only decides which modulus pruned readers compute with, and
    * they read with the same generation they resolved. */
  def generation(spark: SparkSession, baseDir: String): Gen =
    listState(spark, baseDir)._1

  /** The whole directory state from ONE listing: the resolved
    * generation and the committed batch ids above its coverage. */
  private def listState(spark: SparkSession, baseDir: String)
    : (Gen, Seq[Long]) = {
    val path = new Path(baseDir)
    val fs = fsOf(spark, baseDir)
    if (!fs.exists(path)) (Gen(None, Nil), Nil)
    else {
      val statuses = fs.listStatus(path).toSeq.filter(_.isDirectory)
      // single getFileStatus, FNF = not committed: an exists() probe
      // followed by getFileStatus would race the sweep (a grace dir
      // deleted between the two calls crashes the resolver instead of
      // dropping out of the view)
      def commitMtime(p: Path): Option[Long] =
        try Some(fs.getFileStatus(new Path(p, "_SUCCESS"))
          .getModificationTime)
        catch { case _: java.io.FileNotFoundException => None }
      val compact = statuses
        .flatMap(s => s.getPath.getName match {
          case CompactName(c, n) =>
            commitMtime(s.getPath).map(t => (c.toLong, n.toInt, t))
          case _ => None
        })
        .sortBy { case (c, n, t) => (c, t, n) }.lastOption
        .map { case (c, n, _) => (c, n) }
      val cCut = compact.map(_._1).getOrElse(-1L)
      val cands = statuses
        .flatMap(s => s.getPath.getName match {
          case L0Name(hi, lo, n) if hi.toLong > cCut =>
            commitMtime(s.getPath)
              .map(t => (L0Run(lo.toLong, hi.toLong, n.toInt), t))
          case _ => None
        })
      // chain walk, top down: among the runs ending at the needed
      // point, the widest (smallest lo) wins — it is the merge that
      // superseded the narrower ones; mtime then bucket count break
      // exact ties (same interval refolds, crash debris). Runs that
      // overlap the chosen chain (merge inputs in their grace window)
      // are skipped; a chain that cannot reach the compact cutoff
      // would mean swept coverage — out of contract, fail loudly
      // rather than silently drop rows.
      val chain = List.newBuilder[L0Run]
      var need = cands.map(_._1.hi).maxOption
      while (need.exists(_ > cCut)) {
        val step = cands
          .filter(_._1.hi == need.get)
          .sortBy { case (r, t) => (-r.lo, t, r.nBuckets) }
          .lastOption.map(_._1)
          .getOrElse(throw new IllegalStateException(
            s"L0 chain broken under $baseDir: no committed run ends " +
              s"at ${need.get} (compact cutoff $cCut; runs " +
              s"${cands.map(_._1.name).mkString(",")})"))
        chain += step
        need = Some(step.lo)
      }
      val gen = Gen(compact, chain.result().reverse)
      val covered = gen.coveredThrough
      (gen, statuses
        .filter(s =>
          BatchName.pattern.matcher(s.getPath.getName).matches() &&
          fs.exists(new Path(s.getPath, "_SUCCESS")))
        .map(_.getPath.getName.stripPrefix("batch=").toLong)
        .filter(_ > covered))
    }
  }

  /** Every batch id ≤ this is committed (−1 before any fold). */
  def compactedThrough(spark: SparkSession, baseDir: String): Long =
    generation(spark, baseDir).coveredThrough

  /** An all-empty-batches fold commits a marker-only dir; the parquet
    * reader must skip it (same rationale as the per-batch part-file
    * guard). Data, when present, lives under `pbucket=*`. */
  private def compactHasData(fs: FileSystem, dir: String): Boolean =
    fs.listStatus(new Path(dir)).exists(s =>
      s.isDirectory && s.getPath.getName.startsWith("pbucket="))

  /** The generation's tier dirs that actually hold data, as
    * (path, bucket count) — marker-only tiers (all-empty-batch folds)
    * skipped. */
  private def genDataDirs(spark: SparkSession, baseDir: String, gen: Gen)
    : Seq[(String, Int)] = {
    val fs = fsOf(spark, baseDir)
    (gen.compact.toSeq.map { case (c, n) =>
      (s"$baseDir/compact=$c.n$n", n) } ++
      gen.l0.map(r => (s"$baseDir/${r.name}", r.nBuckets)))
      .filter { case (d, _) => compactHasData(fs, d) }
  }

  /** The hash-bucket column a folded layout partitions by. Public
    * so pruned readers compute probe buckets with the IDENTICAL
    * function (a modulus mismatch would silently drop matches). */
  def bucketOf(key: Column, nBuckets: Int): Column =
    pmod(xxhash64(key), lit(nBuckets.toLong))

  private def committedDataDirs(fs: FileSystem, baseDir: String,
    afterBatch: Long, excludeBatch: Long): Seq[String] = {
    val path = new Path(baseDir)
    if (!fs.exists(path)) Nil
    else committedDataDirsFrom(fs, fs.listStatus(path).toSeq,
      afterBatch, excludeBatch)
  }

  /** [[committedDataDirs]] over an ALREADY-LISTED base dir — so a
    * caller that needs the listing for something else (the
    * readCommittedAt exactness guard) pays ONE listStatus, not two. */
  private def committedDataDirsFrom(fs: FileSystem,
    statuses: Seq[org.apache.hadoop.fs.FileStatus],
    afterBatch: Long, excludeBatch: Long): Seq[String] =
    statuses
      .filter { s =>
        s.isDirectory &&
        BatchName.pattern.matcher(s.getPath.getName).matches() && {
          val id = s.getPath.getName.stripPrefix("batch=").toLong
          id > afterBatch && id != excludeBatch
        } &&
        fs.exists(new Path(s.getPath, "_SUCCESS")) &&
        fs.listStatus(s.getPath).exists(f =>
          f.isFile && f.getPath.getName.startsWith("part-"))
      }
      .map(_.getPath.toString)

  /** Everything committed under `baseDir` as one frame — the resolved
    * generation's tiers plus the committed, non-empty `batch=*` dirs
    * above its coverage; None when all are absent. `batch` is a
    * LongType data column in every row (partition-inferred ints are
    * cast, so the tiers union without a coercion surprise).
    * Half-written directories (no marker) are excluded, so a reader
    * never sees a torn batch — and so are committed-but-EMPTY batches
    * (marker, zero part files: an empty wave commits without
    * writing any data file, and feeding a file-less directory to the
    * parquet reader throws on schema inference, wedging every
    * subsequent batch).
    *
    * `pbuckets`: when the caller knows which join-key buckets it will
    * probe ([[bucketOf]] over the same key and the generation's
    * [[Gen.modulus]]), every folded tier prunes to those partition
    * dirs; the recent (uncompacted) batches are always read whole —
    * they are bounded by the compaction cadence, not by ledger
    * lifetime.
    *
    * The returned frame's folded-tier file listings are pinned to the
    * generation resolved here, which the two-phase sweep keeps alive
    * for ONE subsequent compactor call — consume within a cadence. */
  def readCommitted(spark: SparkSession, baseDir: String,
    excludeBatch: Long = -1L, pbuckets: Option[Seq[Long]] = None)
    : Option[DataFrame] =
    readCommittedAt(spark, baseDir, generation(spark, baseDir),
      excludeBatch, pbuckets)

  /** [[readCommitted]] pinned to an already-RESOLVED generation — for
    * callers that derive something from the generation's bucket count
    * (a pruned scan) before reading: a concurrent fold with a
    * different bucket count must not be re-resolved between the
    * derivation and the read (buckets computed for the old modulus
    * against the new layout would silently drop matches). Safe
    * because the sweep is two-phase: a superseded tier dir survives
    * one full compactor call (see [[compactTiered]]). Only the raw
    * batch tail lists fresh — new L0 runs committed after the pin are
    * invisible, and their source batch dirs (still present, grace)
    * are read instead, so the view stays exact.
    *
    * EXACTNESS GUARD: that "read the grace dirs instead" argument
    * only holds while the pin is within its one-call grace window. A
    * `gen` held across TWO OR MORE compactor calls can be silently
    * incomplete — batches folded after the pin get their dirs swept
    * on the second call, while the pinned tiers often remain live
    * chain members (no FileNotFoundException ever fires). This face
    * therefore FAILS LOUDLY instead: every committed folded tier in
    * the fresh listing whose cutoff lies above the pinned coverage
    * must still have its cutoff batch's directory present (the fold's
    * newest input, alive for exactly one call of grace) — a missing
    * one proves a second compactor call ran since the pin, and the
    * call throws `IllegalStateException` (re-resolve and retry)
    * rather than return a silently-short view. The guard is
    * conservative (it can fire when every swept batch was empty) and
    * evidence-bounded: once later calls sweep the intermediate tiers
    * themselves (three or more calls since the pin), the omission is
    * no longer detectable — the one-call deadline is a hard contract. */
  def readCommittedAt(spark: SparkSession,
    baseDir: String, gen: Gen,
    excludeBatch: Long = -1L, pbuckets: Option[Seq[Long]] = None)
    : Option[DataFrame] = {
    val fs = fsOf(spark, baseDir)
    val basePath = new Path(baseDir)
    // ONE base-dir listing serves both the exactness guard and the
    // recent-tail selection below — the guard adds zero extra
    // listStatus calls to the per-read hot path, and its
    // _SUCCESS stats run only for tiers newer than the pin (none,
    // when the caller resolved the generation in the same breath)
    val baseStatuses =
      if (fs.exists(basePath)) fs.listStatus(basePath).toSeq else Nil
    val dirStatuses = baseStatuses.filter(_.isDirectory)
    locally {
      def isCommitted(p: Path): Boolean =
        try { fs.getFileStatus(new Path(p, "_SUCCESS")); true }
        catch { case _: java.io.FileNotFoundException => false }
      val newCutoffs = dirStatuses.flatMap(s => s.getPath.getName match {
        case CompactName(c, _) if c.toLong > gen.coveredThrough =>
          Some((c.toLong, s.getPath))
        case L0Name(hi, _, _) if hi.toLong > gen.coveredThrough =>
          Some((hi.toLong, s.getPath))
        case _ => None
      }).filter { case (_, p) => isCommitted(p) }.map(_._1).distinct
      if (newCutoffs.nonEmpty) {
        val present = dirStatuses.flatMap(s => s.getPath.getName match {
          case BatchName(id) => Some((id.toLong, s.getPath))
          case _ => None
        }).filter { case (_, p) => isCommitted(p) }.map(_._1).toSet
        newCutoffs.filterNot(present).foreach { c =>
          throw new IllegalStateException(
            s"pinned generation outlived its grace window under " +
              s"$baseDir: a fold committed coverage $c after the pin " +
              s"(pinned coverage ${gen.coveredThrough}) and batch=$c " +
              "has already been swept — at least two compactor calls " +
              "ran since the pin, so a read against it could silently " +
              "omit their batches. Re-resolve the generation and retry")
        }
      }
    }
    // ONE parquet read across every tier, rooted at the pbucket LEAF
    // dirs (which hold plain part files, so no partition discovery
    // runs — sibling `compact=`/`l0=` roots would make Spark's
    // common-base inference throw CONFLICTING_DIRECTORY_STRUCTURES):
    // k tiers as k separate reads would pay k file-index listings, k
    // schema inferences, and a k-way union per read — measured as
    // the dominant per-batch cost once the L0 run count grows.
    // Pruning selects which leaf dirs are read AT
    // LISTING TIME — the probed buckets' dirs are the only ones ever
    // listed, stronger than a post-listing partition filter. A tier
    // whose bucket count differs from the generation modulus
    // (out-of-contract mixed-modulus debris) is never pruned —
    // mis-pruning would silently drop rows where reading it whole
    // merely costs bytes.
    val leaves = genDataDirs(spark, baseDir, gen).flatMap {
      case (d, n) =>
        val prune = pbuckets.filter(_ => gen.modulus.contains(n))
          .map(_.toSet)
        fs.listStatus(new Path(d)).toSeq
          .filter { s =>
            s.isDirectory &&
            s.getPath.getName.startsWith("pbucket=") &&
            prune.forall(_.contains(
              s.getPath.getName.stripPrefix("pbucket=").toLong))
          }
          .map(_.getPath.toString)
    }
    val tierPart =
      if (leaves.isEmpty) None
      else Some(spark.read.parquet(leaves: _*))
    val recentDirs = committedDataDirsFrom(fs, baseStatuses,
      gen.coveredThrough, excludeBatch)
    val recentPart =
      if (recentDirs.isEmpty) None
      else Some(spark.read.option("basePath", baseDir)
        .parquet(recentDirs: _*)
        .withColumn("batch", col("batch").cast("long")))
    (tierPart.toSeq ++ recentPart).reduceOption(_.unionByName(_))
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
              "happens only when a fold overran the leaseStaleMs " +
              s"(${staleMs}ms) horizon — size it above the longest " +
              "fold and retry")
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

  /** The byte-ratio governor's two sides: (compact-dir bytes, upper
    * bytes = L0 runs + committed data batches in (coverage, cutoff]). */
  private def governorBytes(fs: FileSystem, baseDir: String,
    gen: Gen, cutoff: Long): (Long, Long) = {
    val compactBytes = gen.compact.map { case (c, n) =>
      fs.getContentSummary(
        new Path(s"$baseDir/compact=$c.n$n")).getLength
    }.getOrElse(0L)
    val upperBytes = gen.l0.map { r =>
      fs.getContentSummary(new Path(s"$baseDir/${r.name}")).getLength
    }.sum +
      committedDataDirs(fs, baseDir, gen.coveredThrough, -1L)
        .filter(_.split("batch=").last.toLong <= cutoff)
        .map(d => fs.getContentSummary(new Path(d)).getLength)
        .sum
    (compactBytes, upperBytes)
  }

  /** Write `compact=<cutoff>.n<nBuckets>` from the generation's tiers
    * plus the committed data batches in (coverage, cutoff]. */
  private def writeMajor(spark: SparkSession, fs: FileSystem,
    baseDir: String, gen: Gen, cutoff: Long, bucketKey: String,
    nBuckets: Int): Unit = {
    val target = s"$baseDir/compact=$cutoff.n$nBuckets"
    // one read across all tiers' pbucket leaf dirs (read whole — a
    // major rebuckets everything, so the old bucketing is irrelevant;
    // leaf roots avoid the sibling-root partition-discovery conflict,
    // see readCommittedAt)
    val tierLeaves = genDataDirs(spark, baseDir, gen).flatMap {
      case (d, _) =>
        fs.listStatus(new Path(d)).toSeq
          .filter(s => s.isDirectory &&
            s.getPath.getName.startsWith("pbucket="))
          .map(_.getPath.toString)
    }
    val tierPart =
      if (tierLeaves.isEmpty) None
      else Some(spark.read.parquet(tierLeaves: _*))
    val dirs = committedDataDirs(fs, baseDir, gen.coveredThrough, -1L)
      .filter(_.split("batch=").last.toLong <= cutoff)
    val dataPart =
      if (dirs.isEmpty) None
      else Some(spark.read.option("basePath", baseDir)
        .parquet(dirs: _*)
        .withColumn("batch", col("batch").cast("long")))
    (tierPart.toSeq ++ dataPart).reduceOption(_.unionByName(_)) match {
      case Some(df) =>
        df.withColumn("pbucket", bucketOf(col(bucketKey), nBuckets))
          .write.mode("overwrite").partitionBy("pbucket")
          .parquet(target)
      case None =>
        // only empty batches in range: commit an empty dir (marker
        // only) so the coverage rule advances past them
        fs.mkdirs(new Path(target))
        fs.create(new Path(target, "_SUCCESS"), true).close()
    }
  }

  /** Write the L0 run `run` from the committed data batches in
    * (run.lo, run.hi] ONLY — the generation's tiers are not read,
    * which is the whole point of a minor fold. */
  private def writeMinor(spark: SparkSession, fs: FileSystem,
    baseDir: String, run: L0Run, bucketKey: String): Unit = {
    val target = s"$baseDir/${run.name}"
    val dirs = committedDataDirs(fs, baseDir, run.lo, -1L)
      .filter(_.split("batch=").last.toLong <= run.hi)
    if (dirs.isEmpty) {
      fs.mkdirs(new Path(target))
      fs.create(new Path(target, "_SUCCESS"), true).close()
    } else
      spark.read.option("basePath", baseDir).parquet(dirs: _*)
        .withColumn("batch", col("batch").cast("long"))
        .withColumn("pbucket", bucketOf(col(bucketKey), run.nBuckets))
        .write.mode("overwrite").partitionBy("pbucket")
        .parquet(target)
  }

  /** Fold two adjacent L0 runs into one covering their union — the
    * size-tiered merge step. Reads the inputs' pbucket leaf dirs as
    * one relation; marker-only when both inputs are data-less. */
  private def mergeRuns(spark: SparkSession, fs: FileSystem,
    baseDir: String, a: L0Run, b: L0Run, merged: L0Run,
    bucketKey: String): Unit = {
    val target = s"$baseDir/${merged.name}"
    val leaves = Seq(a, b).flatMap { r =>
      val p = new Path(s"$baseDir/${r.name}")
      fs.listStatus(p).toSeq
        .filter(s => s.isDirectory &&
          s.getPath.getName.startsWith("pbucket="))
        .map(_.getPath.toString)
    }
    if (leaves.isEmpty) {
      fs.mkdirs(new Path(target))
      fs.create(new Path(target, "_SUCCESS"), true).close()
    } else
      spark.read.parquet(leaves: _*)
        .withColumn("pbucket",
          bucketOf(col(bucketKey), merged.nBuckets))
        .write.mode("overwrite").partitionBy("pbucket")
        .parquet(target)
  }

  /** TWO-PHASE sweep: delete only what was ALREADY redundant when
    * this call resolved the state at entry (batch dirs at or below
    * the entry coverage, folded tiers at or below it that are not
    * part of the entry generation or the new target). Dirs folded
    * into THIS call's target survive one more compactor call as a
    * grace window for concurrent readers — a reader that listed
    * directories before this commit can still open every file it
    * saw, and a pruned reader pinned to the entry generation
    * ([[readCommittedAt]]) still finds its tier dirs — INCLUDING a
    * same-cutoff predecessor superseded by an explicit bucket-count
    * change (deleting it in the same call would yank the modulus out
    * from under a pinned pruned reader; [[generation]]'s mtime pick
    * keeps the two-generations state unambiguous). Readers never
    * DUPLICATE retained dirs (the strictly-above-coverage rule
    * excludes batch grace dirs; only the resolved generation's tiers
    * are ever read), so the grace debris costs one call of extra
    * listing, bounded. A crash mid-sweep just leaves debris for the
    * next call. */
  private def sweep(fs: FileSystem, baseDir: String,
    entryCovered: Long, keep: Set[String]): Unit = {
    val base = new Path(baseDir)
    fs.listStatus(base).foreach { s =>
      s.getPath.getName match {
        case BatchName(id) if id.toLong <= entryCovered =>
          // only committed dirs: a torn batch dir (no marker) at or
          // below the coverage is out-of-contract debris, but
          // deleting a dir a concurrent writer is mid-writing would
          // corrupt its commit — leave it
          if (fs.exists(new Path(s.getPath, "_SUCCESS")))
            fs.delete(s.getPath, true)
        case CompactName(c, _) if c.toLong <= entryCovered &&
          !keep(s.getPath.getName) =>
          fs.delete(s.getPath, true)
        case L0Name(hi, _, _) if hi.toLong <= entryCovered &&
          !keep(s.getPath.getName) =>
          fs.delete(s.getPath, true)
        case GraveName() if s.isFile =>
          // orphaned lease graveyard (compactor crashed between the
          // grab and the delete/restore): without this it leaks
          // forever — no other path matches the token-named file.
          // The sweep runs under the lease, so the only LIVE
          // graveyard this could race belongs to a takeover of the
          // sweeper's own overrun lease (class doc: that takeover
          // aborts loudly and retries — confined to folds that
          // overran staleMs)
          fs.delete(s.getPath, false)
        case _ => ()
      }
    }
  }

  /** Tiered fold (class doc): a MINOR fold consolidates the committed
    * batch tail ≤ `upTo` into one L0 run without touching the
    * compacted table; a MAJOR merge (everything → a fresh compact
    * dir) happens only when the upper tiers' bytes reach `majorRatio`
    * of the compact dir's, when the L0 run count would exceed
    * `maxL0Runs`, or when `nBuckets` differs from the generation's
    * modulus (one modulus per generation — pruned readers derive one
    * bucket set for every tier). `maxL0Runs` is the listing
    * backstop, NOT the intended major trigger: the byte ratio is —
    * a run-count-forced major is byte-ungoverned and reintroduces
    * exactly the forced-full-rewrite pathology tiering removes (a
    * tight cap measured DOUBLING cumulative write bytes, BASELINE.md).
    * The default 64 keeps reads at O(64 dir listings) worst-case,
    * and since the leaf-rooted scan reads all runs as ONE relation,
    * a deep run stack costs listings, not per-run reads. Returns the
    * coverage reached (−1 when nothing is committed). Idempotent and
    * crash-safe (commit protocol in the class doc): re-running after
    * any crash converges. Lease-guarded, deferring (or failing, with
    * `failIfBusy`) on contention; every non-deferred call sweeps.
    *
    * Listing bound per read under a cadence-driven caller:
    * O(1 compact + ≤ maxL0Runs L0 runs + one cadence of batch dirs +
    * one call of grace debris). Write bound per byte: one batch
    * write + one L0 write + O(log n / log(1+majorRatio)) compact
    * rewrites — no backstop forces a full rewrite per 64 small
    * batches regardless of bytes. */
  def compactTiered(spark: SparkSession, baseDir: String, upTo: Long,
    bucketKey: String, nBuckets: Int = 64,
    majorRatio: Double = 0.1, maxL0Runs: Int = 64,
    mergeFactor: Double = 2.0,
    leaseStaleMs: Long = DefaultLeaseStaleMs,
    failIfBusy: Boolean = false): Long = {
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    require(maxL0Runs > 0, s"maxL0Runs must be positive: $maxL0Runs")
    withCompactorLease(spark, baseDir, leaseStaleMs, failIfBusy) {
      val fs = fsOf(spark, baseDir)
      val (gen, tailIds) = listState(spark, baseDir)
      val covered = gen.coveredThrough
      val foldIds = tailIds.filter(_ <= upTo)
      val cutoff =
        if (foldIds.isEmpty) covered
        else math.max(covered, foldIds.max)
      if (cutoff < 0) -1L
      else {
        val modulusChange = gen.modulus.exists(_ != nBuckets)
        val runsAfterMinor =
          gen.l0.size + (if (foldIds.nonEmpty) 1 else 0)
        // def, not val: when a modulus change or the run-count
        // backstop already forces the major, the decision must not
        // still pay a recursive content-summary scan of every tier
        def ratioHit: Boolean = gen.compact.isDefined && {
          val (compactBytes, upperBytes) =
            governorBytes(fs, baseDir, gen, cutoff)
          upperBytes >= compactBytes * majorRatio && upperBytes > 0
        }
        if (modulusChange || runsAfterMinor > maxL0Runs || ratioHit) {
          val targetName = s"compact=$cutoff.n$nBuckets"
          // skip the rewrite when the resolved compact already IS the
          // target and nothing would fold into it (crash-retry path)
          if (!(gen.compact.contains((cutoff, nBuckets)) &&
            gen.l0.isEmpty && foldIds.isEmpty))
            writeMajor(spark, fs, baseDir, gen, cutoff, bucketKey,
              nBuckets)
          sweep(fs, baseDir, covered, gen.dirNames.toSet + targetName)
          cutoff
        } else if (foldIds.nonEmpty) {
          val fresh = L0Run(covered, foldIds.max, nBuckets)
          if (!committed(spark, s"$baseDir/${fresh.name}"))
            writeMinor(spark, fs, baseDir, fresh, bucketKey)
          // size-tiered cascade: while the previous run is not
          // substantially larger than the newest, fold the two into
          // one run covering their union. Sizes end up geometric
          // (each ≥ mergeFactor× the one above), so the run count is
          // O(log L0 bytes) and every L0 byte is rewritten O(log)
          // times — the classic LSM discipline. Superseded inputs
          // stay one call as grace; the chain resolution skips them
          // (their intervals overlap the merged run's).
          def len(r: L0Run): Long = fs.getContentSummary(
            new Path(s"$baseDir/${r.name}")).getLength
          var runs = gen.l0 :+ fresh
          var cascading = mergeFactor > 0
          while (cascading && runs.size >= 2) {
            val prev = runs(runs.size - 2)
            val last = runs.last
            if (len(prev) <= mergeFactor * len(last)) {
              val merged = L0Run(prev.lo, last.hi, nBuckets)
              mergeRuns(spark, fs, baseDir, prev, last, merged,
                bucketKey)
              runs = runs.dropRight(2) :+ merged
            } else cascading = false
          }
          // the fresh run and every cascade product end at
          // foldIds.max > entryCovered, so the sweep (which only
          // touches dirs at or below entryCovered) cannot reach
          // them — no extra keep entries needed
          sweep(fs, baseDir, covered, gen.dirNames.toSet)
          cutoff
        } else {
          // nothing to fold: still sweep, so grace debris never
          // outlives one compactor call
          sweep(fs, baseDir, covered, gen.dirNames.toSet)
          covered
        }
      }
    }.getOrElse(compactedThrough(spark, baseDir))
  }
}
