package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.storage.StorageLevel

/** The exactly-once micro-batch protocol of the ingest gates
  * ([[SimilarityIngest]], [[EmbeddingIngest]], [[IngestDedup]]): one
  * commit loop ([[gateBatch]]) into which each gate plugs only its
  * verdict body, one locked compaction path ([[compactStores]]), one
  * committed-read path ([[committedRead]]) and one stream builder
  * ([[stream]]).
  *
  * '''Ledger.''' One empty marker file `_committed/batch-<id>` per
  * committed nonempty batch, created as the LAST write of the batch.
  * Existence is the commit record — nothing is ever rewritten, so there
  * is no crash window in which the ledger itself can be lost or
  * truncated (an overwritten single-file stamp has exactly that window,
  * and a corrupted stamp would wedge or mis-route every subsequent
  * replay).
  *
  * '''Writes.''' Every store a gate writes is batch-keyed: the batch's
  * rows land at `<store>/batch=<id>` with OVERWRITE semantics. The
  * stores are mutually independent, so they are written concurrently,
  * and the marker is the only barrier. Hence:
  *   - a replay of the committed id is a no-op;
  *   - a replay of a half-committed batch (crashed after some writes,
  *     before its marker) reads the prior corpus with its own
  *     half-written rows partition-pruned out (`batch =!= id`), so it
  *     re-derives the same verdicts and overwrites the same directories:
  *     nothing double-appends, nothing self-matches;
  *   - an id below the ledger fails loudly. That only happens when a
  *     fresh checkpoint is pointed at existing state, where silent
  *     no-ops would drop batches. Ids must be non-negative and monotone;
  *     batch backfills through the same path feed increasing ids against
  *     a fresh state dir;
  *   - an empty batch writes nothing and stamps nothing.
  *
  * '''Base segment.''' `batch=-1` holds a pre-seeded corpus or the fold
  * of committed batches ([[compactStores]]). Live ids are non-negative,
  * so no replay ever overwrites or self-matches it. A pre-seed routes
  * batch 0 through the gate's probe branch instead of its self-dedup
  * bootstrap, and must cover every index store the gate probes, or none.
  * That all-or-none check runs only before the first commit: a crash
  * inside the concurrent fold legitimately leaves some stores folded and
  * others not, and compaction never creates a base before the first
  * commit.
  *
  * '''Isolation.''' Readers see committed batches only
  * ([[committedRead]]). A gate's batch and a compaction fold exclude each
  * other through heartbeated lock markers ([[withGateLock]],
  * [[withCompactionLock]]), and a fold that crashed mid-swap is repaired
  * before the next batch probes ([[graft.io.Parquet.repairBatchStore]]). */
private[graft] object BatchLedger {
  private val Dir = "_committed"
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Mutual-exclusion markers between a stream's applyBatch and a
    * compaction fold: `stateDir/_compact.lock` (held across a fold) and
    * `stateDir/_gate.lock` (held across one micro-batch's gate work).
    * Each side acquires its OWN marker fail-fast (token-verified
    * rename-of-unique-temp — [[acquireMarker]]), then
    * checks the OTHER side's marker and backs out loudly if it is
    * fresh — so BOTH interleavings fail fast: a compaction starting
    * while a batch is mid-probe, and a batch starting while a fold is
    * mid-swap.
    *
    * Liveness without leases: the holder heartbeats its marker's mtime
    * every [[LockHeartbeatMs]]; a marker not touched for [[LockStaleMs]]
    * belongs to a crashed holder and is broken with a warning (safe —
    * repairBatchStore repairs a crashed fold's two-phase window, and a
    * crashed batch is replayed by its checkpoint), so a kill -9 cannot
    * wedge the stream forever. Best-effort by design: it assumes
    * roughly synchronized clocks on a shared filesystem (every
    * mtime-lease scheme's assumption), and breaking a stale marker
    * re-checks the mtime immediately before the delete so a competitor
    * that just re-created the file is not clobbered (the residual
    * stat-to-delete window is microseconds, vs the minutes-long fold
    * race this guards). */
  val CompactLockName = "_compact.lock"
  val GateLockName = "_gate.lock"
  val LockHeartbeatMs: Long = 30L * 1000

  /** Six missed heartbeats. The staleness window is also the worst-case
    * RESTART DELAY after a kill -9 (the dead holder's marker looks live
    * until it ages out, and the restarted stream's first batch fails
    * loudly until then), so it is kept tight: long legitimate holds are
    * covered by the heartbeat, not the window. */
  val LockStaleMs: Long = 3L * 60 * 1000

  private def activeMsg(lock: Path): String =
    s"marker $lock has a fresh heartbeat: another holder is active " +
      "(a compaction fold, a stream's in-flight micro-batch, or a " +
      "duplicate stream instance sharing this state dir) — these must " +
      "not run concurrently. If the holding process is known dead, " +
      s"delete the marker or wait ${LockStaleMs / 60000} minutes for " +
      "it to go stale."

  /** Throw if a FRESH marker exists; break (delete) a stale one. The
    * mtime is re-read immediately before the delete: if it moved, a
    * competitor already broke-and-reacquired (held — throw); if the
    * marker VANISHED, a competitor broke it and has not reacquired —
    * proceed, the caller's own create() settles the race fail-fast. */
  private def breakStaleOrThrow(fs: org.apache.hadoop.fs.FileSystem,
                                lock: Path): Unit = {
    // sweep crash litter first: a kill -9 between acquireMarker's
    // create(tmp) and rename leaves a `.{lock}.{uuid}.tmp` orphan that
    // no other path deletes, so a long-lived state dir would accumulate
    // one per crash forever. Age-gated on LockStaleMs so a LIVE
    // acquirer's in-flight temp (alive for microseconds) is never swept.
    try {
      val parent = lock.getParent
      val prefix = s".${lock.getName}."
      if (parent != null && fs.exists(parent))
        fs.listStatus(parent).foreach { t =>
          val n = t.getPath.getName
          if (t.isFile && n.startsWith(prefix) && n.endsWith(".tmp") &&
              System.currentTimeMillis() - t.getModificationTime >=
                LockStaleMs)
            fs.delete(t.getPath, false)
        }
    } catch { case _: java.io.IOException => () } // best-effort hygiene
    val st =
      try Some(fs.getFileStatus(lock))
      catch { case _: java.io.FileNotFoundException => None }
    st.foreach { s =>
      if (System.currentTimeMillis() - s.getModificationTime < LockStaleMs)
        throw new IllegalStateException(activeMsg(lock))
      val still =
        try Some(fs.getFileStatus(lock).getModificationTime ==
          s.getModificationTime)
        catch { case _: java.io.FileNotFoundException => None }
      still match {
        case Some(true) =>
          log.warn(s"breaking stale lock marker $lock (holder presumed " +
            "crashed; repairBatchStore repairs any half-finished fold)")
          fs.delete(lock, false)
        case Some(false) => throw new IllegalStateException(activeMsg(lock))
        case None => () // competitor broke it; our create() settles the race
      }
    }
  }

  /** Read a marker's hold token (the UUID [[acquireMarker]] wrote), None
    * if the marker does not exist. */
  private def readToken(fs: org.apache.hadoop.fs.FileSystem,
                        p: Path): Option[String] =
    try {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** Acquire a marker by WRITE → RENAME → READ-BACK (r12, replacing the
    * bare create(overwrite=false)): write a fresh UUID token to a unique
    * dot-temp sibling, rename it onto the marker, then read the marker
    * back and require our own token. Rename-of-unique-temp is atomic on
    * HDFS and the local FS; on stores whose rename silently REPLACES an
    * existing destination (POSIX rename(2) via RawLocalFileSystem) or is
    * copy+delete (S3A), the read-back NARROWS the race instead of
    * settling it: the last writer's token is in the file, so of two
    * same-side acquirers racing inside the rename-to-read-back window
    * the later renamer wins and the earlier one MAY still read its own
    * token before being clobbered. That residual double-win is detected
    * within one [[LockHeartbeatMs]] by the token check in
    * [[refreshMtime]] — the clobbered holder's next beat reads the
    * foreign token — which is the best an mtime-lease scheme can do
    * without a conditional-put primitive. Returns the hold token; throws
    * IllegalStateException (leaving no temp litter) when the marker is
    * held, and rethrows a RENAME IO FAILURE chained as such — a
    * transient store fault is not contention, and the activeMsg advice
    * ("wait 3 minutes") would be wrong for it. */
  private[graft] def acquireMarker(fs: org.apache.hadoop.fs.FileSystem,
                                   own: Path): String = {
    val token = java.util.UUID.randomUUID().toString
    val tmp = new Path(own.getParent, s".${own.getName}.$token.tmp")
    val out = fs.create(tmp, false)
    try out.write(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val renamed =
      try fs.rename(tmp, own)
      catch {
        case e: java.io.IOException =>
          try fs.delete(tmp, false)
          catch { case _: java.io.IOException => () }
          throw new java.io.UncheckedIOException(
            s"rename($tmp -> $own) failed with an IO error — this is a " +
              "store fault, NOT lock contention; retry the operation",
            e)
      }
    if (!renamed) {
      // rename refused (checking stores return false when the destination
      // exists): a competitor holds the marker
      try fs.delete(tmp, false)
      catch { case _: java.io.IOException => () }
      throw new IllegalStateException(activeMsg(own))
    }
    if (!readToken(fs, own).contains(token))
      // an overwriting-rename store let a simultaneous acquirer replace
      // our marker: exactly one of us reads their own token — we didn't
      throw new IllegalStateException(activeMsg(own))
    token
  }

  /** One heartbeat: verify the marker still carries OUR token, then
    * refresh its mtime, preferring setTimes (cheap metadata op). Object
    * stores (S3A et al.) don't support setTimes — there, re-writing the
    * marker refreshes its mtime on every store, so the hold stays
    * observably live too. Safe against clobbering a competitor: as long
    * as this beats every [[LockHeartbeatMs]] the marker never ages past
    * [[LockStaleMs]], so no competitor ever breaks-and-reacquires it
    * while we hold. Returns the failure when the hold is lost or neither
    * refresh path works (caller warns once).
    *
    * The token check runs on EVERY beat (r12), not just the
    * setTimes-less fallback: on stores whose rename silently REPLACES
    * the destination (POSIX rename(2) via RawLocalFileSystem), two
    * same-side acquirers racing inside [[acquireMarker]]'s
    * rename-to-read-back window can BOTH read their own token — the
    * earlier renamer checks before the later rename lands. A
    * token-blind setTimes would then refresh the competitor's marker
    * forever and the double-hold would never surface; with the check,
    * the clobbered holder reads the foreign token at its next beat and
    * learns the hold is lost within one [[LockHeartbeatMs]]. */
  private[graft] def refreshMtime(fs: org.apache.hadoop.fs.FileSystem,
                                  own: Path,
                                  token: String): Option[Throwable] =
    try {
      readToken(fs, own) match {
        case None =>
          Some(new java.io.FileNotFoundException(
            s"$own vanished mid-hold — broken as stale by a competitor?"))
        case Some(t) if t != token =>
          Some(new IllegalStateException(
            s"$own now carries a different hold token — this hold was " +
              "lost (broken as stale, or clobbered by a simultaneous " +
              "acquirer on an overwriting-rename store) and the marker " +
              "is now a competitor's; refusing to refresh it"))
        case Some(_) =>
          fs.setTimes(own, System.currentTimeMillis(), -1); None
      }
    }
    catch {
      // Marker GONE = the hold was LOST (a competitor broke it as stale —
      // e.g. this holder was GC/VM-paused past LockStaleMs). Do not
      // recreate it: an overwrite-create here would silently resurrect
      // the broken lock under the competitor's feet and our release would
      // then delete THE COMPETITOR's marker. Surface it to the warn-once
      // instead. r12: the fallback is TOKEN-VERIFIED — it re-creates the
      // marker only when the marker still carries OUR token, so a
      // competitor that already broke-and-reacquired is detected (foreign
      // token → hold lost) instead of clobbered. HONESTY NOTE: a residual
      // TOCTOU remains on setTimes-less stores — a competitor replacing
      // the marker inside the read-to-create window still gets clobbered.
      // That narrows the resurrection to (paused past 3-minute staleness)
      // ∧ (competitor acquires inside that microsecond window); fully
      // closing it needs a conditional-put primitive those stores don't
      // expose. Same residual class as breakStaleOrThrow's stat-to-delete
      // window — inherent to any mtime-lease scheme whose holder sleeps
      // past the lease.
      case fnf: java.io.FileNotFoundException => Some(fnf)
      case scala.util.control.NonFatal(_) =>
        try {
          readToken(fs, own) match {
            case None =>
              Some(new java.io.FileNotFoundException(
                s"$own vanished mid-hold — broken as stale by a competitor?"))
            case Some(t) if t != token =>
              Some(new IllegalStateException(
                s"$own now carries a different hold token — this hold " +
                  "was broken as stale and the marker reacquired by a " +
                  "competitor; refusing to clobber it"))
            case Some(_) =>
              val out = fs.create(own, true)
              try out.write(
                token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              finally out.close()
              None
          }
        } catch { case scala.util.control.NonFatal(ex) => Some(ex) }
    }

  /** Release a hold: delete the marker only while it still carries OUR
    * token — a hold lost to a stale-break must not delete the
    * competitor's reacquired marker. (The read-to-delete window is the
    * breakStaleOrThrow residual, documented there.) */
  private def release(fs: org.apache.hadoop.fs.FileSystem, own: Path,
                      token: String): Unit =
    try {
      readToken(fs, own) match {
        case Some(t) if t == token => fs.delete(own, false)
        case Some(_) =>
          log.warn(s"not releasing $own: it carries a different hold " +
            "token (this hold was broken as stale and reacquired by a " +
            "competitor)")
        case None => ()
      }
    } catch { case _: java.io.IOException => () }

  /** Acquire `ownName`, verify `otherName` is absent/stale, heartbeat
    * own marker from a daemon thread while `f` runs, release. Backs out
    * (releasing its own marker) if the other side holds a fresh one, so
    * a simultaneous start never RACES — the loser fails loudly and, for
    * a gate, the streaming query surfaces the failure to its restart
    * policy (Structured Streaming does not retry a failed batch in-run).
    *
    * To keep a simultaneous start from killing BOTH sides, the GATE side
    * passes a grace window: a compaction that just saw the gate's fresh
    * marker is guaranteed to back out within moments, so the gate polls
    * for the compact marker to vanish before giving up. The compaction
    * side never waits (graceMs 0): a mis-scheduled fold is the party
    * that should lose, and a fold-holder that does NOT back out is a
    * legitimately running fold the gate must yield to (grace expires →
    * loud failure, correct). No deadlock: only one side ever waits. */
  private def withLock[T](spark: SparkSession, stateDir: String,
                          ownName: String, otherName: String,
                          graceMs: Long)(f: => T): T = {
    val own = new Path(stateDir, ownName)
    val other = new Path(stateDir, otherName)
    val fs = own.getFileSystem(spark.sparkContext.hadoopConfiguration)
    breakStaleOrThrow(fs, own)
    // ATOMICITY NOTE (r12): acquisition is token-verified rename-of-
    // unique-temp (see acquireMarker) — atomic-exclusive on HDFS rename
    // semantics; on stores whose rename overwrites (POSIX local, S3A)
    // the read-back narrows the same-side race to the rename-to-read-back
    // window and the per-beat token check in refreshMtime detects a
    // clobbered hold within one LockHeartbeatMs. The pre-r12
    // create(overwrite=false) path
    // let two simultaneous SAME-SIDE acquirers both "win" on
    // exists-then-create stores. The load-bearing gate↔compaction
    // exclusion additionally uses two DIFFERENT marker files and is
    // enforced by the other-side freshness check below, which needs no
    // create atomicity at all.
    val token = acquireMarker(fs, own)
    try {
      val deadline = System.currentTimeMillis() + graceMs
      var acquired = false
      while (!acquired) {
        try {
          breakStaleOrThrow(fs, other)
          acquired = true
        } catch {
          case e: IllegalStateException =>
            if (System.currentTimeMillis() >= deadline) throw e
            Thread.sleep(200)
        }
      }
    } catch {
      case e: Throwable =>
        release(fs, own, token)
        throw e
    }
    @volatile var done = false
    // beats and fence reads are serialized on this monitor: on
    // setTimes-less stores a beat REWRITES the marker (create+write),
    // and a fence read inside that window would see partial content and
    // spuriously refuse a destructive phase while the hold is intact
    // (r13 review). Same-process only — cross-process rewrites are
    // covered by the fence's one retry below.
    val beatMonitor = new Object
    val hb = new Thread(() => {
      var warned = false
      while (!done) {
        try Thread.sleep(LockHeartbeatMs)
        catch { case _: InterruptedException => () }
        if (!done)
          beatMonitor.synchronized(refreshMtime(fs, own, token)).foreach { ex =>
            // both paths dead must not kill the fold itself — but it MUST
            // be observable: without beats a live hold goes "stale" and a
            // competitor breaks it
            if (!warned) {
              warned = true
              ex match {
                case _: IllegalStateException =>
                  // foreign token: not a dead heartbeat but a LOST hold —
                  // a competitor owns the marker and mutual exclusion is
                  // already violated; the two-phase ledger + repair path
                  // bound the damage, but this must read as an error
                  log.error(s"hold on $own is LOST " +
                    s"(${ex.getMessage}); this holder's remaining work " +
                    "races the competitor's — mutual exclusion was " +
                    "broken by a stale-break or a simultaneous-acquire " +
                    "clobber", ex)
                case _ =>
                  log.warn(s"lock heartbeat on $own is failing " +
                    s"(${ex.getClass.getSimpleName}: ${ex.getMessage}); " +
                    "the hold is no longer protected — either the marker " +
                    "was already broken as stale (this holder paused past " +
                    s"${LockStaleMs / 60000} minutes?) or this filesystem " +
                    "supports neither setTimes nor overwrite-create", ex)
              }
            }
          }
      }
    }, s"graft-lock-heartbeat-$ownName")
    hb.setDaemon(true)
    hb.start()
    // write-side fence (r13): destructive sites inside f (fold phase B,
    // ledger stamp/prune) re-verify the token IMMEDIATELY before
    // mutating, so a hold lost to an overwriting-rename double-win or a
    // stale-break refuses the destruction outright — the per-beat check
    // above only DETECTS the loss within one heartbeat, leaving
    // mutations inside that latency unfenced.
    val fence: () => Unit = () => {
      def read(): Option[String] =
        beatMonitor.synchronized(readToken(fs, own))
      val got = read() match {
        case ok @ Some(t) if t == token => ok
        case _ =>
          // one retry after a beat-width pause: a CROSS-PROCESS
          // competitor's in-flight marker rewrite (their beat's
          // overwrite-create) can expose partial content for
          // microseconds; a genuinely lost hold stays foreign forever
          Thread.sleep(100)
          read()
      }
      got match {
        case Some(t) if t == token => ()
        case g => throw new IllegalStateException(
          s"refusing destructive phase: the hold on $own was lost (" +
            (g match {
              case None =>
                "marker vanished — broken as stale by a competitor"
              case Some(_) => "marker now carries a competitor's token — " +
                "clobbered by a simultaneous acquirer on an " +
                "overwriting-rename store, or broken as stale and " +
                "reacquired"
            }) + "); the competitor may be mid-mutation, so this holder " +
            "must not touch shared state")
      }
    }
    try graft.Util.withDestructiveFence(fence)(f)
    finally {
      done = true
      hb.interrupt()
      // wait the heartbeat out before releasing: a beat mid-overwrite
      // (the setTimes-less fallback re-creates the marker) would race
      // release's token read — on a non-atomic-overwrite store the read
      // can see partial content, refuse the delete, and leave the marker
      // locked until the stale-break. Bounded join: a beat is one small
      // metadata op, so a join that outlasts a full heartbeat period
      // means the store itself is hung — release then proceeds best-
      // effort (its own read/delete will surface the same hang).
      try hb.join(LockHeartbeatMs)
      catch { case _: InterruptedException =>
        Thread.currentThread().interrupt() }
      if (hb.isAlive)
        log.warn(s"lock heartbeat thread for $own did not exit within " +
          s"${LockHeartbeatMs} ms of interrupt; releasing anyway — a " +
          "mid-rewrite beat may make this release a no-op, leaving the " +
          s"marker to the ${LockStaleMs / 60000}-minute stale-break")
      release(fs, own, token)
    }
  }

  /** Run a compaction fold holding `_compact.lock`; fails loudly if a
    * gate's micro-batch is in flight. */
  def withCompactionLock[T](spark: SparkSession,
                            stateDir: String)(f: => T): T =
    withLock(spark, stateDir, CompactLockName, GateLockName, graceMs = 0L)(f)

  /** Run one micro-batch's gate work holding `_gate.lock`; fails loudly
    * if a compaction fold is in flight. The grace window lets
    * the gate WIN a simultaneous start — a compaction that just backed
    * out on seeing the gate's marker releases within moments. */
  def withGateLock[T](spark: SparkSession, stateDir: String)(f: => T): T =
    withLock(spark, stateDir, GateLockName, CompactLockName,
      graceMs = 10L * 1000)(f)

  /** Highest committed batch id, -1 before the first commit. */
  def last(spark: SparkSession, stateDir: String): Long = {
    val dir = new Path(stateDir, Dir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) -1L
    else fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      // strict name match, not startsWith: a stray editor/tool artifact
      // ("batch-2~", "batch-2.tmp") in the ledger dir must be ignored,
      // not crash every subsequent batch inside toLong
      .collect { case s if s.matches("batch-\\d+") => s.drop(6).toLong }
      .maxOption.getOrElse(-1L)
  }

  def stamp(spark: SparkSession, stateDir: String, batchId: Long): Unit = {
    // the stamp is a batch's COMMIT RECORD — the one write that makes
    // half-written state readable — so a holder whose lock was lost must
    // not land it (r13 fence; no-op outside a lock scope)
    graft.Util.fenceDestructive()
    val marker = new Path(new Path(stateDir, Dir), s"batch-$batchId")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(marker, true).close()
  }

  /** Remove markers strictly below `keepMax` — only the max is
    * load-bearing ([[last]] takes `maxOption`), so pruning keeps the
    * ledger listing O(1) over years of batches. */
  def prune(spark: SparkSession, stateDir: String, keepMax: Long): Unit = {
    graft.Util.fenceDestructive() // deleting ledger markers is destructive
    val dir = new Path(stateDir, Dir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return
    fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(p => p.getName.matches("batch-\\d+") &&
        p.getName.drop(6).toLong < keepMax)
      .foreach(p => fs.delete(p, false))
  }

  /** COMMITTED-batch-isolated read of one of a gate's batch-keyed stores:
    * a crashed batch's half-written `batch=N` rows (on disk until its
    * replay overwrites them) are pruned via the ledger, so readers never
    * observe an uncommitted verdict; the compacted base is `batch=-1`,
    * always <= any committed frontier. Throws IllegalStateException
    * before the first nonempty batch commits. */
  def committedRead(spark: SparkSession, stateDir: String,
                    path: String): org.apache.spark.sql.DataFrame = {
    val frontier = last(spark, stateDir)
    if (frontier < 0L) throw new IllegalStateException(
      s"no committed batches at $stateDir yet — accepted()/quarantined() " +
        "have no schema to return before the first nonempty batch commits")
    // Fold isolation (r12): during compactBatchStore's destructive phase
    // B the store's listing transiently shows NEITHER the folded batch
    // dirs NOR the dot-hidden fold tmp — a plan-time listing inside that
    // window silently drops every folded committed row. The compaction
    // lock excludes the GATE, not readers, so wait the (rename+deletes,
    // normally sub-second) phase out here; a marker that persists past
    // the deadline is a fold that CRASHED mid-phase-B, and reading a
    // torn store must fail loudly (repairBatchStore completes the fold).
    // The check-to-listing race that remains is the same microseconds
    // residual class as breakStaleOrThrow's stat-to-delete window.
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val deadline = System.currentTimeMillis() + 60000L
    while (graft.io.Parquet.destructiveFoldPending(fs, p)) {
      if (System.currentTimeMillis() >= deadline)
        throw new IllegalStateException(
          s"a compaction fold of $path has been in its destructive phase " +
            "for over 60s — the folding process likely crashed mid-swap; " +
            "run the gate's repair (repairBatchStore) before reading, or " +
            "the scan would silently miss the folded committed rows")
      Thread.sleep(200)
    }
    spark.read.parquet(path)
      .filter(org.apache.spark.sql.functions.col("batch") <= frontier)
  }

  /** Fold all committed batches up to `upToBatch` (clamped to the ledger
    * frontier) into each store's `batch=-1` base segment, then prune
    * ledger markers below the retained maximum. Without this, a year of
    * micro-batches leaves every O(batch) probe scanning 10k+ tiny
    * per-batch files; after it, each store is ~data/128MB files again.
    * The stores are independent directories, so they fold concurrently.
    *
    * Replay semantics are unchanged: the base sits below every live id,
    * a half-committed batch ABOVE the frontier keeps its own subdirs for
    * its replay to overwrite, and only markers strictly below the
    * retained maximum are removed, so [[last]] (and with it no-op replay
    * detection) does not move. Holds `_compact.lock` across the fold: a
    * concurrent batch or second compaction fails loudly instead of
    * racing the gate's probes, and a crash mid-fold is repaired by the
    * next batch or compaction (the dead holder's lock goes stale). */
  def compactStores(spark: SparkSession, stateDir: String,
                    stores: Seq[String], upToBatch: Long): Unit = {
    val frontier = last(spark, stateDir)
    if (frontier < 0L) return // nothing committed, nothing to fold
    val upTo = math.min(upToBatch, frontier)
    if (upTo < 0L) return
    withCompactionLock(spark, stateDir) {
      graft.Util.runConcurrently(stores.map(
        p => () => graft.io.Parquet.compactBatchStore(spark, p, upTo)))
      prune(spark, stateDir, frontier)
    }
  }

  /** What [[gateBatch]] hands a gate's verdict body besides the batch. */
  final class GateBatch private[BatchLedger] (spark: SparkSession,
                                              val fs: FileSystem,
                                              id: Long,
                                              val bootstrapped: Boolean) {
    private val pinned = scala.collection.mutable.ListBuffer[DataFrame]()

    /** Persist `df` (unless it already is) and unpersist it when the
      * batch ends, committed or not: a transient failure mid-commit must
      * not leak persists into the retry. */
    def pin(df: DataFrame): DataFrame = {
      if (df.storageLevel == StorageLevel.NONE)
        df.persist(StorageLevel.MEMORY_AND_DISK)
      pinned += df
      df
    }

    /** The prior corpus of one batch-keyed store: everything in it except
      * this batch's own half-written rows (the replay prune). `schema` is
      * the frame schema the store was written from; reading with it
      * (plus the `batch` column) instead of inferring from footers saves
      * one Spark job per store per batch. The layout guard keeps the
      * explicit schema honest: a flat or foreign store would read `batch`
      * as NULL and the prune would silently empty the corpus. */
    def prior(path: String, schema: StructType): DataFrame = {
      graft.Util.requireBatchLayout(fs, path)
      spark.read.schema(schema.add("batch", LongType)).parquet(path)
        .filter(col("batch") =!= id)
    }

    private[BatchLedger] def release(): Unit = pinned.foreach(_.unpersist())
  }

  /** One micro-batch of a gate, under the protocol in this object's
    * scaladoc. `stores` are every batch-keyed directory the gate writes
    * (crash-repaired before the body runs); `seedStores` are the index
    * stores a pre-seed must cover. The body gets the batch spread by
    * `idCol` and pinned, and returns the batch's writes, one per store;
    * they run concurrently, and the marker lands after all of them. */
  private[streaming] def gateBatch(spark: SparkSession, stateDir: String,
      batch0: DataFrame, batchId: Long, idCol: String, stores: Seq[String],
      seedStores: Seq[String])(
      body: (GateBatch, DataFrame) => Seq[() => Unit]): Unit = {
    // -1 would collide with the empty-ledger sentinel and no-op silently
    require(batchId >= 0, s"batchId must be >= 0, got $batchId")
    val committed = last(spark, stateDir)
    require(batchId >= committed,
      s"batch id $batchId regressed below the committed ledger " +
        s"($committed) at $stateDir: state was built by a different " +
        "checkpoint lineage. Use fresh state or restore the original " +
        "checkpoint.")
    if (batchId == committed) return
    // BOTH sessions: under Structured Streaming batch0 is rooted at the
    // stream's cloned session, the stored-index reads at `spark`
    graft.Util.withMicroBatchPlanning(Seq(spark, batch0.sparkSession)) {
      withGateLock(spark, stateDir) {
        stores.foreach(graft.io.Parquet.repairBatchStore(spark, _))
        val fs = new Path(stateDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val g = new GateBatch(spark, fs, batchId,
          bootstrapped = committed >= 0L || seeded(fs, stateDir, seedStores))
        try {
          // spread BEFORE the feature passes: a one-partition
          // foreachBatch frame otherwise runs the whole per-doc compute
          // single-task
          val batch = g.pin(graft.Util.spreadBatch(batch0, idCol))
          if (!batch.isEmpty) {
            graft.Util.runConcurrently(body(g, batch))
            stamp(spark, stateDir, batchId)
          }
        } finally g.release()
      }
    }
  }

  /** Whether a pre-seeded `batch=-1` base exists; refuses a seed that
    * covers only some of `seedStores`. Meaningful only before the first
    * commit (see the base-segment note above). */
  private def seeded(fs: FileSystem, stateDir: String,
                     seedStores: Seq[String]): Boolean = {
    val (have, missing) =
      seedStores.partition(s => fs.exists(new Path(s, "batch=-1")))
    require(have.isEmpty || missing.isEmpty,
      s"partially seeded state at $stateDir (a half-written seed): a " +
        s"batch=-1 base exists in ${have.mkString(", ")} but not in " +
        s"${missing.mkString(", ")}. Seed every index store at id -1, or " +
        "none — the gate probes them all.")
    have.nonEmpty
  }

  /** The Structured Streaming query every micro-batch body in this
    * package runs under: a parquet directory source, `apply` once per
    * micro-batch with its id. The source schema is `schema`, else the
    * existing files' under `srcDir`. The WAL checkpoint plus the body's
    * own batch-keyed commit give exactly-once end to end; the caller
    * `.start()`s the query. */
  def stream(spark: SparkSession, srcDir: String, checkpointDir: String,
             schema: Option[StructType] = None)(
      apply: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    spark.readStream
      .schema(schema.getOrElse(spark.read.parquet(srcDir).schema))
      .parquet(srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(apply)
}
