package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Exactly-once incremental materialized-view maintenance over a PLAIN
  * parquet sink — the pattern for keeping a per-key summary current
  * against an unbounded stream without a transactional table format.
  *
  * Mechanics per micro-batch: aggregate the batch (map-side combined),
  * merge with the existing summary by key, write to a temp dir, stamp the
  * BATCH ID inside the new dir (`_last_batch_id` — underscore files are
  * invisible to parquet readers), and atomically swap. Because the stamp
  * travels inside the swapped directory, "data merged" and "batch
  * recorded" commit together: a checkpoint replay after any crash sees
  * `batchId <= stamped id` and no-ops, so a batch can never double-count —
  * the idempotent-sink half of Structured Streaming's exactly-once
  * contract, normally supplied by Delta-style formats.
  *
  * Scale shape: the stream side only ever aggregates the DELTA; the merge
  * touches summary-size rows (keys, not events). The summary rewrite is
  * the classic small-files compromise — at very large key cardinality,
  * partition the summary and swap only touched partitions.
  */
object SummaryMaintenance {

  private val StampName = "_last_batch_id"

  /** Commit-protocol selector, read from the session conf.
    *
    * STORE CONTRACT (r14, VERDICT #7 — stated once, here):
    *  - `"swap"` (default) commits by two DIRECTORY renames
    *    (`data`→`data.__graft_old`, `data.__graft_tmp`→`data`). It
    *    requires renames that are cheap and all-or-nothing per
    *    directory: true on HDFS and local/POSIX filesystems (metadata
    *    ops). On S3-class object stores a directory "rename" is an
    *    O(files) copy+delete — the swap window stretches from
    *    microseconds to seconds ([[readableData]] waits it out) and a
    *    crash mid-copy leaves a PARTIAL destination the repair path
    *    cannot distinguish from a complete one. Do not use swap mode on
    *    a store without atomic directory rename.
    *  - `"pointer"` commits with ZERO renames: each batch writes a
    *    fresh `data.v<batchId>` directory, then flips the one-line
    *    `_current` pointer file with a single-object overwrite-create.
    *    The only atomicity it needs is single-object PUT visibility
    *    (readers see the old bytes or the new bytes, never a torn
    *    object) — the guarantee S3-class stores actually make. On
    *    POSIX/HDFS the overwrite-create truncate window is covered by
    *    the reader's bounded retry. Previous version dirs survive
    *    [[RetainVersionsKey]] extra commits (default 1) so in-flight
    *    readers finish their scan; a reader is only at risk if it falls
    *    that many FULL COMMIT CYCLES behind, vs the swap's fixed
    *    [[SwapWaitMs]] window.
    * A summaryDir's first commit picks its protocol; swap-mode commits
    * refuse a dir that has a pointer (the pointer would keep naming a
    * stale version while swap rewrites `data`). Pointer-mode commits
    * accept legacy swap state (reads it as the current summary, then
    * retires `data`/`data.__graft_old`) — migrate when no readers are
    * mid-scan. */
  private[graft] val CommitModeKey = "spark.graft.summary.commitMode"
  private val PointerName = "_current"

  /** How many PREVIOUS pointer-mode versions GC retains besides the
    * current one (default 1 = the r14 behavior: current + the
    * immediately-previous version). On an object store a long analytical
    * scan can outlive several commit cycles; raising this keeps the
    * version a slow reader resolved alive for N commits instead of one.
    * GC keeps the (N+1) highest-id `data.v*` dirs, so disk stays bounded
    * at (retain+1) summary copies and replay is untouched (the stamp
    * rides the CURRENT version only). Must be >= 1: an in-flight reader
    * that resolved the pointer just before a flip needs the previous
    * version to finish its scan. */
  private[graft] val RetainVersionsKey = "spark.graft.summary.retainVersions"

  /** Bucketed pointer-mode commits (the scale form of the summary — the
    * plain modes rewrite the WHOLE summary every batch, the small-files
    * compromise called out above). With `spark.graft.summary.buckets`
    * = N > 0 (pointer mode only), the summary is hash-partitioned into N
    * buckets by key, and a commit writes ONLY the buckets the batch's
    * delta touches:
    *
    *   - `part.v<id>/bucket=<b>/` — the touched buckets' merged data,
    *     one dir per commit (batch-keyed, overwrite-idempotent);
    *   - `manifest.v<id>` — one small text file mapping EVERY live
    *     bucket to the `part.v*` dir that last wrote it (untouched
    *     buckets keep their old mapping), terminated by a trailing
    *     `#end` line so a torn write is unparsable — the same
    *     truncation defense as the pointer record;
    *   - `_current` — flipped to `manifest.v<id>\n` as the commit point.
    *
    * Per-batch cost is O(delta + touched buckets), not O(summary):
    * at large key cardinality with localized updates, untouched buckets
    * are never read, never rewritten, and never re-shuffled. Write
    * order (data → manifest → flip) makes a `#end`-complete manifest a
    * complete commit image, so the torn-pointer repair picks the
    * highest valid manifest exactly like plain mode picks the highest
    * stamp. GC keeps the [[RetainVersionsKey]]+1 newest manifests and
    * every `part.v*` dir any KEPT manifest references — a lagging
    * reader's resolved manifest keeps its data alive by construction.
    * N is state identity (`_buckets` stamp): commits validate it once
    * data exists. Readers need NO conf — they detect the mode from the
    * pointer's record shape. Plain <-> bucketed migration is refused
    * loudly; start a fresh summaryDir (or backfill through the bucketed
    * path) to re-shard. */
  private[graft] val BucketsKey = "spark.graft.summary.buckets"
  private val ManifestEnd = "#end"

  /** Compaction cadence for [[maintain]]ed BUCKETED summaries (r17):
    * with `spark.graft.summary.compactEvery` = N > 0, the maintaining
    * stream runs [[compactSummary]] after every commit whose batch id
    * is a positive multiple of N — the operational form of the disk
    * bound (O(retained images), not O(touch-history)) so nobody has to
    * remember to run it by hand. Default 0 = off (the pre-r17
    * behavior). Requires bucketed commits: the plain modes rewrite
    * their whole image every batch, so the cadence is refused loudly
    * there rather than failing on the Nth batch. Exactly-once is
    * untouched — compaction re-publishes the SAME committed id, so a
    * crash between the commit and its compaction replays the batch as
    * a no-op and re-triggers the compaction, which is itself
    * crash-rerunnable. */
  private[graft] val CompactEveryKey = "spark.graft.summary.compactEvery"

  /** Key/value schema contract sidecar (`_schema`, r17 — ADVICE): the
    * explicit-schema merge reads (plain merge and bucketed leaf reads)
    * silently yield all-NULL columns when a delta's key NAME differs
    * from the stored files (parquet returns nulls for schema columns
    * absent from the footer), so a caller that renames keyCols between
    * batches would merge the entire stored summary under a null key —
    * silent corruption where the old inferring path failed loudly. The
    * sidecar persists the merge schema (field names + types as
    * StructType JSON) at first commit; every later commit must match it
    * exactly or fail with the commit untouched — the name-change twin
    * of the type fence the explicit read already provides. Legacy
    * summaries (pre-sidecar data with no stamp) are verified once
    * against the stored footer, then stamped. */
  private val SchemaName = "_schema"

  /** Order-sensitive (name, type) signature — nullability and metadata
    * excluded: they vary with upstream filters without changing which
    * key a row merges under. */
  private def schemaSig(schema: org.apache.spark.sql.types.StructType)
      : Seq[(String, org.apache.spark.sql.types.DataType)] =
    schema.fields.toSeq.map(f => (f.name, f.dataType))

  /** None when missing OR unreadable/unparsable: a torn stamp write is
    * repaired by the next commit's re-validate-and-stamp (the legacy
    * path), never trusted. */
  private def readSchemaStamp(fs: org.apache.hadoop.fs.FileSystem,
                              root: org.apache.hadoop.fs.Path)
      : Option[org.apache.spark.sql.types.StructType] = {
    val p = new org.apache.hadoop.fs.Path(root, SchemaName)
    try {
      if (!fs.exists(p)) return None
      val in = fs.open(p)
      val raw = try new String(org.apache.commons.io.IOUtils
        .toByteArray(in), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
      org.apache.spark.sql.types.DataType.fromJson(raw) match {
        case s: org.apache.spark.sql.types.StructType => Some(s)
        case _ => None
      }
    } catch { case _: java.io.IOException | _: RuntimeException => None }
  }

  private def writeSchemaStamp(fs: org.apache.hadoop.fs.FileSystem,
                               root: org.apache.hadoop.fs.Path,
                               schema: org.apache.spark.sql.types.StructType)
      : Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(root, SchemaName), true)
    try out.write(schema.json
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Enforce the sidecar contract for one commit. `storedPaths` names
    * the committed summary's data (empty before first commit): with a
    * stamp AND data, mismatch fails loudly pre-write; a stamp with no
    * data behind it is a crashed never-visible first attempt and the
    * delta owns the schema (the `_buckets` rule); no stamp with data is
    * a legacy summary — verified once against the stored footer (one
    * inference read, one-time per summary), then stamped. */
  private def validateSchemaStamp(spark: SparkSession,
                                  fs: org.apache.hadoop.fs.FileSystem,
                                  root: org.apache.hadoop.fs.Path,
                                  mergeSchema: org.apache.spark.sql.types.StructType,
                                  storedPaths: Seq[String]): Unit = {
    val want = schemaSig(mergeSchema)
    readSchemaStamp(fs, root) match {
      case Some(stored) if storedPaths.nonEmpty =>
        require(schemaSig(stored) == want,
          s"batch schema ${want.map { case (n, t) => s"$n:${t.simpleString}" }
            .mkString("(", ", ", ")")} does not match the summary's " +
            s"committed schema ${schemaSig(stored)
              .map { case (n, t) => s"$n:${t.simpleString}" }
              .mkString("(", ", ", ")")} at $root — a renamed key column " +
            "would merge the whole stored summary under NULL keys. Keep " +
            "the maintaining keyCols/valueCol stable, or start a fresh " +
            "summaryDir for the new schema.")
      case Some(stored) =>
        if (schemaSig(stored) != want) writeSchemaStamp(fs, root, mergeSchema)
      case None =>
        if (storedPaths.nonEmpty) {
          val inferred = spark.read.parquet(storedPaths: _*).schema
          require(schemaSig(inferred) == want,
            s"batch schema ${want.map { case (n, t) => s"$n:${t.simpleString}" }
              .mkString("(", ", ", ")")} does not match the stored " +
              s"summary's footer schema ${schemaSig(inferred)
                .map { case (n, t) => s"$n:${t.simpleString}" }
                .mkString("(", ", ", ")")} at $root (legacy summary, no " +
              s"$SchemaName stamp) — refusing the merge; a renamed key " +
              "column would merge the stored summary under NULL keys.")
        }
        writeSchemaStamp(fs, root, mergeSchema)
    }
  }

  /** Parse a manifest file: (bucket -> part-dir name). Returns None when
    * the content is incomplete (no trailing `#end` line) — for the
    * repair path, which must skip torn manifests. */
  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
                           mf: org.apache.hadoop.fs.Path)
      : Option[Map[Int, String]] = {
    val raw =
      try {
        val in = fs.open(mf)
        try new String(org.apache.commons.io.IOUtils.toByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      } catch { case _: java.io.IOException => return None }
    val lines = raw.split("\n", -1).toSeq
    // a complete manifest is entries, then #end, then the final "\n"'s
    // empty remainder; anything else is torn
    if (lines.length < 2 || lines.last.nonEmpty ||
        lines(lines.length - 2) != ManifestEnd) return None
    val entries = lines.dropRight(2).map { l =>
      val i = l.indexOf('\t')
      if (i <= 0) return None
      val b = l.substring(0, i)
      val d = l.substring(i + 1)
      if (!b.forall(_.isDigit) || !d.matches("part\\.[vc]\\d+")) return None
      b.toInt -> d
    }
    Some(entries.toMap)
  }

  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
                            mf: org.apache.hadoop.fs.Path,
                            mapping: Map[Int, String]): Unit = {
    val body = mapping.toSeq.sortBy(_._1)
      .map { case (b, d) => s"$b\t$d" }
      .:+(ManifestEnd).mkString("", "\n", "\n")
    // temp-write + rename (r17): a crash mid-write must never leave a
    // TORN file under a real manifest name. The `#end` terminator
    // already makes torn content unreadable, but GC's throw-on-
    // unreadable-KEPT-manifest honesty (r15 ADVICE) relies on kept
    // manifests being COMPLETE — a compaction that crashed between
    // creating manifest.c<id> and finishing the bytes would otherwise
    // leave a same-id torn manifest that GC cannot distinguish from an
    // IO fault on live state. The `.__tmp` name matches no manifest
    // regex (invisible to readers, repair, and retention) and GC's
    // not-kept clause sweeps strays.
    val tmp = new org.apache.hadoop.fs.Path(
      mf.getParent, mf.getName + ".__tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(mf)) fs.delete(mf, false)
    if (!fs.rename(tmp, mf))
      throw new java.io.IOException(s"manifest publish $tmp -> $mf failed")
  }

  /** Total order over manifest names: by id, with the compaction image
    * (`manifest.c<id>`, see [[compactSummary]]) AFTER the commit image
    * (`manifest.v<id>`) at the same id — the compaction folded that
    * commit's state, so it is the newer equivalent image. */
  private def manifestRank(name: String): (Long, Int) =
    if (name.startsWith("manifest.c"))
      (name.stripPrefix("manifest.c").toLong, 1)
    else (name.stripPrefix("manifest.v").toLong, 0)

  /** How long a reader waits out a mid-flight summary swap before falling
    * back to the parked pre-swap dir (see [[readableData]]), and the
    * bound on pointer-read retries in pointer mode. Sized for an
    * object store's O(files) copy-"rename", not HDFS's metadata rename;
    * tests shrink it so the crashed-committer path doesn't poll 30 s. */
  @volatile private[graft] var SwapWaitMs: Long = 30000L

  /** Test seam: runs inside [[reshardToBuckets]] immediately before the
    * pre-flip source re-resolution, so a spec can land a commit on the
    * source in exactly the window the live-source guard exists for.
    * Production value is a no-op. */
  @volatile private[graft] var ReshardPreFlipHook: () => Unit = () => ()

  /** One `_current` read, classified. [[NoPointer]] = no pointer file
    * (swap-mode state or before first commit); [[TornPointer]] = pointer
    * present but not (yet) a complete commit record — the
    * overwrite-create truncate window on POSIX/HDFS, a torn read, or an
    * IO fault (carried as `cause` so a PERSISTENT fault surfaces on the
    * caller's deadline instead of masquerading as an endless torn
    * write); [[ResolvedPointer]] = a complete, terminated record. */
  private sealed trait PointerRead
  private case object NoPointer extends PointerRead
  private final case class TornPointer(cause: Option[java.io.IOException])
      extends PointerRead
  private final case class ResolvedPointer(name: String) extends PointerRead

  private def readPointer(fs: org.apache.hadoop.fs.FileSystem,
                          ptr: org.apache.hadoop.fs.Path): PointerRead = {
    if (!fs.exists(ptr)) return NoPointer
    val raw =
      try {
        val in = fs.open(ptr)
        try new String(org.apache.commons.io.IOUtils.toByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      } catch { case e: java.io.IOException => return TornPointer(Some(e)) }
    // a COMPLETE pointer record is exactly "data.v<digits>\n" — the
    // trailing terminator makes any truncated flip UNPARSABLE rather
    // than merely unlikely (r14 ADVICE): without it, a crash mid-write
    // can leave a valid-looking PREFIX of the real name ("data.v5"
    // from "data.v50") whose dir may still be LIVE under retain-N GC,
    // silently resolving readers to a stale version. Truncation can
    // never manufacture the terminator, so a prefix is always
    // classified torn and the committer repairs from the highest
    // stamp.
    raw match {
      case PointerRecord(name) => ResolvedPointer(name)
      case LegacyPointerRecord(name) =>
        // an r14-era committer wrote the bare name with NO terminator —
        // indistinguishable, as bytes, from a truncated modern flip. A
        // blanket "torn" here turns a rolling upgrade into an OUTAGE for
        // reader-only processes (they spin the full SwapWaitMs and throw
        // until some committer runs applyBatch once — r15 ADVICE), so
        // accept the legacy shape under the ONE condition truncation
        // cannot fake: the named dir must be the HIGHEST-stamped live
        // `data.v*` version. Truncating "data.v50\n" can yield the
        // prefix "data.v5", but data.v50's dir — written and stamped
        // BEFORE the flip — always exists and outranks it, so a
        // truncated prefix never passes; and a truncation that kept the
        // FULL name resolves to exactly the version the committer's own
        // repair would re-publish. Bucketed manifests have no legacy
        // form (the mode was born after the terminator): data.v only.
        val root = ptr.getParent
        val highestStamped =
          try {
            if (!fs.exists(root)) None
            else fs.listStatus(root).toSeq
              .filter(st => st.isDirectory &&
                st.getPath.getName.matches("data\\.v\\d+"))
              .filter(st => fs.exists(
                new org.apache.hadoop.fs.Path(st.getPath, StampName)))
              .map(_.getPath.getName)
              .sortBy(n => n.stripPrefix("data.v").toLong)
              .lastOption
          } catch {
            case e: java.io.IOException => return TornPointer(Some(e))
          }
        if (highestStamped.contains(name)) ResolvedPointer(name)
        else TornPointer(None)
      case _ => TornPointer(None)
    }
  }

  /** Pre-terminator (r14-binary) pointer record: the bare version-dir
    * name, no trailing newline. See [[readPointer]] for the guarded
    * one-time acceptance. */
  private val LegacyPointerRecord = "(data\\.v\\d+)".r

  // two commit-image shapes share the pointer protocol: a full summary
  // copy (`data.v<id>` dir, plain pointer mode) and a bucket MANIFEST
  // (`manifest.v<id>` file — or `manifest.c<id>`, the same-id
  // compaction image, see [[compactSummary]] — bucketed mode, see
  // [[BucketsKey]]). Readers auto-detect from the resolved name;
  // writers fence the modes apart.
  private val PointerRecord = "((?:data\\.v|manifest\\.[vc])\\d+)\n".r

  /** A version-dir name as a complete pointer record (see
    * [[readPointer]] for why the terminator is load-bearing). */
  private def pointerRecord(name: String): Array[Byte] =
    (name + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Stamped batch id of the live summary, -1 before first commit. In
    * bucketed mode the commit id IS the resolved manifest's version (the
    * manifest is the commit image); in the plain modes it is the
    * `_last_batch_id` stamp inside the resolved dir. */
  def lastBatchId(spark: SparkSession, summaryDir: String): Long = {
    import org.apache.hadoop.fs.Path
    val root = new Path(summaryDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readableData(fs, root).fold(-1L)(resolvedId(fs, _))
  }

  /** Committed batch id of an already-RESOLVED version (dir or
    * manifest), so callers that need both the id and the data derive
    * them from ONE resolution (see [[reshardToBuckets]]). */
  private def resolvedId(fs: org.apache.hadoop.fs.FileSystem,
                         d: org.apache.hadoop.fs.Path): Long = {
    import org.apache.hadoop.fs.Path
    if (d.getName.startsWith("manifest."))
      manifestRank(d.getName)._1
    else {
      val stamp = new Path(d, StampName)
      if (!fs.exists(stamp)) -1L
      else {
        val in = fs.open(stamp)
        try new String(org.apache.commons.io.IOUtils.toByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong
        finally in.close()
      }
    }
  }

  /** Read the current summary (empty-schema-safe: returns None before the
    * first commit — and, in bucketed mode, while no bucket holds data:
    * a zero-bucket manifest has no files to carry a schema). Readers
    * detect the commit mode from the resolved pointer record and need no
    * conf. */
  def readSummary(spark: SparkSession, summaryDir: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(summaryDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readableData(fs, root).flatMap(resolvedSummary(spark, fs, root, _))
  }

  /** The summary frame of an already-RESOLVED version (dir or
    * manifest) — the read half of [[readSummary]], shared with callers
    * that must pair the data with [[resolvedId]] from one resolution. */
  private def resolvedSummary(spark: SparkSession,
                              fs: org.apache.hadoop.fs.FileSystem,
                              root: org.apache.hadoop.fs.Path,
                              d: org.apache.hadoop.fs.Path)
      : Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    // external readers ride the `_schema` stamp when present (r17):
    // the stamp is validated against every commit, so it IS the stored
    // schema — passing it explicitly skips parquet footer inference,
    // one driver job per read, the committer's own r16 economy applied
    // to the serving side. Legacy dirs (no stamp) keep inferring.
    val rd = readSchemaStamp(fs, root).fold(spark.read)(spark.read.schema)
    if (!d.getName.startsWith("manifest."))
      Some(rd.parquet(d.toString))
    else {
      // a REFERENCED manifest is complete by write order (data →
      // manifest → flip); a torn one here is corrupt state, not a
      // transient — same honesty rule as the pointer itself
      val mapping = readManifest(fs, d).getOrElse(
        throw new java.io.IOException(s"summary manifest $d is torn/" +
          "incomplete — bucketed pointer-mode state is corrupt"))
      if (mapping.isEmpty) None
      else Some(rd.parquet(mapping.toSeq.sortBy(_._1).map {
        case (b, dir) => new Path(new Path(root, dir), s"bucket=$b").toString
      }: _*))
    }
  }

  /** The concrete dir a reader should load: `data`, or — when a commit's
    * two-rename swap is mid-flight (`data` absent, the pre-swap state
    * parked at `data.__graft_old`) — wait for the second rename to land.
    * Pre-r12 a reader in that window got None / -1 once per micro-batch
    * commit, so an external consumer saw a populated view flicker
    * "empty-before-first-commit".
    *
    * On HDFS/local the swap window is two metadata renames
    * (microseconds); on object stores a directory "rename" is an
    * O(files) copy, so a SLOW BUT LIVE commit can hold the window open
    * for seconds — and handing such a reader the parked `old` dir is a
    * time bomb: the committer deletes it the moment its second rename
    * lands, failing the reader's scan at action time. The deadline is
    * therefore sized for the slow-copy case ([[SwapWaitMs]]), and `data` is
    * re-checked one final time AFTER deciding to fall back, so a commit
    * that lands during the last poll interval wins over the doomed
    * path. A window that outlasts all of that is a committer that
    * CRASHED between its two renames: the parked pre-swap view —
    * exactly what the next applyBatch's repair restores — is the last
    * committed state and is stable until that repair, so return it
    * rather than pretending the summary never existed. None only when
    * neither dir exists: genuinely before the first commit. */
  private def readableData(fs: org.apache.hadoop.fs.FileSystem,
                           root: org.apache.hadoop.fs.Path)
      : Option[org.apache.hadoop.fs.Path] = {
    import org.apache.hadoop.fs.Path
    val ptr = new Path(root, PointerName)
    // pointer-committed state resolves through `_current` (see
    // [[CommitModeKey]]): one atomic single-object read names the
    // committed version dir — no swap window exists. Two transients are
    // retried within the same bound the swap reader uses: a torn/
    // truncated pointer (overwrite-create window on POSIX/HDFS) and a
    // pointer naming a dir the next commit's GC already removed (the
    // reader fell a full commit cycle behind — re-read lands on the new
    // current). A pointer that never resolves is CORRUPT state, thrown,
    // not silently read as "summary never existed".
    if (readPointer(fs, ptr) != NoPointer) {
      val deadline = System.currentTimeMillis() + SwapWaitMs
      var lastCause: Option[java.io.IOException] = None
      while (true) {
        readPointer(fs, ptr) match {
          case ResolvedPointer(name) =>
            val d = new Path(root, name)
            if (fs.exists(d)) return Some(d)
          case NoPointer =>
            // pointer vanished after being seen: never written by any
            // committer path — treat as corrupt rather than guessing
            throw new java.io.IOException(
              s"summary pointer $ptr vanished mid-read")
          case TornPointer(cause) => // torn write window: retry
            lastCause = cause.orElse(lastCause)
        }
        if (System.currentTimeMillis() >= deadline) {
          // a persistent IO fault (permissions, connectivity) reads as
          // torn on every retry; surface the REAL error as the cause
          // instead of reporting only "corrupt or abandoned" (r14 ADVICE)
          val e = new java.io.IOException(s"summary pointer $ptr did not " +
            s"resolve to a live version dir within $SwapWaitMs ms — " +
            "corrupt or abandoned pointer-mode state" +
            lastCause.fold("")(c => s" (last read error: $c)"))
          lastCause.foreach(e.initCause)
          throw e
        }
        Thread.sleep(50)
      }
    }
    val data = new Path(root, "data")
    val old = new Path(root, "data.__graft_old")
    val deadline = System.currentTimeMillis() + SwapWaitMs
    while (System.currentTimeMillis() < deadline) {
      if (fs.exists(data)) return Some(data)
      if (!fs.exists(old)) return None // no swap in flight: truly empty
      Thread.sleep(50)
    }
    // last-look order matters: `old` first, then `data` — if the commit
    // finished inside the final poll interval (old gone, data live) the
    // fresher check wins and the deleted-moments-later path is never
    // handed out
    val oldExists = fs.exists(old)
    if (fs.exists(data)) Some(data)
    else if (oldExists) Some(old)
    else None
  }

  /** Merge one micro-batch into the summary; idempotent under replay of
    * the same (or an older) batchId. Exposed for testing and for batch
    * backfills that reuse the streaming merge path. */
  def applyBatch(spark: SparkSession, summaryDir: String, batch: DataFrame,
                 batchId: Long, keyCols: Seq[String],
                 valueCol: String): Unit = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(summaryDir)
    val fs = root.getFileSystem(conf)
    val data = new Path(root, "data")
    val old = new Path(root, "data.__graft_old")
    val ptr = new Path(root, PointerName)
    val pointerMode =
      spark.conf.get(CommitModeKey, "swap").trim.equalsIgnoreCase("pointer")
    // validate the GC depth BEFORE any write/repair work: a mis-set conf
    // must not surface only after this batch's version dir is written
    val retainVersions =
      if (!pointerMode) 1
      else spark.conf.get(RetainVersionsKey, "1").trim.toInt
    require(retainVersions >= 1, s"$RetainVersionsKey must be >= 1 (got " +
      s"$retainVersions): the immediately-previous version must survive " +
      "one commit for readers that resolved the pointer just before the " +
      "flip")
    // a pointer-committed dir must never take swap commits: the pointer
    // would keep naming the pre-swap version while swap rewrites `data`,
    // splitting readers (pointer-aware ones frozen in time) from the
    // stream — fail loudly instead (see the CommitModeKey contract)
    require(pointerMode || !fs.exists(ptr),
      s"$summaryDir was committed in pointer mode (_current exists); " +
        s"set $CommitModeKey=pointer for this summary or start a fresh dir")
    val buckets = spark.conf.get(BucketsKey, "0").trim.toInt
    require(buckets >= 0 && buckets <= (1 << 20),
      s"$BucketsKey must be in [0, 2^20], got $buckets")
    require(buckets == 0 || pointerMode,
      s"$BucketsKey requires $CommitModeKey=pointer (the manifest commit " +
        "point is the pointer flip); swap mode has no bucketed form")
    // mode fence BEFORE any repair: a bucketed dir must never take plain
    // commits (the plain repair/GC would treat its manifests as torn
    // state), and vice versa — each mode refuses the other's artifacts
    val hasManifests = fs.exists(root) && fs.listStatus(root)
      .exists(_.getPath.getName.startsWith("manifest."))
    require(buckets > 0 || !hasManifests,
      s"$summaryDir is a BUCKETED pointer-mode summary (manifest.v* " +
        s"present); set $BucketsKey to its bucket count (the _buckets " +
        "stamp) or start a fresh dir")
    if (buckets > 0) {
      applyBatchBucketed(spark, summaryDir, batch, batchId, keyCols,
        valueCol, buckets, retainVersions)
      return
    }
    // pointer crash repair (r14 review): on POSIX/HDFS the flip's
    // overwrite-create truncates `_current` before writing — a committer
    // crash inside that window leaves a torn/empty pointer that readers
    // (and lastBatchId below, hence every replay) refuse forever. The
    // COMMITTER repairs what readers must not guess at: every stamped
    // `data.v*` dir is a COMPLETE commit image (the stamp is written
    // after the data), and the highest-stamped one is either the state
    // the torn flip was publishing (whose replay then no-ops — its data
    // is all there) or the previously-committed state (whose successor
    // the replay recomputes identically) — both exactly-once-safe.
    // two repairable shapes (r14 review): a TORN pointer (incomplete /
    // unterminated content — every truncated flip lands here now that a
    // complete record requires the trailing terminator, even when the
    // truncation left a valid-looking prefix of a still-LIVE retained
    // version), and a resolved-but-DANGLING one (a complete record whose
    // dir is gone: external deletion, or GC racing a crashed flip). The
    // committer is single-writer, so both unambiguously mean the last
    // flip never completed — repair from the highest stamp.
    val pointerBroken = pointerMode && (readPointer(fs, ptr) match {
      case TornPointer(_) => true
      case ResolvedPointer(name) => !fs.exists(new Path(root, name))
      case NoPointer => false
    })
    if (pointerBroken) {
      val stamped = fs.listStatus(root).toSeq
        .filter(st => st.isDirectory &&
          st.getPath.getName.matches("data\\.v\\d+"))
        .filter(st => fs.exists(new Path(st.getPath, StampName)))
        .map(_.getPath.getName)
        .sortBy(n => n.stripPrefix("data.v").toLong)
      require(stamped.nonEmpty,
        s"summary pointer $ptr is torn/unreadable and no stamped " +
          "data.v* version dir exists to repair from — pointer-mode " +
          "state is corrupt; restore from a snapshot or start fresh")
      val repairOut = fs.create(ptr, true)
      try repairOut.write(pointerRecord(stamped.last))
      finally repairOut.close()
    }
    // crash repair: a previous swap that failed between its two renames
    // left the pre-swap state at `old` — restore it before deciding
    // anything based on the stamp. (Pointer mode has no such window: a
    // crash before the flip leaves the pointer on the old version, and
    // the orphan v-dir is overwritten by the replay.)
    if (!pointerMode && !fs.exists(data) && fs.exists(old)) {
      if (!fs.rename(old, data))
        throw new java.io.IOException(s"summary repair $old -> $data failed")
    }
    val last = lastBatchId(spark, summaryDir)
    // Same-run replays only ever re-deliver the LAST batch (commits are
    // sequential), so batchId == last is the legitimate idempotent no-op.
    // batchId < last means the stream RESTARTED WITH A FRESH CHECKPOINT
    // against this summary — ids restarted from 0 and every batch up to
    // the stamp would silently no-op, dropping their data. Fail loudly;
    // reprocessing from scratch requires a fresh summaryDir too.
    require(batchId >= last,
      s"batch id $batchId regressed below the committed stamp $last at " +
        s"$summaryDir: the summary was built by a different checkpoint " +
        "lineage. Start a fresh summaryDir (or restore the original " +
        "checkpoint) instead of silently dropping batches.")
    if (batchId == last) return // replay of the committed batch: no-op
    // job economy (r13): AQE off for the merge's plans — summary-size
    // work, same argument as the ledger gates (Util.withMicroBatchPlanning;
    // both sessions — under Structured Streaming the batch is rooted at
    // the stream's clone)
    graft.Util.withMicroBatchPlanning(Seq(spark, batch.sparkSession)) {
    // the running sum lives at decimal(38,6) on EVERY commit: a narrower
    // cast (the old 18,6) overflows once a key's lifetime sum passes
    // 10^12 — an ANSI ARITHMETIC_OVERFLOW rethrown on every micro-batch
    // retry, i.e. a permanently wedged stream — and writing the first
    // commit wider than later ones leaves the sink schema inconsistent
    val delta = batch.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_events"),
        sum(col(valueCol).cast("decimal(18,6)"))
          .cast("decimal(38,6)").as("sum_value"))
    // the COMMITTER reads the stored summary with the schema it itself
    // writes (= the delta's: this very merge produced every stored
    // file), skipping parquet footer inference — measured at one driver
    // JOB per commit (PERF.md r16; ScaleSpec pins the commit job
    // budget), i.e. half the steady-state
    // commit's job count at 10k batches/day. External readers keep the
    // inferring readSummary: they don't know the key types.
    val stored = readableData(fs, root)
    // ...which makes the sidecar check below load-bearing: the explicit
    // read returns NULLs, not errors, for renamed columns (see
    // [[SchemaName]]). Steady state this is filesystem-only (no jobs —
    // the pinned commit budgets are untouched).
    validateSchemaStamp(spark, fs, root, delta.schema,
      stored.map(_.toString).toSeq)
    val merged = stored match {
      case Some(d) =>
        spark.read.schema(delta.schema).parquet(d.toString)
          .unionByName(delta)
          .groupBy(keyCols.map(col): _*)
          .agg(sum(col("n_events")).as("n_events"),
            sum(col("sum_value")).cast("decimal(38,6)").as("sum_value"))
      case None => delta
    }
    if (pointerMode) {
      // rename-free commit (see the CommitModeKey contract): write the
      // merged summary to a batch-keyed version dir, stamp inside it,
      // then flip the single-object pointer. The flip is the commit
      // point; everything before it is replay-overwritten, everything
      // after it is GC.
      val vdir = new Path(root, s"data.v$batchId")
      merged.write.mode("overwrite").parquet(vdir.toString)
      val outStamp = fs.create(new Path(vdir, StampName), true)
      try outStamp.write(batchId.toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally outStamp.close()
      val outPtr = fs.create(ptr, true)
      try outPtr.write(pointerRecord(vdir.getName))
      finally outPtr.close()
      // GC: keep the new current plus the `retainVersions` highest-id
      // previous versions (default 1 — in-flight readers that resolved
      // the pointer just before the flip finish their scan against the
      // previous one; raise it for object-store scans that outlive
      // several commit cycles); drop older versions and any legacy
      // swap-mode dirs (`data` fed this commit's merge, so the
      // migration is complete the moment the pointer lands). Keeping by
      // version ID is sound because ids are monotone (required above)
      // and the only unstamped dir a crash can leave carries the
      // CURRENT batch id, which the replay overwrites.
      val keep = fs.listStatus(root).toSeq
        .map(_.getPath.getName)
        .filter(_.matches("data\\.v\\d+"))
        .sortBy(n => -n.stripPrefix("data.v").toLong)
        .take(retainVersions + 1)
        .toSet
      fs.listStatus(root).foreach { st =>
        val n = st.getPath.getName
        if ((n.startsWith("data.v") && !keep.contains(n)) ||
            n == "data" || n == "data.__graft_old" || n == "data.__graft_tmp")
          fs.delete(st.getPath, true)
      }
    } else {
    val tmp = new Path(root, "data.__graft_tmp")
    merged.write.mode("overwrite").parquet(tmp.toString)
    // stamp INSIDE the new dir so data + batch id swap in together
    val outStamp = fs.create(new Path(tmp, StampName), true)
    try outStamp.write(batchId.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally outStamp.close()
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(data) && !fs.rename(data, old))
      throw new java.io.IOException(s"summary swap $data -> $old failed")
    if (!fs.rename(tmp, data)) {
      val restored = !fs.exists(old) || fs.rename(old, data)
      throw new java.io.IOException(s"summary swap $tmp -> $data failed; " +
        (if (restored) "previous summary restored" else s"left at $old"))
    }
    fs.delete(old, true)
    }
    }
  }

  /** Bucketed pointer-mode commit (see [[BucketsKey]]): merge the batch
    * into ONLY the hash buckets its delta touches, publish through a
    * manifest, flip the pointer. Reached via [[applyBatch]] when the
    * conf is set; same replay contract. */
  private def applyBatchBucketed(spark: SparkSession, summaryDir: String,
                                 batch: DataFrame, batchId: Long,
                                 keyCols: Seq[String], valueCol: String,
                                 buckets: Int, retainVersions: Int): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(summaryDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ptr = new Path(root, PointerName)
    def ls(): Seq[String] =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq.map(_.getPath.getName)
    // the inverse of applyBatch's mode fence: plain summary state (full
    // version dirs or swap layout) cannot be merged bucket-wise — its
    // data was never sharded, so "the buckets the delta touches" is not
    // defined over it. Refuse; re-shard by backfilling a fresh dir.
    require(!ls().exists(n => n == "data" || n == "data.__graft_old" ||
        n.matches("data\\.v\\d+")),
      s"$summaryDir holds a non-bucketed summary; set $BucketsKey=0 for " +
        "it, or re-shard by backfilling a fresh summaryDir through the " +
        "bucketed path")
    // bucket count is state identity (the windowK discipline): committed
    // manifests pin it; a stamp with no manifest behind it is a crashed
    // never-visible first attempt and the conf owns N
    val bstamp = new Path(root, "_buckets")
    val anyManifest = ls().exists(_.startsWith("manifest."))
    if (fs.exists(bstamp)) {
      val in = fs.open(bstamp)
      val stored = try new String(org.apache.commons.io.IOUtils
        .toByteArray(in), java.nio.charset.StandardCharsets.UTF_8)
        .trim.toInt finally in.close()
      require(!anyManifest || stored == buckets,
        s"summary at $summaryDir was bucketed with N=$stored but " +
          s"$BucketsKey=$buckets — keys would hash to different buckets " +
          "and merges would silently split them; re-sharding requires a " +
          "rebuild into a fresh summaryDir")
      if (!anyManifest && stored != buckets) {
        val out = fs.create(bstamp, true)
        try out.write(buckets.toString
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      }
    } else {
      val out = fs.create(bstamp, true)
      try out.write(buckets.toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    // torn/dangling pointer repair, manifest form: every COMPLETE
    // (#end-terminated) manifest is a complete commit image by the
    // data → manifest → flip write order — pick the highest, exactly
    // the plain mode's highest-stamp rule
    val pointerBroken = readPointer(fs, ptr) match {
      case TornPointer(_) => true
      case ResolvedPointer(name) => !fs.exists(new Path(root, name))
      case NoPointer =>
        // a MISSING pointer with complete manifests behind it is NOT
        // pre-first-commit (r16 ADVICE): it is a reshard/compaction
        // that crashed between writing its manifest and the flip, or an
        // externally deleted pointer. Treating it as empty would merge
        // the replayed batch against an EMPTY mapping and overwrite
        // this id's part/manifest — silently discarding the entire
        // existing summary. Repairing to the highest complete manifest
        // is sound by the data → manifest → flip write order, and the
        // normal crashed-FIRST-commit replay then no-ops identically.
        ls().exists(n => n.matches("manifest\\.[vc]\\d+") &&
          readManifest(fs, new Path(root, n)).isDefined)
    }
    if (pointerBroken) {
      val complete = ls().filter(_.matches("manifest\\.[vc]\\d+"))
        .filter(n => readManifest(fs, new Path(root, n)).isDefined)
        .sortBy(manifestRank)
      require(complete.nonEmpty,
        s"summary pointer $ptr is torn/unreadable and no complete " +
          "manifest.v* exists to repair from — bucketed pointer-mode " +
          "state is corrupt; restore from a snapshot or start fresh")
      val repairOut = fs.create(ptr, true)
      try repairOut.write(pointerRecord(complete.last))
      finally repairOut.close()
    }
    // ONE pointer resolution feeds both the replay decision and the
    // current mapping (the reshard's resolvedId/resolvedSummary
    // discipline) — and it is the only correct source for the mapping
    // now that a compaction image (manifest.c<id>) can be the current
    // version: constructing "manifest.v$last" by name would read the
    // superseded commit image.
    val resolvedV = readableData(fs, root)
    val last = resolvedV.fold(-1L)(resolvedId(fs, _))
    require(batchId >= last,
      s"batch id $batchId regressed below the committed stamp $last at " +
        s"$summaryDir: the summary was built by a different checkpoint " +
        "lineage. Start a fresh summaryDir (or restore the original " +
        "checkpoint) instead of silently dropping batches.")
    if (batchId == last) return // replay of the committed batch: no-op
    graft.Util.withMicroBatchPlanning(Seq(spark, batch.sparkSession)) {
      // bucket = a pure function of the KEY VALUES, recomputable on both
      // the stored and delta sides — never persisted state
      def bucketOf: org.apache.spark.sql.Column =
        pmod(xxhash64(keyCols.map(col): _*), lit(buckets.toLong)).cast("int")
      val delta = batch.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("n_events"),
          sum(col(valueCol).cast("decimal(18,6)"))
            .cast("decimal(38,6)").as("sum_value"))
        .withColumn("bucket", bucketOf)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // the touched set is delta-sized and bounded by N — the one
        // driver-side collect, O(buckets) at worst
        val touched = delta.select(col("bucket")).distinct()
          .collect().map(_.getInt(0)).toSet
        val curMapping: Map[Int, String] =
          if (last < 0) Map.empty
          else readManifest(fs, resolvedV.get)
            .getOrElse(throw new java.io.IOException(
              s"committed manifest ${resolvedV.get.getName} at " +
                s"$summaryDir is torn/incomplete — bucketed state is " +
                "corrupt"))
        // leaf schema = the delta's minus the partitionBy-stripped
        // bucket column (this merge wrote every leaf)
        val leafSchema = org.apache.spark.sql.types.StructType(
          delta.schema.filterNot(_.name == "bucket"))
        // name-rename fence (see [[SchemaName]]) — before any write
        validateSchemaStamp(spark, fs, root, leafSchema,
          curMapping.headOption.map { case (b, d) =>
            new Path(new Path(root, d), s"bucket=$b").toString }.toSeq)
        val newMapping =
          if (touched.isEmpty) curMapping // empty batch: id still advances
          else {
            // merge ONLY the touched buckets: the stored side is the
            // touched buckets' leaf dirs (a key lives in exactly one
            // bucket, so untouched buckets cannot hold any delta key);
            // untouched buckets are never read, never rewritten — the
            // O(delta + touched) contract
            val curPaths = touched.toSeq.sorted.flatMap(b =>
              curMapping.get(b).map(d =>
                new Path(new Path(root, d), s"bucket=$b").toString))
            // explicit schema on the stored-leaf read: skips footer
            // inference, one driver job per commit saved (PERF.md r16,
            // ScaleSpec's commit job budget), the same discipline as
            // the gates' stored-index reads
            //
            // ONE exchange, keyed by the PARTITION column (r17, guide
            // §2.4 "two operations keyed the same way share one
            // exchange"): hash(bucket) clusters every key's rows (a key
            // lives in exactly one bucket), so the explicit
            // repartition(buckets, bucket) satisfies the merge
            // aggregation's distribution AND pre-aligns the dynamic-
            // partition write — the old shape paid a second exchange
            // (ENSURE hash(key,bucket) for the agg, then
            // REPARTITION_BY_COL for the write) and, with the
            // repartition at the session partition count, ran the write
            // stage at 3× more tasks than buckets (48 tasks moving
            // ~160 KB measured at sf0.1, each paying a parquet
            // writer + committer rename). Task count now equals the
            // bucket count — the natural unit of this commit at every
            // scale. The delta-only first commit takes the same path
            // (its re-aggregation is a per-key no-op sum).
            val combined =
              if (curPaths.isEmpty) delta
              else spark.read.schema(leafSchema).parquet(curPaths: _*)
                .withColumn("bucket", bucketOf)
                .unionByName(delta)
            val merged = combined
              .repartition(buckets, col("bucket"))
              .groupBy((keyCols.map(col) :+ col("bucket")): _*)
              .agg(sum(col("n_events")).as("n_events"),
                sum(col("sum_value")).cast("decimal(38,6)")
                  .as("sum_value"))
            // clear any crashed earlier attempt's dir FIRST: under
            // spark.sql.sources.partitionOverwriteMode=dynamic an
            // "overwrite" keeps partition leaves the new write doesn't
            // touch, so a replay whose touched set differs (e.g. after
            // the `!anyManifest` bucket-count re-stamp) would leave
            // stale old-N leaves inside the commit image (r15 ADVICE).
            // Unreferenced-by-manifest so reads stay correct, but a
            // commit image should be exactly what the manifest says —
            // delete-then-write makes that true under ANY session conf.
            val partDir = new Path(root, s"part.v$batchId")
            if (fs.exists(partDir)) fs.delete(partDir, true)
            // file/bucket alignment is inherited from the merge's own
            // repartition(buckets, bucket) above — the aggregation
            // output is already clustered one-bucket-per-partition, so
            // the dynamic-partition write emits ~one file per touched
            // bucket with NO second shuffle (pre-r17 this line paid its
            // own repartition(col("bucket")); without ANY alignment
            // every upstream task writes one file per touched bucket —
            // tasks × buckets small files, measured 10× the commit's
            // wall at sf0.1)
            merged.write.mode("overwrite").partitionBy("bucket")
              .parquet(partDir.toString)
            curMapping ++ touched.map(b => b -> s"part.v$batchId")
          }
        writeManifest(fs, new Path(root, s"manifest.v$batchId"), newMapping)
        val outPtr = fs.create(ptr, true)
        try outPtr.write(pointerRecord(s"manifest.v$batchId"))
        finally outPtr.close()
        gcBucketed(fs, root, retainVersions)
      } finally delta.unpersist()
    }
  }

  /** Bucketed-mode GC, shared by the incremental commit and
    * [[compactSummary]]: keep the manifests of the (retain+1) newest
    * DISTINCT ids and every part dir a KEPT manifest references — a
    * lagging reader's resolved manifest keeps its whole closure alive
    * by construction. Retention counts distinct IDS, not files: a
    * compaction image (`manifest.c<id>`) shares its id with the commit
    * image it folded, and both stay alive while the id is recent so
    * readers mid-scan on either lineage finish — the pair ages out
    * together as ids advance.
    *
    * A KEPT manifest that cannot be read/parsed ABORTS the pass, never
    * reads as "references nothing" (r15 ADVICE): kept manifests are
    * complete by the write order (and since r17 the temp+rename publish
    * makes even a crashed writer unable to leave a torn file under a
    * real manifest name), so a None here is an IO fault or external
    * corruption — and treating it as empty would delete its entire
    * part closure. The caller's commit already landed (the flip is the
    * commit point); a replay no-ops and the NEXT successful pass
    * collects what this one left behind. */
  private def gcBucketed(fs: org.apache.hadoop.fs.FileSystem,
                         root: org.apache.hadoop.fs.Path,
                         retainVersions: Int): Unit = {
    import org.apache.hadoop.fs.Path
    def ls(): Seq[String] =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq.map(_.getPath.getName)
    val manifests = ls().filter(_.matches("manifest\\.[vc]\\d+"))
    val keptIds = manifests.map(manifestRank(_)._1).distinct
      .sorted(Ordering.Long.reverse).take(retainVersions + 1).toSet
    val keptNames = manifests
      .filter(n => keptIds.contains(manifestRank(n)._1)).toSet
    val referenced = keptNames.flatMap(n =>
      readManifest(fs, new Path(root, n))
        .getOrElse(throw new java.io.IOException(
          s"kept manifest $n at $root could not be read/parsed during " +
            "GC — aborting deletion (treating it as empty would delete " +
            "every part dir it references)"))
        .values)
    ls().foreach { n =>
      // the manifest clause also sweeps `.__tmp` publish strays
      if ((n.startsWith("manifest.") && !keptNames.contains(n)) ||
          (n.startsWith("part.") && !referenced.contains(n)))
        fs.delete(new Path(root, n), true)
    }
  }

  /** One-shot re-shard of an EXISTING summary (any commit mode) into a
    * FRESH bucketed pointer-mode summaryDir — the migration path both
    * mode fences point at ("re-shard by backfilling a fresh
    * summaryDir"), packaged so nobody hand-rolls it wrong. Run it with
    * the maintaining stream STOPPED; afterwards restart the stream
    * against `toDir` with `commitMode=pointer` and `buckets=N` and the
    * SAME checkpoint: the source's committed batch id is carried over
    * as the new dir's commit id, so the next micro-batch (id = stamp+1)
    * merges and any replay of the old id no-ops — the exactly-once
    * lineage continues unbroken.
    *
    * Rows are routed, never re-aggregated: the source summary's rows
    * are already (key, n_events, sum_value) and a key lives in exactly
    * one bucket, so the re-shard is a pure partitioning (feeding them
    * back through applyBatch would re-COUNT summary rows as events).
    * Commit shape is the bucketed protocol's own: part.v<id> (aligned,
    * one file per non-empty bucket) → `_buckets` stamp → manifest.v<id>
    * (`#end`-terminated) → `_current` flip. A crash anywhere before
    * the flip leaves an unresolvable toDir that a RERUN overwrites
    * (every artifact is id-keyed + overwrite); a toDir whose pointer
    * already resolves is refused loudly — the re-shard happened.
    *
    * The stopped-stream contract is additionally ENFORCED, not just
    * documented (r17, VERDICT): immediately before the destination
    * flip the source pointer is re-resolved, and a committed id that
    * advanced past the carried snapshot id fails the re-shard loudly
    * with the destination left pre-flip (rerunnable). Without the
    * check, a live maintaining stream's post-snapshot commit would be
    * silently STRANDED: the new dir carries stamp N while the stream's
    * checkpoint already committed N+1, so N+1 never replays.
    *
    * `renameCols` (old → new, r17) is the SCHEMA-EVOLUTION arm of the
    * migration: the `_schema` sidecar deliberately fails a renamed key
    * column at commit time (a rename under the explicit-schema merge
    * read would merge the stored summary under NULL keys), which left
    * "start a fresh dir" — abandoning history — as the only legitimate
    * rename path. Instead, the migration applies the renames to the
    * resolved image while routing it: `keyCols` names the
    * POST-rename keys (what the restarted stream will maintain with,
    * feeding it renamed batches), the carried `_schema` stamp is
    * renamed with the data, and the bucket hash folds the same VALUES
    * under the new names. The protocol columns (`n_events`,
    * `sum_value`) are the merge contract and cannot be renamed. */
  def reshardToBuckets(spark: SparkSession, fromDir: String, toDir: String,
                       keyCols: Seq[String], buckets: Int,
                       renameCols: Map[String, String] = Map.empty): Unit = {
    import org.apache.hadoop.fs.Path
    require(buckets >= 1 && buckets <= (1 << 20),
      s"reshard bucket count must be in [1, 2^20], got $buckets")
    // rename plumbing (see Scaladoc): structural checks up front —
    // source-column existence is checked against the resolved image
    // (or the carried stamp) below, where the names are known
    val protocolCols = Seq("n_events", "sum_value")
    renameCols.foreach { case (from, to) =>
      require(from != to, s"rename '$from' -> '$to' is a no-op entry")
      require(!protocolCols.contains(from) && !protocolCols.contains(to),
        s"rename '$from' -> '$to' touches a protocol column " +
          s"(${protocolCols.mkString(", ")} are the merge contract " +
          "applyBatch writes; only key columns can evolve)")
    }
    require(renameCols.values.toSeq.distinct.size == renameCols.size,
      s"rename targets collide: ${renameCols.values.mkString(", ")}")
    /** Apply `renameCols` to a schema, loudly refusing absent sources
      * (simultaneous application, so swaps are well-defined). */
    def renamedSchema(s: org.apache.spark.sql.types.StructType)
        : org.apache.spark.sql.types.StructType = {
      renameCols.keys.foreach(k => require(s.fieldNames.contains(k),
        s"rename source '$k' is not a column of the summary schema " +
          s"(${s.fieldNames.mkString(", ")})"))
      renameCols.values.foreach(v =>
        require(!s.fieldNames.contains(v) || renameCols.contains(v),
          s"rename target '$v' already exists in the summary schema " +
            s"(${s.fieldNames.mkString(", ")}) and is not itself " +
            "renamed away"))
      org.apache.spark.sql.types.StructType(s.fields.map(f =>
        f.copy(name = renameCols.getOrElse(f.name, f.name))))
    }
    val toRoot = new Path(toDir)
    val fs = toRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(new Path(fromDir) != toRoot,
      "reshard requires a FRESH destination dir, not an in-place rewrite")
    // refuse a destination that already holds a COMMITTED summary (its
    // pointer resolves); pre-flip wreckage from a crashed earlier
    // attempt is fine — everything below is overwrite-idempotent
    readPointer(fs, new Path(toRoot, PointerName)) match {
      case ResolvedPointer(name) if fs.exists(new Path(toRoot, name)) =>
        throw new IllegalArgumentException(
          s"$toDir already holds a committed summary ($name) — reshard " +
            "writes only fresh dirs; point the stream at it or pick " +
            "another destination")
      case _ => ()
    }
    // ...and one holding PLAIN-layout state (swap dirs have no pointer,
    // so the check above cannot see them — including the source itself
    // passed as destination through a non-identical path): writing
    // manifests alongside `data`/`data.v*` would leave a dir BOTH mode
    // fences refuse, a wedge instead of an error
    if (fs.exists(toRoot) && fs.listStatus(toRoot).exists { st =>
        val n = st.getPath.getName
        n == "data" || n == "data.__graft_old" || n.matches("data\\.v\\d+")
      })
      throw new IllegalArgumentException(
        s"$toDir holds a plain-mode summary layout — reshard writes " +
          "only fresh dirs; it cannot re-shard in place")
    // resolve the source ONCE and derive BOTH the carried-over id and
    // the data from that single resolution: separate lastBatchId +
    // readSummary calls re-resolve the pointer, and a commit landing
    // between them would pair stamp N with version N+1's data — the
    // checkpoint replay of batch N+1 would then double-merge. The
    // contract says run with the stream stopped; the snapshot is
    // consistent even if someone doesn't.
    val fromRoot = new Path(fromDir)
    val fromFs = fromRoot.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val resolved = readableData(fromFs, fromRoot)
    val id = resolved.fold(-1L)(resolvedId(fromFs, _))
    require(id >= 0L,
      s"$fromDir has no committed summary to re-shard")
    // ...and refuse a destination whose pointer file EXISTS (torn —
    // resolvable was refused above) alongside a COMPLETE manifest at a
    // DIFFERENT id (r16 ADVICE): that is a real bucketed summary that
    // crashed mid-flip, and overwriting its `_buckets` stamp and
    // manifest lineage would regress a live summary's published state,
    // mixing two lineages in one dir. The pointer-file condition is
    // what keeps reruns alive: a crashed or ABORTED prior re-shard is
    // always pre-flip (no pointer file), and may legitimately carry an
    // OLD id when the abort was the live-source guard itself (the
    // source advanced, so the rerun's carried id moved past the
    // wreckage); such pre-flip leftovers age out under the next
    // commits' GC.
    if (fs.exists(new Path(toRoot, PointerName)) && fs.exists(toRoot)) {
      val alien = fs.listStatus(toRoot).toSeq.map(_.getPath.getName)
        .filter(_.matches("manifest\\.[vc]\\d+"))
        .filter(n => readManifest(fs, new Path(toRoot, n)).isDefined)
        .filter(n => manifestRank(n)._1 != id)
      if (alien.nonEmpty)
        throw new IllegalArgumentException(
          s"$toDir holds committed-shape bucketed state at other ids " +
            s"(${alien.sorted.mkString(", ")} vs carried id $id) — " +
            "likely a real summary with a torn pointer; repair it by " +
            "running its maintaining stream (or applyBatch) once, or " +
            "pick a fresh destination")
    }
    /** The enforced half of the stopped-stream contract (see Scaladoc):
      * called just before each `_current` flip. */
    def requireSourceQuiescent(): Unit = {
      ReshardPreFlipHook()
      val nowId = readableData(fromFs, fromRoot).fold(-1L)(
        resolvedId(fromFs, _))
      if (nowId != id)
        throw new IllegalStateException(
          s"source $fromDir advanced from the snapshot's committed id " +
            s"$id to $nowId during the re-shard — a maintaining stream " +
            "is LIVE against it, and its post-snapshot commits would be " +
            "silently stranded behind the carried stamp. Stop the " +
            "stream and re-run; the destination was left pre-flip and " +
            "the re-shard is rerunnable.")
    }
    val curOpt = resolved.flatMap(
      resolvedSummary(spark, fromFs, fromRoot, _))
    if (curOpt.isEmpty) {
      // a committed-but-EMPTY bucketed source (its manifest maps no
      // buckets): the re-shard is just the empty commit image at the
      // carried-over id — stamp, empty manifest, flip
      val bout = fs.create(new Path(toRoot, "_buckets"), true)
      try bout.write(buckets.toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally bout.close()
      // carry the schema contract when the source has one (an empty
      // manifest carries no files to derive it from) — renamed, so the
      // restarted stream's first renamed batch matches the fence
      readSchemaStamp(fromFs, fromRoot)
        .foreach(s => writeSchemaStamp(fs, toRoot, renamedSchema(s)))
      writeManifest(fs, new Path(toRoot, s"manifest.v$id"), Map.empty)
      requireSourceQuiescent()
      val pout = fs.create(new Path(toRoot, PointerName), true)
      try pout.write(pointerRecord(s"manifest.v$id"))
      finally pout.close()
      return
    }
    // evolve the image while routing it: renames validated against (and
    // applied to) the RESOLVED columns; keyCols names the POST-rename
    // keys the restarted stream will maintain with
    val cur = {
      val raw = curOpt.get
      if (renameCols.isEmpty) raw
      else { renamedSchema(raw.schema); raw.withColumnsRenamed(renameCols) }
    }
    keyCols.foreach(k => require(cur.columns.contains(k),
      s"reshard key '$k' is not a column of the ${
        if (renameCols.isEmpty) "" else "renamed "}summary at $fromDir " +
        s"(${cur.columns.mkString(", ")})"))
    graft.Util.withMicroBatchPlanning(Seq(spark, cur.sparkSession)) {
      val bucketed = cur.withColumn("bucket",
        pmod(xxhash64(keyCols.map(col): _*), lit(buckets.toLong))
          .cast("int"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val partDir = new Path(toRoot, s"part.v$id")
        if (fs.exists(partDir)) fs.delete(partDir, true)
        // partition count = the bucket count (r17): a bare
        // repartition(col) runs at the session shuffle-partition count
        // — more tasks than buckets, each paying a parquet writer +
        // committer rename; bucket count is the commit's natural unit
        bucketed.repartition(buckets, col("bucket"))
          .write.mode("overwrite").partitionBy("bucket")
          .parquet(partDir.toString)
        // manifest maps only NON-EMPTY buckets (same contract as the
        // incremental commit: a mapped leaf must exist to be read)
        val present = bucketed.select(col("bucket")).distinct()
          .collect().map(_.getInt(0))
        val bout = fs.create(new Path(toRoot, "_buckets"), true)
        try bout.write(buckets.toString
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally bout.close()
        // schema contract: carry the source's stamp (renamed with the
        // data), or derive it from the resolved-and-renamed summary
        // itself (its columns ARE the contract)
        writeSchemaStamp(fs, toRoot,
          readSchemaStamp(fromFs, fromRoot).map(renamedSchema)
            .getOrElse(cur.schema))
        writeManifest(fs, new Path(toRoot, s"manifest.v$id"),
          present.map(b => b -> s"part.v$id").toMap)
        requireSourceQuiescent()
        val pout = fs.create(new Path(toRoot, PointerName), true)
        try pout.write(pointerRecord(s"manifest.v$id"))
        finally pout.close()
      } finally bucketed.unpersist()
    }
  }

  /** Test seam: runs inside [[compactSummary]] after the compaction
    * image (part + manifest) is durable and before the `_current` flip
    * — the crash window whose repair the specs pin. */
  @volatile private[graft] var CompactPreFlipHook: () => Unit = () => ()

  /** Live-image compaction for a BUCKETED summary (r17, VERDICT): fold
    * the CURRENT manifest's whole part-dir closure into ONE fresh
    * `part.c<id>` dir and republish it as `manifest.c<id>` at the SAME
    * committed id — pure re-layout, no data or id change, so the
    * replay contract is untouched (a replay of batch `id` still
    * no-ops; batch `id+1` merges against the compacted mapping).
    *
    * Why it exists: the incremental commit only rewrites TOUCHED
    * buckets, so a long-untouched bucket pins its ancient `part.v` dir
    * alive — and GC keeps whole referenced dirs, so that dir's OTHER
    * (long superseded) bucket leaves stay on disk too. Under
    * adversarial touch patterns disk is O(touch-history), not
    * O(summary). Compacting bounds it at O(retained images): run it on
    * a cadence (every N commits) from the maintaining process — it is
    * a WRITER and lives under the same single-writer contract as
    * applyBatch.
    *
    * Crash safety is the commit protocol's own: write order data →
    * manifest → flip, every artifact id-keyed and rerun-overwritten. A
    * crash before the flip leaves the pointer on `manifest.v<id>`
    * (nothing published; a rerun — or the torn-pointer repair, which
    * ranks the complete `manifest.c<id>` above `manifest.v<id>` —
    * converges); a crash after the flip is a completed compaction and
    * GC ages the superseded images out. Rerun on an already-compacted
    * id is a no-op, as is a single-part-dir closure (nothing to fold).
    * Plain-mode summaries are refused: every plain commit already
    * rewrites its full image. */
  def compactSummary(spark: SparkSession, summaryDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val root = new Path(summaryDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ptr = new Path(root, PointerName)
    val resolved = readableData(fs, root).getOrElse(
      throw new IllegalArgumentException(
        s"$summaryDir has no committed summary to compact"))
    require(resolved.getName.startsWith("manifest."),
      s"$summaryDir is a plain-mode summary — every commit already " +
        "rewrites its whole image; compaction applies to bucketed " +
        "summaries only")
    val id = resolvedId(fs, resolved)
    if (resolved.getName == s"manifest.c$id") return // already compacted
    val retainVersions =
      spark.conf.get(RetainVersionsKey, "1").trim.toInt
    require(retainVersions >= 1, s"$RetainVersionsKey must be >= 1")
    val mapping = readManifest(fs, resolved).getOrElse(
      throw new java.io.IOException(s"summary manifest $resolved is " +
        "torn/incomplete — bucketed pointer-mode state is corrupt"))
    if (mapping.isEmpty || mapping.values.toSet.size <= 1) {
      // single-dir closure: already one image; still GC so publish
      // strays and any OLDER-id crashed-compaction wreckage get swept
      // (a complete manifest.c at the CURRENT id is deliberately kept —
      // it is a valid commit image the torn-pointer repair may publish,
      // and it ages out as ids advance)
      gcBucketed(fs, root, retainVersions)
      return
    }
    graft.Util.withMicroBatchPlanning(Seq(spark)) {
      // read the live image GROUPED BY part dir so the `bucket`
      // partition column rides along via basePath: values are
      // preserved VERBATIM (compaction needs no key knowledge — it is
      // re-layout, never re-hashing), and only the referenced leaves
      // of each dir are listed, skipping superseded ones. Schema from
      // the sidecar when present (no footer inference on the serving
      // store), else inferred once.
      val stampSchema = readSchemaStamp(fs, root)
      val image = mapping.toSeq.groupBy(_._2).toSeq.sortBy(_._1)
        .map { case (dirName, entries) =>
          val base = new Path(root, dirName)
          val leaves = entries.map(_._1).sorted
            .map(b => new Path(base, s"bucket=$b").toString)
          val rd = spark.read.option("basePath", base.toString)
          stampSchema.fold(rd)(s => rd.schema(StructType(
            s.fields :+ StructField("bucket", IntegerType))))
            .parquet(leaves: _*)
        }.reduce(_ unionByName _)
      val partDir = new Path(root, s"part.c$id")
      if (fs.exists(partDir)) fs.delete(partDir, true) // crashed rerun
      // partition count = the live mapping's bucket count (r17): same
      // task-per-bucket alignment as the incremental commit, instead of
      // the session shuffle-partition count
      image.repartition(mapping.size, col("bucket"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(partDir.toString)
      writeManifest(fs, new Path(root, s"manifest.c$id"),
        mapping.keys.map(b => b -> s"part.c$id").toMap)
      CompactPreFlipHook()
      val pout = fs.create(ptr, true)
      try pout.write(pointerRecord(s"manifest.c$id"))
      finally pout.close()
      gcBucketed(fs, root, retainVersions)
    }
  }

  /** O(one-bucket) keyed lookup — the serving path the bucketed layout
    * exists for (r17, VERDICT): resolve the manifest, recompute the
    * key's bucket DRIVER-SIDE with the commit's own hash expression
    * (`pmod(xxhash64(keys), N)` evaluated on literals — zero jobs), and
    * scan ONLY that bucket's mapped leaf. Readers that union the full
    * manifest closure ([[readSummary]]) pay O(summary) per lookup; this
    * pays O(summary / buckets). On a PLAIN summary it degrades to a
    * filtered full read (no sharding exists to exploit).
    *
    * `keyCols` must be the same columns IN THE SAME ORDER the
    * maintaining `applyBatch` used — the bucket hash folds them in
    * order. Values are cast to the summary's stamped key types before
    * hashing (an Int lookup against a Long key column must hash the
    * Long). Returns the matching summary rows (0 or 1 per key tuple);
    * null-safe equality so a null-keyed row is findable. */
  def readSummaryKey(spark: SparkSession, summaryDir: String,
                     keyCols: Seq[String], keyValues: Seq[Any]): DataFrame =
    readSummaryKeys(spark, summaryDir, keyCols, Seq(keyValues))

  /** Batched form of [[readSummaryKey]] — the real serving shape: cast
    * each tuple to the stamped key types, group the tuples by bucket,
    * scan each DISTINCT bucket's mapped leaf once, and filter to the
    * requested tuples. k lookups cost min(k, buckets) leaf scans in ONE
    * DataFrame (one downstream action) instead of k separate plans.
    * Same contracts as the singular form: keyCols in the maintaining
    * order, driver-side bucket hash (zero jobs), null-safe equality. */
  def readSummaryKeys(spark: SparkSession, summaryDir: String,
                      keyCols: Seq[String],
                      keyTuples: Seq[Seq[Any]]): DataFrame = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64}
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    keyTuples.foreach(t => require(t.length == keyCols.length,
      s"every key tuple must have ${keyCols.length} values (keyCols " +
        s"${keyCols.mkString(", ")}); got ${t.length}"))
    val root = new Path(summaryDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val resolved = readableData(fs, root).getOrElse(
      throw new IllegalArgumentException(
        s"$summaryDir has no committed summary"))
    val stampSchema = readSchemaStamp(fs, root)
    def tupleFilter(schema: org.apache.spark.sql.types.StructType,
                    tuples: Seq[Seq[Any]]): org.apache.spark.sql.Column =
      tuples.map(t => keyCols.zip(t).map { case (k, v) =>
          col(k) <=> lit(v).cast(schema(k).dataType)
        }.reduce(_ && _)).reduce(_ || _)
    if (!resolved.getName.startsWith("manifest.")) {
      // plain image: one filtered full read (no sharding to exploit)
      val df = stampSchema.fold(spark.read)(spark.read.schema)
        .parquet(resolved.toString)
      keyCols.foreach(k => require(df.schema.fieldNames.contains(k),
        s"key '$k' is not a column of the summary at $summaryDir " +
          s"(${df.schema.fieldNames.mkString(", ")})"))
      return if (keyTuples.isEmpty) df.limit(0)
      else df.filter(tupleFilter(df.schema, keyTuples))
    }
    val mapping = readManifest(fs, resolved).getOrElse(
      throw new java.io.IOException(s"summary manifest $resolved is " +
        "torn/incomplete — bucketed pointer-mode state is corrupt"))
    val bstamp = new Path(root, "_buckets")
    require(fs.exists(bstamp),
      s"$summaryDir has bucketed state but no _buckets stamp — corrupt")
    val n = {
      val in = fs.open(bstamp)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8).trim.toInt
      finally in.close()
    }
    // leaf schema: the sidecar, else one mapped leaf's footer (legacy)
    val leafSchema = stampSchema.orElse(mapping.headOption.map {
      case (b, d) => spark.read.parquet(
        new Path(new Path(root, d), s"bucket=$b").toString).schema
    }).getOrElse(throw new IllegalStateException(
      s"$summaryDir is an EMPTY bucketed summary with no $SchemaName " +
        "stamp — no schema exists to type an empty result; commit a " +
        "batch (which stamps the schema) first"))
    // key-ORDER fence (r17 review wave): the bucket hash folds the key
    // columns in the maintaining order, so a reordered or PARTIAL
    // composite key list hashes to the wrong bucket and returns
    // silently empty/missing rows — the worst failure shape. The
    // summary's schema pins that order: applyBatch's merge always
    // produces keyCols-in-order ++ (n_events, sum_value), and the
    // _schema stamp (or the legacy footer, same writer) preserves it.
    // The plain path above deliberately stays membership-checked via
    // tupleFilter: with no hash there is no order to get wrong, and a
    // plain summary legitimately serves subset-key filters.
    val maintainedKeys = leafSchema.fieldNames.dropRight(2).toSeq
    require(keyCols == maintainedKeys,
      s"keyCols ${keyCols.mkString("(", ", ", ")")} must be the " +
        s"maintaining key columns IN ORDER ${maintainedKeys
          .mkString("(", ", ", ")")} for the bucketed summary at " +
        s"$summaryDir — the bucket hash folds them in that order, so a " +
        "reordered or partial key list routes to the wrong bucket and " +
        "returns silently empty results. Pass the full maintaining key " +
        "list, or read through readSummary and filter.")
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], leafSchema)
    if (keyTuples.isEmpty) return empty
    // each tuple's bucket, computed on the driver with the SAME
    // Catalyst expression the commits evaluate on columns — interpreted
    // eval on literals, bit-identical hash, zero Spark jobs. Values are
    // cast to the STAMPED types first (an Int probe against a Long key
    // column must hash the Long).
    val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
    def bucketOf(t: Seq[Any]): Int = {
      val exprs = keyCols.zip(t).map { case (k, v) =>
        val want = leafSchema(k).dataType
        val raw = Literal(v)
        if (raw.dataType == want) raw
        else Literal.create(Cast(raw, want, tz).eval(InternalRow.empty),
          want)
      }
      val h = new XxHash64(exprs).eval(InternalRow.empty)
        .asInstanceOf[Long]
      (((h % n) + n) % n).toInt
    }
    val byBucket = keyTuples.map(t => bucketOf(t) -> t)
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (b, ts) => b -> ts.map(_._2) }
    val scans = byBucket.flatMap { case (bucket, tuples) =>
      mapping.get(bucket).map { dirName =>
        spark.read.schema(leafSchema).parquet(
          new Path(new Path(root, dirName), s"bucket=$bucket").toString)
          .filter(tupleFilter(leafSchema, tuples))
      } // unmapped bucket: no key ever hashed there — nothing to scan
    }
    if (scans.isEmpty) empty else scans.reduce(_ unionByName _)
  }

  /** The maintained view as a streaming query: parquet file source →
    * foreachBatch(applyBatch). Start with `.trigger(AvailableNow)` for
    * bounded backfills or continuously on a live directory; the WAL
    * checkpoint + the in-dir stamp give exactly-once across restarts. */
  def maintain(spark: SparkSession, srcDir: String, summaryDir: String,
               checkpointDir: String, keyCols: Seq[String],
               valueCol: String): DataStreamWriter[org.apache.spark.sql.Row] =
    BatchLedger.stream(spark, srcDir, checkpointDir) { (b, id) =>
      applyBatch(spark, summaryDir, b, id, keyCols, valueCol)
      // conf read PER BATCH (sessions mutate): see [[CompactEveryKey]]
      val every = spark.conf.get(CompactEveryKey, "0").trim.toInt
      require(every >= 0, s"$CompactEveryKey must be >= 0, got $every")
      if (every > 0) {
        require(spark.conf.get(BucketsKey, "0").trim.toInt > 0,
          s"$CompactEveryKey requires bucketed commits ($BucketsKey > " +
            "0): the plain modes rewrite their whole image every " +
            "batch — there is nothing to compact")
        if (id > 0 && id % every == 0) compactSummary(spark, summaryDir)
      }
    }
}
