package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared helpers for the graft engine. */
object Util {

  /** Backtick-quote a column name so dots (e.g. `QuestionText.2025`,
    * reference varinfo-update.R:40-42) are treated as part of the name,
    * not as struct-field access. */
  def q(name: String): String = "`" + name.replace("`", "``") + "`"

  /** Column by exact (possibly dotted) name. */
  def qcol(name: String): Column = col(q(name))

  /** JSON string escape for the driver-facing emitters (Bench stdout
    * line / bench.json, Verify's oracle_sql.json): backslash, quote, and
    * ALL control chars (< 0x20) — a tab or CR in builder-authored SQL
    * would otherwise make the driver's json.load fail and silently zero
    * a round's gate. ONE shared implementation so the two gate outputs
    * cannot drift apart. */
  def jsonEscape(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** R treats both NA and "" as missing in recency logic
    * (reference varinfo-update.R:176,198): map "" to NULL. */
  def nullifEmpty(c: Column): Column =
    when(c.cast("string") === lit(""), lit(null).cast("string"))
      .otherwise(c.cast("string"))

  /** Spark compares strings as binary UTF-8 bytes; Java/Scala
    * `compareTo` is UTF-16 code-unit order. They disagree above the BMP
    * (supplementary characters sort before U+E000..U+FFFF in UTF-16,
    * after in UTF-8), so any driver-side fast path whose results depend
    * on a string ORDER (min-label roots, tie-breaks) must compare UTF-8
    * bytes or it can diverge from the distributed path it mirrors. */
  def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < x.length && i < y.length) {
      val c = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    java.lang.Integer.compare(x.length, y.length)
  }

  /** Spread an under-partitioned source for compute-heavy map work.
    *
    * The testdata tables are single-row-group parquet files, and a row
    * group is the unit of split — so every scan starts as ONE task and all
    * pre-shuffle work (tokenizing, hashing, signature building, vector
    * math) runs on one core. One key-hash shuffle of the raw rows buys
    * full parallelism for everything downstream; apply it only where the
    * downstream map work dwarfs the shuffle (at production scale sources
    * arrive multi-partition and this becomes a no-op choice the caller
    * skips). Hash partitioning keeps results deterministic.
    *
    * The partition count is EXPLICIT (r17, guide §2.5/§7.2): a bare
    * `repartition(col)` is a REPARTITION_BY_COL shuffle, which AQE's
    * partition coalescing folds back to ONE partition whenever the
    * shuffled bytes are small — exactly the corpus shape spread exists
    * for — so every downstream compute-heavy stage (bounded-DP verify,
    * PQ encode, image decode) ran on one core regardless of the spread
    * (measured: q_similarity_blocked_full's 3.3 s single-task verify).
    * AQE coalesces by BYTES and cannot see per-row compute cost; pinning
    * the count (REPARTITION_BY_NUM is never coalesced) keeps the stage
    * at full parallelism. defaultParallelism = the session's core count,
    * so the driver's lower-core bench runs scale the same way. */
  def spread(df: DataFrame, key: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism,
      qcol(key))

  /** Scope a library-internal persist to the call: run `result` eagerly
    * (`localCheckpoint` materializes it and truncates lineage, so the
    * output no longer references the cached plan), then release the
    * intermediate persists. Callers get a ready DataFrame and no
    * persisted-RDD residue — a long-running service invoking these
    * operators per batch no longer needs to know about internal caching.
    * The checkpoint blocks belong to the RETURNED DataFrame and are
    * reclaimed by Spark's ContextCleaner when it is garbage collected. */
  def finishAndRelease(result: DataFrame,
                       intermediates: DataFrame*): DataFrame = {
    val out = result.localCheckpoint()
    intermediates.foreach(_.unpersist())
    out
  }

  /** Write-side destructive fence (r13, VERDICT #4). A lock holder
    * ([[graft.streaming.BatchLedger]]) binds a token-verification thunk
    * here for the dynamic extent of its critical section; destructive
    * sites — a compaction fold's phase B, the ledger stamp/prune — call
    * [[fenceDestructive]] immediately before mutating, so a hold LOST to
    * an overwriting-rename double-win or a stale-break refuses the
    * destruction instead of merely detecting it a heartbeat later.
    * DynamicVariable is InheritableThreadLocal-backed: threads a fenced
    * scope spawns (the [[runConcurrently]] pool is created inside the
    * scope, never reused across calls) inherit the binding — load-bearing
    * for the fold fan-out; do not swap in a shared pool. No-op when no
    * fence is bound (library callers mutating outside any lock). */
  private val destructiveFence =
    new scala.util.DynamicVariable[Option[() => Unit]](None)

  def withDestructiveFence[T](check: () => Unit)(f: => T): T =
    destructiveFence.withValue(Some(check))(f)

  /** Verify the enclosing lock hold (throws if it was lost); no-op when
    * no fence is bound. Call immediately before each destructive phase. */
  def fenceDestructive(): Unit = destructiveFence.value.foreach(_.apply())

  /** Build side of a BATCH-vs-BATCH join inside a streaming gate: hint
    * shuffle-hash instead of letting the planner broadcast it. Every
    * broadcast exchange submits its own Spark job — measured 17 of the
    * similarity gate's 24 steady-state jobs/batch (r14), pure driver
    * overhead at 10k batches/day — while a 32-partition shuffle of two
    * micro-batch-sized sides costs no extra job and no meaningful wall.
    * ONLY for joins where BOTH sides are batch-sized: the corpus-probe
    * joins (batch side vs stored index) must keep their broadcast shape
    * or the corpus would shuffle per batch, breaking the O(batch)
    * contract. */
  def batchSide(df: DataFrame): DataFrame = df.hint("shuffle_hash")

  /** Guard for the gates' explicit-schema index reads (r14 review): an
    * explicit schema turns "this store has no `batch` partition layout"
    * from a loud AnalysisException into silently-NULL `batch` values —
    * and the gates' replay prune (`batch =!= id`) then drops EVERY
    * index row, so a foreign or flat-layout store reads as an EMPTY
    * corpus and the gate accepts all duplicates. Requires every
    * non-hidden top-level entry of the store to be a `batch=` directory.
    * One driver-side listing, no Spark job — the gates already list
    * each store per batch for crash repair. */
  def requireBatchLayout(fs: org.apache.hadoop.fs.FileSystem,
                         path: String): Unit = {
    // delegates to the ONE definition of "batch-keyed entry"
    // (io.Parquet.foreignEntries, matches batch=-?\d+): a laxer local
    // check (any dir starting with "batch=") would admit a mangled
    // `batch=abc` dir whose partition value parses NULL under the
    // explicit LongType schema — silently dropped by the prune, i.e.
    // exactly the hazard this guard exists to refuse (r14 review #2).
    val foreign = graft.io.Parquet.foreignEntries(fs,
      new org.apache.hadoop.fs.Path(path))
    require(foreign.isEmpty,
      s"index store at $path is not batch-keyed (found " +
        s"${foreign.map(_.getPath.getName).take(3).mkString(", ")}): " +
        "the gate's partition-pruned read would silently treat it as an " +
        "EMPTY corpus. Seed batch-keyed state (e.g. putCorpusIndexBatch/" +
        "putWindowIndexBatch at id -1) instead of a flat-layout index.")
  }

  /** Recursive local-FS delete, tolerant of entries vanishing between
    * the walk and the delete (deleteIfExists) — shared by the fixture
    * resets in SparkEntry and Verify's stale-output clearing so the two
    * copies cannot drift (r13 review: Verify's inline copy used a
    * throwing Files.delete, so a concurrently-removed file aborted the
    * whole verify run before the manifests were written). */
  def deleteRecursively(path: String): Unit = {
    import java.nio.file.{Files, Path}
    val p = Path.of(path)
    if (Files.exists(p)) {
      // Files.walk holds directory handles until closed; this helper
      // runs once per query in Verify (136x) plus every fixture reset,
      // so an unclosed stream leaks handles faster than GC reclaims
      // them on a long sweep.
      val walk = Files.walk(p)
      try
        walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
  }

  /** Live holds per (session, key) for [[withSessionConf]]: hold count
    * plus the PRE-OVERRIDE value captured by the first holder, so
    * overlapping holders (two gate streams sharing one session — their
    * foreachBatch bodies are serial per query, not across queries)
    * restore the ORIGINAL value exactly once, when the last hold exits.
    * A naive set/restore pair interleaved across two holders captures
    * the other holder's override as its "prior" and leaves it on the
    * session permanently. IdentityHashMap: sessions are compared by
    * object identity, and entries are removed on last release so dead
    * sessions are not retained. */
  private val confHolds =
    new java.util.IdentityHashMap[org.apache.spark.sql.SparkSession,
      scala.collection.mutable.Map[String, (Int, Option[String])]]()

  /** Run `f` with a session conf key temporarily overridden, restoring
    * the pre-override value when the LAST overlapping hold exits
    * (reference-counted per session×key, so concurrent gate batches on
    * one session cannot strand the override — r13 review). Overlapping
    * holds must agree on the value: a mismatch is a programming error
    * surfaced loudly rather than letting one caller silently run under
    * the other's setting. Residual: a concurrent NON-holder query on
    * the same session still observes the override for the duration —
    * callers sharing a session with interactive work should opt out or
    * use a separate session. */
  def withSessionConf[T](spark: org.apache.spark.sql.SparkSession,
                         key: String, value: String)(f: => T): T = {
    confHolds.synchronized {
      val m = Option(confHolds.get(spark)).getOrElse {
        val fresh = scala.collection.mutable.Map
          .empty[String, (Int, Option[String])]
        confHolds.put(spark, fresh)
        fresh
      }
      m.get(key) match {
        case Some((n, prior)) =>
          require(spark.conf.getOption(key).contains(value),
            s"overlapping withSessionConf holds on $key disagree: " +
              s"already overridden to ${spark.conf.getOption(key)}, " +
              s"caller wants $value")
          m(key) = (n + 1, prior)
        case None =>
          m(key) = (1, spark.conf.getOption(key))
          spark.conf.set(key, value)
      }
    }
    try f
    finally confHolds.synchronized {
      val m = confHolds.get(spark)
      val (n, prior) = m(key)
      if (n == 1) {
        prior match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
        m.remove(key)
        if (m.isEmpty) confHolds.remove(spark)
      } else m(key) = (n - 1, prior)
    }
  }

  /** Shuffle partitions of micro-batch gate work; see
    * [[withMicroBatchPlanning]]. */
  val MicroBatchPartitions: Int = 8

  /** Planning profile for O(batch)-sized micro-batch gate work: ADAPTIVE
    * EXECUTION OFF and [[MicroBatchPartitions]] shuffle partitions.
    *
    * AQE submits one driver JOB per query stage — measured 53 jobs per
    * similarity-gate micro-batch and 47 per embedding-gate batch at
    * sf0.1, versus 24 and 13 with AQE off (wall also improved ~10%). At
    * 10k micro-batches/day that per-job driver overhead (DAG build,
    * scheduling, listener traffic) is the scale term local[32] wall time
    * barely shows. Inside a gate the batch is small by contract,
    * partition counts are known, and skew is bounded by the hot-bucket
    * caps, so AQE's runtime re-planning buys nothing — results are
    * identical either way.
    *
    * With AQE off, every micro-batch shuffle would otherwise run at the
    * SESSION's partition count — sized for interactive corpus queries,
    * not for O(batch) commit work — and each stage pays its fixed
    * per-task cost (scheduling, codegen/task setup, one parquet writer +
    * committer rename per task on write stages) on mostly-empty
    * partitions: measured 32-48-task stages moving tens of KB, ~60-70% of
    * summary commit wall at sf0.1. A batch is micro-batch-sized BY
    * CONTRACT (the gates' O(batch) probes, the summary's
    * O(delta+touched) merge), so a small fixed parallelism is right at
    * every deployment scale. Results are unaffected: every gate/summary
    * aggregate is partition-count-invariant and hash-gated by the
    * driver's oracle.
    *
    * Takes EVERY session the batch's plans can be rooted at: under real
    * Structured Streaming the foreachBatch DataFrame belongs to the
    * stream's CLONED session (MicroBatchExecution's
    * sparkSessionForStream), not the outer session the gate also reads
    * stored indexes through — toggling only the outer session would
    * silently leave the batch-rooted plans (the bulk of the gate) on
    * AQE. Callers pass the outer session AND `batch.sparkSession`;
    * duplicates are collapsed. */
  def withMicroBatchPlanning[T](
      sessions: Seq[org.apache.spark.sql.SparkSession])(f: => T): T =
    sessions.distinct.foldLeft(() => f) { (g, s) =>
      () => withSessionConf(s, "spark.sql.adaptive.enabled", "false") {
        withSessionConf(s, "spark.sql.shuffle.partitions",
          MicroBatchPartitions.toString)(g())
      }
    }()

  /** The session's `spark.sql.shuffle.partitions`, for an explicit
    * (never-coalesced) repartition count; a non-numeric value falls back
    * to the core count. */
  def shufflePartitions(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").trim match {
      case s if s.nonEmpty && s.forall(_.isDigit) => s.toInt
      case _ => spark.sparkContext.defaultParallelism
    }

  /** Spread one micro-batch to [[MicroBatchPartitions]]. A foreachBatch
    * frame often arrives as ONE partition (a single file, a
    * single-row-group parquet scan, one Kafka partition's slice) — and the gates' dominant per-batch cost is the narrow
    * compute ABOVE their first shuffle (tokenize + shingle + numHashes
    * hashes per doc, window hashing, cell hashing), which then runs on
    * one core no matter how many the session has (measured: the whole
    * signature pass of a 1667-doc batch single-task, most of the gates'
    * probe-mat phase). One batch-sized hash shuffle buys the micro-batch
    * parallelism back; the count is the one that sizes the gates'
    * shuffles, so the O(batch) task-economy contract is unchanged, and
    * results are partition-count-invariant (every gate aggregate/join is,
    * pinned by the gates' oracles). A batch already AT the target count
    * skips the shuffle. */
  def spreadBatch(df: DataFrame, key: String): DataFrame =
    if (df.rdd.getNumPartitions == MicroBatchPartitions) df
    else df.repartition(MicroBatchPartitions, qcol(key))

  /** Run independent Spark actions CONCURRENTLY and wait for all of them
    * — the exactly-once gates' commit/compaction shape: N mutually
    * independent batch-keyed writes where the caller pays the slowest
    * job instead of the sum, with the ledger stamp (sequenced after this
    * returns) as the only barrier. Throws the first task failure after
    * interrupting the rest; tasks must be idempotent (the gates' writes
    * are batch-keyed overwrites). */
  def runConcurrently(tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, tasks.size))
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(
          tasks.map(t => scala.concurrent.Future(t()))),
        scala.concurrent.duration.Duration.Inf)
    } finally pool.shutdownNow()
  }

  /** Load one of the driver's parquet testdata tables.
    *
    * The `events.ts` column has shipped under two physical types across
    * testdata generations: parquet TIMESTAMP(MICROS) without UTC
    * adjustment (reads as TIMESTAMP_NTZ) and parquet TIMESTAMP(NANOS)
    * (which Spark 4 rejects outright — PARQUET_TYPE_ILLEGAL — unless read
    * through the `nanosAsLong` escape hatch). The engine's contract is one
    * canonical schema regardless of generation: `ts` as TimestampType at
    * micro resolution. NTZ is cast under the mains' UTC session timezone
    * (same instant, bit-identical micros); nanos are floored to micros
    * with integer `DIV` (a double division would lose precision above
    * 2^53) and rebuilt with `timestamp_micros`. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      // The NTZ→TimestampType cast below reinterprets wall-clock micros
      // under the SESSION timezone; only UTC preserves the stored instant
      // bit-for-bit. Every graft main sets UTC — fail loudly for any
      // caller that doesn't rather than silently shifting timestamps.
      val tz = spark.conf.get("spark.sql.session.timeZone")
      // accept any zone whose RULES are UTC ("UTC", "Etc/UTC", "GMT",
      // "Z", "+00:00" — a box whose system default is Etc/UTC is fine);
      // reject zones that would actually shift the cast
      val isUtc = try {
        java.time.ZoneId.of(tz).getRules ==
          java.time.ZoneOffset.UTC.getRules
      } catch { case _: java.time.DateTimeException => false }
      require(isUtc,
        s"graft.Util.table(events) requires a UTC session timezone " +
          s"(got $tz): the TIMESTAMP_NTZ cast is timezone-sensitive")
      val plain =
        try Some(spark.read.parquet(s"$sfDir/$name.parquet"))
        catch { case e: org.apache.spark.sql.AnalysisException
            // match the stable error CONDITION (Spark 4's error-class
            // framework), not message prose, which varies across versions;
            // fall back to text only if the condition is absent
            if Option(e.getCondition).exists(_.startsWith("PARQUET_TYPE_ILLEGAL")) ||
               (e.getCondition == null &&
                 e.getMessage.contains("Illegal Parquet type")) => None }
      plain match {
        case Some(df) => df.schema("ts").dataType match {
          case org.apache.spark.sql.types.TimestampNTZType =>
            df.withColumn("ts",
              col("ts").cast(org.apache.spark.sql.types.TimestampType))
          case _ => df
        }
        case None =>
          // TIMESTAMP(NANOS) generation. Scope the legacy flag to THIS
          // read: the parquet relation captures the conf when spark.read
          // resolves the schema, so restoring it immediately after keeps
          // the session's read semantics unchanged — left set, every LATER
          // read in the JVM would silently accept TIMESTAMP(NANOS) as raw
          // longs instead of failing loudly. synchronized: concurrent
          // events reads could otherwise capture each other's "true" as
          // the prior value (re-leaking the flag) or unset it
          // mid-schema-resolution.
          val key = "spark.sql.legacy.parquet.nanosAsLong"
          Util.synchronized {
            val prior = spark.conf.getOption(key)
            spark.conf.set(key, "true")
            try spark.read.parquet(s"$sfDir/$name.parquet")
              .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
            finally prior match {
              case Some(v) => spark.conf.set(key, v)
              case None => spark.conf.unset(key)
            }
          }
      }
    } else spark.read.parquet(s"$sfDir/$name.parquet")
  }
}
