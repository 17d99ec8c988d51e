package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Driver-facing benchmark main with two outputs:
  *  - stdout: ONE compact JSON line (ms precision, warm-min per-query
  *    times only) ordered queries-first / headline-fields-LAST, so the
  *    driver's ~2000-char log tail — which truncates the FRONT of a long
  *    line — always retains value/unit/sf/n_queries/errors;
  *  - `target/bench.json`: the full-detail record (double precision, plus
  *    `"cold_queries"` first-run times), written atomically so a reader
  *    never sees a torn line.
  * Both carry `"metric"`, `"value"`, `"unit"`, `"queries"`, `"sf"`.
  *
  * Since round 6 each query materializes through the `noop` sink, not
  * `count()`: count() let the optimizer prune final-projection
  * expressions and the trailing sort, under-measuring real query cost
  * (q_profile_table's exact multi-distinct was invisible). Totals are
  * therefore NOT comparable to rounds <= 5 without reading PERF.md.
  *
  * Each query runs twice and the reported time is the MIN of the two runs:
  * a transient machine-load spike during one run (the round-2 failure mode —
  * 4-45x per-query inflation under contention) cannot distort the headline
  * number unless it spans both runs. When it DOES span both — the two runs
  * still disagree >= 2x with the better one >= 0.5 s, the r6 signature
  * where a contiguous alphabetical block read 3-15x its quiet-box time —
  * the query earns a DEFERRED third run after the whole registry finishes
  * (minutes later, outside the load window) and reports min-of-three.
  * Third-run names land in `"retried"` in target/bench.json for auditing.
  * The cold (first-run) times are kept under `"cold_queries"` for anyone
  * studying cache/JIT effects.
  *
  * Round 8 adds the EXPECTATION defense: the disagreement trigger above
  * is blind to a load window that inflates both back-to-back runs
  * EQUALLY (the r7 driver artifact: 18 queries retried, a contiguous
  * alphabetical block at 3–9× quiet time, one query 33× — and min-of-N
  * sailed through because every run agreed). `tools/bench_expected.tsv`
  * is a committed quiet-box per-query baseline (regenerate with
  * tools/update_expected.py from a quiet run's target/bench.json); any
  * query whose best time reads >= 3× its expectation ALSO earns the
  * deferred retry, and queries still >= 3× after that get up to
  * [[EscalationRounds]] more attempts separated by a pause — waiting out
  * load windows longer than one pass over the registry. Queries still
  * inflated at the end are named in `"suspect"` (bench.json) and counted
  * in `"suspect_n"` (stdout tail): a nonzero count tells the reader the
  * box was contended and names exactly which times not to trust.
  *
  * Round 13 adds the LOAD-IMMUNE defense: per-query shuffle write BYTES
  * and RECORDS from the warm run (a [[ShuffleByteCollector]] listener,
  * fenced by listener-bus drains), diffed against the committed per-SF
  * table `tools/bench_bytes_expected.tsv`. Shuffle records are an exact
  * function of the data and the plan (135/135 reproduced to the row in
  * the calibration double-run); bytes wiggle a little with
  * serialization context, so records carry the tight bar and bytes a
  * looser one ([[isShapeDrift]]). A `"shape_drift"` name (both outputs)
  * is a real plan-shape or data change, never a load window, so the
  * three rounds of manual wall-drift adjudication this replaces collapse
  * to reading one list. `"bytes_expected_n": 0` means no baseline
  * matched this SF and the check was vacuous, not clean.
  */
object Bench {

  /** Extra retry rounds for still-over-expectation queries, and the pause
    * before each: long enough that a transient co-tenant burst (driver
    * housekeeping, GC storms) has likely passed, short enough that a
    * fully-contended box costs at most ~1 min of extra wall. */
  val EscalationRounds = 2
  val EscalationPauseMs = 30000L

  /** A best-of-runs reading that still contradicts the committed quiet-box
    * expectation by >= 3×: the residual-contamination flag. Sub-300ms
    * readings are exempt (scheduler noise), as are queries with no
    * committed expectation (new this round — no baseline yet).
    *
    * The floor was 0.5 s through r11, which opened a blind crack between
    * the two defenses: q_sample_hash read 0.448 s vs its 0.124 s line
    * (3.61×) in the r11 driver run and was neither retried (reading
    * < 0.5 s) nor listed as drifted (expectation < 0.15 s). A 0.3 s floor
    * catches a tripled ~120 ms query while 60 ms jitter (3× = 0.18 s)
    * stays muted. */
  def isSuspect(best: Double, expected: Option[Double]): Boolean =
    best >= 0.3 && expected.exists(e => e > 0 && best / e >= 3.0)

  /** The silent 1.5–3× band: not inflated enough to trigger a retry or
    * the suspect flag, but far enough off the committed expectation that
    * a reader should look (r9 shipped a query at 2.71× for a full round
    * before anyone noticed). Purely observational — names land in
    * bench.json's `"drifted"`, no retry behavior changes.
    *
    * Gated on the EXPECTATION, not the reading: the pre-r11 `best >= 0.5`
    * floor silently excluded small queries whose readings tripled
    * (q_interleave at 2.34× and q_importance_sample at 2.19× in the r10
    * driver run) — exactly the systematic small-query drift the key was
    * built to surface. A query whose quiet-box line is >= 150 ms is big
    * enough that 1.5× is signal; sub-150ms lines stay muted (scheduler
    * jitter trips 1.5× on a 60 ms query constantly). The second arm keeps
    * "suspects are also drifted" true now that isSuspect fires below the
    * 150 ms expectation line (r12): a >= 0.3 s reading at >= 3× any
    * committed line is at least worth a look. */
  def isDrifted(best: Double, expected: Option[Double]): Boolean =
    (best >= 0 && expected.exists(e => e >= 0.15 && best / e >= 1.5)) ||
      isSuspect(best, expected)

  /** Deferred-retry policy over one query's two first-pass runs: retry on
    * 2× disagreement (the original trigger — a spike during ONE run), on
    * a 3× expectation breach (both runs inside one load window), or on a
    * DRIFTED reading (>= 1.5× a >= 150 ms expectation). The drifted
    * trigger is new in r11: q_dedup_incremental_exact read 2.0–2.7× its
    * line in two consecutive driver runs — under the 3× retry bar, over
    * the drift bar — and a phase profile under deliberate 32-thread load
    * (PERF.md) showed the inflation is uniform global CPU dilation, not
    * any query-specific stage. A deferred third run minutes later, outside
    * the load window, reads the quiet number; queries genuinely at 1.5×
    * stay drifted through the retry and remain visible. */
  def needsDeferredRetry(cold: Double, warm: Double,
                         expected: Option[Double]): Boolean = {
    if (cold < 0 || warm < 0) return false // failed query: no time to fix
    val best = math.min(cold, warm)
    val disagree = best >= 0.5 && math.max(cold, warm) / best >= 2.0
    // isDrifted subsumes isSuspect since r12 (its second arm), so the
    // retry trigger is exactly "the runs disagree, or the reading is
    // flaggable" — one predicate per concept, no drift between call sites
    disagree || isDrifted(best, expected)
  }

  /** Per-query SHUFFLE WRITE totals from the same run (r13): wall time
    * on a shared box is 2–4× noisy — three consecutive rounds spent a
    * manual adjudication cycle proving wall drift was load noise — but
    * shuffle write RECORDS are an exact function of the data and the
    * plan, so a delta against the committed table IS a plan-shape change
    * (or a data regeneration), flagged as `"shape_drift"` regardless of
    * wall time. Collected via a SparkListener from the WARM run (the
    * cold run may include one-time fixture builds), fenced by a
    * listener-bus drain on both sides of the run so async stage events
    * can't smear across queries. Stage re-attempts deliver a second
    * completion event for the same stageId — keep-last so totals aren't
    * doubled. */
  final class ShuffleByteCollector extends SparkListener {
    private val byStage =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null)
        byStage.put(e.stageInfo.stageId,
          (m.shuffleWriteMetrics.bytesWritten,
            m.shuffleWriteMetrics.recordsWritten))
    }
    def reset(): Unit = byStage.clear()
    /** (total shuffle write bytes, total shuffle write records). */
    def totals: (Long, Long) = {
      var b = 0L
      var r = 0L
      byStage.values.forEach { case (vb, vr) => b += vb; r += vr }
      (b, r)
    }
  }

  /** Drift bars, calibrated from back-to-back double runs of the full
    * registry at both SFs (r13): RECORDS are near-exact — 135/136
    * sf0.1 queries reproduced their shuffle write row counts TO THE ROW;
    * the one exception (q_ngram_lm_score, ±11% = one optional
    * AQE-dependent pass over the 5k-doc table) sits well under the 20%
    * bar — so records are the primary signal (floor 4096 rows:
    * sub-floor queries shuffle a handful of bookkeeping rows where one
    * extra AQE stat row is 100%). BYTES wiggle with
    * serialization/compression context (≤0.5% at sf0.1; up to ±18% at
    * sf0.01 on q_quality_checks' Expand-based multi-distinct partial
    * agg, whose ROW count was identical), so bytes are the secondary
    * signal at 35% — they exist to catch a same-rows-but-wider-rows
    * plan change records can't see. */
  val ShapeDriftRowsRatio = 0.2
  val ShapeDriftRowsFloor = 4096L
  val ShapeDriftBytesRatio = 0.35
  val ShapeDriftBytesFloor = 65536L

  /** A warm-run shuffle reading that contradicts the committed per-SF
    * table: the plan (or the data) changed shape. Unlike the wall-time
    * triggers this is load-immune — no retry helps, the flag is the
    * finding. Queries without a committed line (new this round) are
    * exempt, as are failed runs (bytes/rows < 0). */
  def isShapeDrift(bytes: Long, rows: Long,
                   expected: Option[(Long, Long)]): Boolean =
    bytes >= 0 && rows >= 0 && expected.exists { case (eb, er) =>
      math.abs(rows - er) >
        math.max(ShapeDriftRowsRatio * er, ShapeDriftRowsFloor.toDouble) ||
        math.abs(bytes - eb) >
          math.max(ShapeDriftBytesRatio * eb, ShapeDriftBytesFloor.toDouble)
    }

  /** Split a committed baseline table into its per-SF section and
    * return the data lines under the `# sf <basename>` header matching
    * `sfDir`'s basename. Baselines scale with the data, so lines from a
    * different SF's section must never apply — pre-r14 the tables were
    * single-section (one `# sf` header gated the WHOLE file), which
    * meant the correctness-gate SF (sf0.01) ran with zero shape-drift
    * protection (`bytes_expected_n: 0`) because only an sf0.1 section
    * existed. Multi-section: every `# sf` header OPENS a section; a
    * data line belongs to the most recent header; lines before any
    * header belong to no section (ignored — refusing to guess beats
    * misattributing a foreign SF's baseline). Unknown SF → empty. */
  def sectionLines(path: java.nio.file.Path,
                   sfDir: String): Vector[String] = {
    if (!java.nio.file.Files.isReadable(path)) return Vector.empty
    val sfBase = new java.io.File(sfDir).getName
    val src = scala.io.Source.fromFile(path.toFile, "UTF-8")
    try {
      var cur: String = null
      val out = Vector.newBuilder[String]
      src.getLines().map(_.trim).filter(_.nonEmpty).foreach { l =>
        if (l.startsWith("# sf ")) cur = l.stripPrefix("# sf ").trim
        else if (!l.startsWith("#") && cur == sfBase) out += l
      }
      out.result()
    } finally src.close()
  }

  /** Committed per-query shuffle baseline: `name<TAB>bytes<TAB>rows`
    * lines under per-SF `# sf <basename>` section headers (see
    * [[sectionLines]]). Missing/unreadable file or absent SF section →
    * empty map (shape-drift detection degrades to off,
    * `bytes_expected_n: 0` says so in the output). */
  def loadExpectedBytes(path: java.nio.file.Path,
                        sfDir: String): Map[String, (Long, Long)] =
    sectionLines(path, sfDir).flatMap { l =>
      l.split("\t") match {
        case Array(name, b, r) =>
          for (bv <- b.toLongOption; rv <- r.toLongOption)
            yield name -> ((bv, rv))
        case _ => None
      }
    }.toMap

  /** Committed per-query quiet-box baseline: `name<TAB>seconds` lines
    * under per-SF `# sf <basename>` section headers (see
    * [[sectionLines]] — r13 review: this table previously applied to
    * ANY SF, so a baseline regenerated from a non-sf0.1 bench.json
    * would silently poison the wall gate; the per-SF sectioning keeps
    * that fixed while allowing more than one SF to carry lines).
    * Missing/unreadable file or absent SF section → empty map (every
    * trigger below degrades to the pre-r8 disagreement-only
    * behavior). */
  def loadExpected(path: java.nio.file.Path,
                   sfDir: String): Map[String, Double] =
    sectionLines(path, sfDir).flatMap { l =>
      l.split("\t") match {
        case Array(name, secs) => secs.toDoubleOption.map(name -> _)
        case _ => None
      }
    }.toMap
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session("graft-bench")
    // JVM/codegen warmup so the first measured query doesn't absorb ~4s of
    // one-time cost; deterministic name order keeps run-to-run comparisons
    // apples-to-apples (Map iteration order is arbitrary).
    spark.range(1000000L).selectExpr("sum(id)").collect()

    val byteCollector = new ShuffleByteCollector
    spark.sparkContext.addSparkListener(byteCollector)

    /** One measured run: (wall seconds, shuffle write bytes, records).
      * The shuffle reading is fenced by listener-bus drains on both
      * sides so async stage events from a previous query can't land in
      * this one's window (and vice versa); the drain is microseconds on
      * an idle bus, invisible next to the runs it separates. */
    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Long, Long) = {
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      byteCollector.reset()
      val t0 = System.nanoTime()
      // noop sink, not count(): a count() plans as Aggregate[count(1)],
      // letting the optimizer prune every expression that exists only in
      // the final projection — a regression landing there would be
      // invisible to the perf gate. The noop write materializes every
      // output column, the same work Verify's parquet write pays.
      // NonFatal only: an OOM leaves the JVM untrustworthy — aborting
      // beats timing the remaining queries on a wrecked heap.
      val ok = try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        true
      } catch { case scala.util.control.NonFatal(_) => false }
      val secs = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      val (bytes, rows) = byteCollector.totals
      // free caches and (local)checkpoint blocks the query left behind —
      // block-manager/GC pressure otherwise accumulates across ~70 queries
      // and distorts later timings (observed 10s -> 146s on an iterative
      // query late in the run)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      if (ok) (secs, bytes, rows)
      else ((-1.0, -1L, -1L)) // -1 marks a FAILED query
    }

    // Dev-only subset filter (comma-separated names); the driver never sets
    // it, so its full-registry contract is unchanged.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val firstPass = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val (cold, _, _) = runOnce(fn)
      // the WARM run's shuffle totals are the canonical shape reading:
      // the cold run may include one-time fixture builds (stored indexes,
      // staged corpora) that belong to the session, not the query's plan
      val (warm, warmBytes, warmRows) = runOnce(fn)
      (name, fn, cold, warm, (warmBytes, warmRows))
    }
    val shuffleByName: Map[String, (Long, Long)] =
      firstPass.map { case (n, _, _, _, br) => n -> br }.toMap
    // Deferred min-of-three for load-window outliers: a machine-load spike
    // long enough to span a query's back-to-back runs inflates BOTH, and
    // min-of-two can't see past it. Two triggers (needsDeferredRetry):
    // run disagreement >= 2x, or best >= 3x the committed quiet-box
    // expectation. Those queries re-run now — after the full registry,
    // typically minutes later and outside the window.
    val expected = loadExpected(
      java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_EXPECTED", "tools/bench_expected.tsv")), sfDir)
    var results = firstPass.map { case (name, fn, cold, warm, _) =>
      val best =
        if (cold < 0 || warm < 0) -1.0 // fail in either run = failed query
        else math.min(cold, warm)
      val isOutlier = best >= 0 &&
        needsDeferredRetry(cold, warm, expected.get(name))
      val best3 =
        if (isOutlier) {
          val (third, _, _) = runOnce(fn)
          if (third >= 0) math.min(best, third) else best
        } else best
      (name, fn, cold, best3, isOutlier)
    }
    // Escalation: anything STILL >= 3x its expectation after the deferred
    // pass sat inside a load window longer than one registry pass. Pause,
    // then re-measure just the suspects — up to EscalationRounds times —
    // keeping the min. A genuinely-regressed query stays suspect through
    // every round and is named in "suspect" below; a contended one
    // recovers the moment the window closes.
    var round = 0
    while (round < EscalationRounds &&
      results.exists { case (n, _, _, b, _) => isSuspect(b, expected.get(n)) }) {
      Thread.sleep(EscalationPauseMs)
      results = results.map { case r @ (name, fn, cold, best, _) =>
        if (isSuspect(best, expected.get(name))) {
          val (again, _, _) = runOnce(fn)
          val better = if (again >= 0) math.min(best, again) else best
          (name, fn, cold, better, true)
        } else r
      }
      round += 1
    }
    val suspects = results.collect {
      case (n, _, _, b, _) if isSuspect(b, expected.get(n)) => n }
    val drifted = results.collect {
      case (n, _, _, b, _) if isDrifted(b, expected.get(n)) => n }
    // shape drift: deterministic byte deltas vs the committed per-SF
    // table — unlike the wall-time lists above, a name here is a real
    // plan/data change, not a load window, and needs no adjudication
    val expectedBytes = loadExpectedBytes(
      java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_EXPECTED_BYTES", "tools/bench_bytes_expected.tsv")),
      sfDir)
    val shapeDrift = results.collect {
      case (n, _, _, _, _)
        if {
          val (b, r) = shuffleByName.getOrElse(n, (-1L, -1L))
          isShapeDrift(b, r, expectedBytes.get(n))
        } => n }
    // JSON string escaping shared with Verify (graft.Util.jsonEscape) so
    // the two driver-facing emitters cannot drift apart.
    def jstr(s: String): String = Util.jsonEscape(s)
    def jsonMap(kvs: Seq[(String, Double)], fmt: Double => String): String =
      kvs.map { case (k, v) => jstr(k) + ":" + fmt(v) }.mkString("{", ",", "}")
    val ms = (v: Double) =>
      if (v < 0) "-1" else "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val total = results.map(_._4).filter(_ >= 0).sum
    val nFailed = results.count(_._4 < 0)
    val retried = results.collect { case (n, _, _, _, true) => n }
    // stdout line: millisecond precision, warm-min times only — and the
    // HEADLINE FIELDS LAST. The driver keeps only the final ~2000 chars of
    // the log (every BENCH_r0N so far shows the line truncated at the
    // FRONT and "parsed": null), so the queries map goes first and
    // value/unit/sf/n_queries/errors go at the END where the tail always
    // preserves them; key order is irrelevant to any real JSON parser when
    // the line does fit. Full detail lives in target/bench.json.
    val bytesJson = jsonMap(
      results.map { case (n, _, _, _, _) =>
        n -> shuffleByName.getOrElse(n, (-1L, -1L))._1.toDouble },
      v => v.toLong.toString)
    val rowsJson = jsonMap(
      results.map { case (n, _, _, _, _) =>
        n -> shuffleByName.getOrElse(n, (-1L, -1L))._2.toDouble },
      v => v.toLong.toString)
    val line =
      s"""{"metric":"total","queries":${jsonMap(results.map { case (n, _, _, best, _) => n -> best }, ms)},"shape_drift":${shapeDrift.map(jstr).mkString("[", ",", "]")},"value":${ms(total)},"unit":"sec","sf":${jstr(sfDir)},"materialization":"noop","n_queries":${results.size},"suspect_n":${suspects.size},"shape_drift_n":${shapeDrift.size},"bytes_expected_n":${expectedBytes.size},"errors":$nFailed}"""
    println(line)
    // File-based output keeps the full detail (cold first-run times too):
    // atomic-ish (write temp then rename) so a reader never sees a torn line.
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${jsonMap(results.map { case (n, _, _, best, _) => n -> best }, _.toString)},"cold_queries":${jsonMap(results.map { case (n, _, cold, _, _) => n -> cold }, _.toString)},"bytes":$bytesJson,"shuffle_rows":$rowsJson,"shape_drift":${shapeDrift.map(jstr).mkString("[", ",", "]")},"retried":${retried.map(jstr).mkString("[", ",", "]")},"suspect":${suspects.map(jstr).mkString("[", ",", "]")},"drifted":${drifted.map(jstr).mkString("[", ",", "]")},"sf":${jstr(sfDir)},"materialization":"noop","n_queries":${results.size},"suspect_n":${suspects.size},"shape_drift_n":${shapeDrift.size},"bytes_expected_n":${expectedBytes.size},"errors":$nFailed}"""
    val out = java.nio.file.Paths.get("target", "bench.json")
    java.nio.file.Files.createDirectories(out.getParent)
    val tmp = out.resolveSibling("bench.json.tmp")
    java.nio.file.Files.write(tmp, (full + "\n").getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, out,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    spark.stop()
  }
}
