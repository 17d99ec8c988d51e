package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact substring deduplication at k-token granularity — the
  * "duplicated 50-token window" pass LLM corpora get before training
  * (Lee et al. 2022 run it with a suffix array on one machine; here the
  * same semantics are a pair of hash aggregates, which is the shape that
  * survives a 100 TB corpus: windows shard by content hash, no global
  * index structure).
  *
  * Two surfaces:
  *  - [[duplicatedWindowStats]]: per-document counts of windows whose
  *    exact text recurs anywhere in the corpus — SQL-expressible, so it
  *    is oracle-checked against DuckDB.
  *  - [[dedupSubstrings]]: rewrite each document with every duplicated
  *    window span REMOVED except for its one canonical occurrence (the
  *    corpus-wide minimum (doc_id, pos), a deterministic choice), merging
  *    overlapping marked spans per document before cutting tokens.
  *
  * Scale notes: the stats path aggregates on the window TEXT (needed
  * for the cross-engine oracle); the dedup path keys every shuffle by
  * `xxhash64(window)` instead, so 8-byte hashes move through the
  * exchanges rather than k-token strings (collision odds at 2^64 are
  * negligible next to tokenizer noise). Marked starts are folded into
  * disjoint intervals before the coverage filter, so the per-token test
  * costs O(intervals), not O(marked windows).
  */
object SubstringDedup {

  /** Every k-token window of every document: (doc_id, pos, gram) with
    * 0-based pos. Documents shorter than k tokens contribute no rows. */
  def tokenWindows(df: DataFrame, idCol: String, textCol: String,
                   k: Int): DataFrame = {
    // k = 0 would make wordNGrams emit an empty gram at every position —
    // every window "duplicated", zero-width spans cut — so fail loudly
    require(k >= 1, s"window size k must be >= 1, got $k")
    df.select(col(idCol).as("doc_id"),
      posexplode(TextFunctions.wordNGrams(
        TextFunctions.tokens(col(textCol)), k)).as(Seq("pos", "gram")))
  }

  /** Per-document duplicated-window tallies: `n_windows` total k-token
    * windows, `n_dup_windows` of them whose exact text occurs at more
    * than one (doc, pos) corpus-wide.
    *
    * Deliberately a hash AGGREGATE + join, not `count() over
    * (partition by gram)`: the window form sorts and fully materializes
    * each gram partition, so one boilerplate window repeated millions of
    * times corpus-wide becomes a single hot partition. The aggregate
    * map-side combines the hot gram before the shuffle, and the join
    * back is AQE-skew-splittable via [[exchangeBarrier]] (pinned by
    * ScaleSpec's hot-gram test). */
  def duplicatedWindowStats(df: DataFrame, idCol: String, textCol: String,
                            k: Int): DataFrame = {
    val wins = tokenWindows(df, idCol, textCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = wins.groupBy(col("gram"))
      .agg(count(lit(1)).as("cnt"))
    val out = wins.join(exchangeBarrier(counts), "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        count(when(col("cnt") > 1, 1)).as("n_dup_windows"))
    graft.Util.finishAndRelease(out, wins)
  }

  /** Remove duplicated k-token spans from every document except the one
    * canonical occurrence per window value. Output: (doc_id, cleaned
    * text under the original column name, n_tokens_removed).
    *
    * Plan shape: hash windows → per-hash count + canonical min-(doc,pos)
    * via one map-side-combined AGGREGATE (not a window over the hash —
    * same hot-partition argument as [[duplicatedWindowStats]]), filtered
    * to duplicated hashes (a small fraction) before joining back → marked
    * starts per doc (hash aggregate) → left equi-join onto the documents
    * by doc_id. Marked-span lists are per-document and small; the
    * interval merge and token cut are narrow per-row folds. */
  def dedupSubstrings(df: DataFrame, idCol: String, textCol: String,
                      k: Int): DataFrame = {
    require(k >= 1, s"window size k must be >= 1, got $k")
    val wins = hashedWindows(df, idCol, textCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dupes = wins.groupBy(col("whash"))
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("pos"))).as("keep"))
      .filter(col("cnt") > 1)
      .select(col("whash"), col("keep"))
    val marked = wins.join(exchangeBarrier(dupes), "whash")
      .filter(!(col("doc_id") === col("keep.doc_id") &&
        col("pos") === col("keep.pos")))
      .select(col("doc_id"), col("pos"))
    graft.Util.finishAndRelease(cutSpans(df, idCol, textCol, k, marked),
      wins)
  }

  /** Lazy partitioning-erasing barrier for the aggregate side of the
    * dedup join-backs. Without it the final gram/hash aggregate fuses
    * into the join's own stage (its exchange already satisfies the join
    * distribution), and AQE's OptimizeSkewedJoin then CANNOT split a hot
    * gram partition on the windows side — the rule requires BOTH join
    * children to be materialized shuffle stages, so one corpus-wide
    * boilerplate gram rides a single straggler task. The RDD round-trip
    * erases the aggregate's reported output partitioning (nothing is
    * materialized, lineage is intact), which makes EnsureRequirements
    * plan a fresh exchange at the join — a stage boundary the skew
    * rewrite can work with. Price: one extra exchange of the
    * vocabulary-sized count table; the corpus-sized windows side is
    * untouched. Verified by ScaleSpec's hot-gram skew test. */
  private def exchangeBarrier(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)

  /** Cut the k-token spans starting at each marked (doc_id, pos) from
    * the documents: merge overlapping starts into disjoint [s, e)
    * intervals per doc (one sorted-array fold), then drop covered
    * tokens. Shared tail of the batch and incremental paths. */
  private def cutSpans(df: DataFrame, idCol: String, textCol: String,
                       k: Int, marked: DataFrame): DataFrame = {
    val spans = marked
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("pos"))).as("__starts"))
    val emptyIv = array().cast("array<struct<s:int,e:int>>")
    val intervals = aggregate(col("__starts"), emptyIv, (acc, s) => {
      val last = element_at(acc, -1)
      when(size(acc) > 0 && last("e") >= s,
        concat(slice(acc, lit(1), size(acc) - 1),
          array(struct(last("s").as("s"),
            greatest(last("e"), s + k).as("e")))))
        .otherwise(concat(acc, array(struct(s.as("s"), (s + k).as("e")))))
    })
    // bind the merged-interval array ONCE as a lambda variable (the
    // transform-over-1-element-array "let") — referencing the fold via a
    // projected column lets CollapseProject inline it into the per-token
    // filter lambda, re-running the O(m) interval fold for every token
    // (the wordNGrams pathology)
    df.join(spans.withColumnRenamed("doc_id", "__did"),
        col(idCol) === col("__did"), "left")
      .withColumn("__toks", TextFunctions.tokens(col(textCol)))
      .withColumn("__kept",
        flatten(transform(array(coalesce(intervals, emptyIv)), ivs =>
          filter(col("__toks"), (t, i) =>
            !exists(ivs, iv => iv("s") <= i && i < iv("e"))))))
      .select(col(idCol),
        array_join(col("__kept"), " ").as(textCol),
        (size(col("__toks")) - size(col("__kept"))).cast("long")
          .as("n_tokens_removed"))
  }

  /** Hashed window stream `(doc_id, pos, whash)` — public so a caller
    * (the streaming gate) can compute one batch's windows ONCE, persist
    * them, and feed the saturation probe and the index write from the
    * same frame instead of re-tokenizing the batch per consumer. */
  def hashedWindows(df: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame =
    tokenWindows(df, idCol, textCol, k)
      .select(col("doc_id"), col("pos"), xxhash64(col("gram")).as("whash"))

  /** The window size k is the index's IDENTITY: probing a k=8 index with
    * k=12 grams finds zero hits silently — the saturation gate would
    * pass everything while poisoning the index with mixed-k hashes.
    * Same stamp/validate protocol as the MinHash index's `_params`
    * (underscore-prefixed, so parquet discovery ignores it): writers
    * stamp on first use and validate thereafter; read-only path-level
    * probes VALIDATE ONLY ([[requireWindowParams]]) — they never stamp,
    * so a mistaken probe cannot plant a phantom identity on an unbuilt
    * path. A store with data but no stamp (crashed write / deleted
    * stamp) refuses loudly on every path. */
  private def writeWindowParams(spark: org.apache.spark.sql.SparkSession,
                                path: String, k: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_params")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(k.toString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private[graft] def stampOrRequireWindowParams(
      spark: org.apache.spark.sql.SparkSession, path: String,
      k: Int): Unit = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stampPath = new org.apache.hadoop.fs.Path(s"$path/_params")
    if (!fs.exists(stampPath)) {
      // the stamp is written AFTER the data (writeWindowIndex's
      // overwrite clears the dir, old stamp included), so data without
      // a stamp is a crashed write or a deleted stamp — either way the
      // gram size cannot be validated and a mismatched probe finds zero
      // duplicated windows silently; refuse loudly (r12: was a warning)
      require(!fs.exists(dir) || fs.listStatus(dir).isEmpty,
        s"window index at $path has data but no _params stamp — a " +
          "crashed write left a possibly-partial index, or the stamp " +
          "was deleted; rebuild the index (writeWindowIndex).")
      writeWindowParams(spark, path, k)
      return
    }
    // stamp present: same validation as the read-only probes — one code
    // path, so the stamp format / mismatch message cannot drift between
    // the writer and prober sides (r13 review)
    requireWindowParams(spark, path, k)
  }

  /** Validate-only form for READ-ONLY probes: requires a matching stamp
    * and NEVER writes one. The stamping form above is for writers and
    * appenders — a mistaken probe at the wrong k against a not-yet-built
    * path must not leave a phantom `_params` stamp that later refuses
    * [[appendWindowIndex]] at the intended k (r13, ADVICE). A probe
    * against an absent/empty path is itself an error: there is nothing
    * to probe, and the parquet read would fail anyway — fail with the
    * index-identity message instead of a schema-inference one. */
  private[graft] def requireWindowParams(
      spark: org.apache.spark.sql.SparkSession, path: String,
      k: Int): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stampPath = new org.apache.hadoop.fs.Path(s"$path/_params")
    require(fs.exists(stampPath),
      s"no window index at $path (missing _params stamp): build it with " +
        "writeWindowIndex/putWindowIndexBatch before probing — or, if " +
        "data exists without a stamp, a crashed write left a " +
        "possibly-partial index; rebuild it.")
    val in = fs.open(stampPath)
    val stored = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    require(stored == k.toString,
      s"window index at $path was built with windowK=$stored but caller " +
        s"passed windowK=$k — probing across mismatched gram sizes finds " +
        "zero duplicated windows silently")
  }

  /** Persist the corpus's DISTINCT window hashes as the substring index —
    * one 8-byte column, the artifact incremental ingest probes against.
    * Append new batches' hashes with [[appendWindowIndex]]; duplicate
    * hashes across appends are harmless (probes are semi-joins). */
  def writeWindowIndex(df: DataFrame, idCol: String, textCol: String,
                       k: Int, path: String): Unit = {
    hashedWindows(df, idCol, textCol, k).select(col("whash")).distinct()
      .write.mode("overwrite").parquet(path)
    // after the overwrite (which clears the directory), not before
    writeWindowParams(df.sparkSession, path, k)
  }

  def appendWindowIndex(df: DataFrame, idCol: String, textCol: String,
                        k: Int, path: String): Unit = {
    stampOrRequireWindowParams(df.sparkSession, path, k)
    hashedWindows(df, idCol, textCol, k).select(col("whash")).distinct()
      .write.mode("append").parquet(path)
  }

  /** Idempotent per-batch window-index write for at-least-once callers:
    * the batch's distinct window hashes land in a `batch=<id>` subdir
    * with OVERWRITE semantics, so a replay overwrites its own earlier
    * append. Probes select `whash` by name; the discovered `batch`
    * partition column is inert. An index must use EITHER this layout or
    * the flat write/append one, not both. Fold a gate's committed batches
    * with its locked compaction
    * ([[graft.streaming.BatchLedger.compactStores]]). */
  def putWindowIndexBatch(df: DataFrame, idCol: String, textCol: String,
                          k: Int, path: String, batchId: Long): Unit =
    putWindowIndexBatchFromWins(hashedWindows(df, idCol, textCol, k),
      path, batchId, k)

  /** [[putWindowIndexBatch]] over a PRECOMPUTED [[hashedWindows]] frame —
    * caller owns the frame's lifecycle; the windows are not recomputed.
    * `k` describes how the caller built the frame and stamps/validates
    * the index identity (`_params`). */
  def putWindowIndexBatchFromWins(wins: DataFrame, path: String,
                                  batchId: Long, k: Int): Unit = {
    // refuse a flat [[writeWindowIndex]] layout (r14 review, the
    // semantic store's existing guard): a batch= dir written next to
    // flat files makes the dir unreadable as either layout. Guard
    // BEFORE the stamp helper so no _params is ever written onto a
    // refused layout (same ordering as putCorpusIndexBatchSigs).
    graft.Util.requireBatchLayout(
      new org.apache.hadoop.fs.Path(path).getFileSystem(
        wins.sparkSession.sparkContext.hadoopConfiguration), path)
    stampOrRequireWindowParams(wins.sparkSession, path, k)
    wins.select(col("whash")).distinct()
      .write.mode("overwrite").parquet(s"$path/batch=$batchId")
  }

  /** Gate-side metric for incremental ingest: per-doc window counts and
    * how many of those windows already exist in the stored index — the
    * saturation signal a quarantine threshold reads. Every batch doc
    * appears (docs shorter than k tokens report 0 windows). O(batch)
    * probe: one semi-join on the 8-byte hash column. */
  def duplicatedWindowStatsVsIndex(batch: DataFrame, idCol: String,
      textCol: String, k: Int, indexPath: String): DataFrame = {
    // validate-only: a read-only probe must never stamp (r13)
    requireWindowParams(batch.sparkSession, indexPath, k)
    duplicatedWindowStatsVsIndexFrame(batch, idCol, textCol, k,
      batch.sparkSession.read.parquet(indexPath))
  }

  /** Relation-input variant — the caller supplies the index frame (e.g.
    * a partition-pruned read of a [[putWindowIndexBatch]] layout). */
  def duplicatedWindowStatsVsIndexFrame(batch: DataFrame, idCol: String,
      textCol: String, k: Int, index: DataFrame): DataFrame = {
    require(k >= 1, s"window size k must be >= 1, got $k")
    val wins = hashedWindows(batch, idCol, textCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.Util.finishAndRelease(
      duplicatedWindowStatsFromWins(
        batch.select(col(idCol).as("doc_id")), wins, index),
      wins)
  }

  /** Saturation stats over a PRECOMPUTED (and ideally persisted)
    * [[hashedWindows]] frame. LAZY, caller-owned lifecycle — the
    * streaming gate's building block. `batchIds` is one `doc_id` row per
    * batch doc (so window-less docs still report 0). */
  def duplicatedWindowStatsFromWins(batchIds: DataFrame, wins: DataFrame,
                                    index: DataFrame): DataFrame = {
    val idx = index.select(col("whash"))
    val all = wins.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"))
    // the matched side counts wins ROWS, not a distinct set (r14
    // review): `all` counts rows, so if the batch carries duplicate
    // (doc_id, pos) rows — duplicated source rows — a distinct-based
    // hit count would halve the saturation ratio and let a
    // 100%-covered doc pass the quarantine threshold. Both size-gate
    // arms preserve wins' multiplicity: under the gate ONE map-side
    // semi against the force-broadcast index (r15 — the two extra
    // batch shuffles of the matched-set roundtrip skipped); past it,
    // a semi against the batch-sized probe result — never the corpus.
    val hit = (semiGatedIndex(idx) match {
        case Some(b) => wins.join(b, Seq("whash"), "left_semi")
        case None => wins.join(
          graft.Util.batchSide(occurrencesInIndex(wins, idx)),
          Seq("doc_id", "pos"), "left_semi")
      })
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_windows"))
    batchIds.select(col("doc_id")).distinct()
      .join(all, Seq("doc_id"), "left")
      .join(hit, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"))
  }

  /** [[duplicatedWindowStatsFromWins]] with the INTRA-BATCH extension:
    * a window occurrence of doc `d` counts as duplicated if its hash is
    * in `index` OR a smaller-id doc IN THE SAME `wins` FRAME owns it
    * (min-id = "already corpus" — the same convention the MinHash
    * intra-batch components keep). This closes the saturation gate's
    * one-batch blind spot: a stitched doc arriving in the SAME batch as
    * its source halves is covered by their windows immediately, not one
    * batch later — and the two coverage sources SUM, so a doc 30%
    * corpus-covered and 30% covered by an earlier batch doc crosses a
    * 0.5 ratio even though neither source alone would.
    *
    * `index = None` is the bootstrap form (no corpus yet): coverage is
    * purely intra-batch. Scale shape: the owner table is one
    * batch-sized aggregate on `whash` (the same key the index semi-join
    * probes, so the two candidate sets co-partition), the dup set is a
    * batch-sized distinct on (doc_id, pos) — the corpus-sized index
    * side stays a semi-join probe, never aggregated or distinct-ed. */
  def duplicatedWindowStatsWithIntraFromWins(batchIds: DataFrame,
      wins: DataFrame, index: Option[DataFrame]): DataFrame = {
    // every input here except `index` is batch-sized by contract
    // (batchIds/wins ARE the micro-batch; owners/all/hit are aggregates
    // of wins), so the batch-vs-batch joins take the gates'
    // shuffle-hash hint (Util.batchSide — a broadcast exchange costs a
    // whole Spark job each at 10k batches/day). The `index` semi-join
    // is the one corpus-sized side and keeps its planner-chosen shape.
    val owners = wins.groupBy(col("whash"))
      .agg(min(col("doc_id")).as("__min_owner"))
    val intraOcc = wins.join(graft.Util.batchSide(owners), Seq("whash"))
      .filter(col("__min_owner") < col("doc_id"))
      .select(col("doc_id"), col("pos"))
    val idxOcc = index.map(idx => occurrencesInIndex(wins, idx))
    // an occurrence can be in BOTH sets — distinct into one OCCURRENCE
    // set first...
    val dupOcc = idxOcc.fold(intraOcc)(intraOcc.unionByName(_)).distinct()
    val all = wins.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"))
    // ...then count wins ROWS against it, like `all` does (r14 review:
    // counting the distinct set directly halves the saturation ratio
    // when an at-least-once source delivers the same doc row twice in
    // one batch — n_windows doubles, the distinct occurrence count
    // doesn't, and a fully-covered doc slides under the quarantine
    // bar). Same multiplicity contract as duplicatedWindowStatsFromWins;
    // the semi's right side is the batch-sized dupOcc set.
    val hit = wins.join(graft.Util.batchSide(dupOcc),
        Seq("doc_id", "pos"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_windows"))
    batchIds.select(col("doc_id")).distinct()
      .join(graft.Util.batchSide(all), Seq("doc_id"), "left")
      .join(graft.Util.batchSide(hit), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"))
  }

  /** Incremental ingest: dedup a NEW batch against the stored window
    * index without touching the corpus. Windows already in the corpus
    * are cut from every batch occurrence (the canonical copy lives in
    * the corpus); windows new to the corpus but duplicated WITHIN the
    * batch keep their min-(doc, pos) occurrence, same rule as the batch
    * path. Per-batch cost is O(batch) — the index side is one scan of
    * one hashed column, probed by two hash joins. Call
    * [[appendWindowIndex]] with the same batch afterwards so the next
    * batch dedups against this one too. */
  def dedupSubstringsVsIndex(batch: DataFrame, idCol: String,
      textCol: String, k: Int, indexPath: String): DataFrame = {
    require(k >= 1, s"window size k must be >= 1, got $k")
    // validate k against the index stamp like every other path-level
    // prober (r12 — this was the one gap): probing a k=8 index with
    // k=12 windows matches NOTHING, so every corpus-duplicated span
    // would silently survive ingest as if clean. Validate-ONLY (r13):
    // this probe never writes, so it must not leave a phantom stamp on
    // a not-yet-built path.
    requireWindowParams(batch.sparkSession, indexPath, k)
    val spark = batch.sparkSession
    val wins = hashedWindows(batch, idCol, textCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val idx = spark.read.parquet(indexPath).select(col("whash"))
    // the tail shared by both size-gate arms: canonical-occurrence
    // selection among the index-fresh windows, then the span cut
    def cutAll(inCorpus: DataFrame, fresh: DataFrame,
               alsoRelease: DataFrame*): DataFrame = {
      val freshDupes = fresh.groupBy(col("whash"))
        .agg(count(lit(1)).as("cnt"),
          min(struct(col("doc_id"), col("pos"))).as("keep"))
        .filter(col("cnt") > 1)
        .select(col("whash"), col("keep"))
      val intraMarked = fresh.join(exchangeBarrier(freshDupes), "whash")
        .filter(!(col("doc_id") === col("keep.doc_id") &&
          col("pos") === col("keep.pos")))
        .select(col("doc_id"), col("pos"))
      graft.Util.finishAndRelease(
        cutSpans(batch, idCol, textCol, k,
          inCorpus.unionByName(intraMarked)),
        (wins +: alsoRelease): _*)
    }
    semiGatedIndex(idx) match {
      case Some(b) =>
        // small-index arm (r15, VERDICT #3): both probes go straight at
        // the force-broadcast index — a map-side semi AND anti over the
        // pinned wins, ZERO probe shuffles (the broadcast exchange is
        // planned once and reused by both joins). This is the pre-r14
        // toy-scale shape, now behind the explicit size gate instead of
        // implicit planner luck; nothing here needs a second persist.
        cutAll(
          wins.join(b, Seq("whash"), "left_semi")
            .select(col("doc_id"), col("pos")),
          wins.join(b, Seq("whash"), "left_anti"))
      case None =>
        // at-scale arm: one probe result, persisted — it feeds BOTH the
        // span cut (corpus-covered occurrences) and, inverted, the
        // fresh set; the anti runs against the BATCH-SIZED matched set,
        // not the corpus (see occurrencesInIndex — the old whash
        // left_anti vs the index put the corpus on the build side)
        val inCorpus = occurrencesInIndex(wins, idx)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        cutAll(inCorpus,
          wins.join(graft.Util.batchSide(inCorpus),
            Seq("doc_id", "pos"), "left_anti"),
          inCorpus)
    }
  }

  /** Index size (estimated on-disk bytes) at or under which
    * [[occurrencesInIndex]] keeps the pre-r14 broadcast-semi probe
    * shape. Must stay comfortably under a sane broadcast budget: the
    * semi arm force-broadcasts the index. Session conf; default 8 MB. */
  private[graft] val SemiIndexBytesKey =
    "spark.graft.substring.semiIndexBytes"
  private val SemiIndexBytesDefault = 8L << 20

  /** (doc_id, pos) occurrences of `wins` whose hash exists in `idx` —
    * semi-probe SEMANTICS with a size-gated choice of plan (r15,
    * VERDICT #3; consumers are multiplicity-insensitive — every use is
    * the right side of a semi/anti or feeds a distinct/collect_set —
    * so the two arms are interchangeable):
    *
    *  - index provably SMALL (its scan's size estimate — on-disk bytes
    *    from the file listing the read already performed — at or under
    *    [[SemiIndexBytesKey]]): the classic `left_semi` with the index
    *    FORCE-broadcast. Zero shuffle, no distinct — the cheapest toy-
    *    and steady-micro-batch-scale shape. The explicit size gate +
    *    broadcast hint make the decision static and conf-driven, never
    *    AQE's (the gates plan micro-batches AQE-off).
    *  - otherwise: inner join + batch-sized distinct over (doc_id, pos)
    *    (appended indexes hold duplicate hashes; the distinct collapses
    *    the multiplied occurrences). Why not semi here (r14): Spark can
    *    only BUILD the right side of a semi/anti hash join, and the
    *    right side is the CORPUS index — past the broadcast threshold
    *    the semi degrades to a sort-merge join that shuffles and sorts
    *    the whole index per probe. The inner form keeps the index a
    *    pure SCAN: the planner builds the batch-sized `wins`, and the
    *    distinct touches batch-sized rows only. PERF.md (r14) records
    *    this arm exactly flat (971,572 shuffle rows) across a x1/x3/x10
    *    index where the semi shape grows linearly; ScaleSpec's
    *    window-index flat-shuffle test pins it.
    *
    * Both arms are pinned by ScaleSpec; results are hash-identical. */
  /** The size gate itself: `Some(force-broadcast hash column)` when the
    * index is provably under [[SemiIndexBytesKey]], `None` when it must
    * be treated as corpus-sized. Driver-side plan stats only: for a
    * (possibly partition-pruned) parquet index the estimate is the file
    * listing's byte total — the listing the scan itself already did —
    * so the gate costs no extra IO. An unknown/huge estimate lands in
    * the scale-safe `None` arm. */
  private def semiGatedIndex(idx: DataFrame): Option[DataFrame] = {
    val hashes = idx.select(col("whash"))
    val semiMax = BigInt(idx.sparkSession.conf
      .get(SemiIndexBytesKey, SemiIndexBytesDefault.toString).trim.toLong)
    val idxBytes = hashes.queryExecution.optimizedPlan.stats.sizeInBytes
    if (idxBytes <= semiMax) Some(broadcast(hashes)) else None
  }

  private def occurrencesInIndex(wins: DataFrame,
                                 idx: DataFrame): DataFrame =
    semiGatedIndex(idx) match {
      case Some(b) =>
        wins.join(b, Seq("whash"), "left_semi")
          .select(col("doc_id"), col("pos"))
      case None =>
        wins.join(idx.select(col("whash")), Seq("whash"))
          .select(col("doc_id"), col("pos")).distinct()
    }
}
