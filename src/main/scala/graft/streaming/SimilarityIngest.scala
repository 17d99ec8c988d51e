package graft.streaming

import graft.llm.{Dedup, SubstringDedup}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming near-dup ingest gate — the composition of the engine's two
  * stored similarity indexes behind ONE exactly-once micro-batch loop:
  *
  *   1. '''whole-document gate''': the batch probes the stored MinHash
  *      corpus index ([[graft.llm.Dedup.putCorpusIndexBatch]]); docs
  *      within `threshold` Jaccard of any corpus doc quarantine with
  *      reason `near_dup`;
  *   2. '''substring-saturation gate''': docs whose k-token windows are
  *      already ≥ `maxDupWindowRatio` duplicated quarantine with reason
  *      `substring_dup` — the stitched-boilerplate class MinHash misses
  *      (a concatenation of two corpus halves is near-dup of NEITHER
  *      whole doc but ~100% window-saturated). A window counts as
  *      duplicated if it is in the stored window-hash index
  *      ([[graft.llm.SubstringDedup.putWindowIndexBatch]]) OR owned by a
  *      smaller-id doc in the SAME batch (min-id = "already corpus", the
  *      convention the MinHash intra pass keeps) — so a stitching
  *      arriving in the same micro-batch as its source halves is caught
  *      immediately, and split coverage (part corpus, part batch
  *      sibling) sums toward the ratio;
  *   3. survivors self-dedup WITHIN the batch via MinHash components
  *      (duplicates typically arrive together; the index gates only see
  *      the pre-batch corpus), keeping each near-dup cluster's minimum
  *      id. Reason priority within a batch: corpus `near_dup` >
  *      `substring_dup` (combined coverage) > intra `near_dup` — an
  *      intra-batch EXACT dup is window-saturated by its smaller-id twin
  *      and therefore reads `substring_dup`, not `near_dup`;
  *   4. accepted docs append to `accepted/`, and their signatures append
  *      to BOTH indexes, so every later batch dedups against them at
  *      O(batch) probe cost — no corpus recompute, ever.
  *
  * Exactly-once without a transactional table format (the
  * SummaryMaintenance ledger pattern, adapted to append-shaped output):
  * every write is keyed by batch id — `accepted/batch=<id>`,
  * `quarantine/batch=<id>`, and the per-batch index subdirs — with
  * OVERWRITE semantics, and the `_committed/batch-<id>` marker lands
  * LAST (append-only ledger — see [[lastBatchId]]). A
  * checkpoint replay of a stamped batch no-ops; a replay of a
  * half-committed batch re-derives the gate verdicts with its own
  * half-written index entries partition-pruned OUT (`batch =!= id`), so
  * it reproduces the same accepted/quarantined split and overwrites the
  * same directories. Nothing double-appends, nothing self-matches.
  *
  * Scale shape: per-batch cost is O(batch) on the stream side — the
  * corpus only ever appears as two hash-partitioned parquet probes (band
  * buckets; 8-byte window hashes), and the intra-batch coverage adds
  * only batch-sized work (one min-owner aggregate on the window-hash
  * key the index probe already shuffles on, one batch-sized distinct).
  * The gates inherit the batch operators' scale design: banded
  * candidates, hot-bucket valve, AQE-splittable join-backs. 100 TB of
  * corpus behind the indexes costs a batch exactly what 1 GB does,
  * modulo the probe scans' partition pruning. */
object SimilarityIngest {

  /** Gate parameters. `windowK`/`maxDupWindowRatio` drive the saturation
    * gate; the rest are the MinHash index's signature identity. */
  case class Params(shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8,
                    threshold: Double = 0.8, windowK: Int = 8,
                    maxDupWindowRatio: Double = 0.5)

  // The commit ledger is append-only marker files (see [[BatchLedger]]):
  // `_committed/batch-<id>`, created empty as the LAST write of a batch.
  // One empty file per committed nonempty batch.

  /** Highest committed batch id, -1 before the first commit. */
  def lastBatchId(spark: SparkSession, stateDir: String): Long =
    BatchLedger.last(spark, stateDir)

  private def writeStamp(spark: SparkSession, stateDir: String,
                         batchId: Long): Unit =
    BatchLedger.stamp(spark, stateDir, batchId)

  /** The accepted corpus so far, with the `batch` that admitted each doc
    * (`-1` for docs folded into a compacted base — see [[compactIndexes]]).
    *
    * Reads are COMMITTED-batch isolated: a crashed batch's half-written
    * `accepted/batch=N` rows (present on disk until its replay overwrites
    * them) are partition-pruned out via the ledger, so readers never
    * observe an uncommitted verdict. Throws IllegalStateException before
    * the first nonempty batch commits — there is no schema to return. */
  def accepted(spark: SparkSession, stateDir: String): DataFrame =
    committedRead(spark, stateDir, s"$stateDir/accepted")

  /** Quarantined docs with their gate `reason` (`near_dup` /
    * `substring_dup`) and admitting `batch` (`-1` once compacted).
    * Committed-batch isolated and pre-commit behavior as [[accepted]]. */
  def quarantined(spark: SparkSession, stateDir: String): DataFrame =
    committedRead(spark, stateDir, s"$stateDir/quarantine")

  private def committedRead(spark: SparkSession, stateDir: String,
                            path: String): DataFrame =
    BatchLedger.committedRead(spark, stateDir, path)

  /** The five per-batch stores behind one state dir. */
  private def leafStores(stateDir: String): Seq[String] = Seq(
    s"$stateDir/accepted", s"$stateDir/quarantine",
    s"$stateDir/minhash/docs", s"$stateDir/minhash/buckets",
    s"$stateDir/windows")

  /** Fold all COMMITTED batches up to `upToBatch` (clamped to the ledger
    * frontier) into one compacted base segment per store — accepted,
    * quarantine, both MinHash index tables, and the window index — and
    * prune ledger markers below the newest one. Without this, a year of
    * micro-batches leaves every O(batch) probe scanning 10k+ tiny
    * per-batch files; after it, each store is ~data/128MB files again.
    *
    * Replay semantics are preserved exactly: the base lands at `batch=-1`
    * (live ids are required non-negative, so no replay can ever overwrite
    * or self-match it), the crash-replay prune `batch =!= id` keeps the
    * base by construction, and a half-committed batch ABOVE the ledger
    * frontier keeps its own subdirs for its replay to overwrite. The
    * ledger stays append-only: only markers strictly below the retained
    * maximum are removed, so `lastBatchId` (and therefore no-op replay
    * detection) is unchanged. Must not run concurrently with an active
    * stream's applyBatch — ENFORCED via the heartbeated
    * `_compact.lock` marker ([[BatchLedger.withCompactionLock]]): a
    * concurrent applyBatch or second compaction fails loudly instead of
    * racing the gate's probes. A crash mid-fold is still repaired
    * automatically by the next applyBatch or compactIndexes call (the
    * dead holder's lock goes stale and is broken). */
  def compactIndexes(spark: SparkSession, stateDir: String,
                     upToBatch: Long = Long.MaxValue): Unit = {
    // the five stores fold independently — BatchLedger.compactStores
    // runs them concurrently and prunes markers below the frontier
    BatchLedger.compactStores(spark, stateDir,
      leafStores(stateDir), upToBatch)
  }

  /** Gate one micro-batch. Replaying the COMMITTED last batchId is an
    * idempotent no-op (including replays of a half-committed batch, which
    * re-derive and overwrite); an id BELOW the committed ledger fails
    * loudly — that only happens when a fresh checkpoint is pointed at
    * existing state, where silent no-ops would drop data. Batch backfills
    * reusing this path must therefore feed monotonically increasing
    * non-negative ids against a fresh stateDir. */
  def applyBatch(spark: SparkSession, stateDir: String, batch0: DataFrame,
                 batchId: Long, idCol: String, textCol: String,
                 p: Params = Params()): Unit = {
    // -1 would collide with the empty-ledger sentinel and no-op silently
    require(batchId >= 0, s"batchId must be >= 0, got $batchId")
    val last = lastBatchId(spark, stateDir)
    // batchId == last is the legitimate same-run replay (no-op below);
    // batchId < last means a FRESH CHECKPOINT was pointed at this state
    // dir — its restarted ids would silently no-op through the ledger,
    // dropping batches. Fail loudly instead. (Empty batches never stamp,
    // so in-run ids can only arrive at or above the stamp.)
    require(batchId >= last,
      s"batch id $batchId regressed below the committed ledger ($last) at " +
        s"$stateDir: state was built by a different checkpoint lineage. " +
        "Use a fresh stateDir or restore the original checkpoint.")
    if (batchId == last) return // replay of the committed batch: no-op
    // the gate holds _gate.lock for the whole batch (heartbeated):
    // a compaction starting mid-batch fails loudly on it instead of
    // racing the probes below with half-folded stores, and a batch
    // starting mid-fold fails on the fold's fresh _compact.lock (a
    // STALE marker from a crashed holder is broken and repaired next)
    // job economy (r13): AQE off for the batch's plans — see
    // Util.withMicroBatchPlanning for the measured 53 -> 24 jobs/batch.
    // BOTH sessions: under Structured Streaming batch0 is rooted at the
    // stream's cloned session, the stored-index reads at `spark`
    graft.Util.withMicroBatchPlanning(Seq(spark, batch0.sparkSession)) {
    BatchLedger.withGateLock(spark, stateDir) {
      // a compactIndexes crash mid-fold leaves a store in its two-phase
      // window (tmp segment present, originals half-deleted); finish or
      // roll back BEFORE probing, or the gates would read duplicated /
      // missing corpus entries. No-op (5 dir listings) in steady state.
      leafStores(stateDir).foreach(p =>
        graft.io.Parquet.repairBatchStore(spark, p))
      val minhashDir = s"$stateDir/minhash"
      val windowsDir = s"$stateDir/windows"
      // Bootstrap detection rides the STAMP, not index-directory existence:
      // the stamp is the last write of a committed NONEMPTY batch (empty
      // batches write nothing at all — trivially idempotent), so
      //   stamp present  <=> some nonempty batch committed
      //                  <=> all index paths exist and hold committed data.
      // A bootstrap batch that crashed mid-write (docs down, buckets or
      // windows missing) therefore replays through the bootstrap branch
      // again — same self-dedup, same verdicts, overwriting its own
      // half-committed batch=0 subdirs — instead of wedging the stream on
      // a PATH_NOT_FOUND read or skipping intra-batch dedup.
      //
      // EXCEPTION: a PRE-SEEDED batch=-1 base (Dedup.seedCorpusIndex +
      // putWindowIndexBatch at id -1 over an existing corpus) must route
      // batch 0 through the GATE branch — a self-dedup-only bootstrap
      // would silently accept duplicates of the seed corpus (the
      // EmbeddingIngest/IngestDedup guard, previously missing here). The
      // gate probes BOTH indexes, so a half-seeded state fails loudly
      // rather than reading a missing store or silently skipping one gate.
      // The seed detection (and its half-seed guard) is only meaningful
      // BEFORE the first commit: once the ledger has a stamp, bootstrapped
      // is true regardless, and batch=-1 bases can also come from
      // compactIndexes — which folds the five stores CONCURRENTLY, so a
      // crash mid-compaction legitimately leaves some stores folded and
      // others not (repairBatchStore above fixes the two-phase window;
      // an un-started fold is just unfolded per-batch dirs, read fine).
      // Running the require unconditionally would wedge that crash replay
      // forever with wrong (re-seed) advice. Compaction clamps to the
      // ledger frontier and therefore never creates a base before the
      // first commit, so the scoped check still catches genuine half-seeds.
      val bootstrapped = last >= 0L || {
        val fsState = new Path(stateDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val mhSeeded = fsState.exists(new Path(s"$minhashDir/docs/batch=-1"))
        val winSeeded = fsState.exists(new Path(s"$windowsDir/batch=-1"))
        require(mhSeeded == winSeeded,
          s"partially seeded state at $stateDir: seed BOTH the MinHash index " +
            s"(Dedup.seedCorpusIndex at $minhashDir) and the window index " +
            s"(SubstringDedup.putWindowIndexBatch id -1 at $windowsDir), or " +
            "neither — the gate probes both")
        mhSeeded
      }
      // spread the batch to the gate's configured parallelism BEFORE the
      // feature passes (r18, guide §2): a one-partition foreachBatch frame
      // otherwise runs the whole shingle/window/hash compute single-task
      // (measured as the bulk of probe-mat at sf0.1)
      val batch = graft.Util.spreadBatch(batch0, idCol).persist()
      // every frame persisted by the gate below lands here and is released
      // in ONE finally — a transient FS failure mid-commit must not leak
      // persists into the retry
      val pinned = scala.collection.mutable.ListBuffer[DataFrame]()
      def pin(df: DataFrame): DataFrame = {
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        pinned += df
        df
      }
      try {
        if (batch.isEmpty) return
        // ONE feature pass over the batch: MinHash signatures and window
        // hashes are computed once and pinned, then feed every consumer —
        // the two index probes, the intra-batch self-dedup, and the index
        // writes. (Pre-r8, each consumer re-shingled/re-tokenized the
        // batch from scratch: three signature passes and two window passes
        // per batch.) `sigDocs` comes back persisted by signatureFrames.
        val (sigDocs, sigBuckets0) = Dedup.signatureFrames(batch, idCol,
          textCol, p.shingleN, p.numHashes, p.bands)
        pinned += sigDocs
        val sigBuckets = pin(sigBuckets0)
        val wins = pin(SubstringDedup.hashedWindows(batch, idCol, textCol,
          p.windowK))
        val (acc, quar) =
          if (!bootstrapped) {
            // intra-batch saturation first (no index yet, so coverage is
            // purely min-id): the stitched-boilerplate class whose source
            // halves share this first batch. Runs over the FULL batch —
            // same priority the gate branch gives substring_dup over the
            // intra MinHash pass.
            val satB = pin(SubstringDedup
              .duplicatedWindowStatsWithIntraFromWins(
                batch.select(col(idCol).as("doc_id")), wins, None)
              .filter(col("n_windows") > 0 &&
                col("n_dup_windows") >=
                  col("n_windows") * lit(p.maxDupWindowRatio))
              .select(col("doc_id").as("__graft_bad")))
            val qSat = batch.join(graft.Util.batchSide(satB),
              batch(idCol) === col("__graft_bad"))
              .drop("__graft_bad")
              .withColumn("reason", lit("substring_dup"))
            val b0 = pin(batch.join(graft.Util.batchSide(satB),
              batch(idCol) === col("__graft_bad"), "left_anti"))
            // first batch IS the corpus: saturation survivors self-dedup
            // via MinHash components (no index exists to do it),
            // everything surviving bootstraps both indexes. The pair gen
            // is restricted to survivors — a saturated doc must not pull
            // a survivor out of the corpus by winning a min-id component.
            // Persist BEFORE deriving the quarantine side — its anti-join
            // re-reads the accepted set, which would otherwise re-run the
            // whole components pass
            val pairs = Dedup.minhashLshPairsFromSigs(sigDocs,
              sigBuckets.join(graft.Util.batchSide(
                b0.select(col(idCol).as("id"))), Seq("id"),
                "left_semi"), p.threshold)
            val a = pin(Dedup.dedupedCorpus(b0, idCol, pairs))
            val qCc = b0.join(graft.Util.batchSide(
                a.select(col(idCol).as("__graft_keep"))),
                b0(idCol) === col("__graft_keep"), "left_anti")
              .withColumn("reason", lit("near_dup"))
            (a, qSat.unionByName(qCc))
          } else {
            // replay guard: a crash BETWEEN the index writes and the stamp
            // left this batch's own entries in the indexes; prune them out
            // by partition so the replay sees exactly the pre-batch corpus.
            // Explicit schemas (r14, job economy): the stores were written
            // FROM frames shaped exactly like this batch's pinned feature
            // frames, so their schemas are known — inferring them from
            // footers cost one Spark job per store per micro-batch (3 of
            // the gate's 15), and on an object store the footer reads are
            // extra GETs besides. `batch` is the partition column; the
            // layout guard keeps the explicit schema honest (a flat/
            // foreign store would otherwise read `batch` as all-NULL and
            // the prune would silently EMPTY the corpus — r14 review).
            val fsIdx = new Path(stateDir)
              .getFileSystem(spark.sparkContext.hadoopConfiguration)
            graft.Util.requireBatchLayout(fsIdx, s"$minhashDir/docs")
            graft.Util.requireBatchLayout(fsIdx, s"$minhashDir/buckets")
            graft.Util.requireBatchLayout(fsIdx, windowsDir)
            val corpusDocs = spark.read
              .schema(graft.Util.withBatchColumn(sigDocs.schema))
              .parquet(s"$minhashDir/docs")
              .filter(col("batch") =!= batchId)
            val corpusBuckets = spark.read
              .schema(graft.Util.withBatchColumn(sigBuckets.schema))
              .parquet(s"$minhashDir/buckets")
              .filter(col("batch") =!= batchId)
            // a restart with a different windowK would probe k'-grams
            // against a k-gram index and find ZERO hits silently — the
            // stamp written with the index fails it loudly instead
            SubstringDedup.stampOrRequireWindowParams(spark, windowsDir,
              p.windowK)
            val windowIdx = spark.read
              .schema(graft.Util.withBatchColumn(
                org.apache.spark.sql.types.StructType(Seq(
                  org.apache.spark.sql.types.StructField("whash",
                    org.apache.spark.sql.types.LongType)))))
              .parquet(windowsDir)
              .filter(col("batch") =!= batchId)
            // BOTH gate probes are lazy over the pinned feature frames and
            // combine through one priority aggregation (near_dup outranks
            // substring_dup for docs both gates flag — the pre-r8
            // anti-join's verdict, without its near→sat sequencing), so
            // pinning `bad` materializes the two probes TOGETHER in one
            // Spark job instead of two sequential eager passes.
            val near = Dedup.minhashLshProbeSigs(sigDocs, sigBuckets,
                corpusDocs, corpusBuckets, p.threshold)
              .select(col("new_id").as("__graft_bad")).distinct()
              .select(col("__graft_bad"), lit(0).as("__graft_prio"),
                lit("near_dup").as("reason"))
            val sat = SubstringDedup.duplicatedWindowStatsWithIntraFromWins(
                batch.select(col(idCol).as("doc_id")), wins, Some(windowIdx))
              .filter(col("n_windows") > 0 &&
                col("n_dup_windows") >=
                  col("n_windows") * lit(p.maxDupWindowRatio))
              .select(col("doc_id").as("__graft_bad"),
                lit(1).as("__graft_prio"), lit("substring_dup").as("reason"))
            // `bad` feeds the quarantine join and the survivor anti-join;
            // `a0` feeds the intra-batch pair gen, the components pass, and
            // the intra-quarantine anti-join. Unpersisted, each consumer
            // re-executes the full probe chain behind it.
            val bad = pin(near.unionByName(sat)
              .groupBy(col("__graft_bad"))
              .agg(min(struct(col("__graft_prio"), col("reason"))).as("__m"))
              .select(col("__graft_bad"), col("__m.reason").as("reason")))
            val qIndex = batch.join(graft.Util.batchSide(bad),
              batch(idCol) === col("__graft_bad"))
              .drop("__graft_bad")
            val a0 = pin(batch.join(graft.Util.batchSide(bad),
              batch(idCol) === col("__graft_bad"), "left_anti"))
            // INTRA-batch near-dups: the index gates only see the pre-batch
            // corpus, and duplicates typically arrive together — without
            // this pass, two near-identical fresh docs in one micro-batch
            // would BOTH be accepted and indexed forever. Same self-dedup
            // the bootstrap runs, scoped to the index-gate survivors — and
            // running on the survivors' slice of the PINNED signature
            // frames, not a recomputation.
            val a0Ids = a0.select(col(idCol).as("id"))
            // only the BUCKET side needs restricting to the survivors (it
            // defines the candidate pair space); the docs side is a lookup
            // table the verify join probes by candidate id, so the full
            // pinned frame serves as-is — no shingle-set shuffle
            val intraPairs = Dedup.minhashLshPairsFromSigs(sigDocs,
              sigBuckets.join(graft.Util.batchSide(a0Ids), Seq("id"),
                "left_semi"), p.threshold)
            val a = pin(Dedup.dedupedCorpus(a0, idCol, intraPairs))
            val qIntra = a0.join(graft.Util.batchSide(
                a.select(col(idCol).as("__graft_keep"))),
                a0(idCol) === col("__graft_keep"), "left_anti")
              .withColumn("reason", lit("near_dup"))
            (a, qIndex.unionByName(qIntra))
          }
        // commit protocol: outputs + indexes first (any order), stamp LAST —
        // every write is batch-keyed + overwrite, so any prefix of the
        // write set replays to the identical final state. The four store
        // writes are mutually independent (distinct directories over pinned
        // inputs), so they run CONCURRENTLY and the batch pays the slowest
        // write, not the sum; only the stamp is a barrier. The index
        // writes slice the accepted rows out of the pinned feature frames
        // instead of recomputing signatures/windows from text.
        val accIds = acc.select(col(idCol).as("id"))
        val accDocs = sigDocs.join(graft.Util.batchSide(accIds),
          Seq("id"), "left_semi")
        val accBuckets = sigBuckets.join(graft.Util.batchSide(accIds),
          Seq("id"), "left_semi")
        val accWins = wins.join(graft.Util.batchSide(
          acc.select(col(idCol).as("doc_id"))), Seq("doc_id"), "left_semi")
        graft.Util.runConcurrently(Seq(
          () => acc.write.mode("overwrite")
            .parquet(s"$stateDir/accepted/batch=$batchId"),
          () => quar.write.mode("overwrite")
            .parquet(s"$stateDir/quarantine/batch=$batchId"),
          () => Dedup.putCorpusIndexBatchSigs(accDocs, accBuckets,
            minhashDir, batchId, p.shingleN, p.numHashes, p.bands),
          () => SubstringDedup.putWindowIndexBatchFromWins(accWins,
            windowsDir, batchId, p.windowK)))
        writeStamp(spark, stateDir, batchId)
      } finally {
        pinned.foreach(_.unpersist())
        batch.unpersist()
      }
    }
    }
  }

  /** The gate as a Structured Streaming query over a parquet directory
    * source; caller `.start()`s it. WAL checkpoint + the batch-keyed
    * writes + the trailing stamp give exactly-once end to end. */
  def ingest(spark: SparkSession, srcDir: String, stateDir: String,
             checkpointDir: String, idCol: String, textCol: String,
             p: Params = Params()): DataStreamWriter[Row] = {
    val schema = spark.read.parquet(srcDir).schema
    spark.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, id: Long) =>
        applyBatch(spark, stateDir, b, id, idCol, textCol, p)
      }
  }
}
