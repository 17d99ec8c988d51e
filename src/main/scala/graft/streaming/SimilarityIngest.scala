package graft.streaming

import graft.llm.{Dedup, SubstringDedup}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{LongType, StructType}

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
  * Exactly-once without a transactional table format: the five stores
  * (`accepted/`, `quarantine/`, both MinHash index tables, the window
  * index) are batch-keyed and committed through [[BatchLedger]]'s shared
  * micro-batch loop — see its scaladoc for the replay, seed and
  * compaction contract.
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

  /** Highest committed batch id, -1 before the first commit. */
  def lastBatchId(spark: SparkSession, stateDir: String): Long =
    BatchLedger.last(spark, stateDir)

  /** The accepted corpus so far, with the `batch` that admitted each doc
    * (`-1` for docs folded into a compacted base — see [[compactIndexes]]).
    * Committed-batch isolated ([[BatchLedger.committedRead]]); throws
    * IllegalStateException before the first nonempty batch commits —
    * there is no schema to return. */
  def accepted(spark: SparkSession, stateDir: String): DataFrame =
    BatchLedger.committedRead(spark, stateDir, s"$stateDir/accepted")

  /** Quarantined docs with their gate `reason` (`near_dup` /
    * `substring_dup`) and admitting `batch` (`-1` once compacted).
    * Committed-batch isolated and pre-commit behavior as [[accepted]]. */
  def quarantined(spark: SparkSession, stateDir: String): DataFrame =
    BatchLedger.committedRead(spark, stateDir, s"$stateDir/quarantine")

  /** The five per-batch stores behind one state dir. */
  private def leafStores(stateDir: String): Seq[String] = Seq(
    s"$stateDir/accepted", s"$stateDir/quarantine",
    s"$stateDir/minhash/docs", s"$stateDir/minhash/buckets",
    s"$stateDir/windows")

  /** Fold all committed batches up to `upToBatch` into one compacted base
    * segment per store and prune the ledger
    * ([[BatchLedger.compactStores]]). Must not run concurrently with a
    * live batch — enforced by the compaction lock. */
  def compactIndexes(spark: SparkSession, stateDir: String,
                     upToBatch: Long = Long.MaxValue): Unit =
    BatchLedger.compactStores(spark, stateDir, leafStores(stateDir),
      upToBatch)

  /** Gate one micro-batch through [[BatchLedger]]'s exactly-once loop
    * (ids non-negative and monotone; a replay of the committed id
    * no-ops). A pre-seed covers both MinHash tables and the window
    * index. */
  def applyBatch(spark: SparkSession, stateDir: String, batch0: DataFrame,
                 batchId: Long, idCol: String, textCol: String,
                 p: Params = Params()): Unit = {
    val minhashDir = s"$stateDir/minhash"
    val windowsDir = s"$stateDir/windows"
    BatchLedger.gateBatch(spark, stateDir, batch0, batchId, idCol,
      leafStores(stateDir),
      Seq(s"$minhashDir/docs", s"$minhashDir/buckets", windowsDir)) {
        (g, batch) =>
        // ONE feature pass over the batch: MinHash signatures and window
        // hashes are computed once and pinned, then feed every consumer —
        // the two index probes, the intra-batch self-dedup, and the index
        // writes. `sigDocs` comes back persisted by signatureFrames.
        val (sigDocs0, sigBuckets0) = Dedup.signatureFrames(batch, idCol,
          textCol, p.shingleN, p.numHashes, p.bands)
        val sigDocs = g.pin(sigDocs0)
        val sigBuckets = g.pin(sigBuckets0)
        val wins = g.pin(SubstringDedup.hashedWindows(batch, idCol, textCol,
          p.windowK))
        val (acc, quar) =
          if (!g.bootstrapped) {
            // intra-batch saturation first (no index yet, so coverage is
            // purely min-id): the stitched-boilerplate class whose source
            // halves share this first batch. Runs over the FULL batch —
            // same priority the gate branch gives substring_dup over the
            // intra MinHash pass.
            val satB = g.pin(SubstringDedup
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
            val b0 = g.pin(batch.join(graft.Util.batchSide(satB),
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
            val a = g.pin(Dedup.dedupedCorpus(b0, idCol, pairs))
            val qCc = b0.join(graft.Util.batchSide(
                a.select(col(idCol).as("__graft_keep"))),
                b0(idCol) === col("__graft_keep"), "left_anti")
              .withColumn("reason", lit("near_dup"))
            (a, qSat.unionByName(qCc))
          } else {
            val corpusDocs = g.prior(s"$minhashDir/docs", sigDocs.schema)
            val corpusBuckets =
              g.prior(s"$minhashDir/buckets", sigBuckets.schema)
            val windowIdx = g.prior(windowsDir,
              new StructType().add("whash", LongType))
            // a restart with a different windowK would probe k'-grams
            // against a k-gram index and find ZERO hits silently — the
            // stamp written with the index fails it loudly instead.
            // After the layout guard above, so no stamp lands on a
            // refused store.
            SubstringDedup.stampOrRequireWindowParams(spark, windowsDir,
              p.windowK)
            // BOTH gate probes are lazy over the pinned feature frames and
            // combine through one priority aggregation (near_dup outranks
            // substring_dup for docs both gates flag), so pinning `bad`
            // materializes the two probes TOGETHER in one Spark job
            // instead of two sequential eager passes.
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
            val bad = g.pin(near.unionByName(sat)
              .groupBy(col("__graft_bad"))
              .agg(min(struct(col("__graft_prio"), col("reason"))).as("__m"))
              .select(col("__graft_bad"), col("__m.reason").as("reason")))
            val qIndex = batch.join(graft.Util.batchSide(bad),
              batch(idCol) === col("__graft_bad"))
              .drop("__graft_bad")
            val a0 = g.pin(batch.join(graft.Util.batchSide(bad),
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
            val a = g.pin(Dedup.dedupedCorpus(a0, idCol, intraPairs))
            val qIntra = a0.join(graft.Util.batchSide(
                a.select(col(idCol).as("__graft_keep"))),
                a0(idCol) === col("__graft_keep"), "left_anti")
              .withColumn("reason", lit("near_dup"))
            (a, qIndex.unionByName(qIntra))
          }
        // the index writes slice the accepted rows out of the pinned
        // feature frames instead of recomputing signatures/windows
        val accIds = acc.select(col(idCol).as("id"))
        val accDocs = sigDocs.join(graft.Util.batchSide(accIds),
          Seq("id"), "left_semi")
        val accBuckets = sigBuckets.join(graft.Util.batchSide(accIds),
          Seq("id"), "left_semi")
        val accWins = wins.join(graft.Util.batchSide(
          acc.select(col(idCol).as("doc_id"))), Seq("doc_id"), "left_semi")
        Seq(
          () => acc.write.mode("overwrite")
            .parquet(s"$stateDir/accepted/batch=$batchId"),
          () => quar.write.mode("overwrite")
            .parquet(s"$stateDir/quarantine/batch=$batchId"),
          () => Dedup.putCorpusIndexBatchSigs(accDocs, accBuckets,
            minhashDir, batchId, p.shingleN, p.numHashes, p.bands),
          () => SubstringDedup.putWindowIndexBatchFromWins(accWins,
            windowsDir, batchId, p.windowK))
    }
  }

  /** The gate as a Structured Streaming query over a parquet directory
    * source ([[BatchLedger.stream]]); caller `.start()`s it. */
  def ingest(spark: SparkSession, srcDir: String, stateDir: String,
             checkpointDir: String, idCol: String, textCol: String,
             p: Params = Params()): DataStreamWriter[Row] =
    BatchLedger.stream(spark, srcDir, checkpointDir) { (b, id) =>
      applyBatch(spark, stateDir, b, id, idCol, textCol, p)
    }
}
