package graft.streaming

import graft.llm.Dedup
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming ingest dedup gate — the incremental MinHash dedup loop run as
  * a Structured Streaming query, EXACTLY-ONCE end to end. Per micro-batch:
  *
  *   1. near-dup-check the batch against the stored MinHash corpus index
  *      (per-batch layout, [[graft.llm.Dedup.putCorpusIndexBatch]]; the
  *      corpus side is two parquet probes, per-batch cost O(batch));
  *   2. self-dedup the survivors WITHIN the batch (duplicates typically
  *      arrive together, and the index only sees the pre-batch corpus);
  *   3. write accepted documents to `outDir/batch=<id>` and their
  *      shingle sets + band buckets to the index under `batch=<id>`
  *      subdirs, committed through [[BatchLedger]]'s shared exactly-once
  *      loop (the ledger lives under the index path).
  *
  * This gate is [[SimilarityIngest]]'s single-index sibling — use
  * SimilarityIngest when the substring-saturation gate matters.
  *
  * Pre-seeding with an existing corpus: build the seed with
  * [[graft.llm.Dedup.seedCorpusIndex]] — it lands as the `batch=-1` BASE
  * segment, which live batches can never overwrite or self-match, and
  * which [[compact]] folds newer batches into. A legacy flat index
  * (writeCorpusIndex/appendCorpusIndex layout) is refused loudly: flat
  * files cannot be partition-pruned by batch, so they cannot give replay
  * convergence.
  *
  * The gate is LSH-based (recall < 1 by the S-curve); use
  * `Dedup.jaccardNewVsCorpusPrefix` per batch where it must be lossless.
  */
object IngestDedup {

  /** Highest committed batch id (ledger lives under the index path),
    * -1 before the first commit. */
  def lastBatchId(spark: SparkSession, indexPath: String): Long =
    BatchLedger.last(spark, indexPath)

  /** The accepted corpus so far, committed-batch isolated: rows of a
    * half-committed (crashed, not yet replayed) batch are pruned via the
    * ledger; seeded/compacted rows report `batch = -1`. Throws
    * IllegalStateException before anything exists to read (the
    * SimilarityIngest/EmbeddingIngest contract) instead of surfacing a
    * raw PATH_NOT_FOUND from inside Spark; note a SEEDED store is
    * readable before the first commit (`batch = -1 <= -1`). */
  def corpus(spark: SparkSession, indexPath: String,
             outDir: String): DataFrame = {
    val dir = new Path(outDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) throw new IllegalStateException(
      s"no accepted corpus at $outDir yet — corpus() has nothing to " +
        "return before the first nonempty batch commits (or a seed lands)")
    spark.read.parquet(outDir)
      .filter(col("batch") <= lastBatchId(spark, indexPath))
  }

  private def leafStores(indexPath: String, outDir: String): Seq[String] =
    Seq(s"$indexPath/docs", s"$indexPath/buckets", outDir)

  /** Fold committed batches into the `batch=-1` base segment of the
    * output corpus and both index tables, and prune the ledger
    * ([[BatchLedger.compactStores]]). */
  def compact(spark: SparkSession, indexPath: String, outDir: String,
              upToBatch: Long = Long.MaxValue): Unit =
    BatchLedger.compactStores(spark, indexPath,
      leafStores(indexPath, outDir), upToBatch)

  /** Gate one micro-batch through [[BatchLedger]]'s exactly-once loop;
    * public for batch backfills and tests. */
  def applyBatch(spark: SparkSession, batch0: DataFrame, batchId: Long,
                 indexPath: String, outDir: String,
                 idCol: String, textCol: String,
                 shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8,
                 threshold: Double = 0.8): Unit = {
    val docsDir = s"$indexPath/docs"
    val bucketsDir = s"$indexPath/buckets"
    BatchLedger.gateBatch(spark, indexPath, batch0, batchId, idCol,
      leafStores(indexPath, outDir), Seq(docsDir, bucketsDir)) {
      (g, batch) =>
      // a legacy flat index (writeCorpusIndex layout) has data FILES at the
      // docs root instead of batch= subdirs — its entries cannot be
      // partition-pruned on replay, so refuse loudly with the migration
      require(graft.io.Parquet.foreignEntries(g.fs, new Path(docsDir))
          .isEmpty,
        s"legacy flat corpus index at $indexPath — rebuild the seed with " +
          "Dedup.seedCorpusIndex (batch=-1 base segment); a flat layout " +
          "cannot be batch-pruned for exactly-once replay")
      // ONE signature pass per batch: the pinned frames feed the index
      // probe, the intra-batch self-dedup, and the index write
      val (sigDocs0, sigBuckets0) = Dedup.signatureFrames(batch, idCol,
        textCol, shingleN, numHashes, bands)
      val sigDocs = g.pin(sigDocs0)
      val sigBuckets = g.pin(sigBuckets0)
      val accepted =
        if (!g.bootstrapped) {
          // first batch IS the corpus: self-dedup and index everything.
          // The batch-keyed output write only ever overwrites its own
          // subdir, but a FOREIGN flat dataset at outDir would silently
          // gain a batch=0 partition — refuse that
          require(graft.io.Parquet
              .foreignEntries(g.fs, new Path(outDir)).isEmpty,
            s"dedupIngest bootstrap would write into non-empty $outDir " +
              "that holds data it did not write; point outDir at a " +
              "fresh directory")
          val pairs = Dedup.minhashLshPairsFromSigs(sigDocs, sigBuckets,
            threshold)
          Dedup.dedupedCorpus(batch, idCol, pairs)
        } else {
          val dups = Dedup.minhashLshProbeSigs(sigDocs, sigBuckets,
              g.prior(docsDir, sigDocs.schema),
              g.prior(bucketsDir, sigBuckets.schema), threshold)
            .select(col("new_id").as("__graft_dup")).distinct()
          val a0 = g.pin(batch.join(graft.Util.batchSide(dups),
              batch(idCol) === col("__graft_dup"), "left_anti"))
          // intra-batch near-dups: the index only sees the pre-batch
          // corpus and duplicates typically arrive together. Only the
          // bucket side restricts to survivors (it defines the pair
          // space); the docs side is a candidate-probed lookup table
          val a0Ids = a0.select(col(idCol).as("id"))
          val intraPairs = Dedup.minhashLshPairsFromSigs(sigDocs,
            sigBuckets.join(graft.Util.batchSide(a0Ids), Seq("id"),
              "left_semi"), threshold)
          Dedup.dedupedCorpus(a0, idCol, intraPairs).localCheckpoint()
        }
      val accP = g.pin(accepted)
      val accIds = accP.select(col(idCol).as("id"))
      Seq(
        () => accP.write.mode("overwrite")
          .parquet(s"$outDir/batch=$batchId"),
        () => Dedup.putCorpusIndexBatchSigs(
          sigDocs.join(graft.Util.batchSide(accIds),
            Seq("id"), "left_semi"),
          sigBuckets.join(graft.Util.batchSide(accIds),
            Seq("id"), "left_semi"),
          indexPath, batchId, shingleN, numHashes, bands))
    }
  }

  /** Build the gated ingest stream ([[BatchLedger.stream]]); caller
    * `.start()`s it (and typically `processAllAvailable()` in tests). The
    * source schema is taken from the existing files under `srcDir`. */
  def dedupIngest(spark: SparkSession, srcDir: String, indexPath: String,
                  outDir: String, checkpointDir: String,
                  idCol: String, textCol: String,
                  shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8,
                  threshold: Double = 0.8): DataStreamWriter[Row] =
    BatchLedger.stream(spark, srcDir, checkpointDir) { (b, id) =>
      applyBatch(spark, b, id, indexPath, outDir, idCol, textCol,
        shingleN, numHashes, bands, threshold)
    }
}
