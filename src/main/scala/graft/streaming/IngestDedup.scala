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
  *   3. write accepted documents to `outDir/batch=<id>`, append their
  *      shingle sets + band buckets to the index under `batch=<id>`
  *      subdirs, and stamp the `_committed/batch-<id>` ledger marker LAST.
  *
  * Exactly-once is the [[SimilarityIngest]] marker-ledger pattern (this
  * gate is its single-index sibling — use SimilarityIngest when the
  * substring-saturation gate matters): every write is batch-keyed with
  * OVERWRITE semantics and the append-only ledger marker lands last, so a
  * replayed committed batch no-ops and a replay of a half-committed batch
  * re-derives its verdicts with its own half-written index entries
  * partition-pruned out (`batch =!= id`), overwriting the same
  * directories — the historical duplicate-corpus-rows window of the
  * pre-round-7 append-based gate (a crash between the output append and
  * the stamp re-appended the whole batch on replay) no longer exists.
  *
  * Pre-seeding with an existing corpus: build the seed with
  * [[graft.llm.Dedup.seedCorpusIndex]] — it lands as the `batch=-1` BASE
  * segment, which live batches (ids required non-negative) can never
  * overwrite or self-match, and which [[compact]] folds newer batches
  * into. A legacy flat index (writeCorpusIndex/appendCorpusIndex layout)
  * is refused loudly: flat files cannot be partition-pruned by batch, so
  * they cannot give replay convergence.
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
    val dir = new org.apache.hadoop.fs.Path(outDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) throw new IllegalStateException(
      s"no accepted corpus at $outDir yet — corpus() has nothing to " +
        "return before the first nonempty batch commits (or a seed lands)")
    spark.read.parquet(outDir)
      .filter(col("batch") <= lastBatchId(spark, indexPath))
  }

  /** Fold committed batches into the `batch=-1` base segment of the
    * output corpus and both index tables, and prune ledger markers below
    * the retained maximum — the long-running-ingest small-files fix, same
    * semantics as [[SimilarityIngest.compactIndexes]]. Must not run
    * concurrently with an active stream; a crash mid-fold is repaired by
    * the next batch or compact call. */
  def compact(spark: SparkSession, indexPath: String, outDir: String,
              upToBatch: Long = Long.MaxValue): Unit = {
    val last = lastBatchId(spark, indexPath)
    if (last < 0L) return
    val upTo = math.min(upToBatch, last)
    // lock lives at the index path (where the ledger is); held across
    // both stores' folds so a concurrent applyBatch fails loudly
    BatchLedger.withCompactionLock(spark, indexPath) {
      Dedup.compactCorpusIndex(spark, indexPath, upTo)
      graft.io.Parquet.compactBatchStore(spark, outDir, upTo)
      BatchLedger.prune(spark, indexPath, last)
    }
  }

  /** Gate one micro-batch; public for batch backfills and tests. Same
    * replay contract as [[SimilarityIngest.applyBatch]]: replaying the
    * committed last id is a no-op, an id below the ledger fails loudly
    * (fresh checkpoint pointed at existing state), ids must be
    * non-negative and monotone. */
  def applyBatch(spark: SparkSession, batch0: DataFrame, batchId: Long,
                 indexPath: String, outDir: String,
                 idCol: String, textCol: String,
                 shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8,
                 threshold: Double = 0.8): Unit = {
    require(batchId >= 0, s"batchId must be >= 0, got $batchId")
    val last = BatchLedger.last(spark, indexPath)
    require(batchId >= last,
      s"batch id $batchId regressed below the committed ledger ($last) at " +
        s"$indexPath: state was built by a different checkpoint lineage. " +
        "Use a fresh indexPath/outDir or restore the original checkpoint.")
    if (batchId == last) return // replay of the committed batch: no-op
    // the gate holds _gate.lock for the whole batch: a compaction
    // starting mid-batch now fails loudly instead of racing the probes
    // (and a batch starting mid-fold still fails on _compact.lock).
    // Job economy (r13): AQE off for the batch's plans (see
    // Util.withMicroBatchPlanning). BOTH sessions: under Structured
    // Streaming batch0 is rooted at the stream's clone
    graft.Util.withMicroBatchPlanning(Seq(spark, batch0.sparkSession)) {
    BatchLedger.withGateLock(spark, indexPath) {
      // finish/roll back any interrupted compaction before probing
      Seq(s"$indexPath/docs", s"$indexPath/buckets", outDir)
        .foreach(p => graft.io.Parquet.repairBatchStore(spark, p))
      val fs = new Path(indexPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val docsDir = new Path(s"$indexPath/docs")
      // a legacy flat index (writeCorpusIndex layout) has data FILES at the
      // docs root instead of batch= subdirs — its entries cannot be
      // partition-pruned on replay, so refuse loudly with the migration
      require(graft.io.Parquet.foreignEntries(fs, docsDir).isEmpty,
        s"legacy flat corpus index at $indexPath — rebuild the seed with " +
          "Dedup.seedCorpusIndex (batch=-1 base segment); a flat layout " +
          "cannot be batch-pruned for exactly-once replay")
      // bootstrap: nothing committed AND no seed base. (A crashed first
      // batch may have left its own batch=0 index dirs — the bootstrap
      // replay overwrites them; a crashed SEEDED first batch replays
      // through the gate branch with its own entries pruned out.)
      // BOTH halves of the seed must exist: seedCorpusIndex writes docs
      // then buckets, so a crash between the two leaves a half-seed whose
      // gate branch would wedge the stream on PATH_NOT_FOUND at every
      // retry — refuse loudly with the rebuild instruction instead.
      val seededDocs = fs.exists(new Path(docsDir, "batch=-1"))
      val seededBuckets = fs.exists(
        new Path(s"$indexPath/buckets", "batch=-1"))
      require(seededDocs == seededBuckets,
        s"half-written seed at $indexPath (docs/batch=-1: $seededDocs, " +
          s"buckets/batch=-1: $seededBuckets) — seedCorpusIndex crashed " +
          "between its two writes; delete the index dir and re-seed")
      val seeded = seededDocs
      val bootstrapped = last >= 0L || seeded
      // spread the batch to the gate's configured parallelism (r18 —
      // see SimilarityIngest: a one-partition foreachBatch frame runs
      // the whole signature pass single-task otherwise)
      val batch = graft.Util.spreadBatch(batch0, idCol).persist()
      // ONE signature pass per batch (the SimilarityIngest fusion): the
      // pinned frames feed the index probe, the intra-batch self-dedup,
      // and the index write — pre-fusion each consumer re-shingled the
      // batch and re-ran the corpus probe (~3x the signature work)
      val (sigDocs, sigBuckets0) = Dedup.signatureFrames(batch, idCol,
        textCol, shingleN, numHashes, bands)
      val sigBuckets = sigBuckets0
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        if (batch.isEmpty) return
        val accepted =
          if (!bootstrapped) {
            // first batch IS the corpus: self-dedup and index everything.
            // The batch-keyed output write only ever overwrites its own
            // subdir, but a FOREIGN flat dataset at outDir would silently
            // gain a batch=0 partition — refuse that
            require(graft.io.Parquet
                .foreignEntries(fs, new Path(outDir)).isEmpty,
              s"dedupIngest bootstrap would write into non-empty $outDir " +
                "that holds data it did not write; point outDir at a " +
                "fresh directory")
            val pairs = Dedup.minhashLshPairsFromSigs(sigDocs, sigBuckets,
              threshold)
            Dedup.dedupedCorpus(batch, idCol, pairs)
          } else {
            // replay guard: prune this batch's own half-committed
            // entries. Explicit schemas + layout guard (r14, the
            // SimilarityIngest treatment): footer inference cost a Spark
            // job per store per batch, and on a flat/foreign store an
            // explicit schema would read `batch` as all-NULL and the
            // prune would silently EMPTY the corpus
            graft.Util.requireBatchLayout(fs, s"$indexPath/docs")
            graft.Util.requireBatchLayout(fs, s"$indexPath/buckets")
            val docs = spark.read
              .schema(graft.Util.withBatchColumn(sigDocs.schema))
              .parquet(s"$indexPath/docs")
              .filter(col("batch") =!= batchId)
            val buckets = spark.read
              .schema(graft.Util.withBatchColumn(sigBuckets.schema))
              .parquet(s"$indexPath/buckets")
              .filter(col("batch") =!= batchId)
            val dups = Dedup.minhashLshProbeSigs(sigDocs, sigBuckets,
                docs, buckets, threshold)
              .select(col("new_id").as("__graft_dup")).distinct()
            val a0 = batch.join(graft.Util.batchSide(dups),
                batch(idCol) === col("__graft_dup"), "left_anti")
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            // intra-batch near-dups: the index only sees the pre-batch
            // corpus and duplicates typically arrive together. Only the
            // bucket side restricts to survivors (it defines the pair
            // space); the docs side is a candidate-probed lookup table
            val a0Ids = a0.select(col(idCol).as("id"))
            val intraPairs = Dedup.minhashLshPairsFromSigs(sigDocs,
              sigBuckets.join(graft.Util.batchSide(a0Ids), Seq("id"),
                "left_semi"), threshold)
            try Dedup.dedupedCorpus(a0, idCol, intraPairs)
              .localCheckpoint() // a0 unpersists below; sever the lineage
            finally a0.unpersist()
          }
        val accP = accepted
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // commit order: output, then index, then stamp — every write is
        // batch-keyed + overwrite, so any prefix replays to the identical
        // final state and nothing double-appends
        try {
          val accIds = accP.select(col(idCol).as("id"))
          graft.Util.runConcurrently(Seq(
            () => accP.write.mode("overwrite")
              .parquet(s"$outDir/batch=$batchId"),
            () => Dedup.putCorpusIndexBatchSigs(
              sigDocs.join(graft.Util.batchSide(accIds),
                Seq("id"), "left_semi"),
              sigBuckets.join(graft.Util.batchSide(accIds),
                Seq("id"), "left_semi"),
              indexPath, batchId, shingleN, numHashes, bands)))
          BatchLedger.stamp(spark, indexPath, batchId)
        } finally accP.unpersist()
      } finally {
        sigDocs.unpersist()
        sigBuckets.unpersist()
        batch.unpersist()
      }
    }
    }
  }

  /** Build the gated ingest stream; caller `.start()`s it (and typically
    * `processAllAvailable()` in tests). The source schema is taken from the
    * existing files under `srcDir`. */
  def dedupIngest(spark: SparkSession, srcDir: String, indexPath: String,
                  outDir: String, checkpointDir: String,
                  idCol: String, textCol: String,
                  shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8,
                  threshold: Double = 0.8): DataStreamWriter[Row] = {
    val schema = spark.read.parquet(srcDir).schema
    spark.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, id: Long) =>
        applyBatch(spark, b, id, indexPath, outDir, idCol, textCol,
          shingleN, numHashes, bands, threshold)
      }
  }
}
