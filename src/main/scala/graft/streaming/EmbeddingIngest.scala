package graft.streaming

import graft.llm.Dedup
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming semantic-dedup ingest gate for EMBEDDING streams — the
  * embedding twin of [[SimilarityIngest]], on the same exactly-once loop
  * ([[BatchLedger]]: batch-keyed overwrite writes, append-only ledger
  * markers, `batch=-1` base segment):
  *
  *   1. the batch probes the stored sign-cell index
  *      ([[graft.llm.Dedup.putSemanticIndexBatch]]); vectors within
  *      `tau` cosine of any corpus vector quarantine with reason
  *      `near_dup`;
  *   2. survivors self-dedup WITHIN the batch (duplicates typically
  *      arrive together; the index gate only sees the pre-batch corpus)
  *      via [[graft.llm.Dedup.semanticDedup]], keeping each cluster's
  *      minimum id;
  *   3. accepted vectors append to `accepted/` and their (id, cell, v)
  *      rows to the semantic index, so every later batch probes them at
  *      O(batch) — the corpus is never recomputed.
  *
  * Scale shape: the probe is one cell-keyed equi-join against a stored
  * parquet index — per-batch cost O(batch × cell density), corpus-size
  * free. The gate inherits semanticDedup's recall trade (sign-cell
  * partitioning misses cross-cell pairs) and its determinism: the whole
  * verdict replays bit-for-bit. */
object EmbeddingIngest {

  /** Gate parameters: cosine threshold and the index's cell geometry
    * (`bits` is pinned by the index's `_semparams` stamp). */
  case class Params(tau: Double = 0.9, bits: Int = 8)

  /** Highest committed batch id, -1 before the first commit. */
  def lastBatchId(spark: SparkSession, stateDir: String): Long =
    BatchLedger.last(spark, stateDir)

  /** Accepted vectors so far (committed-batch isolated; throws before
    * the first nonempty commit — no schema to return). */
  def accepted(spark: SparkSession, stateDir: String): DataFrame =
    BatchLedger.committedRead(spark, stateDir, s"$stateDir/accepted")

  /** Quarantined vectors with their `reason` (committed-batch isolated,
    * pre-commit behavior as [[accepted]]). */
  def quarantined(spark: SparkSession, stateDir: String): DataFrame =
    BatchLedger.committedRead(spark, stateDir, s"$stateDir/quarantine")

  private def leafStores(stateDir: String): Seq[String] = Seq(
    s"$stateDir/accepted", s"$stateDir/quarantine",
    s"$stateDir/semantic/cells")

  /** Fold committed batches into the `batch=-1` base segment per store
    * and prune the ledger ([[BatchLedger.compactStores]]). */
  def compactIndexes(spark: SparkSession, stateDir: String,
                     upToBatch: Long = Long.MaxValue): Unit =
    BatchLedger.compactStores(spark, stateDir, leafStores(stateDir),
      upToBatch)

  /** Gate one micro-batch of (id, vector) rows through [[BatchLedger]]'s
    * exactly-once loop. A pre-seed is the semantic index at id -1
    * (`putSemanticIndexBatch`). */
  def applyBatch(spark: SparkSession, stateDir: String, batch0: DataFrame,
                 batchId: Long, idCol: String, vecCol: String,
                 p: Params = Params()): Unit = {
    val cellsDir = s"$stateDir/semantic"
    BatchLedger.gateBatch(spark, stateDir, batch0, batchId, idCol,
      leafStores(stateDir), Seq(s"$cellsDir/cells")) { (g, batch) =>
      // ONE (id, cell, v) pass over the batch: the pinned frame feeds the
      // index probe, the intra-batch self-dedup, and the index write
      val rows = g.pin(Dedup.semanticFrames(batch, idCol, vecCol, p.bits))
      val (acc, quar) =
        if (!g.bootstrapped) {
          // first batch IS the corpus: self-dedup only
          val comps = Dedup.semanticDedupFromRows(rows, p.tau, p.bits)
          val keep = g.pin(batch.join(graft.Util.batchSide(
            comps.filter(col("id") =!= col("comp"))
              .select(col("id").as("__graft_drop"))),
            batch(idCol) === col("__graft_drop"), "left_anti"))
          val q = batch.join(graft.Util.batchSide(
              keep.select(col(idCol).as("__graft_keep"))),
              batch(idCol) === col("__graft_keep"), "left_anti")
            .withColumn("reason", lit("near_dup"))
          (keep, q)
        } else {
          // the store holds exactly the (id, cell, v) slice of `rows`
          val corpusCells = g.prior(s"$cellsDir/cells",
            rows.select(col("id"), col("cell"), col("v")).schema)
          val near = g.pin(Dedup.semanticNewVsIndexFromRows(rows,
              corpusCells, p.tau)
            .select(col("new_id").as("__graft_bad")).distinct())
          val qIndex = batch.join(graft.Util.batchSide(near),
              batch(idCol) === col("__graft_bad"))
            .drop("__graft_bad")
            .withColumn("reason", lit("near_dup"))
          val a0 = g.pin(batch.join(graft.Util.batchSide(near),
            batch(idCol) === col("__graft_bad"), "left_anti"))
          // intra-batch self-dedup, scoped to the index-gate survivors'
          // slice of the pinned cell frame
          val comps = Dedup.semanticDedupFromRows(
            rows.join(graft.Util.batchSide(
              a0.select(col(idCol).as("id"))), Seq("id"),
              "left_semi"), p.tau, p.bits)
          val keep = g.pin(a0.join(graft.Util.batchSide(
            comps.filter(col("id") =!= col("comp"))
              .select(col("id").as("__graft_drop"))),
            a0(idCol) === col("__graft_drop"), "left_anti"))
          val qIntra = a0.join(graft.Util.batchSide(
              keep.select(col(idCol).as("__graft_keep"))),
              a0(idCol) === col("__graft_keep"), "left_anti")
            .withColumn("reason", lit("near_dup"))
          (keep, qIndex.unionByName(qIntra))
        }
      Seq(
        () => acc.write.mode("overwrite")
          .parquet(s"$stateDir/accepted/batch=$batchId"),
        () => quar.write.mode("overwrite")
          .parquet(s"$stateDir/quarantine/batch=$batchId"),
        () => Dedup.putSemanticIndexBatchFromRows(
          rows.join(graft.Util.batchSide(
            acc.select(col(idCol).as("id"))), Seq("id"),
            "left_semi"), cellsDir, batchId, p.bits))
    }
  }

  /** The gate as a Structured Streaming query over a parquet directory
    * source ([[BatchLedger.stream]]); caller `.start()`s it. */
  def ingest(spark: SparkSession, srcDir: String, stateDir: String,
             checkpointDir: String, idCol: String, vecCol: String,
             p: Params = Params()): DataStreamWriter[Row] =
    BatchLedger.stream(spark, srcDir, checkpointDir) { (b, id) =>
      applyBatch(spark, stateDir, b, id, idCol, vecCol, p)
    }
}
