package graft.streaming

import graft.quality.Expectations
import graft.quality.Expectations.Expectation
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Quality-gated streaming ingest — continuous data validation as a
  * Structured Streaming query. Per micro-batch:
  *
  *   1. run the single-pass `Expectations` report on the batch (ONE hash
  *      aggregate for all checks, Expectations.scala);
  *   2. append the report, stamped with the batch id, to `metricsDir` —
  *      the quality time series a production pipeline alerts on;
  *   3. route the batch whole: every expectation passing → `outDir`,
  *      any failure → `quarantineDir` for inspection/replay. Batches are
  *      routed atomically (all rows or none) because a batch that fails a
  *      corpus-level expectation (mean shift, uniqueness collapse) is not
  *      separable into good and bad rows.
  *
  * Exactly-once on the data dirs: every write is keyed by batch id
  * (`batch=<id>` subdir, overwrite), so a foreachBatch replay overwrites
  * its own earlier attempt instead of appending duplicate corpus rows —
  * and the id rides along as a partition column for lineage. Metrics
  * stay append-shaped; ledger consumers dedup on (batch_id, name). */
object QualityStream {

  def gatedIngest(spark: SparkSession, srcDir: String, outDir: String,
                  quarantineDir: String, metricsDir: String,
                  checkpointDir: String,
                  expectations: Seq[Expectation],
                  schema: Option[org.apache.spark.sql.types.StructType] =
                    None): DataStreamWriter[Row] = {
    // validate at CONSTRUCTION: an empty suite would otherwise start
    // fine and only hit Expectations.check's require hours later, when
    // the first nonempty micro-batch kills the running query from
    // inside the gate
    require(expectations.nonEmpty,
      "gatedIngest needs at least one expectation — an empty suite " +
        "would pass every batch vacuously (and fails inside the gate " +
        "at the first nonempty batch, long after deploy)")
    // an explicit schema removes the deploy-ordering dependency: the
    // inference read throws on a source dir the producer has not
    // written to yet, so "start the gate, then the producer" — the
    // normal streaming bring-up — could never construct the stream
    BatchLedger.stream(spark, srcDir, checkpointDir, schema) {
      (batch0, batchId) =>
      // one persist at entry: the gate otherwise scans the batch three
      // times (emptiness probe, expectations aggregate, routed write) —
      // ~3x redundant source I/O per micro-batch on the hot ingest path
      val batch = batch0.persist()
      try {
        if (!batch.isEmpty) {
          val report = Expectations.check(batch.toDF(), expectations)
            .withColumn("batch_id", lit(batchId))
            .persist()
          // unpersist in ITS OWN finally: a transient write failure
          // must not leak one cached report per retry attempt for the
          // life of the query
          try {
            val allPass =
              report.agg(min(col("pass"))).collect()(0).getBoolean(0)
            report.write.mode("append").parquet(metricsDir)
            batch.toDF().write.mode("overwrite")
              .parquet((if (allPass) outDir else quarantineDir) +
                s"/batch=$batchId")
          } finally report.unpersist()
        }
      } finally batch.unpersist()
    }
  }
}
