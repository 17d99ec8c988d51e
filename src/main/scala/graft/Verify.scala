package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Dev-only subset filter (comma-separated names); the driver never sets
    // it, so its full-registry contract is unchanged.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // delete any previous run's output FIRST: a query that fails at
      // DataFrame construction never reaches its overwrite, and a stale
      // parquet dir from an earlier run would make the gate silently
      // PASS on old results exactly when a regression lands
      Util.deleteRecursively(s"$outDir/$name")
      // NonFatal only: an OOM/StackOverflow leaves the JVM untrustworthy —
      // aborting beats dumping the remaining queries from a wrecked heap
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    // JSON string escape shared with Bench (graft.Util.jsonEscape) so the
    // two driver-facing emitters cannot drift apart.
    def q(s: String): String = Util.jsonEscape(s)
    // manifests honor the subset filter too (r13 review): a
    // SPARK_GRAFT_ONLY run otherwise asserted the FULL registry in
    // queries.json while deliberately producing one dir, so check.py
    // could never pass on a fresh subset outDir
    val json = SparkEntry.oracleSql
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Full-registry manifest: rows-only queries have no oracle_sql entry,
    // so a rows-only query that fails to WRITE is otherwise invisible to
    // any checker that iterates oracle keys (this bit q_sketch_merge once
    // — its dir was missing and nothing noticed). Checkers cross-check
    // every name here against an output dir.
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      SparkEntry.queries.keys.toSeq.sorted
        .filter(name => only.forall(_.contains(name)))
        .map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
