package graft

import org.apache.spark.sql.SparkSession

/** The one session factory for graft's mains (`Bench`, `Verify`,
  * `PlanAudit`, `pipeline.Main`). Session policy:
  *   - master `local[SPARK_GRAFT_CPUS]` (default 4) unless the caller
  *     passes a deployment master;
  *   - shuffle partitions equal to the core count;
  *   - UTC session time zone, UI off, log level WARN;
  *   - graft's Catalyst extensions installed.
  */
object Harness {
  private val CpusKey = "SPARK_GRAFT_CPUS"

  /** Local cores and shuffle partitions; a malformed value fails loudly
    * and names the key instead of silently falling back. */
  private lazy val cpus: Int = sys.env.get(CpusKey) match {
    case None => 4
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"$CpusKey must be a positive integer, got '$v'"))
  }

  def session(appName: String, master: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.catalyst.GraftExtensions.install(spark)
    spark
  }
}
