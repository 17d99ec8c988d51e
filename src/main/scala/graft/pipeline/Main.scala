package graft.pipeline

/** CLI entry point for the varinfo pipeline — the reference's
  * `Rscript varinfo-update.R` analog (README.md:39). Runs phase 1 and, if
  * the human-edited checkpoint file exists, phase 2 (§3.4 protocol).
  *
  * Usage: graft.pipeline.Main <responseCsv> <priorVarinfoCsv> <workDir>
  *   [surveyYear] [joinColumnText] [maxDistance]
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(
        "usage: Main <responseCsv> <priorVarinfoCsv> <workDir> " +
          "[surveyYear] [joinColumnText] [maxDistance]")
      sys.exit(2)
    }
    val cfg = VarinfoConfig(
      surveyYear = if (args.length > 3) args(3) else "2025",
      joinColumnText = if (args.length > 4) args(4) else "QuestionText.2023",
      maxStringDistance = if (args.length > 5) args(5).toInt else 6,
      responseFile = args(0),
      priorVarinfoFile = args(1),
      workDir = args(2),
      varinfoFolder = args(2))
    // SPARK_MASTER is a deployment setting (a cluster URL); the rest of
    // the session policy is graft.Harness's
    val spark = graft.Harness.session("graft-varinfo-update",
      master = sys.env.get("SPARK_MASTER"))
    try VarinfoUpdate.run(spark, cfg)
    finally spark.stop()
  }
}
