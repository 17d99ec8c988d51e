package graft

/** Dev tool: dump `explain("formatted")` for registry queries and flag
  * plan anti-patterns — missing parquet filter pushdown, missing broadcast
  * on dimension joins, nested-loop joins where an equi kernel was intended,
  * and absent whole-stage codegen.
  *
  * Usage: runMain graft.PlanAudit <sfDir> [queryName...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val wanted = args.drop(1).toSet
    val spark = Harness.session("graft-plan-audit")
    val names =
      if (wanted.nonEmpty) SparkEntry.queries.keys.filter(wanted).toSeq.sorted
      else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // run it so AQE finalizes and codegen spans appear
      // same per-query cleanup as Bench/Verify: localCheckpoint blocks
      // from finishAndRelease otherwise accumulate across all 118
      // collect()ed queries in this one JVM (observed 10s -> 146s
      // distortion before those mains added it)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      // executedPlan.toString of the finalized adaptive plan prints
      // WholeStageCodegen spans as "*(id)" operator prefixes
      val plan = df.queryExecution.executedPlan.toString
      val flags = Seq(
        "BNLJ" -> plan.contains("BroadcastNestedLoopJoin"),
        "cartesian" -> plan.contains("CartesianProduct"),
        "no-codegen" -> !plan.contains("*(")
      ).collect { case (f, true) => f }
      val nExchange = "Exchange".r.findAllIn(plan).length
      val nCodegen = "\\*\\(\\d+\\)".r.findAllIn(plan).matchData
        .map(_.matched).toSet.size
      println(s"=== $name  [${flags.mkString(",")}] " +
        s"exchanges=$nExchange codegenSpans=$nCodegen")
      if (wanted.nonEmpty) println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
