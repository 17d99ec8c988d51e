package graft.pipeline

import graft.Util.{nullifEmpty, q, qcol}
import graft.io.{Csv, QualtricsReader}
import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end varinfo pipeline (reference varinfo-update.R:235-259),
  * re-expressed as one lazy Spark DAG per phase with the human checkpoint
  * between phases (reference README.md:39-43: the script is run twice; run 1
  * stops after exporting the manual-update files, run 2 resumes from the
  * human-edited file).
  */
object VarinfoUpdate {

  /** Match statistics (reference varinfo-update.R:110-136 messages).
    * Intentional deviation: `unmatchedText`/`stillUnmatched` subtract
    * DISTINCT matched variables from the variable total — the reference
    * subtracts matched prior-ROW counts, which double-counts a variable
    * matched by several codebook rows and goes negative on cumulative
    * codebooks. `exact`/`fuzzy` stay row tallies like the reference. */
  final case class MatchStats(totalVars: Long, exact: Long, fuzzy: Long,
                              unmatchedText: Long, totalMatched: Long,
                              stillUnmatched: Long) {
    def additionalMatches: Long = unmatchedText - stillUnmatched
  }

  /** Steps 1–2 of the reference main script: fuzzy join + best match +
    * variable-name rescue join + unmatched extraction
    * (varinfo-update.R:93-145). Returns (joined, unmatched, stats). */
  def joinVarinfo(priorVarinfo: DataFrame, columnInfo: DataFrame,
                  cfg: VarinfoConfig): (DataFrame, DataFrame, MatchStats) = {
    val d = QualtricsReader.DynamicColumns(cfg.surveyYear)

    // row_id (W1) + NA→"" on the text key (P4), then the similarity join
    // (J1) and best-match-per-row selection (J2). The right side's original
    // position is carried as a deterministic tiebreaker — R keeps the
    // first-encountered tie, which is order-dependent; we pin it.
    val ciId = "__graft_ci_id"
    val ciWithId = RowId.withRowId1(columnInfo, ciId)
    // The prior arrives as ONE partition (a multiLine CSV scan, then
    // RowId's zipWithIndex), and the broadcast similarity join runs one
    // task per partition of its streamed side. Hash-partitioning on row_id
    // spreads it over the session's shuffle partitions, and it is the
    // clustered distribution the top-1 selection needs, so that step adds
    // no exchange of its own.
    val prior = RowId.withRowId1(priorVarinfo, "row_id")
      .repartition(graft.Util.shufflePartitions(priorVarinfo.sparkSession),
        col("row_id"))
      .withColumn(cfg.joinColumnText,
        coalesce(qcol(cfg.joinColumnText), lit("")))
    // Kernel selection by right-side size: a broadcastable column_info
    // (every real survey — hundreds of variables) takes the banded
    // broadcast theta join; a huge one switches to the blocked equi-join
    // kernel so neither side needs to fit in memory.
    val rightRows = ciWithId.count()
    val pairs =
      if (rightRows <= cfg.broadcastRightLimit)
        SimilarityJoin.leftJoin(
          prior, ciWithId, cfg.joinColumnText, d.questionTextColName,
          cfg.maxStringDistance)
      else
        SimilarityJoin.blockedLeftJoin(
          prior, ciWithId, cfg.joinColumnText, d.questionTextColName,
          cfg.maxStringDistance)
    // the fuzzy match's variable name rides through the rescue join in a
    // hidden column, so the fuzzy and rescue stats come from one
    // aggregate over the one materialized result
    val fuzzyVar = "__graft_fuzzy_var"
    val fuzzyJoined = BestMatch.topOnePerKey(
        pairs, Seq(col("row_id")),
        Seq(col("string_distance").asc_nulls_last,
            col(ciId).asc_nulls_last))
      .drop(ciId)
      .withColumn(fuzzyVar, qcol(d.qualtricsColName))

    // Rescue join by variable name with column-wise coalesce (J3) — values
    // from the fuzzy join win over the variable-name join.
    val joined = CoalesceJoin.coalesceLeftJoin(
      fuzzyJoined, columnInfo, cfg.joinColumnVar, d.qualtricsColName)

    // materialize once (the codebase-wide finishAndRelease convention):
    // the stats, both sinks and the anti join below all read the
    // checkpoint instead of re-running the join
    val checkpointed = graft.Util.finishAndRelease(joined)

    // totalVars reuses the kernel-selection count (r13: it IS
    // columnInfo.count() — ciWithId adds only a row id — and the two
    // used to run as two separate jobs). It includes the SENTINEL row,
    // and the matched counts never do (count_distinct skips its NULL
    // name) — deliberately: the reference's own stats count the
    // sentinel in total_rows (nrow(column_info),
    // varinfo-update.R:110) and a sentinel match never counts as
    // matched there either (!is.na(qualtrics_col_name), :129), so a
    // perfect run reports 1 unmatched on both engines.
    val totalVars = rightRows
    // unmatched counts subtract DISTINCT matched variables, not matched
    // prior rows: a cumulative codebook has many rows per variable, and
    // row counts would drive "N unmatched (out of M)" negative
    // (the reference's row arithmetic CAN — varinfo-update.R:113,130).
    // exact/fuzzy/vars_matched read the pre-rescue name, totalMatched the
    // rescued one.
    val statsRow = checkpointed.agg(
      count(when(col("string_distance") === 0 &&
        col(fuzzyVar).isNotNull, 1)).as("exact"),
      count(when(col("string_distance") > 0 &&
        col(fuzzyVar).isNotNull, 1)).as("fuzzy"),
      count_distinct(col(fuzzyVar)).as("vars_matched"),
      count_distinct(qcol(d.qualtricsColName)).as("total_matched")
    ).collect()(0)
    val totalMatched = statsRow.getAs[Long]("total_matched")
    val stats = MatchStats(totalVars,
      exact = statsRow.getAs[Long]("exact"),
      fuzzy = statsRow.getAs[Long]("fuzzy"),
      unmatchedText = totalVars - statsRow.getAs[Long]("vars_matched"),
      totalMatched = totalMatched,
      stillUnmatched = totalVars - totalMatched)
    val joinedFinal = checkpointed.drop(fuzzyVar)

    // Unmatched new variables (J4) — null-safe keys like dplyr's
    // na_matches = "na", so the sentinel row (NULL name) is excluded when
    // any prior row stayed unmatched. Returned in survey-column order,
    // like anti_join(column_info, ...): one task sorts the (small) result
    // by column position, whatever the partitioning of the join.
    val unmatched =
      AntiJoin.antiJoin(ciWithId, joinedFinal, d.qualtricsColName)
        .coalesce(1).sortWithinPartitions(col(ciId)).drop(ciId)

    (joinedFinal, unmatched, stats)
  }

  /** Phase 1 (reference Steps 1–2): read inputs, join, export the two
    * manual-update files, stop. */
  def phase1(spark: SparkSession, cfg: VarinfoConfig): MatchStats = {
    val columnInfo = QualtricsReader.loadSurveyColumnInfo(
      spark, cfg.responseFile, cfg.surveyYear)
    val prior = Csv.readAsStrings(spark, cfg.priorVarinfoFile)
    val (joined, unmatched, stats) = joinVarinfo(prior, columnInfo, cfg)
    // prior-codebook order, like arrange(row_id, ...) then distinct
    Csv.writeSingle(joined, cfg.needsManualUpdateFile,
      orderBy = Seq(col("row_id")))
    Csv.writeSingle(unmatched, cfg.unmatchedVarsFile)
    println(s"[graft] Fuzzy text join (max distance = ${cfg.maxStringDistance}): " +
      s"${stats.exact} exact, ${stats.fuzzy} fuzzy, " +
      s"${stats.unmatchedText} unmatched (out of ${stats.totalVars}).")
    println(s"[graft] After variable-name join: ${stats.additionalMatches} " +
      s"additional matches, ${stats.totalMatched} total matched, " +
      s"${stats.stillUnmatched} still unmatched (out of ${stats.totalVars}).")
    stats
  }

  /** Phase 2 (reference Steps 3–6): resume from the human-edited file,
    * derive `most_recent`, priority-sort, write the cumulative codebook and
    * the dashboard trim. */
  def phase2(spark: SparkSession, cfg: VarinfoConfig): DataFrame = {
    val updated = Csv.readAsStrings(spark, cfg.manuallyUpdatedFile)
    // The cumulative codebook must NOT carry phase 1's join internals:
    // the reference's own cumulative fixture has neither row_id nor
    // string_distance (its rowid_to_column would even ERROR on a
    // pre-existing row_id next cycle), and OUR next cycle's
    // withRowId1(prior, "row_id") would hit an ambiguous reference —
    // the pipeline has to round-trip its own output as priorVarinfoFile.
    val sorted = Recency.sortVarinfo(updated)
      .drop("row_id", "string_distance")
    Csv.writeSingle(sorted, cfg.outputFile)
    val dash = Dashboard.dashboard(sorted, cfg.joinColumnVar)
    Csv.writeSingle(dash, cfg.trimmedOutputFile)
    sorted
  }

  /** One entry point honoring the checkpoint protocol: run phase 1 always;
    * run phase 2 only if the human-edited file exists (§3.4). */
  def run(spark: SparkSession, cfg: VarinfoConfig): Unit = {
    phase1(spark, cfg)
    val fs = new org.apache.hadoop.fs.Path(cfg.manuallyUpdatedFile)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(cfg.manuallyUpdatedFile)))
      phase2(spark, cfg)
    else
      println("[graft] Exported joined data for manual updates. Save the " +
        "edited file to manuallyUpdatedFile and re-run to continue.")
  }
}
