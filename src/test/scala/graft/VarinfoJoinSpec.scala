package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import graft.io.{Csv, QualtricsReader}
import graft.pipeline.{VarinfoConfig, VarinfoUpdate}
import graft.pipeline.VarinfoUpdate.MatchStats
import org.apache.spark.sql.DataFrame

/** The varinfo join (fuzzy join, best match, name rescue, unmatched
  * extraction) on a small fixture this spec writes itself, checked against
  * a naive driver-side reference: every (prior row, survey column) pair,
  * unbounded Levenshtein <= d, arg-min of (distance, survey-column
  * position), then the column-wise name rescue. */
class VarinfoJoinSpec extends SparkSpec {

  private val cfg = VarinfoConfig(surveyYear = "2025",
    joinColumnText = "QuestionText.2023", joinColumnVar = "ITEM_NAME",
    maxStringDistance = 6)

  /** Survey columns in export order: (variable name, question text). */
  private val surveyCols = Seq(
    "StartDate" -> "Start Date",
    "Z_new" -> "Which new student center services would you use most?",
    "Q1" -> "How satisfied are you with the academic program overall?",
    "Q2" -> "How satisfied are you with the advising you received this year?",
    "Q3" -> "What is your current year in the program?",
    "Q10" -> "Rate the dining hall mood",
    "Q9" -> "Rate the dining hall food",
    "Q5" -> "Did you attend the campus résumé workshop this term?",
    "Q7" -> "Please share any other comments, concerns or ideas",
    "A_new" -> "How many hours per week do you spend commuting to campus?")

  /** Prior codebook rows: (ITEM_NAME, ITEM_TYPE, QuestionText.2023). */
  private val priorRows: Seq[(String, String, String)] = Seq(
    // exact text match
    ("StartDate", "metadata", "Start Date"),
    ("Q1", "question",
      "How satisfied are you with the academic program overall?"),
    // fuzzy: the same variable twice in a cumulative codebook
    ("Q1_OLD", "question",
      "How satisfied are you with your academic program overall?"),
    ("Q2_2023", "question",
      "How satisfied were you with the advising you received this year?"),
    // NA text: exact match on the sentinel, then rescued by name
    ("Q3", "question", null),
    // NA text and no survey column of that name: stays on the sentinel
    ("OLD_META", "metadata", null),
    // distance 1 to both Q10 and Q9: the earlier survey column wins
    ("DINING", "question", "Rate the dining hall good"),
    // reworded past the bound: name-only rescue
    ("Q7", "question",
      "Anything else you want to tell us about parking on campus?"),
    // retired: no text match, no name match
    ("RETIRED", "question",
      "Which residence hall did you live in during your first year?"),
    ("RETIRED_Q", "question",
      "Rate the staff's \"friendliness\", overall,\nthen explain"),
    // multi-byte: two substitutions away from Q5
    ("Q5_2023", "question",
      "Did you attend the campus resume workshop this term?"))

  private def csvCell(v: String): String =
    if (v == null) "NA" else "\"" + v.replace("\"", "\"\"") + "\""

  private def csv(header: Seq[String], rows: Seq[Seq[String]]): String =
    (header +: rows).map(_.map(csvCell).mkString(",")).mkString("", "\n", "\n")

  private def writeFile(p: Path, text: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes(UTF_8))
  }

  private val PriorHeader = Seq("ITEM_NAME", "ITEM_TYPE", "QuestionText.2023")

  /** Writes the survey export, the prior as one file, and the prior split
    * over four files (one partition each); returns their paths. */
  private def writeFixture(dir: Path): (String, String, String) = {
    val survey = dir.resolve("survey.csv")
    writeFile(survey, csv(surveyCols.map(_._1),
      Seq(surveyCols.map(_._2)) ++ Seq.fill(3)(surveyCols.map(_ => ""))))
    val rows = priorRows.map { case (a, b, c) => Seq(a, b, c) }
    val prior = dir.resolve("prior.csv")
    writeFile(prior, csv(PriorHeader, rows))
    val split = dir.resolve("prior4")
    rows.grouped(3).zipWithIndex.foreach { case (g, i) =>
      writeFile(split.resolve(s"part-$i.csv"), csv(PriorHeader, g))
    }
    (survey.toString, prior.toString, split.toString)
  }

  /** Levenshtein over code points, unbounded. */
  private def lev(a: String, b: String): Int = {
    val x = a.codePoints().toArray
    val y = b.codePoints().toArray
    var prev = Array.tabulate(y.length + 1)(identity)
    for (i <- 1 to x.length) {
      val cur = new Array[Int](y.length + 1)
      cur(0) = i
      for (j <- 1 to y.length)
        cur(j) = math.min(math.min(cur(j - 1), prev(j)) + 1,
          prev(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1))
      prev = cur
    }
    prev(y.length)
  }

  /** Naive reference rows (prior columns, row_id, the three survey
    * columns, string_distance) and stats, from the collected inputs. */
  private def reference(priorDf: DataFrame, ci: DataFrame)
      : (Seq[Seq[Any]], MatchStats) = {
    val d = cfg.maxStringDistance
    val ciRows = ci.collect().toSeq.map(r =>
      (Option(r.getString(0)), Option(r.getString(1)), Option(r.getString(2))))
    val textIdx = priorDf.columns.indexOf(cfg.joinColumnText)
    val varIdx = priorDf.columns.indexOf(cfg.joinColumnVar)
    val rows = priorDf.collect().toSeq.zipWithIndex.map { case (r, i) =>
      val text = Option(r.getString(textIdx)).getOrElse("")
      val best = ciRows.zipWithIndex.collect {
        case ((n, Some(t), y), pos) if lev(text, t) <= d =>
          (lev(text, t), pos, n, t, y)
      }.minByOption(c => (c._1, c._2))
      val rescue = Option(r.getString(varIdx))
        .flatMap(v => ciRows.find(_._1.contains(v)))
      val name = best.flatMap(_._3).orElse(rescue.flatMap(_._1))
      val qtext = best.map(_._4).orElse(rescue.flatMap(_._2))
      val year = best.flatMap(_._5).orElse(rescue.flatMap(_._3))
      // the join key's NA is read as "" in the output too
      val priorVals = r.toSeq.updated(textIdx, text)
      (priorVals ++ Seq(i + 1L, name.orNull, qtext.orNull, year.orNull,
        best.map(b => Int.box(b._1)).orNull),
        best.flatMap(b => b._3.map(_ -> b._1)))
    }
    val out = rows.map(_._1)
    val total = ciRows.size.toLong
    val fuzzy = rows.flatMap(_._2)
    val exact = fuzzy.count(_._2 == 0).toLong
    val matched = out.flatMap(row => Option(row(row.size - 4))).distinct.size
    (out, MatchStats(total, exact, fuzzy.size - exact,
      total - fuzzy.map(_._1).distinct.size, matched, total - matched))
  }

  test("joinVarinfo equals the naive reference, prior read as 1 and 4 partitions") {
    val dir = Files.createTempDirectory("graft_varinfo_join")
    val (survey, prior1, prior4) = writeFixture(dir)
    val ci = QualtricsReader.loadSurveyColumnInfo(spark, survey, "2025")
    // both kernels: the broadcast band join and, with a zero broadcast
    // limit, the blocked (shuffled) one
    for (path <- Seq(prior1, prior4); limit <- Seq(cfg.broadcastRightLimit, 0L)) {
      val priorDf = Csv.readAsStrings(spark, path)
      val parts = priorDf.rdd.getNumPartitions
      assert(if (path == prior1) parts == 1 else parts >= 4, path)
      val (joined, unmatched, stats) = VarinfoUpdate.joinVarinfo(priorDf, ci,
        cfg.copy(broadcastRightLimit = limit))
      val clue = s"$path, broadcast limit $limit"
      assert(joined.columns.toSeq === PriorHeader ++ Seq("row_id",
        "QualtricsVariableName.2025", "QuestionText.2025",
        "SurveyAdminYear.2025", "string_distance"))
      val (want, wantStats) = reference(priorDf, ci)
      val got = joined.collect().toSeq.map(_.toSeq)
        .sortBy(_(PriorHeader.size).asInstanceOf[Long])
      assert(got === want, clue)
      assert(stats === wantStats, clue)
      // the fixture's figures, spelled out: exact StartDate and Q1; fuzzy
      // Q1_OLD, Q2_2023, DINING, Q5_2023; Q3 and Q7 rescued by name; of
      // 11 variables (the sentinel included) Z_new, Q9 and A_new stay
      // unmatched, plus the sentinel
      assert(stats === MatchStats(totalVars = 11, exact = 2, fuzzy = 4,
        unmatchedText = 6, totalMatched = 7, stillUnmatched = 4), clue)
      val byName = got.map(r => r.head -> r).toMap
      assert(byName("DINING")(PriorHeader.size + 1) === "Q10")
      assert(byName("Q7").last == null &&
        byName("Q7")(PriorHeader.size + 1) === "Q7")
      assert(byName("RETIRED").drop(PriorHeader.size + 1).forall(_ == null))
      // survey-column order, the sentinel excluded (OLD_META kept a NULL
      // name, which the null-safe anti join matches)
      assert(unmatched.collect().map(_.getString(0)).toSeq ===
        Seq("Z_new", "Q9", "A_new"), clue)
    }
  }

  test("phase-1 and phase-2 files are byte-identical at shuffle partitions 1 and 4") {
    val dir = Files.createTempDirectory("graft_varinfo_order")
    val (survey, prior, _) = writeFixture(dir)
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    def files(parts: String): Seq[Array[Byte]] = {
      val work = dir.resolve(s"work-$parts").toString
      val c = cfg.copy(responseFile = survey, priorVarinfoFile = prior,
        workDir = work, varinfoFolder = work)
      spark.conf.set(key, parts)
      try {
        VarinfoUpdate.phase1(spark, c)
        Files.copy(Paths.get(c.needsManualUpdateFile),
          Paths.get(c.manuallyUpdatedFile),
          StandardCopyOption.REPLACE_EXISTING)
        VarinfoUpdate.phase2(spark, c)
      } finally spark.conf.set(key, saved)
      val rowIds = Csv.readAsStrings(spark, c.needsManualUpdateFile)
        .select("row_id").collect().map(_.getString(0).toLong).toSeq
      assert(rowIds === (1L to priorRows.size.toLong), s"partitions $parts")
      Seq(c.needsManualUpdateFile, c.unmatchedVarsFile, c.outputFile,
        c.trimmedOutputFile).map(p => Files.readAllBytes(Paths.get(p)))
    }
    val one = files("1")
    val four = files("4")
    one.zip(four).zipWithIndex.foreach { case ((a, b), i) =>
      assert(java.util.Arrays.equals(a, b), s"file $i differs")
    }
  }
}
