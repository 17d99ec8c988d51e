package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import graft.io.{Csv, QualtricsReader}
import graft.llm.{Dedup, SubstringDedup}
import graft.ops.{Dashboard, Recency}
import graft.pipeline.{VarinfoConfig, VarinfoUpdate}
import graft.streaming.{EmbeddingIngest, SimilarityIngest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

object FileUtil {
  def lines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq

  /** The generator's `shape.tsv`: name -> integer. */
  def shape(dir: String): Map[String, Long] =
    lines(s"$dir/shape.tsv").map(_.split("\t")).map(p => p(0) -> p(1).toLong)
      .toMap

  def allFiles(dir: String): Set[String] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Set.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(_.toString).toSet
      finally s.close()
    }
  }

  def bytes(dir: String): Long =
    allFiles(dir).iterator.map(p => Files.size(Paths.get(p))).sum

  /** RFC-4180 CSV with a header, as the program writes it: header plus
    * rows of strings (NA read as null). */
  def readCsv(path: String): (Seq[String], Seq[Array[String]]) = {
    val settings = new com.univocity.parsers.csv.CsvParserSettings()
    settings.getFormat.setLineSeparator("\n")
    settings.setMaxCharsPerColumn(-1)
    settings.setMaxColumns(100000)
    settings.setNullValue(null)
    settings.setEmptyValue("")
    val rows = new com.univocity.parsers.csv.CsvParser(settings)
      .parseAll(new File(path), UTF_8).asScala.toSeq
    val na = (r: Array[String]) => r.map(v => if (v == "NA") null else v)
    (rows.head.toSeq, rows.tail.map(na))
  }
}

/** varinfo: the paper's own job. Each unit runs phase 1 (match), an
  * untimed human edit that copies the manual-update file into place, and
  * phase 2 (publish), on a fresh survey variant against the same prior
  * codebook. A traced unit makes the same public calls phase 1 and 2 are
  * composed of, one span each, so every layer's share is visible. */
final class Varinfo(ctx: Ctx) extends Workload {
  private val shape = FileUtil.shape(ctx.inputs)
  private val priorRows = shape("prior_rows")
  private val variants = shape("variants").toInt
  val mainOp = "match"

  private def cfg(unit: Int) = {
    val dir = s"${ctx.work}/varinfo/unit-$unit"
    VarinfoConfig(surveyYear = "2025",
      responseFile = s"${ctx.inputs}/survey-${unit % variants}.csv",
      priorVarinfoFile = s"${ctx.inputs}/codebook.csv",
      workDir = dir, varinfoFolder = dir)
  }

  def runUnit(ctx: Ctx, unit: Int): Unit = {
    val c = cfg(unit)
    Files.createDirectories(Paths.get(c.workDir))
    val spark = ctx.spark
    ctx.op("match") {
      if (ctx.tracer.active) {
        val columnInfo = ctx.span("io.qualtrics_read")(
          QualtricsReader.loadSurveyColumnInfo(spark, c.responseFile,
            c.surveyYear))
        val prior = ctx.span("io.csv_read")(
          Csv.readAsStrings(spark, c.priorVarinfoFile))
        val (joined, unmatched, _) = ctx.span("pipeline.join_varinfo")(
          VarinfoUpdate.joinVarinfo(prior, columnInfo, c))
        ctx.span("io.csv_write")(Csv.writeSingle(joined, c.needsManualUpdateFile))
        ctx.span("io.csv_write")(Csv.writeSingle(unmatched, c.unmatchedVarsFile))
      } else VarinfoUpdate.phase1(spark, c)
    }
    Files.copy(Paths.get(c.needsManualUpdateFile),
      Paths.get(c.manuallyUpdatedFile), StandardCopyOption.REPLACE_EXISTING)
    ctx.op("publish") {
      if (ctx.tracer.active) {
        val updated = ctx.span("io.csv_read")(
          Csv.readAsStrings(spark, c.manuallyUpdatedFile))
        val sorted = ctx.span("ops.recency_sort")(
          Recency.sortVarinfo(updated).drop("row_id", "string_distance"))
        ctx.span("io.csv_write")(Csv.writeSingle(sorted, c.outputFile))
        val dash = ctx.span("ops.dashboard")(
          Dashboard.dashboard(sorted, c.joinColumnVar))
        ctx.span("io.csv_write")(Csv.writeSingle(dash, c.trimmedOutputFile))
      } else VarinfoUpdate.phase2(spark, c)
    }
    if (ctx.tracer.active)
      ctx.filesWritten(unit) = FileUtil.allFiles(c.workDir).size
  }

  /** Every prior row is unambiguous by construction (gen.py keeps
    * confusable texts 13 edits apart), so each must join to its planted
    * variable, or to none. */
  override def checkUnit(ctx: Ctx, unit: Int): Seq[String] = {
    val c = cfg(unit)
    val k = unit % variants
    val bad = Seq.newBuilder[String]
    val truth = FileUtil.lines(s"${ctx.inputs}/truth-$k.tsv").map { l =>
      val p = l.split("\t", -1)
      p(0) -> Option(p(1)).filter(_.nonEmpty)
    }.toMap
    val varCol = "QualtricsVariableName.2025"
    val (h, joined) = FileUtil.readCsv(c.needsManualUpdateFile)
    val (iName, iVar) = (h.indexOf("ITEM_NAME"), h.indexOf(varCol))
    if (joined.size != priorRows)
      bad += s"joined rows ${joined.size} != prior rows $priorRows"
    val got = joined.map(r => r(iName) -> Option(r(iVar))).toMap
    val wrong = truth.count { case (item, want) => !got.get(item).contains(want) }
    if (wrong > 0) bad += s"$wrong rows joined to the wrong variable"
    val (hu, unmatched) = FileUtil.readCsv(c.unmatchedVarsFile)
    val gotNew = unmatched.map(r => r(hu.indexOf(varCol))).toSet
    val wantNew = FileUtil.lines(s"${ctx.inputs}/new-$k.txt").toSet
    if (gotNew != wantNew)
      bad += s"unmatched set differs: ${(gotNew -- wantNew).take(3)} / " +
        s"${(wantNew -- gotNew).take(3)}"
    val (_, out) = FileUtil.readCsv(c.outputFile)
    if (out.size != priorRows) bad += s"output rows ${out.size} != $priorRows"
    val (hd, dash) = FileUtil.readCsv(c.trimmedOutputFile)
    val (dType, dName) = (hd.indexOf("ITEM_TYPE"), hd.indexOf("ITEM_NAME"))
    val leaked = dash.count(r =>
      Set("metadata", "administrative").contains(r(dType)) ||
        r(dName) == "CONSENT")
    if (dash.isEmpty || leaked > 0)
      bad += s"dashboard has ${dash.size} rows, $leaked excluded ones"
    bad.result()
  }
}

/** ingest: the exactly-once gates. Each tick offers documents to the
  * similarity gate and vectors to the embedding gate, then a reader
  * counts the committed accepted and quarantined sets. On every
  * `CompactEvery`-th tick (2, 5, 8, ...) each gate's indexes are compacted
  * just before its batch, inside that batch's latency. */
final class Ingest(ctx: Ctx) extends Workload {
  private val CompactEvery = 3
  private val ticks = FileUtil.shape(ctx.inputs)("ticks").toInt
  private var text = ""
  private var vec = ""
  /** (unit, files) per traced batch of each gate. */
  private val filesWritten = Map(
    "text" -> scala.collection.mutable.ArrayBuffer[Map[String, Int]](),
    "vec" -> scala.collection.mutable.ArrayBuffer[Map[String, Int]]())
  private val compactUnits = scala.collection.mutable.ArrayBuffer[Int]()
  private var offeredBytes = 0L
  private var storeBytes = 0L
  /** Ids at or above this are seed-corpus items (gen.SEED_ID_BASE). */
  private val SeedIdBase = 10000000L
  val mainOp = "text_batch"
  override def maxUnits: Int = ticks
  /** A traced run always reaches the first compacting tick (2), traces
    * ticks 1 and 2 and leaves tick 3 untraced. An untraced run leaves
    * compacting ticks out of its p50s (the compacting tick is the noisiest
    * one), so it needs only the cold tick and tick 1. */
  override def minUnits(trace: Boolean): Int =
    if (trace) CompactEvery + 1 else 2
  override def traced(unit: Int): Boolean = unit % CompactEvery != 0
  private def compacts(unit: Int) = unit % CompactEvery == CompactEvery - 1

  /** A generated TSV file as the frame the gate is offered (what a
    * streaming file source hands `foreachBatch`): ids as longs, vectors
    * as float arrays. */
  private def docs(spark: SparkSession, path: String) =
    spark.read.option("sep", "\t").schema("doc_id LONG, text STRING")
      .csv(path)

  private def vecs(spark: SparkSession, path: String) =
    spark.read.option("sep", "\t").schema("vec_id LONG, v STRING").csv(path)
      .select(col("vec_id"),
        split(col("v"), " ").cast("array<float>").as("embedding"))

  /** Seed both gates' indexes with the seed corpus at batch id -1 (the
    * gates' own seeding path) in a fresh state directory. */
  override def setUp(ctx: Ctx): Unit = {
    val spark = ctx.spark
    text = s"${ctx.work}/state/text"
    vec = s"${ctx.work}/state/vec"
    val seedDocs = docs(spark, s"${ctx.inputs}/seed_docs.tsv")
    Dedup.seedCorpusIndex(seedDocs, "doc_id", "text", s"$text/minhash")
    SubstringDedup.putWindowIndexBatch(seedDocs, "doc_id", "text",
      SimilarityIngest.Params().windowK, s"$text/windows", -1L)
    Dedup.putSemanticIndexBatch(vecs(spark, s"${ctx.inputs}/seed_vecs.tsv"),
      "vec_id", "embedding", s"$vec/semantic", -1L,
      EmbeddingIngest.Params().bits)
  }

  /** Files a traced batch adds to its state directory. */
  private def counted(side: String, dir: String)(f: => Unit): Unit =
    if (!ctx.tracer.active) f
    else {
      val before = FileUtil.allFiles(dir)
      f
      val n = (FileUtil.allFiles(dir) -- before).size
      filesWritten(side) += Map("unit" -> ctx.unit, "n" -> n)
      ctx.filesWritten(ctx.unit) = ctx.filesWritten.getOrElse(ctx.unit, 0) + n
    }

  def runUnit(ctx: Ctx, unit: Int): Unit = {
    val spark = ctx.spark
    val compact = compacts(unit)
    if (compact) compactUnits += unit
    val d = docs(spark, s"${ctx.inputs}/tick-$unit-docs.tsv")
    val v = vecs(spark, s"${ctx.inputs}/tick-$unit-vecs.tsv")
    counted("text", text) {
      ctx.op("text_batch") {
        if (compact) ctx.span("streaming.compact")(
          SimilarityIngest.compactIndexes(spark, text))
        ctx.span("streaming.text_batch")(SimilarityIngest.applyBatch(
          spark, text, d, unit, "doc_id", "text"))
      }
    }
    counted("vec", vec) {
      ctx.op("vec_batch") {
        if (compact) ctx.span("streaming.compact")(
          EmbeddingIngest.compactIndexes(spark, vec))
        ctx.span("streaming.vec_batch")(EmbeddingIngest.applyBatch(
          spark, vec, v, unit, "vec_id", "embedding"))
      }
    }
    ctx.op("read") {
      ctx.span("streaming.read") {
        SimilarityIngest.accepted(spark, text).count()
        SimilarityIngest.quarantined(spark, text).count()
        EmbeddingIngest.accepted(spark, vec).count()
        EmbeddingIngest.quarantined(spark, vec).count()
      }
    }
  }

  /** Every offered item has exactly one disposition, and every planted
    * duplicate whose sources are all in the seed or accepted is
    * quarantined. Failures are charged to the tick that offered the item. */
  override def finish(ctx: Ctx, units: Int): Map[Int, Seq[String]] = {
    if (units == 0) return Map.empty
    val spark = ctx.spark
    def ids(df: DataFrame, c: String) =
      df.select(col(c)).collect().map(_.getLong(0)).toSeq
    val tAcc = ids(SimilarityIngest.accepted(spark, text), "doc_id")
    val tQuar = ids(SimilarityIngest.quarantined(spark, text), "doc_id")
    val vAcc = ids(EmbeddingIngest.accepted(spark, vec), "vec_id")
    val vQuar = ids(EmbeddingIngest.quarantined(spark, vec), "vec_id")
    val bad = scala.collection.mutable.Map[Int, List[String]]()
    def fail(id: Long, msg: String): Unit = {
      val t = (id / 1000).toInt
      bad(t) = msg :: bad.getOrElse(t, Nil)
    }
    def dispositions(side: String, acc: Seq[Long], quar: Seq[Long]): Unit = {
      val offered = (0 until units).flatMap { t =>
        FileUtil.lines(s"${ctx.inputs}/tick-$t-${side}s.tsv")
          .map(_.takeWhile(_ != '\t').toLong)
      }
      val all = acc ++ quar
      val counts = all.groupBy(identity).view.mapValues(_.size).toMap
      offered.filter(i => counts.getOrElse(i, 0) != 1).foreach(i =>
        fail(i, s"$side $i has ${counts.getOrElse(i, 0)} dispositions"))
      (all.toSet -- offered).foreach(i => fail(i, s"$side $i was never offered"))
    }
    dispositions("doc", tAcc, tQuar)
    dispositions("vec", vAcc, vQuar)
    val (ta, tq, va, vq) = (tAcc.toSet, tQuar.toSet, vAcc.toSet, vQuar.toSet)
    FileUtil.lines(s"${ctx.inputs}/planted.tsv").foreach { l =>
      val Array(kind, id0, srcs0) = l.split("\t")
      val id = id0.toLong
      if (id / 1000 < units) {
        val srcs = srcs0.split(",").map(_.toLong)
        val (acc, quar) = if (kind.startsWith("v")) (va, vq) else (ta, tq)
        val known = srcs.forall(s => s >= SeedIdBase || acc.contains(s))
        if (known && !quar.contains(id))
          fail(id, s"planted $kind $id of ${srcs0} was not quarantined")
      }
    }
    offeredBytes = (0 until units).map(t =>
      Seq("docs", "vecs").map(s =>
        new File(s"${ctx.inputs}/tick-$t-$s.tsv").length).sum).sum +
      Seq("seed_docs", "seed_vecs").map(s =>
        new File(s"${ctx.inputs}/$s.tsv").length).sum
    storeBytes = FileUtil.bytes(new File(text).getParent)
    bad.view.mapValues(_.reverse.take(5)).toMap
  }

  override def extra: Map[String, Any] = Map(
    "text_files_written" -> filesWritten("text").toSeq,
    "vec_files_written" -> filesWritten("vec").toSeq,
    "compact_units" -> compactUnits.toSeq,
    "store_bytes" -> storeBytes, "offered_bytes" -> offeredBytes)
}
