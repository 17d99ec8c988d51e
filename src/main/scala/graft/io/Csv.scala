package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** S1/S4 — CSV scan & sink options in one place
  * (reference varinfo-update.R:54,150,152,232,239,247,253 readr
  * `read_csv`/`write_csv`).
  *
  * `multiLine` + escape `"` reproduce RFC-4180 quoting including embedded
  * newlines in quoted fields (the CONSENT rows of both reference fixtures).
  * `multiLine` disables input splitting — one task per file — so inputs
  * with any file above [[SplitThreshold]] route to [[CsvSplit]], the
  * two-pass quoted-newline-aware splitter with identical parse semantics
  * (it feeds Spark's own univocity parser; PipelineSpec pins the paths
  * byte-identical).
  */
object Csv {

  /** Above this per-file size the unsplittable multiLine scan becomes the
    * ingest bottleneck (one 32-core-idle task per file) and [[CsvSplit]]
    * takes over. Codebook-sized fixtures stay on the stock reader. */
  val SplitThreshold: Long = 256L * 1024 * 1024

  /** Read CSV with [[Csv.read]] semantics, auto-routing large inputs to
    * the splittable [[CsvSplit]] reader.
    *
    * COMPRESSION CONTRACT: [[CsvSplit]] splits UNCOMPRESSED byte ranges,
    * so compressed inputs (`.gz`/`.zst`/`.bz2`/... by extension, the same
    * convention Hadoop codecs use) never route to it — a compressed
    * Qualtrics export stays on the stock one-task-per-file reader no
    * matter its size. When a compressed file IS above [[SplitThreshold]],
    * pass `decompressDir`: each compressed file is decompressed once
    * (distributed, one task per file) into that staging directory and the
    * splittable reader runs over the staged plaintext plus any plain
    * members IN PLACE (they are not copied) —
    * [[CsvSplit.decompressToSplittable]]. The caller owns cleaning the
    * staging directory after the returned frame is consumed. */
  def read(spark: SparkSession, path: String,
           inferSchema: Boolean = true,
           decompressDir: Option[String] = None): DataFrame = {
    val (maxLen, maxPlainLen, anyCompressed) = dataFileStats(spark, path)
    if (maxLen > SplitThreshold && anyCompressed && decompressDir.nonEmpty)
      CsvSplit.readFiles(spark,
        CsvSplit.decompressToSplittable(spark, path, decompressDir.get),
        inferSchema)
    else if (maxLen > SplitThreshold && !anyCompressed)
      CsvSplit.read(spark, path, inferSchema)
    else {
      // mixed input, no staging dir (r13): a LARGE PLAIN file next to a
      // compressed sibling used to serialize onto one stock-reader task
      // SILENTLY — CsvSplit cannot take the directory (it would
      // byte-split the compressed members into garbage), so the slow
      // path is kept but now announces itself and the fix
      if (maxPlainLen > SplitThreshold)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"Csv.read($path): a plain file above ${SplitThreshold} bytes " +
            "shares the directory with compressed files and no " +
            "decompressDir was given — the whole input stays on the " +
            "one-task-per-file reader. Pass decompressDir to stage the " +
            "compressed members and read everything splittable.")
      spark.read
      .option("header", "true")
      .option("multiLine", "true")
      .option("escape", "\"")
      // readr's default na = c("", "NA"): literal NA cells are missing.
      // Spark supports one nullValue; "" survives as empty string, which
      // every downstream op already treats as a second missing marker
      // (nullifEmpty / replace_na), converging with R semantics.
      .option("nullValue", "NA")
      .option("inferSchema", inferSchema.toString)
      .csv(path)
    }
  }

  private val CompressedExts =
    Seq(".gz", ".gzip", ".zst", ".zstd", ".bz2", ".snappy", ".lz4",
      ".deflate")

  private[io] def isCompressedName(name: String): Boolean = {
    val n = name.toLowerCase(java.util.Locale.ROOT)
    CompressedExts.exists(n.endsWith)
  }

  /** (largest data-file size, largest PLAIN data-file size, any file
    * compressed-by-extension) under `path`; zeros/false when
    * unresolvable OR when the layout is nested (hive partitions etc.) —
    * both cases stay on the stock reader, which has partition discovery
    * and clearer errors. Hidden/metadata files (`_`/`.` prefixes) are
    * excluded — the routing decision must be made only on files the
    * reader will actually read. The plain max (r13) feeds the
    * big-plain-file-next-to-compressed-sibling warning in [[read]]. */
  private def dataFileStats(spark: SparkSession,
                            path: String): (Long, Long, Boolean) =
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
      val children = st.flatMap { s =>
        if (s.isDirectory) fs.listStatus(s.getPath).toSeq else Seq(s)
      }
      if (children.exists(s => s.isDirectory &&
          !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))) (0L, 0L, false)
      else {
        val data = children.filter(s => s.isFile &&
          !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        (data.map(_.getLen).maxOption.getOrElse(0L),
          data.filterNot(s => isCompressedName(s.getPath.getName))
            .map(_.getLen).maxOption.getOrElse(0L),
          data.exists(s => isCompressedName(s.getPath.getName)))
      }
    } catch { case _: java.io.IOException => (0L, 0L, false) }

  /** All-strings read: matching-critical columns must keep R character
    * semantics (SURVEY.md §1.4 — `25-2`-style admin values). */
  def readAsStrings(spark: SparkSession, path: String): DataFrame =
    read(spark, path, inferSchema = false)

  /** S4 — single-file sink with header (the human-edit checkpoint contract
    * requires ONE file at an exact path, like `write_csv`). Writes through a
    * temp dir then renames the single part file. A non-empty `orderBy`
    * sorts the rows inside the one write task (no extra job), so the
    * file's row order does not depend on the input's partitioning. */
  def writeSingle(df: DataFrame, path: String,
                  orderBy: Seq[Column] = Nil): Unit = {
    val tmp = path + ".__graft_tmp"
    val one = df.coalesce(1)
    (if (orderBy.isEmpty) one else one.sortWithinPartitions(orderBy: _*))
      .write.mode("overwrite")
      .option("header", "true")
      // RFC-4180 output, symmetric with `read`: quotes are escaped by
      // doubling (Spark's write default is backslash-escape, which our own
      // multiLine reader — and readr — would mis-parse), and nulls round-
      // trip as NA like readr's write_csv.
      .option("escape", "\"")
      .option("nullValue", "NA")
      // Spark's CSV WRITER trims cell whitespace by default (the reader
      // does not) — readr never does, and the trim also swallowed lone
      // carriage-return cells. Preserve bytes exactly; the fuzz spec
      // pins the full quoted alphabet round-trip.
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(tmp)
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val fs = new Path(tmp).getFileSystem(conf)
    val part = fs.globStatus(new Path(tmp, "part-*.csv"))(0).getPath
    val target = new Path(path)
    // overwrite-RENAME, not delete-then-rename (r13): a crash between
    // those two steps left the contract path EMPTY — the previous
    // checkpoint file deleted, the new one stranded under the tmp dir
    // where nothing looks. FileContext.rename(OVERWRITE) swaps in one
    // step (the Versioned pointer discipline); only a directory at the
    // target — never expected for a file sink — still pre-deletes.
    if (fs.exists(target) && fs.getFileStatus(target).isDirectory)
      fs.delete(target, true)
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      target.toUri, conf)
    try fc.rename(part, target,
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    catch { case e: java.io.IOException =>
      // missing parent dir, store fault, ... — unwrapped, the tmp delete
      // below would destroy the only copy of the checkpoint file
      throw new java.io.IOException(
        s"csv sink rename $part -> $target failed; data retained at $tmp",
        e)
    }
    fs.delete(new Path(tmp), true)
  }
}
