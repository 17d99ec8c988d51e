package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** What a workload gives the runner loop. A unit is one closed-loop
  * iteration (a varinfo update, an ingest tick); its latency is the sum of
  * its timed ops. */
trait Workload {
  /** The op whose warm median is reported as `main_p50_s`. */
  def mainOp: String
  /** Units that always run, whatever the clock says, so that every run
    * measures the same kinds of unit: by default the cold unit and two
    * warm ones (in a traced run, one traced and one not). */
  def minUnits(trace: Boolean): Int = 3
  /** Upper bound on units (the generated inputs run out). */
  def maxUnits: Int = Int.MaxValue
  /** Which warm units a traced run traces; the others measure the
    * tracing overhead. */
  def traced(unit: Int): Boolean = unit % 2 == 1
  /** One-off program work of the set-up (timed into `setup_s`). */
  def setUp(ctx: Ctx): Unit = ()
  def runUnit(ctx: Ctx, unit: Int): Unit
  /** Untimed output check of one unit: the failures found. */
  def checkUnit(ctx: Ctx, unit: Int): Seq[String] = Nil
  /** Untimed end-of-run check: failures by unit. */
  def finish(ctx: Ctx, units: Int): Map[Int, Seq[String]] = Map.empty
  /** Extra figures for the run record (sizes, counts). */
  def extra: Map[String, Any] = Map.empty
}

/** Per-run context: the live session, the tracer and the op timer. */
final class Ctx(val inputs: String, val work: String, val cpus: Int,
                val tracer: Tracer) {
  var spark: SparkSession = _
  /** (unit, op name, seconds) of every timed op. */
  val ops = ArrayBuffer[(Int, String, Double)]()
  /** Files each traced unit left in the program's output directories. */
  val filesWritten = scala.collection.mutable.Map[Int, Int]()
  var unit: Int = -1

  /** Time `f` as op `name` of the current unit; when the unit is traced
    * the op is also a span. */
  def op[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = tracer.span(name)(f)
    ops += ((unit, name, (System.nanoTime() - t0) / 1e9))
    r
  }

  def span[T](name: String)(f: => T): T = tracer.span(name)(f)

  def release(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }
}

/** One benchmark run in one JVM: set up, then run units of the workload
  * for `--seconds`, check outputs, and write the raw run record (timings,
  * spans, Spark jobs and stages) as JSON. The metrics are computed from
  * the record by run.py. With `--setup-only 1` the JVM only sets up and
  * records the set-up time, so run.py can time several cold set-ups.
  *
  * Usage: graftbench.Main --workload W --inputs DIR --work DIR
  *   --seconds S --trace 0|1 --cpus N --out FILE [--setup-only 0|1] */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val tracer = new Tracer(trace)
    val ctx = new Ctx(a("inputs"), a("work"), cpus, tracer)
    val wl: Workload = workload match {
      case "varinfo" => new Varinfo(ctx)
      case "ingest" => new Ingest(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val recorder = new JobRecorder

    // set-up, from process start to the first timed op: JVM start,
    // session, extension install, a warm-up job and the workload's
    // one-off program work
    val t0 = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    ctx.spark = session(ctx)
    log(f"session after ${(Clock.ms - t0) / 1e3}%.2fs")
    tracer.bind(ctx.spark.sparkContext)
    graft.catalyst.GraftExtensions.install(ctx.spark)
    ctx.spark.range(1000000L).selectExpr("sum(id)").collect()
    wl.setUp(ctx)
    val setupS = (Clock.ms - t0) / 1e3
    log(f"setup: ${setupS}%.2fs")
    if (a.get("setup-only").contains("1")) {
      write(a("out"), Map("setup_s" -> setupS))
      ctx.spark.stop()
      return
    }
    if (trace) ctx.spark.sparkContext.addSparkListener(recorder)

    // the measured window: closed loop, one caller. Unit 0 is the cold
    // unit; warm units then run for `seconds`. Traced runs trace some
    // warm units and leave others untraced, so tracing overhead is
    // measured within the run.
    val minUnits = wl.minUnits(trace)
    val units = ArrayBuffer[Map[String, Any]]()
    val failures = scala.collection.mutable.Map[Int, Seq[String]]()
    var window0 = Double.MaxValue
    var u = 0
    var stop = false
    while (!stop && u < wl.maxUnits &&
        (u < minUnits || Clock.ms - window0 < seconds * 1e3)) {
      if (u == 1) window0 = Clock.ms
      ctx.unit = u
      tracer.unit = u
      val traced = trace && u >= 1 && wl.traced(u)
      tracer.active = traced
      val gc0 = gcSeconds
      val t0 = Clock.ms
      try {
        if (trace && !traced) tracer.labelled("untraced")(wl.runUnit(ctx, u))
        else if (traced) tracer.span("unit")(wl.runUnit(ctx, u))
        else wl.runUnit(ctx, u)
      } catch {
        case NonFatal(e) =>
          failures(u) = Seq(s"unit $u threw: $e")
          e.printStackTrace()
          stop = true
      }
      val wall = (Clock.ms - t0) / 1e3
      log(f"unit $u: ${wall}%.2fs")
      val gc = gcSeconds - gc0
      tracer.active = false
      if (!failures.contains(u)) {
        val bad = try tracer.labelled("check")(wl.checkUnit(ctx, u))
          catch { case NonFatal(e) => Seq(s"check of unit $u threw: $e") }
        if (bad.nonEmpty) failures(u) = bad
      }
      tracer.labelled("check")(ctx.release())
      units += Map("i" -> u, "traced" -> traced, "wall_s" -> wall,
        "gc_s" -> gc)
      u += 1
    }
    val end = try tracer.labelled("check")(wl.finish(ctx, u))
      catch { case NonFatal(e) => Map(0 -> Seq(s"final check threw: $e")) }
    end.foreach { case (k, v) =>
      if (v.nonEmpty) failures(k) = failures.getOrElse(k, Nil) ++ v }
    if (trace) org.apache.spark.graft.ListenerBridge
      .waitUntilEmpty(ctx.spark.sparkContext)

    write(a("out"), Map(
      "workload" -> workload, "cpus" -> cpus, "trace" -> trace,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "setup_s" -> setupS,
      "main_op" -> wl.mainOp,
      "units" -> units,
      "ops" -> ctx.ops.map { case (un, n, s) =>
        Map("unit" -> un, "name" -> n, "s" -> s) },
      "failures" -> failures.toSeq.sortBy(_._1).map { case (k, v) =>
        Map("unit" -> k, "messages" -> v) },
      "peak_rss_mb" -> peakRssMb,
      "files_written" -> ctx.filesWritten.toSeq.sortBy(_._1).map {
        case (k, n) => Map("unit" -> k, "n" -> n) },
      "extra" -> wl.extra,
      "spans" -> tracer.record,
      "spark" -> (if (trace) recorder.record else null)))
    ctx.spark.stop()
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def write(path: String, record: Map[String, Any]): Unit =
    json.writeValue(new File(path), record)

  private def session(ctx: Ctx): SparkSession = {
    val local = s"${ctx.work}/spark"
    SparkSession.builder()
      .master(s"local[${ctx.cpus}]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", ctx.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$local/local")
      .config("spark.sql.warehouse.dir", s"$local/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$local/hadoop")
      .getOrCreate()
  }

  private def log(msg: String): Unit = System.err.println(s"[graftbench] $msg")

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Peak resident set of this process (Linux `VmHWM`), in MB. */
  private def peakRssMb: Option[Double] =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024)
}
