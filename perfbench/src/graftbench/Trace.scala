package graftbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as Spark's listener event times. */
object Clock {
  private val epochMs = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms: Double = epochMs + (System.nanoTime() - nano0) / 1e6
}

/** Span recorder for the traced run. Every public call a workload makes
  * is wrapped in `span(name)`; the innermost open span's id is set as a
  * job-local property, so each Spark job the call submits carries it and
  * [[JobRecorder]] can attribute the job's stages to the span. Inactive,
  * it only runs the body. Spark local properties are inherited by threads
  * created inside the span, which covers the program's per-call thread
  * pools. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, unit: Int,
                        start: Double, var end: Double)

  val spans = ArrayBuffer[Span]()
  /** Spans are recorded only while active (the traced units). */
  var active: Boolean = false
  private var stack: List[Int] = Nil
  private var sc: SparkContext = _
  /** The unit (iteration) spans opened now belong to; -1 outside units. */
  var unit: Int = -1

  def bind(context: SparkContext): Unit = sc = context

  def span[T](name: String)(f: => T): T =
    if (!active) f
    else {
      val s = Span(spans.size, stack.headOption.getOrElse(-1), name, unit,
        Clock.ms, Double.NaN)
      spans += s
      stack = s.id :: stack
      val outer = sc.getLocalProperty(Tracer.TagKey)
      sc.setLocalProperty(Tracer.TagKey, s.id.toString)
      try f
      finally {
        s.end = Clock.ms
        stack = stack.tail
        sc.setLocalProperty(Tracer.TagKey, outer)
      }
    }

  /** Tag the jobs `f` submits with a fixed label instead of a span
    * (untraced units, output checks), so they are neither attributed to a
    * layer nor counted as untagged. */
  def labelled[T](label: String)(f: => T): T =
    if (!enabled) f
    else {
      val outer = sc.getLocalProperty(Tracer.TagKey)
      sc.setLocalProperty(Tracer.TagKey, label)
      try f finally sc.setLocalProperty(Tracer.TagKey, outer)
    }

  /** The spans, for the run record. */
  def record: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "unit" -> s.unit,
    "start" -> s.start, "end" -> s.end))
}

object Tracer {
  val TagKey = "graftbench.span"
}

/** Records every Spark job and stage with the span tag its job carried:
  * job start/end times, and per executed stage its task count, executor
  * CPU, shuffle write, spill and input bytes. Jobs without a tag are kept
  * (tag null) so they can be counted as untagged. */
final class JobRecorder extends SparkListener {
  final case class Job(id: Int, tag: String, start: Long, var end: Long)
  final case class Stage(id: Int, attempt: Int, tag: String, tasks: Int,
                         cpuNs: Long, swRecords: Long, swBytes: Long,
                         spill: Long, inputBytes: Long)

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageTags = new ConcurrentHashMap[(Int, Int), String]()
  private val stages = new ConcurrentHashMap[(Int, Int), Stage]()

  private def tagOf(p: java.util.Properties): String =
    if (p == null) null else p.getProperty(Tracer.TagKey)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, Job(e.jobId, tagOf(e.properties), e.time, -1L))

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null) j.end = e.time
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val t = tagOf(e.properties)
    if (t != null)
      stageTags.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val key = (i.stageId, i.attemptNumber())
    if (m != null)
      stages.put(key, Stage(i.stageId, i.attemptNumber(),
        stageTags.get(key), i.numTasks, m.executorCpuTime,
        m.shuffleWriteMetrics.recordsWritten,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead))
  }

  /** Jobs and stages, for the run record. */
  def record: Map[String, Any] = Map(
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_.id).map(j => Map(
      "id" -> j.id, "tag" -> j.tag, "start" -> j.start, "end" -> j.end)),
    "stages" -> stages.values.asScala.toSeq.sortBy(s => (s.id, s.attempt))
      .map(s => Map(
        "id" -> s.id, "tag" -> s.tag, "tasks" -> s.tasks,
        "cpu_s" -> s.cpuNs / 1e9, "sw_records" -> s.swRecords,
        "sw_bytes" -> s.swBytes, "spill_bytes" -> s.spill,
        "input_bytes" -> s.inputBytes)))
}
