package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder for the traced run.
  *
  * A span is opened around each call the benchmark makes into a library
  * module (`pivot`, `transforms`, `output.*`, `sources.*`, `ext.<stage>`)
  * and around the op's terminal action (`sink`). Every span records its
  * name, start, end, parent and op id; the innermost open span id is set as
  * a Spark local property, so each job the call submits is attributed to
  * exactly one span by [[JobListener]]. With tracing off, [[span]] is a
  * plain call and no property is set.
  */
object Trace {
  final case class Span(id: Int, name: String, parent: Int, op: Int,
                        startNs: Long, var endNs: Long = -1L)

  val SpanKey = "perfbench.span"
  val OpKey = "perfbench.op"

  @volatile var enabled = false
  private var sc: SparkContext = _
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var op = -1

  def enable(context: SparkContext): Unit = { sc = context; enabled = true }

  def all: Seq[Span] = spans.toSeq

  /** Time `f` as op `id`; the op's root span is named `op`. */
  def op[T](id: Int)(f: => T): T = {
    op = id
    if (enabled) sc.setLocalProperty(OpKey, id.toString)
    try span("op")(f)
    finally {
      op = -1
      if (enabled) sc.setLocalProperty(OpKey, null)
    }
  }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = Span(spans.size, name, stack.headOption.getOrElse(-1), op,
        System.nanoTime())
      spans += s
      stack = s.id :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      try f
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.toString).orNull)
      }
    }

  /** Self time of every span: its duration minus the union of its
    * children's intervals (children never outlive their parent here, since
    * one client thread opens them strictly nested). */
  def selfNs: Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => c.endNs - c.startNs).sum
      s.id -> math.max(0L, (s.endNs - s.startNs) - covered)
    }.toMap
  }
}

/** Passive listener: per-job scheduling and task counters, keyed by the
  * span and op the job was submitted under. Attached only in traced runs. */
class JobListener extends SparkListener {
  final class Job(val id: Int, val span: Int, val op: Int, val startMs: Long) {
    var endMs: Long = -1L
    var stages = 0
    var tasks = 0L
    var cpuNs = 0L
    var runMs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]

  def snapshot: Seq[Job] = synchronized(jobs.values.toSeq)

  private def intProp(e: SparkListenerJobStart, k: String): Int =
    Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      .map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new Job(e.jobId, intProp(e, Trace.SpanKey), intProp(e, Trace.OpKey),
      e.time)
    j.stages = e.stageInfos.size
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.runMs += m.executorRunTime
      j.gcMs += m.jvmGCTime
      j.inputBytes += m.inputMetrics.bytesRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.spill += m.diskBytesSpilled + m.memoryBytesSpilled
    }
  }
}
