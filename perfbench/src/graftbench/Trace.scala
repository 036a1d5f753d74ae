package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a library layer (or a group of them). */
final class Span(val id: Long, val trace: String, val name: String,
    val parent: Long, val phase: String,
    val startNs: Long, val startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  var error: Option[String] = None
  def wallMs: Double = (endNs - startNs) / 1e6
}

/** Spark counters for the tasks of one span. */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var taskMs = 0L
  var inputRows = 0L; var inputBytes = 0L
  var shuffleWriteBytes = 0L; var shuffleReadBytes = 0L
  var outputBytes = 0L; var spillBytes = 0L
  /** (launch, finish) wall-clock ms of every finished task */
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    inputRows += o.inputRows; inputBytes += o.inputBytes
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    outputBytes += o.outputBytes; spillBytes += o.spillBytes; intervals ++= o.intervals
  }
}

/** Attributes Spark jobs, stages and tasks to the span whose id the
  * benchmark put in the submitting thread's local properties. The
  * property is inherited by threads the call starts (a streaming
  * query's execution thread among them), which a job group is not:
  * the streaming engine overwrites the group with its run id. */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Long]
  val bySpan: mutable.Map[Long, Counters] = mutable.Map.empty

  private def spanOf(p: java.util.Properties): Option[Long] =
    Option(p).flatMap(pp => Option(pp.getProperty(Tracer.SpanKey))).map(_.toLong)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { id =>
      bySpan.getOrElseUpdate(id, new Counters).jobs += 1
      e.stageIds.foreach(st => stageSpan(st) = id)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    spanOf(e.properties).foreach { id =>
      stageSpan(e.stageInfo.stageId) = id
      bySpan.getOrElseUpdate(id, new Counters).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { id =>
      val c = bySpan.getOrElseUpdate(id, new Counters)
      c.tasks += 1
      c.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.inputRows += m.inputMetrics.recordsRead
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

object Tracer {
  val SpanKey = "graftbench.span"

  /** Milliseconds of [start, end] during which none of `intervals` ran. */
  def idleMs(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (curB < 0 || a > curB) {
        if (curB >= 0) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB >= 0) covered += curB - curA
    math.max(0L, (end - start) - covered)
  }
}

/** Span recorder. Always times calls; with `enabled` it also tags the
  * Spark jobs each call submits (job group + span property) and keeps
  * a listener that attributes their counters to the span. Spans stay
  * in memory until [[writeSpans]]. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private var nextId = 0L
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val listener: Option[SpanListener] =
    if (enabled) { val l = new SpanListener; sc.addSparkListener(l); Some(l) } else None
  private val stack = mutable.Stack.empty[Span]

  def span[T](name: String, trace: String, phase: String)(body: => T): T = {
    nextId += 1
    val parent = stack.headOption.map(_.id).getOrElse(0L)
    val sp = new Span(nextId, trace, name, parent, phase, System.nanoTime(), System.currentTimeMillis())
    spans += sp
    stack.push(sp)
    val prevSpan = sc.getLocalProperty(Tracer.SpanKey)
    if (enabled) {
      sc.setJobGroup(s"graftbench-${sp.id}", name, interruptOnCancel = false)
      sc.setLocalProperty(Tracer.SpanKey, sp.id.toString)
    }
    try body
    catch { case t: Throwable => sp.error = Some(s"${t.getClass.getName}: ${t.getMessage}"); throw t }
    finally {
      sp.endNs = System.nanoTime(); sp.endMs = System.currentTimeMillis()
      stack.pop()
      if (enabled) {
        sc.setLocalProperty(Tracer.SpanKey, prevSpan)
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"graftbench-${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }
  }

  /** Counters of one span, empty when tracing is off. */
  def counters(sp: Span): Counters =
    listener.flatMap(l => l.synchronized(l.bySpan.get(sp.id))).getOrElse(new Counters)

  /** Wall time of the span with no task of it running: planning,
    * scheduling, result collection. */
  def driverMs(sp: Span): Long =
    Tracer.idleMs(sp.startMs, sp.endMs, counters(sp).intervals.toSeq)

  def writeSpans(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { sp =>
      val c = counters(sp)
      w.write(Json.obj(Seq(
        "id" -> sp.id, "trace" -> sp.trace, "name" -> sp.name, "parent" -> sp.parent,
        "phase" -> sp.phase, "start_ms" -> sp.startMs, "end_ms" -> sp.endMs,
        "wall_ms" -> sp.wallMs, "driver_ms" -> (if (enabled) driverMs(sp) else null),
        "jobs" -> c.jobs, "tasks" -> c.tasks, "task_ms" -> c.taskMs,
        "error" -> sp.error.orNull)))
      w.newLine()
    } finally w.close()
  }
}
