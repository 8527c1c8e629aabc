package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A timed interval at one layer boundary; `parent` is the span that
  * caused it (0 at the root). Times are driver wall-clock milliseconds,
  * the clock Spark stamps its job events with.
  */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startMs: Long, endMs: Long) {
  def durMs: Long = endMs - startMs
}

final case class JobRec(id: Int, span: Long, callSite: String,
    startMs: Long, endMs: Long, stages: Int)

final case class TaskRec(job: Int, durMs: Long, runMs: Long, cpuNs: Long,
    gcMs: Long, shuffleReadB: Long, spillB: Long)

final case class BatchRec(query: String, startMs: Long, durMs: Long,
    commitMs: Long, stateRows: Long)

/** Everything the listener delivered between two [[Probe.take]] calls. */
final class Window {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val batches = mutable.ArrayBuffer.empty[BatchRec]
  var streamQueries = 0
  var shuffleWriteB = 0L
}

/** The harness's own Spark listener. Untraced it keeps one counter
  * (shuffle bytes written); traced it also records every job, task and
  * streaming progress event. Callbacks arrive on the listener-bus
  * thread; the harness drains the bus before each [[take]].
  */
final class Probe extends SparkListener {
  @volatile var traced = false
  private var win = new Window
  private val jobOpen = mutable.Map.empty[Int, (Long, Long, String, Seq[Int])]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stagesRun = mutable.Map.empty[Int, Int]
  private val execSite = mutable.Map.empty[String, String]
  private val engineFrame = """^graft\S*\((\S+\.scala:\d+)\)""".r

  def take(): Window = synchronized { val w = win; win = new Window; w }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val span = prop(Tracer.SpanKey).map(_.toLong).getOrElse(0L)
    // the call site: set explicitly; else that of the SQL execution the
    // job serves (adaptive query stages run on pool threads, whose own
    // site is a JDK future); else the result stage's name
    val site = prop("callSite.short")
      .orElse(prop("spark.sql.execution.id").flatMap(execSite.get))
      .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("")
    jobOpen(e.jobId) = (e.time, span, site, e.stageIds)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (traced) synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(j => stagesRun(j) = stagesRun.getOrElse(j, 0) + 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (traced) synchronized {
    jobOpen.remove(e.jobId).foreach { case (t0, span, site, stages) =>
      win.jobs += JobRec(e.jobId, span, site, t0, e.time, stagesRun.remove(e.jobId).getOrElse(0))
      stages.foreach(stageJob.remove)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      win.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      if (traced)
        win.tasks += TaskRec(stageJob.getOrElse(e.stageId, -1), e.taskInfo.duration,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (traced) e match {
    // the first engine frame of the execution's call stack, else its
    // description (the short call site)
    case x: SparkListenerSQLExecutionStart => synchronized {
      execSite(x.executionId.toString) = x.details.linesIterator.collectFirst {
        case engineFrame(file) => s"at $file"
      }.getOrElse(x.description)
    }
    case x: SparkListenerSQLExecutionEnd => synchronized { execSite.remove(x.executionId.toString): Unit }
    case _: StreamingQueryListener.QueryStartedEvent => synchronized { win.streamQueries += 1 }
    case p: StreamingQueryListener.QueryProgressEvent =>
      val pr = p.progress
      def ms(k: String): Long = Option(pr.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val start = java.time.Instant.parse(pr.timestamp).toEpochMilli
      val rec = BatchRec(pr.id.toString, start, ms("triggerExecution"),
        ms("walCommit") + ms("commitOffsets"), pr.stateOperators.map(_.numRowsTotal).sum)
      synchronized { win.batches += rec }
    case _ => ()
  }
}

/** Harness-side spans: one at each call into the engine (operation,
  * prep item, query phase). While a span is open its id rides on the
  * Spark local property [[Tracer.SpanKey]], so every job submitted under
  * it (from this thread or a thread it starts) names it as parent.
  */
final class Tracer {
  @volatile var on = false
  private var sc: SparkContext = _
  private var next = 0L
  private var stack = List.empty[Long]
  val spans = mutable.ArrayBuffer.empty[Span]

  def bind(context: SparkContext): Unit = sc = context

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      next += 1
      val id = next
      val parent = stack.headOption.getOrElse(0L)
      val prev = if (sc == null) null else sc.getLocalProperty(Tracer.SpanKey)
      if (sc != null) sc.setLocalProperty(Tracer.SpanKey, id.toString)
      stack = id :: stack
      val t0 = System.currentTimeMillis()
      try body
      finally {
        spans += Span(id, parent, name, layer, t0, System.currentTimeMillis())
        stack = stack.tail
        if (sc != null) sc.setLocalProperty(Tracer.SpanKey, prev)
      }
    }

  /** Adds a child span for each Spark job and streaming batch. A job's
    * parent is the span its submitting thread carried; a batch (and a
    * job submitted from a thread with no span) goes to the innermost
    * harness span whose interval holds its start.
    */
  def attach(jobs: Seq[JobRec], batches: Seq[BatchRec]): Unit = {
    val harness = spans.toVector
    def enclosing(t: Long): Long = harness
      .filter(s => s.startMs <= t && t <= s.endMs)
      .minByOption(_.durMs).map(_.id).getOrElse(0L)
    jobs.foreach { j =>
      next += 1
      val parent = if (j.span > 0) j.span else enclosing(j.startMs)
      spans += Span(next, parent, s"job ${j.id} ${j.callSite}", "spark.job", j.startMs, j.endMs)
    }
    batches.foreach { b =>
      next += 1
      spans += Span(next, enclosing(b.startMs), s"batch ${b.query}", "streaming.batch",
        b.startMs, b.startMs + b.durMs)
    }
  }
}

object Tracer {
  val SpanKey = "graftbench.span"

  /** Length of the union of `[start, end)` intervals, clipped to `[lo, hi)`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Self time per layer: each span's duration minus the part of its
    * interval covered by its children, summed by layer, in seconds.
    */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val ch = kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
        s.durMs - covered(ch, s.startMs, s.endMs)
      }.sum / 1000.0
    }
  }
}
