package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A timed call into one layer. `parent` is the enclosing span's id (-1 at
  * top level); spans of one benchmark operation share `op`. Wall-clock
  * milliseconds are kept beside nanoTime so spans line up with Spark's
  * event timestamps.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Per-task figures the per-layer metrics need (skew, rows per task). */
final case class TaskStat(runTimeMs: Long, recordsRead: Long)

final class StageStat(val stageId: Int) {
  var numTasks = 0
  var runTimeMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var submitMs = 0L
  var completeMs = 0L
  val tasks = mutable.ArrayBuffer.empty[TaskStat]
  def wallMs: Long = math.max(completeMs - submitMs, 0L)
}

final case class JobStat(jobId: Int, span: Int, stageIds: Seq[Int], startMs: Long, var endMs: Long)

/** The benchmark's own listener: jobs (tagged with the span that submitted
  * them through a job-local property), stages, tasks, executor run time and
  * shuffle bytes. Events arrive on Spark's listener bus thread; readers call
  * [[Tracer.drain]] first, which makes every earlier event visible.
  */
final class LayerListener extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobStat]
  val stages = mutable.LinkedHashMap.empty[Int, StageStat]
  @volatile private var sentinelLatch: CountDownLatch = null
  @volatile private var sentinelJob = -1

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageStat(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    if (props.exists(_.getProperty(Tracer.SentinelKey) != null)) sentinelJob = e.jobId
    else {
      val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey))).map(_.toInt).getOrElse(-1)
      jobs += JobStat(e.jobId, span, e.stageIds, e.time, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (e.jobId == sentinelJob) sentinelLatch.countDown()
    else jobs.find(_.jobId == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.numTasks = e.stageInfo.numTasks
    s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.numTasks = e.stageInfo.numTasks
    s.completeMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    Option(e.taskMetrics).foreach { m =>
      val s = stage(e.stageId)
      s.runTimeMs += m.executorRunTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.tasks += TaskStat(m.executorRunTime,
        m.shuffleReadMetrics.recordsRead + m.inputMetrics.recordsRead)
    }
  }

  private[perfbench] def armSentinel(latch: CountDownLatch): Unit = {
    sentinelJob = -1
    sentinelLatch = latch
  }
}

/** Spans around the benchmark's calls into each layer, plus the listener.
  * When `enabled` is false every method is a pass-through: untraced runs
  * register no listener and record nothing. `active` lets a traced run
  * time some operations with tracing detached, to measure its overhead.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val listener = new LayerListener
  private var attached = false
  private var current = -1
  private var op = -1
  private var nextId = 0

  def active: Boolean = attached

  /** Attach (or detach) the listener; detaching drains first so no event of
    * a traced operation is lost. */
  def setActive(on: Boolean): Unit = if (enabled && on != attached) {
    if (on) sc.addSparkListener(listener) else { drain(); sc.removeSparkListener(listener) }
    attached = on
  }

  /** Start a new operation: later spans carry its number. */
  def beginOp(): Unit = op += 1
  def currentOp: Int = op

  def span[T](name: String)(body: => T): T =
    if (!attached) body
    else {
      val id = nextId; nextId += 1
      val parent = current
      current = id
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val (ms0, ns0) = (System.currentTimeMillis(), System.nanoTime())
      try body
      finally {
        val (ns1, ms1) = (System.nanoTime(), System.currentTimeMillis())
        spans += Span(id, parent, op, name, ns0, ns1, ms0, ms1)
        current = parent
        sc.setLocalProperty(Tracer.SpanKey, if (parent < 0) null else parent.toString)
      }
    }

  /** Make every listener event so far visible: run a one-task sentinel job
    * and wait for its end event, which the bus delivers after all earlier
    * events. */
  def drain(): Unit = if (attached) {
    val latch = new CountDownLatch(1)
    listener.armSentinel(latch)
    val saved = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SentinelKey, "1")
    try sc.parallelize(Seq(0), 1).count()
    finally { sc.setLocalProperty(Tracer.SentinelKey, null); sc.setLocalProperty(Tracer.SpanKey, saved) }
    if (!latch.await(120, TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not deliver the sentinel job's end event")
  }

  /** Ids of `root` and every span nested in it. */
  private def subtree(root: Span): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Set[Int] = kids.getOrElse(id, Nil).flatMap(s => go(s.id)).toSet + id
    go(root.id)
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Jobs submitted inside `s` or any span nested in it. */
  def jobsOf(s: Span): Seq[JobStat] = {
    val ids = subtree(s)
    listener.synchronized(listener.jobs.filter(j => ids(j.span)).toSeq)
  }

  def stagesOf(s: Span): Seq[StageStat] = listener.synchronized {
    jobsOf(s).flatMap(_.stageIds).distinct.flatMap(listener.stages.get)
      .filter(_.completeMs > 0) // skipped stages never ran
  }

  /** Wall time of `s` that no Spark job covers: driver-side planning,
    * result handling and scheduling gaps. */
  def driverGapMs(s: Span): Double = {
    val iv = jobsOf(s).map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    math.max(s.ms - covered, 0.0)
  }

  /** Spans, then jobs, as JSON lines, for the trace file written when the
    * run ends. */
  def jsonLines: Seq[String] = {
    val sp = spans.toSeq.map { s =>
      s"""{"span":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","start_ms":${s.startMs},"dur_ms":${s.ms}}"""
    }
    val jobs = listener.synchronized(listener.jobs.toSeq.map { j =>
      val st = j.stageIds.flatMap(listener.stages.get).filter(_.completeMs > 0)
      s"""{"job":${j.jobId},"span":${j.span},"start_ms":${j.startMs},"dur_ms":${j.endMs - j.startMs},""" +
        s""""stages":${st.size},"tasks":${st.map(_.numTasks).sum},"run_ms":${st.map(_.runTimeMs).sum},""" +
        s""""shuffle_write_bytes":${st.map(_.shuffleWriteBytes).sum}}"""
    })
    sp ++ jobs
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val SentinelKey = "perfbench.sentinel"
}
