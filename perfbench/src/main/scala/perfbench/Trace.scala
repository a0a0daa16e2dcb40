package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Task-metric totals of one stage. */
final class StageAgg {
  var tasks = 0L
  var taskMs = 0L
  var maxTaskMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
}

final class JobRec(val startMs: Long, val stageIds: Seq[Int], val spanId: Option[Int]) {
  @volatile var endMs: Long = -1L
}

/**
 * Per-job and per-stage task metrics, keyed by the span that submitted
 * the job (the span id rides the Spark local property
 * [[Trace.SpanProperty]]). Events arrive on the listener bus thread.
 */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageAgg]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
    jobs(e.jobId) = new JobRec(e.time, e.stageIds, span.map(_.toInt))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stages.getOrElseUpdate(e.stageId, new StageAgg)
      s.tasks += 1
      s.taskMs += m.executorRunTime
      s.maxTaskMs = math.max(s.maxTaskMs, m.executorRunTime)
      s.inputBytes += m.inputMetrics.bytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.gcMs += m.jvmGCTime
    }
  }
}

/** One recorded span: name, start, end, parent and request id. */
final class Span(val id: Int, val name: String, val parent: Int, val request: Long,
                 val startNs: Long, val startMs: Long) {
  var endNs: Long = -1L
  var endMs: Long = -1L
  /** Free-form counts recorded at the span's boundary (bytes written, ...). */
  val counts = mutable.LinkedHashMap.empty[String, Double]
  def wallMs: Double = (endNs - startNs) / 1e6
}

/**
 * Span recorder. A span is opened around each call the benchmark makes
 * into an engine layer. Spans stay in memory; [[Layers]] turns
 * them plus the listener's job metrics into the per-layer figures at
 * the end of the run. Until [[start]] (and after [[stop]]) every call
 * is a plain pass-through.
 */
final class Trace(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val listener = new JobListener
  private var stack = List.empty[Span]
  private var request = 0L
  @volatile var enabled = false

  def start(): Unit = {
    sc.addSparkListener(listener)
    enabled = true
  }
  def stop(): Unit = {
    enabled = false
    Trace.drain(sc)
    sc.removeSparkListener(listener)
  }

  /** Start a new request id: the spans opened until the next call share it. */
  def nextRequest(): Unit = request += 1

  def apply[T](name: String)(body: => T): T = span(name)((_: Span) => body)

  def span[T](name: String)(body: Span => T): T = {
    if (!enabled) return body(null)
    val parent = stack.headOption
    val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1), request,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    stack = s :: stack
    sc.setLocalProperty(Trace.SpanProperty, s.id.toString)
    try body(s)
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(Trace.SpanProperty, parent.map(_.id.toString).orNull)
    }
  }

  /** Jobs submitted inside span `s` or any of its descendants. */
  private lazy val jobsBySpan: Map[Int, Seq[JobRec]] = {
    val own = listener.jobs.values.toSeq.groupBy(_.spanId.getOrElse(-1))
    val children = spans.groupBy(_.parent)
    def all(id: Int): Seq[JobRec] =
      own.getOrElse(id, Nil) ++ children.getOrElse(id, Nil).flatMap(c => all(c.id))
    spans.map(s => s.id -> all(s.id)).toMap
  }

  def jobsOf(s: Span): Seq[JobRec] = jobsBySpan.getOrElse(s.id, Nil)
  def stageOf(id: Int): StageAgg = listener.stages.getOrElse(id, new StageAgg)
  def stagesOf(s: Span): Seq[StageAgg] = jobsOf(s).flatMap(_.stageIds).distinct.map(stageOf)

  /** Span wall time not covered by any of its jobs (planning, collects
    * on the driver, filesystem commits). */
  def driverMs(s: Span): Double = {
    val iv = jobsOf(s).map(j => (math.max(j.startMs, s.startMs),
      math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, s.wallMs - covered)
  }

  /** Wall time minus the time its direct children cover. */
  def selfMs(s: Span): Double =
    s.wallMs - spans.iterator.filter(_.parent == s.id).map(_.wallMs).sum
}

object Trace {
  val SpanProperty = "perfbench.span"

  /** Wait until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}
