package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.Internals

/** One timed interval at a boundary the harness calls. Spans of one op
  * share `op` (an op span's own id); `parent` is the enclosing span's id, 0 at top level.
  * Times are epoch milliseconds, the clock Spark's listener events use.
  */
final case class Span(id: Int, op: Int, name: String, parent: Int, start: Long, end: Long) {
  def ms: Long = end - start
}

/** Interval arithmetic over [start, end) millisecond spans. */
object Intervals {
  def union(xs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    xs.filter { case (a, b) => b > a }.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((a0, b0) :: rest, (a, b)) if a <= b0 => (a0, math.max(b0, b)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  def length(xs: Seq[(Long, Long)]): Long = union(xs).map { case (a, b) => b - a }.sum

  def clip(xs: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter { case (a, b) => b > a }
}

/** Per-op counters from task and stage events. */
final class OpCounters {
  var jobs, stages, tasks = 0L
  var taskCpuNs, taskRunMs, gcMs, schedDelayMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, shuffleRecords, fetchWaitMs = 0L
  var spillBytes, peakMemBytes, inputBytes, inputRecords = 0L
}

/** The traced run's listener: attributes jobs, stages and tasks to the
  * op whose id the driver thread carried as a local property, and keeps
  * every finished SQL execution's planning phases. Everything stays in
  * memory until the run ends.
  */
final class Recorder extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)] // (start, end)
  val plans = mutable.ArrayBuffer.empty[(String, Long, Long)] // (phase, start, end)
  val counters = mutable.HashMap.empty[Int, OpCounters]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageOp = mutable.HashMap.empty[Int, Int]

  private def of(op: Int) = counters.getOrElseUpdate(op, new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.OpKey))).map(_.toInt).getOrElse(-1)
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageOp(_) = op)
    of(op).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => jobs += ((t0, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(stageOp.getOrElse(e.stageInfo.stageId, -1)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageOp.getOrElse(e.stageId, -1))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskCpuNs += m.executorCpuTime
      c.taskRunMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      val sr = m.shuffleReadMetrics
      val sw = m.shuffleWriteMetrics
      c.shuffleWriteBytes += sw.bytesWritten
      c.shuffleReadBytes += sr.localBytesRead + sr.remoteBytesRead
      c.shuffleRecords += sw.recordsWritten
      c.fetchWaitMs += sr.fetchWaitTime
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakMemBytes = math.max(c.peakMemBytes, m.peakExecutionMemory)
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
      // Spark UI's scheduler delay: task duration not spent deserializing,
      // running, serializing its result or shipping it back
      val info = e.taskInfo
      c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      Internals.queryExecution(end).foreach { qe =>
        val phases = qe.tracker.phases.collect {
          case (name, p) if name != "parsing" => (name, p.startTimeMs, p.endTimeMs)
        }
        synchronized { plans ++= phases }
      }
    case _ =>
  }
}

object Recorder {
  val OpKey = "perfbench.op"
}

/** The harness's span log plus, in a traced run, the attached listener. */
final class Tracer(spark: SparkSession) {
  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack = List.empty[Span]
  private var recorder: Option[Recorder] = None
  private val sc = spark.sparkContext

  def attach(): Recorder = {
    val r = new Recorder
    sc.addSparkListener(r)
    recorder = Some(r)
    r
  }

  def detach(): Option[Recorder] = {
    recorder.foreach { r => Internals.drainListenerBus(sc); sc.removeSparkListener(r) }
    val r = recorder
    recorder = None
    r
  }

  /** Runs `body` as a span under the innermost open span. An op span
    * (`isOp`) also tags every Spark job the body submits with its id.
    */
  def span[T](name: String, isOp: Boolean = false)(body: => T): T = {
    if (!enabled) return body
    nextId += 1
    val id = nextId
    val op = if (isOp) id else stack.headOption.map(_.op).getOrElse(0)
    val parent = stack.headOption.map(_.id).getOrElse(0)
    if (isOp) sc.setLocalProperty(Recorder.OpKey, id.toString)
    val open = Span(id, op, name, parent, System.currentTimeMillis(), 0L)
    stack = open :: stack
    try body
    finally {
      stack = stack.tail
      spans += open.copy(end = System.currentTimeMillis())
      if (isOp) sc.setLocalProperty(Recorder.OpKey, null)
    }
  }

  /** Self time per span name: a span's duration minus the part its child
    * spans cover.
    */
  def selfMs: Map[String, Long] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        s.ms - Intervals.length(Intervals.clip(
          children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq, s.start, s.end))
      }.sum
    }
  }
}
