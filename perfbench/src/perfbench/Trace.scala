package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed interval around a call the benchmark makes into a layer. */
final case class Span(id: Int, parent: Int, op: Int, name: String, layer: String,
                      startNs: Long, var endNs: Long = -1L,
                      attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty)

/** Per-job runtime statistics, attributed to the span that submitted it. */
final class JobStat(val jobId: Int, val span: Int, val callSite: String, val startMs: Long) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var taskWaitMs = 0L
}

/** Spans kept in memory and written out when the run ends. With tracing
  * off every call is a plain pass-through: no span, no listener. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val SpanProp = "perfbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 0
  private var currentOp = -1
  val listener: Option[LayerListener] =
    if (enabled) { val l = new LayerListener(SpanProp); sc.addSparkListener(l); Some(l) } else None

  def op[T](opId: Int)(body: => T): T = {
    currentOp = opId
    try span("op", "op")(body) finally currentOp = -1
  }

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = Span(nextId, parent, currentOp, name, layer, System.nanoTime())
      nextId += 1
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Attach a count or duration to the innermost open span. */
  def note(key: String, value: Double): Unit =
    if (enabled) stack.headOption.foreach(s => s.attrs(key) = s.attrs.getOrElse(key, 0.0) + value)

  def close(): Unit = listener.foreach(sc.removeSparkListener)
}

/** A SparkListener owned by the benchmark: it attributes every job, stage
  * and task to the span whose thread submitted the job (the span id rides
  * the job's local properties), and records the job's call site, Spark's
  * own short call-site label (`parquet at TableMerge.scala:812`), which
  * names the source file and so the layer. */
final class LayerListener(spanProp: String) extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobStat]
  private val stageJob = mutable.HashMap.empty[Int, JobStat]
  private val stageSubmitMs = mutable.HashMap.empty[Int, Long]
  private val execSite = mutable.HashMap.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { execSite(s.executionId) = s.description }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(spanProp)))
      .map(_.toInt).getOrElse(-1)
    // a SQL job runs on an adaptive-execution thread, so its own call site
    // is a JDK frame; the call site of the SQL execution that owns it names
    // the engine file that ran the action
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val site = exec.flatMap(id => execSite.get(id.toLong))
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    val j = new JobStat(e.jobId, span, site, e.time)
    j.stages = e.stageInfos.size
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitMs(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (!e.taskInfo.successful) j.failedTasks += 1
      stageSubmitMs.get(e.stageId).foreach { sub =>
        j.taskWaitMs += math.max(0L, e.taskInfo.launchTime - sub)
      }
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.peakExecMem = math.max(j.peakExecMem, m.peakExecutionMemory)
      }
    }
  }
}
