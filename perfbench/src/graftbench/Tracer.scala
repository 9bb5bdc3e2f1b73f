package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

import scala.collection.mutable

/** One span. Times are epoch milliseconds. `parent` is -1 for a root, and
  * for a job span, whose parent the report finds by time containment.
  */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    start: Double, end: Double, attrs: mutable.Map[String, Double] = mutable.Map.empty)

/** In-memory span recorder. The harness opens pass/op/build/plan/exec
  * spans around its calls into graft; a SparkListener adds job and stage
  * spans (task metrics summed at the stage) and SQL execution starts with
  * their final adaptive plans. Everything stays in memory until the run
  * writes it out.
  */
final class Tracer extends SparkListener {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  @volatile var enabled = false

  // listener-bus side: job id -> span id
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageAcc = mutable.Map.empty[(Int, Int), mutable.Map[String, Double]]
  /** SQL executions as (start ms, latest plan). */
  val executions = mutable.LinkedHashMap.empty[Long, (Double, SparkPlanInfo)]

  def begin(kind: String, name: String): Span = synchronized {
    val p = if (open.isEmpty) -1 else open.top.id
    val s = Span(spans.size, p, kind, name, System.nanoTime() / 1e6 + clockOffset, Double.NaN)
    spans += s
    open.push(s)
    s
  }

  def end(s: Span): Span = synchronized {
    val t = System.nanoTime() / 1e6 + clockOffset
    require(open.pop() eq s, s"span ${s.name} closed out of order")
    val done = s.copy(end = t)
    spans(s.id) = done
    done
  }

  /** A closed span with explicit bounds (plan/exec split, stream batches). */
  def add(kind: String, name: String, parent: Int, start: Double, end: Double,
      attrs: Map[String, Double] = Map.empty): Span = synchronized {
    val s = Span(spans.size, parent, kind, name, start, end, mutable.Map(attrs.toSeq: _*))
    spans += s
    s
  }

  /** Epoch-ms offset of the nanoTime clock, so harness spans and listener
    * event times (currentTimeMillis) share one axis.
    */
  private val clockOffset: Double =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6

  def time(): Double = System.nanoTime() / 1e6 + clockOffset

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
    jobSpan(e.jobId) = add("job", s"job ${e.jobId}", -1, e.time.toDouble, Double.NaN).id
    e.stageIds.foreach(st => stageJob.getOrElseUpdate(st, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.get(e.jobId).foreach { id =>
      spans(id) = spans(id).copy(end = e.time.toDouble)
      if (e.jobResult != JobSucceeded) spans(id).attrs("failed_jobs") = 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) synchronized {
    val a = stageAcc.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.Map.empty)
    def inc(k: String, v: Double): Unit = a(k) = a.getOrElse(k, 0.0) + v
    inc("tasks", 1)
    if (e.taskInfo.failed || e.taskInfo.killed) inc("failed_tasks", 1)
    inc("task_busy_s", (e.taskInfo.finishTime - e.taskInfo.launchTime) / 1e3)
    e.taskInfo.accumulables.foreach { acc =>
      if (acc.name.contains("scan time"))
        acc.update.foreach(u => inc("scan_s", u.toString.toDouble / 1e3))
    }
    val m = e.taskMetrics
    if (m != null) {
      inc("cpu_s", m.executorCpuTime / 1e9)
      inc("gc_s", m.jvmGCTime / 1e3)
      inc("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      inc("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      inc("shuffle_fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      inc("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      a("peak_task_mem_bytes") = math.max(a.getOrElse("peak_task_mem_bytes", 0.0),
        m.peakExecutionMemory.toDouble)
      inc("rows_read", m.inputMetrics.recordsRead.toDouble)
      inc("bytes_read", m.inputMetrics.bytesRead.toDouble)
      inc("output_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) synchronized {
    val info = e.stageInfo
    val start = info.submissionTime.getOrElse(0L).toDouble
    val end = info.completionTime.getOrElse(start.toLong).toDouble
    val parent = stageJob.get(info.stageId).flatMap(jobSpan.get).getOrElse(-1)
    val attrs = stageAcc.remove((info.stageId, info.attemptNumber())).getOrElse(mutable.Map.empty)
    if (info.failureReason.isDefined) attrs("failed_stages") = 1
    add("stage", s"stage ${info.stageId}.${info.attemptNumber()}", parent, start, end, attrs.toMap)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (enabled) synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        executions(s.executionId) = (s.time.toDouble, s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        executions.get(u.executionId).foreach { case (t, _) =>
          executions(u.executionId) = (t, u.sparkPlanInfo) }
      case _ =>
    }
  }
}

object Tracer {
  /** Exchange, ReusedExchange and InMemoryTableScan nodes in a plan tree. */
  def planCounts(p: SparkPlanInfo): Map[String, Double] = {
    def walk(n: SparkPlanInfo): Seq[String] = n.nodeName +: n.children.flatMap(walk)
    val names = walk(p)
    Map(
      "exchanges" -> names.count(n => n.endsWith("Exchange") && n != "ReusedExchange").toDouble,
      "reused_exchanges" -> names.count(_ == "ReusedExchange").toDouble,
      "cached_scans" -> names.count(_ == "InMemoryTableScan").toDouble)
  }
}
