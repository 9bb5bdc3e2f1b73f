package graft

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole forked test JVM (never
  * stopped — the JVM exit cleans up; stopping it mid-run would break the
  * other suites sharing it).
  */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-tests")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Run `body` with `listener` attached: from after every earlier event
    * is delivered until every event of `body` is.
    */
  private def listening(listener: SparkListener)(body: => Unit): Unit = {
    val sc = spark.sparkContext
    ListenerBridge.waitUntilListenerBusEmpty(sc)
    sc.addSparkListener(listener)
    try {
      body
      ListenerBridge.waitUntilListenerBusEmpty(sc)
    } finally sc.removeSparkListener(listener)
  }

  /** The Spark jobs `body` launches, counted by a listener. */
  def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    listening(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })(body)
    jobs.get()
  }

  /** The task count of each stage `body` runs that writes output (a file
    * sink's stage), in completion order.
    */
  def writeStageTasksOf(body: => Unit): Seq[Int] = {
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    listening(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (s.stageInfo.taskMetrics.outputMetrics.recordsWritten > 0)
          tasks.add(s.stageInfo.numTasks)
    })(body)
    tasks.toArray.toSeq.map(_.asInstanceOf[Int])
  }
}
