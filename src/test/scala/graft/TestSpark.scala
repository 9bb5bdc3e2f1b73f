package graft

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import jdk.jfr.consumer.RecordingStream

import scala.jdk.CollectionConverters._

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

  /** The executed plan of every query `body` runs to an action (failed
    * ones too), as plan-tree strings in completion order.
    */
  def plansOf(body: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        plans.add(qe.executedPlan.toString)
    }
    val sc = spark.sparkContext
    ListenerBridge.waitUntilListenerBusEmpty(sc)
    spark.listenerManager.register(listener)
    try {
      body
      ListenerBridge.waitUntilListenerBusEmpty(sc)
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  /** `df`'s rows as an RDD-backed frame: the same rows with no size
    * estimate, so its plan stats read the session's `defaultSizeInBytes`
    * and every size gate takes its large-input arm (a local `Seq.toDF`
    * frame reports its real, small size).
    */
  def unsized(df: DataFrame): DataFrame =
    spark.createDataFrame(df.rdd, df.schema)

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

  /** `body`'s result and the processes it starts through Hadoop's `Shell`
    * (a `chmod`, `readlink` or `ls` fork of the local filesystem), as
    * `command <- innermost frames`, from JFR's `jdk.ProcessStart` events.
    * A marker event committed after `body` bounds the count: the stream
    * delivers events in time order, so every fork of `body` arrives
    * before it.
    */
  def shellForksOf[A](body: => A): (A, Seq[String]) = {
    // Shell's class initializer forks a `setsid` probe once per JVM
    Class.forName("org.apache.hadoop.util.Shell")
    val forks = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.enable(classOf[EndOfCount])
      rs.onEvent("jdk.ProcessStart", { e =>
        val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
        if (frames.exists(_.startsWith("org.apache.hadoop.util.Shell.")))
          forks.add(s"${e.getString("command")} <- ${frames.take(8).mkString(" < ")}")
      })
      rs.onEvent(classOf[EndOfCount].getName, _ => done.countDown())
      rs.startAsync()
      val result = body
      new EndOfCount().commit()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "JFR did not deliver the end-of-count event")
      (result, forks.asScala.toSeq)
    } finally rs.close()
  }
}

/** The JFR event that closes a [[TestSpark.shellForksOf]] count. */
final class EndOfCount extends jdk.jfr.Event
