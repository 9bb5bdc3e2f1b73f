package graft

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

  /** The Spark jobs `body` launches, counted by a listener. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graft.ListenerBridge.waitUntilListenerBusEmpty(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.graft.ListenerBridge.waitUntilListenerBusEmpty(sc)
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }
}
