package graft.io

import graft.streaming.EventStreams
import graft.streaming.EventStreams.{Event, Session}

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** A file-replayed `sessionize` stream, as the benchmark runs it: one
  * parquet file of events per trigger under `Trigger.AvailableNow`, from
  * a checkpoint directory.
  */
object EventFiles {

  /** `n` users with one event every `stepMin` minutes from `fromMin`, for
    * `count` events each (event ids from `fromMin · 1000`).
    */
  def events(fromMin: Int, count: Int, stepMin: Int = 7, n: Int = 12): Seq[Event] =
    for (u <- 0 until n; i <- 0 until count) yield {
      val minute = fromMin + i * stepMin + u
      Event(fromMin * 1000L + u * count + i,
        new java.sql.Timestamp(minute * 60000L), u, "click", (u + i) * 0.25)
    }

  /** Write `events` as the single parquet file `<dir>/<name>.parquet`
    * (written beside `dir`, then moved in, so a running stream never sees
    * a partial file).
    */
  def add(spark: SparkSession, dir: String, name: String, events: Seq[Event]): Unit = {
    import spark.implicits._
    val staging = s"$dir.staging/$name"
    events.toDS().coalesce(1).write.parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dir, s"$name.parquet"))
  }

  /** Run `sessionize` over the files under `dir` until they are consumed,
    * from the checkpoint at `checkpoint`, handing each micro-batch's
    * emitted sessions to `sink`. Returns the input rows the run read.
    */
  def sessionize(spark: SparkSession, dir: String, checkpoint: String,
      sink: Seq[Session] => Unit = _ => ()): Long = {
    import spark.implicits._
    val src = spark.readStream.schema(spark.emptyDataset[Event].schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val sessions: Dataset[Session] =
      EventStreams.sessionize(src.withWatermark("ts", "10 minutes").as[Event])
    val handle: (Dataset[Session], Long) => Unit = (b, _) => sink(b.collect().toSeq)
    val q = sessions.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow()).foreachBatch(handle).start()
    try q.awaitTermination() finally q.stop()
    q.exception.foreach(e => throw e)
    q.recentProgress.map(_.numInputRows).sum
  }
}
