package graft.sinks

import graft.operators.JoinExecutor.{colRef, unqual}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** JSONL result sink, compatible with the reference's on-disk row shape:
  * one JSON object per line, tuple keys encoded as nested objects
  * `{column_name: {table_name: value}}`
  * (reference: cassandra_joinlib/file_utils.py:36-48). Decimal / UUID /
  * timestamp values serialize as strings (reference: utils.py:248-258) —
  * `to_json` renders TimestampType as ISO-8601 and DecimalType as a JSON
  * number-string, matching that convention.
  *
  * Unlike the reference's single append-only `results/<name>.txt`, the sink
  * writes a directory of part files — the distributed-friendly layout (at
  * 100 TB a single driver-side file is the bottleneck the reference's
  * RabbitMQ gather loop suffers from, join_executor.py:297-320).
  */
object JsonlSink {

  /** The nested-shape JSON projection shared by both writers: one string
    * column `value` holding `{col: {table: v}}` per row.
    */
  private def jsonLines(df: DataFrame): DataFrame = {
    val grouped = df.columns.toSeq.groupBy(q => unqual(q)._2)
    val nested = grouped.toSeq.sortBy(_._1).map { case (c, qs) =>
      struct(qs.map { q =>
        val t = unqual(q)._1
        colRef(q).as(if (t.isEmpty) "_" else t)
      }: _*).as(c)
    }
    df.select(to_json(struct(nested: _*)).as("value"))
  }

  /** Restructure qualified columns `t__c` into nested `{c: {t: v}}` structs
    * and write JSON lines. Returns the number of rows written, observed
    * in-flight via `Dataset.observe` — NOT by re-reading the output (a
    * second full pass over the result set, which at 100 TB doubles the
    * sink cost and showed up as phantom "join" time in the executor's
    * phase split).
    */
  def write(df: DataFrame, path: String): Long = {
    graft.io.LocalFs.register(df.sparkSession)
    val obs = org.apache.spark.sql.Observation()
    jsonLines(df)
      .observe(obs, count(lit(1)).as("rows_written"))
      .write.mode("overwrite").text(path)
    obs.get("rows_written").asInstanceOf[Long]
  }

  /** Reference-compatible single-file sink: appends one JSON line per row
    * to ONE local file, in append mode across calls — the reference's
    * `results/<name>.txt` contract (hash_join.py:1195-1269, distributed
    * gather join_executor.py:297-320). Rows stream through
    * `toLocalIterator` (one partition in driver memory at a time), so the
    * driver never holds the result set — but a single file is still an
    * inherently driver-serial gather, which is exactly the bottleneck the
    * reference's RabbitMQ append loop has. Ships for API parity and
    * test-scale convenience; [[write]]'s part-file directory is the scale
    * path. Returns the number of rows appended by this call.
    */
  def appendSingleFile(df: DataFrame, file: String): Long = {
    val parent = new java.io.File(file).getAbsoluteFile.getParentFile
    if (parent != null) parent.mkdirs()
    // explicit UTF-8: FileWriter would use the platform charset (JDK 17
    // predates JEP 400's UTF-8 default), mojibake-ing non-ASCII text on
    // non-UTF-8 locales — and spark.read.json always reads UTF-8 back
    val out = java.nio.file.Files.newBufferedWriter(
      java.nio.file.Paths.get(file), java.nio.charset.StandardCharsets.UTF_8,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    try {
      var n = 0L
      val it = jsonLines(df).toLocalIterator()
      while (it.hasNext) { out.write(it.next().getString(0)); out.newLine(); n += 1 }
      n
    } finally out.close()
  }

  /** Buffered pretty-print of a saved result
    * (reference: printJoinResult, utils.py:39-127).
    */
  def print(spark: SparkSession, path: String, maxRows: Int = 20): Unit =
    spark.read.json(path).show(maxRows, truncate = false)
}
