package graft.io

import graft.TestSpark
import graft.TestSpark.shellForksOf
import graft.operators.VectorIndex
import graft.sinks.JsonlSink

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** graft's local file IO starts no process: the runs the benchmark times
  * (a checkpointed `sessionize` stream, a JSONL result, a vector store's
  * build + append + compaction) fork no `chmod` or `readlink` through
  * Hadoop's `Shell`, counted with JFR in the shared session.
  */
class ForkCountSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  private def assertNoForks(forks: Seq[String]): Unit =
    assert(forks.isEmpty, s"${forks.size} Hadoop shell forks:\n  " +
      forks.take(5).mkString("\n  "))

  test("an AvailableNow sessionize run forks no Hadoop shell") {
    val dir = tmp("forks-sessionize")
    EventFiles.add(spark, s"$dir/in", "b0", EventFiles.events(0, 20))
    EventFiles.add(spark, s"$dir/in", "b1", EventFiles.events(600, 20))
    val (rows, forks) = shellForksOf(EventFiles.sessionize(spark, s"$dir/in", s"$dir/ckpt"))
    assert(rows == 480L)
    assertNoForks(forks)
  }

  test("a JsonlSink.write forks no Hadoop shell") {
    val df = spark.range(1000).select(col("id").as("t__id"),
      (col("id") % 7).as("t__k")).repartition(4)
    val out = tmp("forks-jsonl") + "/out"
    val (n, forks) = shellForksOf(JsonlSink.write(df, out))
    assert(n == 1000L)
    assertNoForks(forks)
  }

  test("a vector store build + append + compaction forks no Hadoop shell") {
    val emb = spark.range(600).select(col("id").as("vec_id"),
      array((1 to 8).map(i => sin(col("id") * i + i)): _*).as("embedding"))
    val path = tmp("forks-store") + "/store"
    val (_, forks) = shellForksOf {
      VectorIndex.writeIvfIndex(emb.filter(col("vec_id") % 3 =!= 0),
        col("vec_id"), col("embedding"), path)
      VectorIndex.appendToIvfIndex(emb.filter(col("vec_id") % 3 === 0),
        col("vec_id"), col("embedding"), path)
      VectorIndex.compactIvfIndex(spark, path)
    }
    assert(spark.read.parquet(s"$path/lists").count() == 600L)
    assertNoForks(forks)
  }
}
