package graft.sources

import graft.TestSpark
import graft.TestSpark.jobsOf

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Try

/** The parquet schema registry: one inference per table version, fresh
  * data and schema after an overwrite, the same schema Spark infers, and
  * Spark's own error for a missing table.
  */
class SourcesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A path in a fresh directory, so no earlier read has cached it. */
  private def freshPath(name: String): String =
    java.nio.file.Files.createTempDirectory("graft-sources").toString + s"/$name.parquet"

  private def rows(df: DataFrame): Seq[(Long, String)] =
    df.select("id", "name").as[(Long, String)].collect().sorted.toSeq

  /** Run `body` with session conf `key` set to `value`, then restore it. */
  private def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a second read of an unchanged table runs no Spark job") {
    val p = freshPath("t")
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").write.parquet(p)
    assert(jobsOf(Sources.parquet(spark, p)) >= 1)
    assert(jobsOf(Sources.parquet(spark, p)) == 0)
    assert(rows(Sources.parquet(spark, p)) == Seq((1L, "a"), (2L, "b")))
  }

  test("a table overwritten with new files of the same schema returns the new rows") {
    val p = freshPath("t")
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").write.parquet(p)
    assert(rows(Sources.parquet(spark, p)) == Seq((1L, "a"), (2L, "b")))
    Seq((3L, "c"), (4L, "d"), (5L, "e")).toDF("id", "name").write.mode("overwrite").parquet(p)
    assert(rows(Sources.parquet(spark, p)) == Seq((3L, "c"), (4L, "d"), (5L, "e")))
  }

  test("a table overwritten with a new schema returns the new schema") {
    val p = freshPath("t")
    Seq((1L, "a")).toDF("id", "name").write.parquet(p)
    assert(Sources.parquet(spark, p).columns.toSeq == Seq("id", "name"))
    Seq((1L, 2.5, true)).toDF("id", "score", "ok").write.mode("overwrite").parquet(p)
    val df = Sources.parquet(spark, p)
    assert(df.schema == spark.read.parquet(p).schema)
    assert(df.columns.toSeq == Seq("id", "score", "ok"))
    assert(df.as[(Long, Double, Boolean)].collect().toSeq == Seq((1L, 2.5, true)))
  }

  test("the registry's schema is Spark's: single file, Spark directory, partitioned directory") {
    val data = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 10)).toDF("id", "name", "part")
    val dir = freshPath("dir")
    data.repartition(2).write.parquet(dir)
    val single = freshPath("single")
    data.coalesce(1).write.parquet(single)
    val file = new java.io.File(single).listFiles().map(_.getPath)
      .filter(f => f.endsWith(".parquet") && new java.io.File(f).getName.startsWith("part-")).head
    val parted = freshPath("parted")
    data.write.partitionBy("part").parquet(parted)
    for (p <- Seq(file, dir, parted)) {
      val expected = spark.read.parquet(p)
      val got = Sources.parquet(spark, p)
      assert(got.schema == expected.schema, p)
      assert(got.collect().map(_.toString).sorted.toSeq ==
        expected.collect().map(_.toString).sorted.toSeq, p)
    }
  }

  test("session parquet settings are part of the key: toggling one re-infers") {
    // written without Spark's schema metadata, so the settings decide the
    // types: a TIMESTAMP(NANOS) column (as some events generations carry)
    // reads only under spark.sql.legacy.parquet.nanosAsLong, and an
    // unannotated binary reads as a string under binaryAsString
    val p = freshPath("nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; required int64 ts (TIMESTAMP(NANOS,true)); required binary raw; }")
    val w = ExampleParquetWriter.builder(new Path(p)).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("id", 1L).append("ts", 5000L).append("raw", "x"))
    finally w.close()
    def typeOf(read: => DataFrame, c: String) = Try(read.schema(c).dataType).toOption
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    withConf(nanos, "true") {
      assert(jobsOf(assert(typeOf(Sources.parquet(spark, p), "ts").contains(LongType))) >= 1)
      assert(jobsOf(Sources.parquet(spark, p)) == 0)
      assert(Sources.parquet(spark, p).select("id", "ts").as[(Long, Long)].collect().toSeq ==
        Seq((1L, 5000L)))
      assert(typeOf(Sources.parquet(spark, p), "raw").contains(BinaryType))
      withConf("spark.sql.parquet.binaryAsString", "true") {
        assert(jobsOf(assert(typeOf(Sources.parquet(spark, p), "raw").contains(StringType))) >= 1)
      }
      assert(jobsOf(assert(typeOf(Sources.parquet(spark, p), "raw").contains(BinaryType))) >= 1)
    }
    withConf(nanos, "false") {
      val expected = typeOf(spark.read.parquet(p), "ts")
      assert(!expected.contains(LongType))
      assert(typeOf(Sources.parquet(spark, p), "ts") == expected)
    }
  }

  test("a missing table fails with Spark's AnalysisException naming the path") {
    val p = freshPath("absent")
    val e = intercept[AnalysisException](Sources.parquet(spark, p))
    assert(e.getMessage.contains(p))
    assert(Sources.stamp(spark, p).isEmpty)
  }
}
