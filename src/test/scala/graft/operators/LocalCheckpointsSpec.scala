package graft.operators

import graft.TestSpark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Pins the checkpoint storage-level contract: each call site's
  * `serialized` argument decides the level. The r18 ser/deser measurement
  * (serialized edges read FLAT at sf0.1: d18 solo 5-pass medians ser 4.80
  * vs deser 5.31, c9 3.11 vs 3.15) is why the large-edge call sites keep
  * `serialized = true`, which buys the sf10 heap floor for free.
  */
class LocalCheckpointsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def level(df: DataFrame): StorageLevel =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRDD => l.rdd.getStorageLevel
    }.getOrElse(fail("checkpointed frame has no LogicalRDD"))

  private def sample: DataFrame =
    (1L to 50L).map(i => (i, i % 7)).toDF("doc_a", "doc_b")

  test("call-site storage levels honored when the hatch is unset") {
    val ser = LocalCheckpoints("ckpt-spec", serialized = true)(sample)
    val deser = LocalCheckpoints("ckpt-spec")(sample)
    assert(level(ser) === StorageLevel.MEMORY_AND_DISK_SER)
    assert(level(deser).deserialized,
      "default checkpoint must park deserialized blocks")
    LocalCheckpoints.release("ckpt-spec")
  }

  test("clusterPairs expected output on the default arm") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.clusterPairs(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Dedup.unpersistIntermediates()
    assert(out === Set(
      (1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L),
      (20L, 20L), (21L, 20L), (22L, 20L)))
  }
}
