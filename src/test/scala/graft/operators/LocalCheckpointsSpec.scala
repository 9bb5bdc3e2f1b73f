package graft.operators

import graft.TestSpark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Pins the [[Intermediates]] checkpoint storage-level contract and the
  * family-tagged release: each checkpoint call site's
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
    val ser = Intermediates.checkpoint("ckpt-spec", serialized = true)(sample)
    val deser = Intermediates.checkpoint("ckpt-spec")(sample)
    assert(level(ser) === StorageLevel.MEMORY_AND_DISK_SER)
    assert(level(deser).deserialized,
      "default checkpoint must park deserialized blocks")
    Intermediates.release("ckpt-spec")
  }

  test("release(family) drops that family's persists and checkpoints, no other family's") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    def added = persisted -- before
    val p = Intermediates.persist("ckpt-spec-a")(sample)
    p.count()
    Intermediates.checkpoint("ckpt-spec-a")(sample)
    val other = Intermediates.checkpoint("ckpt-spec-b")(sample)
    assert(added.size === 3)
    assert(Intermediates.release("ckpt-spec-a", blocking = true) === 2)
    assert(added.size === 1, "the other family's checkpoint must stay live")
    assert(other.count() === 50L)
    assert(Intermediates.release("ckpt-spec-a") === 0)
    assert(Intermediates.release("ckpt-spec-b", blocking = true) === 1)
    assert(added.isEmpty)
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
