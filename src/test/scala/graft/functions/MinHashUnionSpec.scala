package graft.functions

import graft.TestSpark
import graft.operators.Dedup

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MinHashUnionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("union of signatures equals signature of unioned text (MinHash property)") {
    val a = "the quick brown fox jumps over the lazy dog tonight"
    val b = "a completely different sentence about spark shuffle exchanges here"
    val docs = Seq((1L, a), (2L, b), (3L, a + " " + b)).toDF("doc_id", "text")
    // doc 3's shingle set ⊇ set(a) ∪ set(b) minus boundary shingles; use
    // the aggregator over docs 1+2 and compare against elementwise min
    val sigs = Dedup.minhashStore(docs, col("doc_id"), col("text"), 3, 16)
      .as[(Long, Seq[Long])].collect().toMap
    val mhu = udaf(new MinHashUnion(16))
    val unioned = Dedup.minhashStore(docs.filter(col("doc_id") < 3), col("doc_id"), col("text"), 3, 16)
      .agg(mhu(col("sig"))).as[Seq[Long]].collect()(0)
    val expected = sigs(1L).zip(sigs(2L)).map { case (x, y) => math.min(x, y) }
    assert(unioned == expected)
    // and the merged sketch dominates the concatenated doc's signature
    // (doc 3 has extra boundary shingles, which can only lower mins)
    assert(sigs(3L).zip(unioned).forall { case (c, u) => c <= u })
  }

  test("aggregator is order-insensitive (partial-merge associativity)") {
    val docs = (1L to 20L).map(i => (i, s"doc number $i with words $i ${i * 7} shared tail"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashStore(docs, col("doc_id"), col("text"), 3, 16)
    val mhu = udaf(new MinHashUnion(16))
    val one = sigs.coalesce(1).agg(mhu(col("sig"))).as[Seq[Long]].collect()(0)
    val many = sigs.repartition(7).agg(mhu(col("sig"))).as[Seq[Long]].collect()(0)
    assert(one == many)
  }
}
