package graft.operators

import graft.TestSpark

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class NgramLmSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("bigram LM score: hand-computed add-one ppm, short docs keep NULL") {
    // reference corpus "a b a": bigrams (a,b)=1 (b,a)=1; unigrams a=2 b=1; V=2
    val lm = Seq((100L, "a b a")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a b c"), // (a,b): (1+1)e6/(2+2)=500000; (b,c): (0+1)e6/(1+2)=333333
      (2L, "x"),     // no pairs
      (3L, "c a"))   // (c,a): (0+1)e6/(0+2)=500000
      .toDF("doc_id", "text")
    val out = NgramLm.bigramScore(docs, col("doc_id"), col("text"), lm, col("text"))
      .as[(Long, Long, Option[Long])].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 2L, Some((500000L + 333333L) / 2))))
    assert(out(2L) == ((2L, 0L, None)), "sub-2-token doc surfaces with a NULL score")
    assert(out(3L) == ((3L, 1L, Some(500000L))))
    assert(out.size == 3)
  }

  test("model-cache gate: the cached and the recompute arm score identically") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    // the gate reads the model source's plan stats: the local reference
    // frame is small (both consumers recompute the unigram table), its
    // RDD-backed twin reports defaultSizeInBytes (the table is cached)
    val lm = Seq((100L, "a b a c"), (101L, "b c a b")).toDF("doc_id", "text")
    val docs = Seq((1L, "a b c"), (2L, "x"), (3L, "c a b d"))
      .toDF("doc_id", "text")
    def cached(df: DataFrame) = df.queryExecution.optimizedPlan.exists {
      case _: InMemoryRelation => true
      case _ => false
    }
    def rows(df: DataFrame) =
      df.as[(Long, Long, Option[Long])].collect().sortBy(_._1).toSeq
    Seq[(String, DataFrame => DataFrame)](
      "bigramScore" -> (ref =>
        NgramLm.bigramScore(docs, col("doc_id"), col("text"), ref, col("text"))),
      "scoreWith" -> (ref => NgramLm.scoreWith(
        NgramLm.bigramModel(ref, col("text")), docs, col("doc_id"), col("text")))
    ).foreach { case (entry, score) =>
      val recompute = score(lm)
      val cachedArm = score(TestSpark.unsized(lm))
      assert(!cached(recompute) && cached(cachedArm), entry)
      assert(rows(recompute) == rows(cachedArm) && rows(recompute).size == 3,
        entry)
      Corpus.unpersistIntermediates(blocking = true)
    }
  }

  test("scoring the reference corpus against itself beats random text") {
    val lm = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick dog runs over the brown fox")).toDF("doc_id", "text")
    val docs = Seq((10L, "the quick brown fox"), (11L, "zq wv xk pj qr"))
      .toDF("doc_id", "text")
    val out = NgramLm.bigramScore(docs, col("doc_id"), col("text"), lm, col("text"))
      .as[(Long, Long, Option[Long])].collect().map(r => r._1 -> r._3.get).toMap
    assert(out(10L) > out(11L),
      s"in-domain text must out-score gibberish: ${out(10L)} vs ${out(11L)}")
  }
}
