package graft.operators

import graft.TestSpark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Try

/** Property-based invariants for the k-means trainer and the bigram-LM
  * scorer over random inputs (seeded generators, failures reproduce):
  *   k=1 k-means is the floored integer mean of the whole corpus,
  *   training is invariant to physical row order,
  *   each extra Lloyd iteration costs exactly one Spark job (the
  *     linear-composition contract of the driver-iterated loop),
  *   bigramScore matches an independent in-memory reference bit-for-bit.
  */
class KmeansPropertiesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def micros(x: Float): Long = math.floor(x.toDouble * 1048576.0 + 0.5).toLong

  private val vecsGen: Gen[List[Array[Float]]] = for {
    dim <- Gen.choose(2, 6)
    n <- Gen.choose(1, 30)
    vs <- Gen.listOfN(n, Gen.listOfN(dim, Gen.choose(-1.0f, 1.0f)))
  } yield vs.map(_.toArray)

  private def sampleVecs(seed: Long): List[Array[Float]] =
    vecsGen.pureApply(Gen.Parameters.default, Seed(seed))

  test("k=1 k-means is the floored integer mean of the corpus (15 random corpora)") {
    (1 to 15).foreach { i =>
      val vs = sampleVecs(i.toLong)
      val df = vs.zipWithIndex.map { case (v, id) => (id.toLong, v) }
        .toDF("vec_id", "embedding")
      val out = Similarity.kmeansTrain(df, col("vec_id"), col("embedding"),
        k = 1, iters = 1 + i % 3, seedStride = 1)
        .as[(Long, Long, Long)].collect().sortBy(_._2).map(_._3)
      val expect = (0 until vs.head.length).map { d =>
        math.floor(vs.map(v => micros(v(d))).sum.toDouble / vs.size).toLong
      }
      assert(out.toSeq == expect, s"case $i")
    }
  }

  test("rankSeeds: seed pick survives an OFFSET id space and c_ids are dense 0..k-1") {
    // absolute-bound seeding needs ids {0, stride, …, (k-1)·stride} and
    // fails on offset ids (the §8.42 trap); rank seeding takes the first
    // k qualifying ids wherever they sit
    val vs = sampleVecs(7L)
    val dim = vs.head.length
    val offset = 1000000L // every id ≥ 1e6, still divisible by 10
    val df = vs.zipWithIndex.map { case (v, i) => (offset + i * 10L, v) }
      .toDF("vec_id", "embedding")
    val k = math.min(3, vs.size)
    // absolute mode rejects loudly and points at rankSeeds
    val e = intercept[IllegalArgumentException] {
      Similarity.kmeansTrain(df, col("vec_id"), col("embedding"),
        k = k, iters = 1, seedStride = 10)
    }
    assert(e.getMessage.contains("rankSeeds"))
    // rank mode trains: k centroids, c_id 0..k-1, each of the vector dim
    val out = Similarity.kmeansTrain(df, col("vec_id"), col("embedding"),
      k = k, iters = 1, seedStride = 10, rankSeeds = true)
      .as[(Long, Long, Long)].collect()
    assert(out.map(_._1).distinct.sorted.toSeq == (0L until k).toSeq)
    assert(out.length == k * dim)
    // rank seeding over a DENSE 0-based id space picks the same seed
    // ROWS as absolute seeding when both are feasible (ids i·10 →
    // absolute c_id = i = rank index): identical trained output
    val dense = vs.zipWithIndex.map { case (v, i) => (i * 10L, v) }
      .toDF("vec_id", "embedding")
    val abs = Similarity.kmeansTrain(dense, col("vec_id"), col("embedding"),
      k = k, iters = 2, seedStride = 10)
      .as[(Long, Long, Long)].collect().toSet
    val rank = Similarity.kmeansTrain(dense, col("vec_id"), col("embedding"),
      k = k, iters = 2, seedStride = 10, rankSeeds = true)
      .as[(Long, Long, Long)].collect().toSet
    assert(rank == abs, "rank-picked seeds must train identically on a dense id space")
  }

  test("k-means output is invariant to physical row order") {
    val vs = sampleVecs(99L).zipWithIndex.map { case (v, id) => (id.toLong, v) }
    val df = vs.toDF("vec_id", "embedding")
    val scrambled = vs.reverse.toDF("vec_id", "embedding").repartition(7)
    def train(d: org.apache.spark.sql.DataFrame) =
      Similarity.kmeansTrain(d, col("vec_id"), col("embedding"),
        k = 3, iters = 2, seedStride = 1)
        .as[(Long, Long, Long)].collect().toSet
    assert(train(df) == train(scrambled))
  }

  test("each extra Lloyd iteration costs exactly one Spark job (linear composition)") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val df = sampleVecs(7L).zipWithIndex.map { case (v, id) => (id.toLong, v) }
      .toDF("vec_id", "embedding")
    def jobsFor(iters: Int): Int = {
      spark.sparkContext.addSparkListener(listener)
      try {
        jobs.set(0)
        Similarity.kmeansTrain(df, col("vec_id"), col("embedding"),
          k = 2, iters = iters, seedStride = 1)
        org.apache.spark.graft.ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
        jobs.get()
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    // AQE splits one iteration's action into several jobs (one per
    // materialized stage), so assert LINEARITY of the job count in
    // `iters`, not an absolute per-iteration figure: the step from 2 to 4
    // iterations must cost exactly twice the step from 1 to 2. The lazy
    // unrolled chain this pins against re-evaluated earlier iterations'
    // subtrees, growing the count super-linearly.
    val j1 = jobsFor(1)
    val j2 = jobsFor(2)
    val j4 = jobsFor(4)
    assert(j2 > j1, s"an extra iteration must cost extra jobs, got $j1 -> $j2")
    assert(j4 - j2 == 2 * (j2 - j1),
      s"job count must be linear in iters: $j1, $j2, $j4 " +
        "(a lazily-unrolled chain re-evaluates earlier iterations exponentially)")
  }

  test("PQ codebook training cost does not scale with the subspace count") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsFor(m: Int): Int = {
      spark.sparkContext.addSparkListener(listener)
      try {
        jobs.set(0)
        val cb = Similarity.pqTrainCodebook(emb, col("vec_id"), col("embedding"),
          numSubspaces = m, numCodes = 4, iters = 2, seedStride = 4)
        assert(cb.length == m && cb.forall(_.length == 4))
        org.apache.spark.graft.ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
        jobs.get()
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val j2 = jobsFor(2)
    val j8 = jobsFor(8)
    assert(j8 == j2,
      s"all subspaces must train in the SAME passes: $j2 jobs at m=2 vs $j8 at m=8")
  }

  test("convergeTol stops at the fixed point with the identical model") {
    // 3 tight clusters converge in <=2 iterations; 10 tol-gated
    // iterations must return exactly the 2-iteration model, in fewer
    // jobs than the 10 un-gated iterations would cost
    val vs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(0.1f, 0.9f)),
      (4L, Array(-1.0f, -1.0f)), (5L, Array(-0.9f, -1.1f)))
      .toDF("vec_id", "embedding")
    def train(iters: Int, tol: Option[Long]) =
      Similarity.kmeansTrain(vs, col("vec_id"), col("embedding"),
        k = 3, iters = iters, seedStride = 2, convergeTol = tol)
        .as[(Long, Long, Long)].collect().toSet
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val (gated, gatedJobs, ungated, ungatedJobs) = try {
      jobs.set(0)
      val g = train(10, Some(0L))
      org.apache.spark.graft.ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
      val gj = jobs.getAndSet(0)
      val u = train(10, None)
      org.apache.spark.graft.ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
      (g, gj, u, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(gated == train(2, None), "early stop returns the fixed-point model")
    assert(gated == ungated, "converged iterations are no-ops")
    assert(gatedJobs < ungatedJobs,
      s"early stop must skip corpus passes: $gatedJobs vs $ungatedJobs jobs")
  }

  // ---------------------------------------------------------------
  // bigramScore differential
  // ---------------------------------------------------------------

  private val docGen: Gen[String] = for {
    n <- Gen.choose(0, 8)
    ws <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e"))
  } yield ws.mkString(" ")

  private def refScore(lm: Seq[String], docs: Seq[(Long, String)]): Map[Long, (Long, Option[Long])] = {
    def toks(s: String): Seq[String] =
      s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
    val lmToks = lm.map(toks)
    val cb = lmToks.flatMap(t => t.zip(t.drop(1))).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cu = lmToks.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val v = cu.size.toLong
    docs.map { case (id, text) =>
      val pairs = { val t = toks(text); t.zip(t.drop(1)) }
      val ppms = pairs.map(p =>
        (cb.getOrElse(p, 0L) + 1L) * 1000000L / (cu.getOrElse(p._1, 0L) + v))
      id -> (pairs.size.toLong,
        if (pairs.isEmpty) None else Some(ppms.sum / pairs.size))
    }.toMap
  }

  test("bigramScore matches the in-memory reference on 15 random corpora") {
    (1 to 15).foreach { i =>
      val g = Gen.listOfN(12, docGen)
      val texts = g.pureApply(Gen.Parameters.default, Seed(1000L + i))
      val lm = texts.take(4) :+ "a b" // reference corpus always has a token
      val docs = texts.drop(4).zipWithIndex.map { case (t, j) => (j.toLong, t) }
      val out = NgramLm.bigramScore(
        docs.toDF("doc_id", "text"), col("doc_id"), col("text"),
        lm.map(t => Tuple1(t)).toDF("text"), col("text"))
        .as[(Long, Long, Option[Long])].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      assert(out == refScore(lm, docs), s"case $i")
    }
  }

  test("bigramScore rejects a token-free reference corpus loudly at action time") {
    val e = intercept[Exception] {
      NgramLm.bigramScore(
        Seq((1L, "a b")).toDF("doc_id", "text"), col("doc_id"), col("text"),
        Seq(Tuple1("!!! ...")).toDF("text"), col("text")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("reference")), s"got: ${msgs(e).mkString(" | ")}")
  }

  /** `train` run on each arm of lloydLoop's size gate, chosen by the
    * input's provenance: the local frame `df` reports its real size (the
    * join formulation), its RDD-backed twin reports the session's
    * `defaultSizeInBytes` (the TopDot projection). The executed plans show
    * which arm ran. Returns (TopDot result, join result).
    */
  private def bothArms[A](df: DataFrame)(train: DataFrame => A): (A, A) = {
    def run(in: DataFrame): (Try[A], Seq[String]) = {
      var out: Try[A] = null
      val plans = TestSpark.plansOf { out = Try(train(in)) }
      (out, plans)
    }
    val (fast, fastPlans) = run(TestSpark.unsized(df))
    val (exch, exchPlans) = run(df)
    def topDot(plans: Seq[String]) = plans.exists(_.contains("graft_top_dot_ids"))
    assert(topDot(fastPlans), "the RDD-backed input must take the TopDot arm")
    assert(!topDot(exchPlans), "the local input must take the join arm")
    (fast.get, exch.get)
  }

  test("r18 OPT: lloydLoop TopDot path is bit-identical to the join formulation " +
      "(15 random corpora incl. exact ties, both seed modes, multi-iter)") {
    (1 to 15).foreach { i =>
      val vs0 = sampleVecs(100L + i)
      // force exact ties in half the cases: duplicate every vector so
      // several points sit at identical distances from multiple seeds
      val vs = if (i % 2 == 0) vs0 ++ vs0 else vs0
      val df = vs.zipWithIndex.map { case (v, id) => (id.toLong, v) }
        .toDF("vec_id", "embedding")
      val k = math.min(1 + i % 4, vs.size)
      val (fast, exch) = bothArms(df) { in =>
        Similarity.kmeansTrain(in, col("vec_id"), col("embedding"),
          k = k, iters = 1 + i % 3, seedStride = 1, rankSeeds = i % 3 == 0)
          .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
      }
      assert(fast.toSeq == exch.toSeq, s"case $i")
    }
  }

  test("r18 OPT: lloydLoop TopDot path raises on a ragged vector like the join formulation") {
    val df = Seq(
      (0L, Array(0.1f, 0.2f)),
      (1L, Array(0.3f, 0.4f)),
      (2L, Array(0.5f, 0.6f, 0.7f))). // ragged
      toDF("vec_id", "embedding")
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    val (fast, exch) = bothArms(df) { in =>
      intercept[Exception] {
        Similarity.kmeansTrain(in, col("vec_id"), col("embedding"),
          k = 2, iters = 1, seedStride = 1).collect()
      }
    }
    Seq("TopDot" -> fast, "join" -> exch).foreach { case (arm, e) =>
      assert(msgs(e).exists(_.contains("ragged")),
        s"$arm arm got: ${msgs(e).mkString(" | ")}")
    }
  }

  test("r18 OPT: pqTrainCodebook (the multi-group lloydLoop) is gate-invariant") {
    val vs = sampleVecs(55L).map(v => (v ++ v ++ v ++ v).take(8)) // dim 8
    val df = vs.zipWithIndex.map { case (v, id) => (id.toLong, v) }
      .toDF("vec_id", "embedding")
    val (fast, exch) = bothArms(df) { in =>
      Similarity.pqTrainCodebook(in, col("vec_id"), col("embedding"),
        numSubspaces = 4, numCodes = math.min(3, vs.size), iters = 2,
        seedStride = 1)
    }
    assert(fast.map(_.map(_.toSeq).toSeq).toSeq == exch.map(_.map(_.toSeq).toSeq).toSeq)
  }
}
