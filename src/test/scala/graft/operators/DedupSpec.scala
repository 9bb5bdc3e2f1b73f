package graft.operators

import graft.TestSpark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // planted corpus: docs 1/2 exact dups, 3 a near-dup of 1 (one word
  // changed), 4/5 unrelated
  private val base = "the quick brown fox jumps over the lazy dog while rain falls on the hill"
  private def docs: DataFrame = Seq(
    (1L, base),
    (2L, base),
    (3L, base.replace("rain", "snow")),
    (4L, "spark shuffles partitions across executors with hash exchanges every stage"),
    (5L, "completely different text about cooking pasta with garlic and olive oil tonight"))
    .toDF("doc_id", "text")

  test("prefixJaccardPairs ≡ ngramJaccardPairs (lossless candidate reduction)") {
    // the planted corpus plus extra docs that share SOME shingles below
    // threshold — prefix filtering must drop candidates, never pairs
    val plus = docs.union(Seq(
      (6L, base.replace("fox", "cat").replace("dog", "owl")),
      (7L, "the quick brown fox has left while rain falls on the hill tonight"),
      (8L, "rain falls on the hill")).toDF("doc_id", "text"))
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "jaccard_ppm")
        .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    val exact = norm(Dedup.ngramJaccardPairs(plus, col("doc_id"), col("text"), 3, 0.5))
    val prefix = norm(Dedup.prefixJaccardPairs(plus, col("doc_id"), col("text"), 3, 500000L))
    assert(prefix == exact, s"prefix-filtered pairs diverge:\n$prefix\nvs\n$exact")
    assert(exact.nonEmpty)
    Dedup.unpersistIntermediates(blocking = true)
  }

  test("containmentPairs: directional doc-in-doc, normalized by the contained set") {
    // 10's 3 shingles all inside 11's 5 → cont(10→11)=1e6; the reverse is
    // 3/5=600000 and must NOT pass at t=0.7; 12 shares nothing
    val d = Seq(
      (10L, "a b c d e"),
      (11L, "a b c d e f g"),
      (12L, "x y z w v u t")).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(d, col("doc_id"), col("text"), 3, 700000L)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((10L, 11L, 1000000L)))
    Dedup.unpersistIntermediates(blocking = true)
  }

  test("containmentApproxPairs: docs at or under k sampled whole (exact), estimator fields consistent") {
    // every doc here has ≤ 16 shingles, so the bottom-16 sample IS the
    // full set and the estimate must equal the exact containment
    val d = Seq(
      (10L, "a b c d e"),
      (11L, "a b c d e f g"),
      (12L, "x y z w v u t")).toDF("doc_id", "text")
    val got = Dedup.containmentApproxPairs(d, col("doc_id"), col("text"),
      3, 16, 700000L)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // cont(10→11) = 3/3 exact; sample covers all 3 shingles of 10
    assert(got == Set((10L, 11L, 3L, 3L, 1000000L)), s"got $got")
    // threshold: the 11→10 direction (3/5 = 600000) must not pass
    val loose = Dedup.containmentApproxPairs(d, col("doc_id"), col("text"),
      3, 16, 500000L)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(loose.contains((11L, 10L, 3L, 5L, 600000L)), s"got $loose")
    Dedup.unpersistIntermediates(blocking = true)
  }

  test("containmentApproxPairs: k bounds the probe (sample_size = min(k, |S_A|)), estimate within sampling error") {
    // a 30-shingle doc fully contained in a bigger one: with k = 4 the
    // sample is 4 of 30, but containment is 1.0 so EVERY sampled shingle
    // hits — estimate must still read 1e6 and sample_size must read 4
    val small = (1 to 32).map(i => s"w$i").mkString(" ")
    val big = small + " " + (33 to 40).map(i => s"w$i").mkString(" ")
    val d = Seq((20L, small), (21L, big)).toDF("doc_id", "text")
    val got = Dedup.containmentApproxPairs(d, col("doc_id"), col("text"),
      3, 4, 700000L)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got.contains((20L, 21L, 4L, 4L, 1000000L)), s"got $got")
    Dedup.unpersistIntermediates(blocking = true)
  }

  test("containmentKeep drops contained docs; exact dups keep the min id") {
    val d = Seq(
      (10L, "a b c d e"),            // ⊂ 11 → dropped (bigger partner)
      (11L, "a b c d e f g"),        // maximal → kept
      (12L, "a b c d e f g"),        // exact dup of 11 → equal sets, later id → dropped
      (13L, "x y z w v u t")).toDF("doc_id", "text") // unrelated → kept
    val got = Dedup.containmentKeep(d, col("doc_id"), col("text"), 3, 700000L)
      .as[(Long, Boolean)].collect().toSet
    assert(got == Set((10L, false), (11L, true), (12L, false), (13L, true)))
    Dedup.unpersistIntermediates(blocking = true)
  }

  test("containmentKeep dominance pushdown ≡ keep derived from the full pair tier") {
    // corpus with mutual containments at near-equal sizes (the pairs the
    // pushdown prunes), exact dups (equal sizes → id tiebreak), a chain
    // (10 ⊂ 11 ⊂ 12), and unrelated docs — recompute the verdicts from
    // the UNPRUNED public pair tier + independently-computed set sizes
    // and require equality (the pruning is lossless for the keep rule)
    val corpus = Seq(
      (10L, "a b c d e"),
      (11L, "a b c d e f g"),
      (12L, "a b c d e f g h i j"),
      (13L, "a b c d e f g"),             // exact dup of 11
      (14L, "a b c d e f q"),             // near-equal-size partner of 11
      (15L, "x y z w v u t")).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(corpus, col("doc_id"), col("text"),
      3, 700000L)
    val sizes = corpus.select(col("doc_id"), size(
      graft.functions.TextFunctions.shingles(
        graft.functions.TextFunctions.tokens(col("text")), 3)).as("n_sh"))
    val dropped = pairs
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_sh", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_sh", "nb"), "doc_b")
      .filter(col("nb") > col("na") ||
        (col("nb") === col("na") && col("doc_b") < col("doc_a")))
      .select("doc_a").as[Long].collect().toSet
    val expect = corpus.select("doc_id").as[Long].collect()
      .map(id => id -> !dropped.contains(id)).toSet
    val got = Dedup.containmentKeep(corpus, col("doc_id"), col("text"),
      3, 700000L).as[(Long, Boolean)].collect().toSet
    assert(got == expect, s"pushdown diverges:\n$got\nvs\n$expect")
    assert(!expect.forall(_._2), "fixture must actually drop something")
    Dedup.unpersistIntermediates(blocking = true)
  }

  test("containmentApproxPairs: recall in k — coarse-monotone with the ceil-threshold dip pinned") {
    // 100 host/sub pairs with per-i disjoint vocab; sub_i = host_i's
    // a-token prefix + b novel tokens, so true containment(sub→host) =
    // (a-2)/(a+b-2) — five graded families straddling the 0.7 threshold
    // (0.667 below; 0.737/0.807/0.867/0.968 above; the larger-a families
    // also pass host→sub). The estimator is deterministic (bottom-k
    // polyhash), so the recall curve over k is a FIXED property of this
    // fixture. MEASURED FINDING (r17): recall is NOT pointwise monotone
    // in k — the detection rule `hits ≥ ⌈0.7k⌉` has an EFFECTIVE
    // threshold ⌈0.7k⌉/k that oscillates above 0.7 (k=4,8,16 → 0.75;
    // k=32 → 0.719), so for a family whose true containment sits BETWEEN
    // 0.7 and the effective threshold (0.737 here), growing k first
    // CONCENTRATES the estimate below the detection bar (the k=16 dip)
    // until the threshold itself relaxes (k=32). The curve is pinned
    // exactly (integer matched-pair counts out of 140 true pairs), plus
    // the coarse doubling-ladder property users actually rely on.
    val fixture = (0 until 100).flatMap { i =>
      val words = (0 until 66).map(j => s"w${i}x$j")
      val (a, b) = Seq((40, 19), (44, 15), (48, 11), (54, 8), (62, 2))(i % 5)
      Seq((2000L + i, words.mkString(" ")),
        (1000L + i,
          (words.take(a) ++ (0 until b).map(j => s"n${i}y$j")).mkString(" ")))
    }.toDF("doc_id", "text")
    val exact = Dedup.containmentPairs(fixture, col("doc_id"), col("text"),
      3, 700000L, maxDocFreq = 50)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(exact.size >= 80, s"fixture too sparse: ${exact.size} pairs")
    assert(exact.size == 140, s"graded fixture changed: ${exact.size}")
    val hits = Seq(2, 4, 8, 16, 32).map { k =>
      val ap = Dedup.containmentApproxPairs(fixture, col("doc_id"),
        col("text"), 3, k, 700000L, maxDocFreq = 50)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      k -> (ap & exact).size
    }
    // the exact measured curve (deterministic): note the k=16 dip
    assert(hits == Seq(2 -> 89, 4 -> 119, 8 -> 121, 16 -> 114, 32 -> 124),
      s"pinned recall curve moved: $hits / ${exact.size}")
    // the coarse contract: each doubling-ladder step k → 4k improves
    val ladder = hits.toMap
    assert(ladder(8) > ladder(2) && ladder(32) > ladder(8),
      s"coarse recall ladder broken: $hits")
    // DEFAULT k is the measured-better 64 (§16d: 0.97/0.91 at the flat
    // wall, effective threshold ⌈0.7·64⌉/64 = 0.703 — closest to t):
    // an unspecified k must behave exactly as k=64, and differ from the
    // old k=16 default on this graded fixture (the 0.737 family sits
    // between t and k=16's effective 0.75)
    val dflt = Dedup.containmentApproxPairs(fixture, col("doc_id"),
      col("text"), n = 3, minContainmentPpm = 700000L, maxDocFreq = 50)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val k64 = Dedup.containmentApproxPairs(fixture, col("doc_id"),
      col("text"), 3, 64, 700000L, maxDocFreq = 50)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val k16 = Dedup.containmentApproxPairs(fixture, col("doc_id"),
      col("text"), 3, 16, 700000L, maxDocFreq = 50)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(dflt == k64, "default must be k=64")
    assert(dflt != k16, "fixture no longer distinguishes k=64 from k=16")
    Dedup.unpersistIntermediates(blocking = true)
  }

  test("containmentPairs prefix filter is lossless vs the unfiltered formulation") {
    val plus = docs.union(Seq(
      (6L, base + " and then some extra words follow the original text here"),
      (7L, "rain falls on the hill"),
      (8L, "the quick brown fox")).toDF("doc_id", "text"))
    // brute-force ground truth: full posting self-join, no prefix filter
    val sh = plus.select(col("doc_id"),
      explode(graft.functions.TextFunctions.shingles(
        graft.functions.TextFunctions.tokens(col("text")), 3)).as("s"))
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val brute = sh.as("a")
      .join(sh.as("b"), col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(cnt.withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .select(col("doc_a"), col("doc_b"),
        expr("inter * 1000000 div n_sh").as("containment_ppm"))
      .filter(col("containment_ppm") >= 500000L)
      .as[(Long, Long, Long)].collect().toSet
    val got = Dedup.containmentPairs(plus, col("doc_id"), col("text"), 3, 500000L)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == brute, s"prefix containment diverges:\n$got\nvs\n$brute")
    assert(brute.nonEmpty)
    Dedup.unpersistIntermediates(blocking = true)
  }

  test("exact dedup keeps min id per distinct text") {
    val out = Dedup.exact(docs, col("text"), col("doc_id"))
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toMap
    assert(out(1L) == 2L) // docs 1+2 collapse onto keep_id 1
    assert(out.values.sum == 5L)
    assert(!out.contains(2L))
  }

  test("ngram jaccard finds the exact and near pair, nothing else") {
    val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 3, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("minhash LSH recovers the same pairs with verified jaccard") {
    val pairs = Dedup.minhashLshPairs(docs, col("doc_id"), col("text"), 3, 16, 4, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("simhash: identical docs at hamming 0; near pair within budget; banding is lossless") {
    val fp = Dedup.simhash(docs, col("doc_id"), col("text"))
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L))
    val pairs = Dedup.simhashPairs(docs, col("doc_id"), col("text"), 3)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Long)].collect()
    val asMap = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(asMap((1L, 2L)) == 0L)
    // brute-force ground truth: banded join must find EXACTLY the pairs
    // with hamming <= 3 (pigeonhole guarantee)
    val ids = fp.keys.toSeq.sorted
    val brute = (for {
      a <- ids; b <- ids if a < b
      h = java.lang.Long.bitCount(fp(a) ^ fp(b)) if h <= 3
    } yield (a, b)).toSet
    assert(pairs.map(p => (p._1, p._2)).toSet == brute)
  }

  test("driver testdata: all 25 planted near-dup pairs at sf0.01 are found") {
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val exact = Dedup.ngramJaccardPairs(d, col("doc_id"), col("text"), 3, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(d, col("doc_id"), col("text"), 3, 16, 4, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(exact.size == 25)
    assert(lsh == exact) // 16×4 bands reach full recall on this corpus
  }

  test("clusterPairs finds connected components with min-id representative") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L),          // chain component {1,2,3} → rep 1
      (10L, 11L),                  // pair component {10,11} → rep 10
      (20L, 21L), (21L, 22L), (20L, 22L)) // triangle {20,21,22} → rep 20
      .toDF("doc_a", "doc_b")
    val got = Dedup.clusterPairs(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("clusterPairs fails loudly when a component's diameter exceeds maxIters") {
    // a 12-vertex path needs ~11 hash-min iterations to converge
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val ex = intercept[IllegalStateException](Dedup.clusterPairs(chain, maxIters = 3))
    assert(ex.getMessage.contains("did not converge"))
    Dedup.unpersistIntermediates(blocking = true)
  }

  test("capped ngram variant caches the posting list exactly once") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val d2b = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 3, 0.5, maxDocFreq = 50)
    val caches = d2b.queryExecution.optimizedPlan.collect {
      case r: InMemoryRelation => r.cacheBuilder
    }
    assert(caches.nonEmpty && caches.distinct.size == 1,
      s"expected exactly one distinct cached intermediate, got ${caches.distinct.size}")
    Dedup.unpersistIntermediates(blocking = true)
  }

  test("posting-cache gate: the cached and the recompute arm give identical pairs") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    // the gate reads the docs' plan stats: the local frame is small (the
    // cached arm), its RDD-backed twin reports defaultSizeInBytes (the
    // recompute arm)
    val plus = docs.union(Seq(
      (6L, base.replace("fox", "cat")),
      (7L, "the quick brown fox has left while rain falls on the hill tonight"))
      .toDF("doc_id", "text"))
    def caches(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case r: InMemoryRelation => r.cacheBuilder
    }.distinct.size
    Seq[(String, DataFrame => DataFrame)](
      "prefixJaccardPairs" -> (d =>
        Dedup.prefixJaccardPairs(d, col("doc_id"), col("text"), 3, 500000L)),
      "containmentPairs" -> (d =>
        Dedup.containmentPairs(d, col("doc_id"), col("text"), 3, 500000L))
    ).foreach { case (tier, pairs) =>
      val cachedArm = pairs(plus)
      val recompute = pairs(TestSpark.unsized(plus))
      // the shingle sets are cached on both arms; only the small arm adds
      // the shared posting frame
      assert(caches(cachedArm) == 2 && caches(recompute) == 1,
        s"$tier: ${caches(cachedArm)} vs ${caches(recompute)} cached frames")
      val a = cachedArm.collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
      val b = recompute.collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
      assert(a == b && a.nonEmpty, s"$tier: $a vs $b")
      Dedup.unpersistIntermediates(blocking = true)
    }
  }

  test("unpersistIntermediates releases every cache the operators registered") {
    spark.catalog.clearCache()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    // touch every caching operator family with a terminal action
    Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 3, 0.5, maxDocFreq = 50).count()
    val lshPairs = Dedup.minhashLshPairs(docs, col("doc_id"), col("text"), 3, 16, 4, 0.5)
    Dedup.clusterPairs(lshPairs).count()
    Dedup.simhashPairs(docs, col("doc_id"), col("text"), 3).count()
    assert(Dedup.unpersistIntermediates(blocking = true) > 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "persisted RDDs leaked past unpersistIntermediates")
  }

  test("substring coverage: containment scores 1e6 ppm where jaccard is low") {
    // doc 6 is a verbatim chunk of doc 1 (substring): every one of its
    // shingles is owned by doc 1 → 1e6 ppm; its Jaccard vs doc 1 is only
    // ~0.4, which the pairwise operators would pass — the asymmetric
    // coverage signal is exactly what catches it. doc 7 is too short to
    // shingle.
    val plus = docs.union(Seq(
      (6L, "the quick brown fox jumps over the lazy dog"),
      (7L, "two words")).toDF("doc_id", "text"))
    val out = Dedup.substringCoverage(plus, col("doc_id"), col("text"), 3, 600000L)
      .select("doc_id", "n_shingles", "dup_ppm", "keep")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out.size == 7)
    assert(out(1L)._2 == 0L && out(1L)._3 == 1L) // first owner of its shingles
    assert(out(2L)._2 == 1000000L && out(2L)._3 == 0L) // exact dup of 1
    assert(out(6L)._2 == 1000000L && out(6L)._3 == 0L) // contained in 1
    assert(out(4L)._2 == 0L && out(5L)._2 == 0L) // unrelated
    // doc 3 shares all but the 3 shingles through the changed word
    assert(out(3L)._2 > 600000L && out(3L)._3 == 0L)
    assert(out(7L) == ((0L, 0L, 1L))) // degenerate: no shingles, kept
  }

  test("embedding near-dup pairs are symmetric-free and thresholded") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.999f, 0.01f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(emb, col("vec_id"), col("embedding"), 0.9)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("incrementalDedup: batch docs match the store and earlier batch docs only") {
    val store = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "completely unrelated existing content about spark engines"))
      .toDF("doc_id", "text")
    val inc = Seq(
      (20L, "the quick brown fox jumps over the lazy dog again and again"), // dup of 10
      (21L, "novel text that matches nothing else in any corpus batch"),
      (22L, "novel text that matches nothing else in any corpus batch"), // dup of 21 (same batch)
      (23L, "xy")) // shingle-less: trivially kept
      .toDF("doc_id", "text")
    val sigStore = Dedup.minhashStore(store, col("doc_id"), col("text"))
    val got = Dedup.incrementalDedup(inc, sigStore, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got == Map(20L -> Some(10L), 21L -> None, 22L -> Some(21L), 23L -> None))
    // later store ids still count as partners (the store is canonical)
    val gotRev = Dedup.incrementalDedup(
      inc.filter(col("doc_id") === 20L),
      Dedup.minhashStore(
        store.withColumn("doc_id", col("doc_id") + 100L), col("doc_id"), col("text")),
      col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotRev == Map(20L -> 110L))
  }

  test("incrementalDedup two-batch flow: admitted survivors extend the store") {
    // the deployment loop: dedup batch 1, admit its keepers' signatures
    // (plain union — minhashStore output IS the store format), then batch 2
    // must catch dups of batch-1 admissions and of the original store alike
    val store0 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val batch1 = Seq(
      (20L, "a genuinely new document admitted in the first ingestion batch"),
      (21L, "the quick brown fox jumps over the lazy dog again and again")) // dup of 10
      .toDF("doc_id", "text")
    val batch2 = Seq(
      (30L, "a genuinely new document admitted in the first ingestion batch"), // dup of 20
      (31L, "the quick brown fox jumps over the lazy dog again and again"), // dup of 10
      (32L, "still unseen content that should sail through both gates"))
      .toDF("doc_id", "text")
    val sig0 = Dedup.minhashStore(store0, col("doc_id"), col("text"))
    val d1 = Dedup.incrementalDedup(batch1, sig0, col("doc_id"), col("text"))
    val kept1 = batch1.join(
      d1.filter(col("dup_of").isNull).select("doc_id"), Seq("doc_id"))
    val sig1 = sig0.union(Dedup.minhashStore(kept1, col("doc_id"), col("text")))
    val d2 = Dedup.incrementalDedup(batch2, sig1, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(d2 == Map(30L -> Some(20L), 31L -> Some(10L), 32L -> None))
    // the rejected batch-1 doc (21) was never admitted: nothing can dup to it
    assert(!d2.values.flatten.toSet.contains(21L))
  }

  test("duplicateSpans: cross-doc and within-doc passages, exact boundaries") {
    val corpus = Seq(
      (1L, "a b c d e f g h"),            // shares "a b c d e" with doc 2
      (2L, "x y a b c d e q r s"),
      (3L, "m n o p m n o p"),            // within-doc repetition
      (4L, "totally unrelated words here today"))
      .toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(corpus, col("doc_id"), col("text"), k = 3)
      .select("doc_id", "span_start", "span_end", "n_tokens")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      // doc1: dup 3-grams start at 1,2,3 → tokens [1,5] = "a b c d e"
      (1L, 1L, 5L, 5L),
      // doc2: same grams start at 3,4,5 → tokens [3,7]
      (2L, 3L, 7L, 5L),
      // doc3: "m n o"/"n o p" repeat (starts 1,2,5,6); gap 2→5 is 3 = k,
      // coverage stays contiguous → ONE span over the whole doc — every
      // token sits in a duplicated window ("m n o p m n o p" is all
      // repeated text); doc4 contributes nothing
      (3L, 1L, 8L, 8L)), s"got $got")
    // a gap wider than k splits: k=3 grams "p q r" at 1 and 9 in one doc
    // never merge (tokens 4..8 are uncovered)
    val far = Seq((9L, "p q r s t u v w p q r")).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(far, col("doc_id"), col("text"), k = 3)
      .select("span_start", "span_end").as[(Long, Long)].collect().toSet
    assert(spans == Set((1L, 3L), (9L, 11L)), s"got $spans")
  }

  test("lshParams picks the S-curve factorization for the target threshold") {
    // the suite's own config: 16 hashes at threshold 0.5 → the classic 4×4
    assert(Dedup.lshParams(0.5, 16) == ((4, 4)))
    // steeper threshold → longer rows (harder to collide below t)
    val (bHi, rHi) = Dedup.lshParams(0.9, 16)
    assert(rHi >= 4 && bHi * rHi == 16)
    // lenient threshold → more, shorter bands (recall-heavy)
    val (bLo, rLo) = Dedup.lshParams(0.2, 16)
    assert(rLo <= 2 && bLo * rLo == 16)
    // weighting: penalizing false negatives only pushes toward recall
    val (_, rFn) = Dedup.lshParams(0.5, 16, fpWeight = 0.0, fnWeight = 1.0)
    assert(rFn <= 4)
    assertThrows[IllegalArgumentException](Dedup.lshParams(0.0, 16))
    assertThrows[IllegalArgumentException](Dedup.lshParams(0.5, 1))
  }

  test("preferencePairs: best-vs-worst per family, ties split to distinct ids") {
    val docs = Seq(
      (1L, 50L), (2L, 90L), (3L, 10L), // cluster A: chosen 2, rejected 3
      (4L, 70L), (5L, 70L),            // cluster B: all-tied → chosen 4 (low id), rejected 5 (high id)
      (6L, 99L))                       // not clustered → no pair
      .toDF("doc_id", "sc")
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L)).toDF("doc_id", "cluster_rep")
    val got = Dedup.preferencePairs(docs, col("doc_id"), clusters, col("sc"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 2L, 3L, 90L, 10L, 3L),
      (4L, 4L, 5L, 70L, 70L, 2L)))
  }

  test("softDedupWeights: a family shares one document's sampling mass, uniques keep 1e6") {
    // planted edges: {1,2,3} one component, {4,5} another, 6..8 singletons
    val corpus = Seq.tabulate(8)(i => (i + 1).toLong).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val got = Dedup.softDedupWeights(corpus, col("doc_id"), pairs)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(r => (r._1, r._2, r._3, r._4)).toSeq == Seq(
      (1L, 1L, 3L, 333333L), (2L, 1L, 3L, 333333L), (3L, 1L, 3L, 333333L),
      (4L, 4L, 2L, 500000L), (5L, 4L, 2L, 500000L),
      (6L, 6L, 1L, 1000000L), (7L, 7L, 1L, 1000000L), (8L, 8L, 1L, 1000000L)))
    Dedup.unpersistIntermediates(blocking = true)
  }

  test("tuned overloads: threshold-driven geometry reproduces the hand-set default") {
    // lshParams(0.5, 16) = (4, 4) — so the tuned pair generator must be
    // bit-identical to the raw (numHashes=16, bands=4, minJaccard=0.5)
    // call the suite's other fixtures exercise
    val raw = Dedup.minhashLshPairs(docs, col("doc_id"), col("text"),
      n = 3, numHashes = 16, bands = 4, minJaccard = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val tuned = Dedup.minhashLshPairsTuned(docs, col("doc_id"), col("text"),
      n = 3, numHashes = 16, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(tuned == raw && raw.nonEmpty)
    Dedup.unpersistIntermediates(blocking = true)
  }

  test("MinHash band geometry: numHashes < 1, bands < 1 and a non-dividing split fail at the call, naming the argument") {
    def rejects(arg: String)(call: => Any): Unit = {
      val e = intercept[IllegalArgumentException](call)
      assert(e.getMessage.contains(arg), e.getMessage)
    }
    val (id, text) = (col("doc_id"), col("text"))
    rejects("bands")(Dedup.minhashLshPairs(docs, id, text, 3, 16, bands = 0))
    rejects("bands")(Dedup.minhashLshPairs(docs, id, text, 3, 16, bands = -4))
    rejects("bands")(Dedup.minhashLshPairs(docs, id, text, 3, 16, bands = 5))
    rejects("numHashes")(Dedup.minhashLshPairs(docs, id, text, 3, 0, bands = 4))
    rejects("numHashes")(Dedup.minhashStore(docs, id, text, 3, numHashes = 0))
    val store = Dedup.minhashStore(docs, id, text)
    rejects("bands")(Dedup.bandSignatures(store, 16, bands = -4))
    rejects("bands")(Dedup.incrementalDedup(docs, store, id, text, bands = 0))
    Dedup.unpersistIntermediates(blocking = true)
  }

  test("boilerplateReport ranks grams by occurrences with doc reach") {
    val corpus = Seq(
      (1L, "one two three x"), (2L, "one two three y"),
      (3L, "one two three z one two three w"), // gram occurs twice here
      (4L, "other words pad"))
      .toDF("doc_id", "text")
    val got = Dedup.boilerplateReport(corpus, col("doc_id"), col("text"),
      k = 3, topN = 2)
      .select("rank", "gram", "n_occurrences", "n_docs")
      .as[(Long, String, Long, Long)].collect().toList
    assert(got.head == ((1L, "one two three", 4L, 3L)), s"got $got")
    assert(got.size == 2 && got(1)._1 == 2L)
  }

  test("contaminationSpans marks only benchmark-overlapping train passages") {
    val train = Seq(
      (1L, "intro words the exact eval question text here closing words"),
      (2L, "train only content repeated train only content repeated"), // self-dup, NOT contamination
      (3L, "nothing shared with the benchmark at all today"))
      .toDF("doc_id", "text")
    val bench = Seq(
      (100L, "the exact eval question text here"))
      .toDF("doc_id", "text")
    val got = Dedup.contaminationSpans(train, bench, col("doc_id"), col("text"), k = 3)
      .select("doc_id", "span_start", "span_end", "n_tokens")
      .as[(Long, Long, Long, Long)].collect().toSet
    // doc1 tokens: intro(1) words(2) the(3) exact(4) eval(5) question(6)
    // text(7) here(8) closing(9) words(10) → leaked range = [3,8]
    assert(got == Set((1L, 3L, 8L, 6L)), s"got $got")
  }

  test("contaminationSpansBloom ≡ contaminationSpans (no-false-negative prefilter)") {
    val train = Seq(
      (1L, "intro words the exact eval question text here closing words"),
      (2L, "train only content repeated train only content repeated"),
      (3L, "nothing shared with the benchmark at all today"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, "the exact eval question text here"))
      .toDF("doc_id", "text")
    val exact = Dedup.contaminationSpans(train, bench,
      col("doc_id"), col("text"), k = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    val bloom = Dedup.contaminationSpansBloom(train, bench,
      col("doc_id"), col("text"), k = 3, expectedGrams = 64)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(bloom == exact && exact.nonEmpty)
    // empty benchmark → empty sketch rejects every probe → no overlap,
    // not a task failure
    val none = Dedup.contaminationSpansBloom(train, bench.filter(lit(false)),
      col("doc_id"), col("text"), k = 3)
    assert(none.count() == 0)
    // the prefilter itself prunes: probe a disjoint value set against the
    // benchmark-gram sketch and the pass rate stays ~fpp, far below 1
    val bg = bench.select(explode(graft.functions.TextFunctions.posGrams(
      graft.functions.TextFunctions.tokens(col("text")), 3)).as("pg"))
      .select(col("pg.g").as("g")).distinct()
    val probes = spark.range(0, 1000).selectExpr("cast(id as string) AS g")
    val passed = BloomJoin.prefilter(probes, "g", bg, "g",
      expectedItems = 64, fpp = 0.01).count()
    assert(passed < 100, s"bloom passed $passed of 1000 disjoint probes")
    Dedup.unpersistIntermediates(blocking = true)
  }

  test("contaminationSpansBloom cold-start: parquet gram set + serialized sketch ≡ one-shot") {
    val train = Seq(
      (1L, "intro words the exact eval question text here closing words"),
      (2L, "nothing shared with the benchmark at all today"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, "the exact eval question text here"))
      .toDF("doc_id", "text")
    val oneShot = Dedup.contaminationSpansBloom(train, bench,
      col("doc_id"), col("text"), k = 3, expectedGrams = 64)
      .as[(Long, Long, Long, Long)].collect().toSet
    // the persisted deployment: gram set written once, sketch bytes kept
    val dir = java.nio.file.Files.createTempDirectory("benchgrams").toString
    Dedup.benchGramSet(bench, col("text"), k = 3)
      .write.mode("overwrite").parquet(dir)
    val bg = spark.read.parquet(dir)
    val sketch = BloomJoin.sketchBytes(bg, "g", expectedItems = 64)
    val coldStart = Dedup.contaminationSpansBloom(train,
      col("doc_id"), col("text"), bg, sketch, k = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(coldStart == oneShot && oneShot.nonEmpty)
    Dedup.unpersistIntermediates(blocking = true)
  }

  test("cutSpans removes exactly the duplicated token ranges, keeps the rest") {
    val corpus = Seq(
      (1L, "a b c d e f g h"),   // "a b c d e" duplicated with doc 2
      (2L, "x y a b c d e q r s"),
      (3L, "m n o p m n o p"),   // all tokens covered → empty remainder
      (4L, "totally unrelated words here today"))
      .toDF("doc_id", "text")
    val got = Dedup.cutSpans(corpus, col("doc_id"), col("text"), k = 3)
      .select("doc_id", "clean_text", "n_tokens_kept", "n_tokens_cut")
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, "f g h", 3L, 5L)))
    assert(got(2L) == ((2L, "x y q r s", 5L, 5L)))
    assert(got(3L) == ((3L, "", 0L, 8L)), "fully-duplicated doc → empty text")
    assert(got(4L) == ((4L, "totally unrelated words here today", 5L, 0L)),
      "span-free docs pass through whole")
    Dedup.unpersistIntermediates(blocking = true)
  }

  test("containment maxDocFreq: cap-only-reachable pairs are the documented recall trade") {
    // every shingle of the quote is shared by all 6 docs → df = 6
    val quote = "to be or not to be that is the question"
    val corpus = (1L to 5L).map(i => (i, s"$quote plus unique framing number$i words"))
      .toDF("doc_id", "text")
      .union(Seq((6L, quote)).toDF("doc_id", "text")) // the pure quote
    // uncapped: doc 6 is fully contained in every other doc
    val exact = Dedup.containmentPairs(corpus, col("doc_id"), col("text"), n = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(exact.count(_._1 == 6L) == 5, s"quote contained in all hosts: $exact")
    // cap 3 < df 6: every index posting that could reveal the pair is
    // dropped — the recall trade, visible and deliberate
    val capped = Dedup.containmentPairs(corpus, col("doc_id"), col("text"), n = 3,
      maxDocFreq = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(capped.isEmpty, s"cap must drop stop-shingle-only pairs: $capped")
    // cap above the max df is exact (lossless when nothing crosses it)
    val loose = Dedup.containmentPairs(corpus, col("doc_id"), col("text"), n = 3,
      maxDocFreq = 6)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(loose == exact)
    Dedup.unpersistIntermediates(blocking = true)
  }

  test("bucketed band store: probe reads the store with ZERO store-side exchange") {
    val store = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "completely unrelated existing content about spark engines"))
      .toDF("doc_id", "text")
    val inc = Seq(
      (20L, "the quick brown fox jumps over the lazy dog again and again"), // dup of 10
      (21L, "novel text that matches nothing else in any corpus batch"))
      .toDF("doc_id", "text")
    val sigStore = Dedup.minhashStore(store, col("doc_id"), col("text"))
    Dedup.writeBandStore(sigStore, "graft_band_store",
      numHashes = 16, bands = 4, buckets = 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the shuffle path: the claim is the STORE side never
      // exchanges, not that the store fits in a broadcast
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val storeBands = spark.table("graft_band_store")
      val incBands = Dedup.bandSignatures(
        Dedup.minhashStore(inc, col("doc_id"), col("text")), 16, 4)
      // same key shape as the operator: band_key equi + (band, bsig)
      // order-pair residual (an extra equality would widen the required
      // clustering and the planner would drop the bucketed scan)
      val probe = incBands.as("a").join(storeBands.as("s"),
        col("a.band_key") === col("s.band_key") &&
          col("a.band") <= col("s.band") && col("a.band") >= col("s.band") &&
          col("a.bsig") <= col("s.bsig") && col("a.bsig") >= col("s.bsig"))
      val plan = probe.queryExecution.executedPlan.toString
      // the STORE subtree (the join's right child — printed last, no ':'
      // continuation prefix) must be scan→join with no Exchange; the
      // increment side legitimately shuffles (its own signature agg +
      // the band_key exchange driven by the store's bucketing)
      val lines = plan.linesIterator.toVector
      val storeSide = lines.drop(lines.lastIndexWhere(_.contains("+- Sort")))
      assert(storeSide.exists(_.contains("graft_band_store")),
        s"right child should be the store scan:\n${storeSide.mkString("\n")}")
      assert(storeSide.exists(_.contains("SelectedBucketsCount")),
        s"store scan must be bucket-aware:\n${storeSide.mkString("\n")}")
      assert(!storeSide.exists(_.contains("Exchange")),
        s"store side must not shuffle — its bucketing IS the join partitioning:\n${storeSide.mkString("\n")}")
      // the full operator over the bucketed store matches the plain path
      val got = Dedup.incrementalDedupBanded(inc, storeBands,
        col("doc_id"), col("text")).collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      val want = Dedup.incrementalDedup(inc, sigStore,
        col("doc_id"), col("text")).collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      assert(got == want && got == Map(20L -> Some(10L), 21L -> None))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_band_store")
      Dedup.unpersistIntermediates(blocking = true)
    }
  }

  test("semanticKeep drops the later id of each within-cluster close pair") {
    // stride 5 → the only centroid is id 0, every row lands in cluster 0
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.99f, 0.01f)), // cos(0,1) ≈ 0.99995 → dropped (0 earlier)
      (2L, Array(0.0f, 1.0f)), // orthogonal to everything kept
      (3L, Array(-1.0f, 0.0f)), // opposite
      (4L, Array(0.7f, 0.7f))) // cos(0,4) ≈ 0.707 < 0.95 → kept
      .toDF("vec_id", "embedding")
    val kept = Dedup.semanticKeep(emb, col("vec_id"), col("embedding"),
      minCosine = 0.95, centroidStride = 5)
      .as[(Long, Long)].collect().toSet
    assert(kept == Set((0L, 0L), (2L, 0L), (3L, 0L), (4L, 0L)))
  }

  test("semanticKeep fails loudly when the stride selects no centroid ids") {
    val emb = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Dedup.semanticKeep(emb, col("vec_id"), col("embedding"),
        minCosine = 0.9, centroidStride = 50)
    }
    assert(e.getMessage.contains("centroidStride"))
  }

  test("semanticKeep refuses the flat stride path past maxFlatCentroids") {
    // stride 1 → every row a centroid: 4 centroids > bound 2 → the
    // N²/stride flat assignment must throw, pointing at trained centroids
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Dedup.semanticKeep(emb, col("vec_id"), col("embedding"),
        minCosine = 0.9, centroidStride = 1, maxFlatCentroids = 2)
    }
    assert(e.getMessage.contains("maxFlatCentroids"))
    assert(e.getMessage.contains("kmeansCentroids"))
    // a trained centroid table bypasses the stride bound entirely
    val trained = Seq((0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)))
      .toDF("c_id", "cv")
    val kept = Dedup.semanticKeep(emb, col("vec_id"), col("embedding"),
      minCosine = 0.9, centroids = Some(trained), maxFlatCentroids = 2)
      .as[(Long, Long)].collect().toSet
    assert(kept == Set((0L, 0L), (2L, 1L)))
  }

  test("semanticKeep accepts trained centroids (the paper's k-means clustering)") {
    // ids 1..4 so the stride-50 contract would fail — the trained table
    // must bypass it; both near-dup pairs share a trained cluster → the
    // later id of each pair is dropped
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.99f, 0.01f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.01f, 0.99f)))
      .toDF("vec_id", "embedding")
    val trained = Seq(
      (0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0))).toDF("c_id", "cv")
    val kept = Dedup.semanticKeep(emb, col("vec_id"), col("embedding"),
      minCosine = 0.95, centroids = Some(trained))
      .as[(Long, Long)].collect().toSet
    assert(kept == Set((1L, 0L), (3L, 1L)))
  }

  test("semanticKeep cannot see cross-cluster dups (the documented recall trade)") {
    // stride 2 → centroids {0, 2}; 1 and 3 are near-identical
    // (cos ≈ 0.9999) but straddle the centroid boundary: 1 leans to
    // centroid 0, 3 to centroid 2 → different clusters → both survive.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.71f, 0.70f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.70f, 0.71f)))
      .toDF("vec_id", "embedding")
    val out = Dedup.semanticKeep(emb, col("vec_id"), col("embedding"),
      minCosine = 0.99, centroidStride = 2)
      .as[(Long, Long)].collect().toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L)) // nothing dropped at 0.99
    assert(out(0L) == 0L && out(1L) == 0L && out(2L) == 2L && out(3L) == 2L)
  }

  // multi-line docs sharing a boilerplate footer line (the C4 shape)
  private def linedDocs: DataFrame = Seq(
    (1L, "unique opening line\nshared footer line"),
    (2L, "another distinct body\nshared footer line"),
    (3L, "third page content\nshared footer line"),
    (4L, "no footer on this one"))
    .toDF("doc_id", "text")

  test("segmentDedup drops the corpus-wide boilerplate line, keeps the rest") {
    // footer appears in 3/4 docs = 750000 ppm >= 700000 threshold
    val out = Dedup.segmentDedup(linedDocs, col("doc_id"), col("text"),
      sep = "\n", dfPpmThreshold = 700000L)
      .select("doc_id", "clean_text", "n_kept", "n_dropped")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == (("unique opening line", 1L, 1L)))
    assert(out(2L) == (("another distinct body", 1L, 1L)))
    assert(out(3L) == (("third page content", 1L, 1L)))
    assert(out(4L) == (("no footer on this one", 1L, 0L)))
  }

  test("segmentDedup above-max threshold is the identity; every doc survives") {
    val out = Dedup.segmentDedup(linedDocs, col("doc_id"), col("text"),
      sep = "\n", dfPpmThreshold = 1000001L)
      .select("doc_id", "clean_text", "n_dropped")
      .as[(Long, String, Long)].collect()
    val orig = linedDocs.as[(Long, String)].collect().toMap
    assert(out.length == 4)
    out.foreach { case (id, ct, nd) =>
      assert(ct == orig(id) && nd == 0L)
    }
  }

  test("segmentDedup keeps a fully-boilerplate doc as an empty-text row") {
    val df = Seq(
      (1L, "common line"), (2L, "common line"), (3L, "common line"))
      .toDF("doc_id", "text")
    val out = Dedup.segmentDedup(df, col("doc_id"), col("text"),
      sep = "\n", dfPpmThreshold = 500000L)
      .select("doc_id", "clean_text", "n_kept", "n_dropped")
      .as[(Long, String, Long, Long)].collect()
    assert(out.length == 3)
    out.foreach { case (_, ct, k, d) => assert(ct == "" && k == 0L && d == 1L) }
  }

  test("segmentDedup separator occurrences inside kept text round-trip") {
    // sep = " ": word-granularity (the synthetic-corpus wiring); empty
    // segments from double spaces are never counted but always kept, so
    // spacing reconstructs exactly
    val df = Seq((1L, "a  b"), (2L, "a c"), (3L, "a d")).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(df, col("doc_id"), col("text"),
      sep = " ", dfPpmThreshold = 900000L) // only "a" (3/3 docs) crosses
      .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
    assert(out(1L) == " b") // "a" dropped, empty segment kept, then "b"
    assert(out(2L) == "c" && out(3L) == "d")
  }

  test("default persist level is deserialized on the RDDs a run adds") {
    // the r18 cache-level A/B measured MEMORY_AND_DISK_SER 1.30x SLOWER on
    // d3 at sf10 (Dataset caches are columnar batches either way), so
    // Dedup.cached parks MEMORY_AND_DISK. Only RDDs this run persisted are
    // inspected: caches left by earlier tests must not decide the outcome.
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "x y z w q"))
      .toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Dedup.minhashLshPairs(docs, col("doc_id"), col("text"),
      n = 3, numHashes = 16, bands = 4, minJaccard = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val added = spark.sparkContext.getPersistentRDDs.filter {
      case (id, _) => !before.contains(id) }
    try {
      assert(added.nonEmpty, "the run must persist its intermediates")
      added.values.foreach { r =>
        assert(r.getStorageLevel.deserialized,
          s"RDD ${r.id} parked ${r.getStorageLevel.description}")
      }
      assert(out === Set((1L, 2L)))
    } finally Dedup.unpersistIntermediates(blocking = true)
  }
}
