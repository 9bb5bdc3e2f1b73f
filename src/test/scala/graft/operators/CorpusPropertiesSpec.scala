package graft.operators

import graft.TestSpark
import graft.functions.TextFunctions.{distinctTokenPpm, symbolPpm, tokens}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants for the corpus-curation operators over
  * arbitrary corpora (random id gaps, token counts, budgets, shard
  * counts):
  *   packing is a partition of the corpus,
  *   no multi-doc pack exceeds the budget,
  *   pack ids are contiguous and monotone in doc order,
  *   packing is greedy-maximal (the first doc of pack p+1 never fits p),
  *   hash sampling composes: sample(subset) == subset(sample).
  *
  * Generators are seeded deterministically so failures reproduce.
  */
class CorpusPropertiesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // sparse non-negative ids (gaps exercise the shard hash), 0..30 tokens
  private val corpusGen: Gen[List[(Long, Int)]] =
    Gen.choose(0, 40).flatMap { n =>
      Gen.listOfN(n, for {
        id <- Gen.choose(0L, 500L)
        tok <- Gen.choose(0, 30)
      } yield (id, tok))
    }.map(_.groupBy(_._1).map { case (id, rs) => (id, rs.head._2) }.toList)

  private def sample(seed: Long): List[(Long, Int)] =
    corpusGen.pureApply(Gen.Parameters.default, Seed(seed))

  test("packTokens: partition, budget, contiguity, greedy maximality (20 random corpora)") {
    (1 to 20).foreach { i =>
      val corpus = sample(i.toLong)
      val budget = 10L + (i * 7) % 60
      val shards = 1 + i % 5
      // text with a known token count: k repetitions of a word
      val df = corpus.map { case (id, k) => (id, Seq.fill(k)("tok").mkString(" ")) }
        .toDF("doc_id", "text")
      val out = Corpus.packTokens(df, col("doc_id"), col("text"), shards, budget)
        .as[(Long, Long, Long, Long)].collect()

      // partition: every doc exactly once, with its true token count and shard
      assert(out.length == corpus.size, s"case $i: lost or duplicated docs")
      val toks = corpus.toMap
      out.foreach { case (sh, id, n, _) =>
        assert(n == toks(id).toLong, s"case $i: token count mismatch for $id")
        assert(sh == ((id % Corpus.IdMod) * Corpus.ShardMult) % shards,
          s"case $i: wrong shard for $id")
      }

      out.groupBy(_._1).foreach { case (_, rows) =>
        val inOrder = rows.sortBy(_._2)
        // pack ids contiguous from 1 and monotone in doc order
        val packs = inOrder.map(_._4)
        assert(packs.head == 1L, s"case $i: first pack must be 1")
        packs.sliding(2).foreach { w =>
          if (w.size == 2) assert(w(1) == w(0) || w(1) == w(0) + 1,
            s"case $i: pack ids must step by 0 or 1, got $packs")
        }
        val byPack = inOrder.groupBy(_._4)
        byPack.foreach { case (p, members) =>
          val total = members.map(_._3).sum
          // budget respected unless a single oversized doc
          assert(total <= budget || members.size == 1,
            s"case $i: pack $p over budget ($total > $budget) with ${members.size} docs")
          // greedy maximality: the opener of the next pack did not fit here
          byPack.get(p + 1).foreach { next =>
            val opener = next.minBy(_._2)._3
            assert(total + opener > budget,
              s"case $i: pack ${p + 1}'s opener ($opener tokens) fit pack $p ($total/$budget)")
          }
        }
      }
    }
  }

  test("stratifiedSample composes: sample of a subset == subset of the sample") {
    (1 to 10).foreach { i =>
      val corpus = sample(100L + i)
      val df = corpus.map { case (id, k) => (id, if (k % 2 == 0) "en" else "de") }
        .toDF("doc_id", "lang")
      val rates = Map("en" -> 30)
      def ids(d: org.apache.spark.sql.DataFrame): Set[Long] =
        Corpus.stratifiedSample(d, col("doc_id"), col("lang"), rates, 60)
          .select("doc_id").as[Long].collect().toSet
      val whole = ids(df)
      val subset = df.filter(col("doc_id") % 3 === 0)
      assert(ids(subset) == whole.filter(_ % 3 == 0),
        s"case $i: hash sampling must commute with subsetting")
    }
  }

  test("epochOrder: contiguous permutation for random corpora and partition counts") {
    (1 to 10).foreach { i =>
      val corpus = sample(200L + i)
      if (corpus.nonEmpty) {
        val df = corpus.map { case (id, _) => Tuple1(id) }.toDF("doc_id")
        // partition counts around and beyond the corpus size exercise empty
        // range partitions (their zero counts must not shift the offsets)
        val parts = Seq(1, 3, corpus.size + 5)(i % 3)
        val out = Corpus.epochOrder(df, col("doc_id"), epoch = i, partitions = parts)
          .as[(Long, Long)].collect()
        assert(out.map(_._1).toSet == corpus.map(_._1).toSet, s"case $i: docs lost")
        assert(out.map(_._2).sorted.toSeq == (1L to corpus.size.toLong).toSeq,
          s"case $i ($parts partitions): ranks not a contiguous 1..N")
        // rank order agrees with the hash order (the single-window oracle)
        val expected = corpus.map(_._1).sortBy(id =>
          ((((id + i.toLong * Corpus.EpochStride) % Corpus.IdMod) * Corpus.SplitMult)
            % 4294967296L, id))
        assert(out.sortBy(_._2).map(_._1).toSeq == expected,
          s"case $i: permutation diverged from hash order")
      }
    }
    Corpus.unpersistIntermediates()
  }

  test("temperatureMix: rarest domain kept whole; kept share tracks sqrt-flattened target") {
    (1 to 10).foreach { i =>
      val corpus = sample(300L + i)
      if (corpus.size >= 10) {
        val df = corpus.map { case (id, k) => (id, s"dom${k % 3}") }
          .toDF("doc_id", "dom")
        val counts = corpus.groupBy(t => s"dom${t._2 % 3}").view.mapValues(_.size.toLong).toMap
        if (counts.size >= 2) {
          val minCnt = counts.values.min
          val out = Corpus.temperatureMix(df, col("doc_id"), col("dom"))
            .select("doc_id", "dom", "rate_ppm").as[(Long, String, Long)].collect()
          val rates = out.map(r => r._2 -> r._3).toMap
          rates.foreach { case (dom, rate) =>
            val expect = math.floor(
              math.sqrt(minCnt.toDouble / counts(dom).toDouble) * 1000000.0).toLong
            assert(rate == expect, s"case $i: rate for $dom")
          }
          // every member of a minimum-count domain survives (rate ≡ 1e6)
          counts.filter(_._2 == minCnt).keys.foreach { dom =>
            assert(out.count(_._2 == dom) == minCnt.toInt,
              s"case $i: rarest domain $dom must be kept whole")
          }
        }
      }
    }
  }

  test("weightedSample: subset, per-stratum cap, and cap-monotone prefix (random corpora)") {
    (1 to 15).foreach { i =>
      val corpus = sample(i.toLong).map { case (id, k) => (id, 1L + k.toLong) }
      if (corpus.nonEmpty) {
        val df = corpus.map { case (id, w) =>
          (id, if (id % 2 == 0) "a" else "b", w)
        }.toDF("doc_id", "stratum", "w")
        val cap = 1 + i % 7
        def keptAt(c: Int): Set[Long] =
          Corpus.weightedSample(df, col("doc_id"), col("stratum"), col("w"), c)
            .select("doc_id").as[Long].collect().toSet
        val kept = keptAt(cap)
        val ids = corpus.map(_._1).toSet
        assert(kept.subsetOf(ids), s"case $i: sampled ids must come from the corpus")
        val byStratum = corpus.groupBy { case (id, _) => id % 2 == 0 }
        byStratum.foreach { case (even, members) =>
          val inStratum = kept.count(id => (id % 2 == 0) == even)
          assert(inStratum == math.min(cap, members.size),
            s"case $i: stratum must keep exactly min(cap, size)")
        }
        // raising the cap only ADDS rows (the A-ES ranking is a fixed
        // total order per stratum; cap is a prefix length)
        assert(kept.subsetOf(keptAt(cap + 3)),
          s"case $i: cap must be prefix-monotone")
      }
    }
  }

  test("gumbelTopK: subset, per-stratum cap, and cap-monotone prefix (random corpora)") {
    (1 to 15).foreach { i =>
      // log-weights spanning ± tens of nats (k − 15 ∈ [−15, 15])
      val corpus = sample(i.toLong).map { case (id, k) => (id, k.toDouble - 15.0) }
      if (corpus.nonEmpty) {
        val df = corpus.map { case (id, lw) =>
          (id, if (id % 2 == 0) "a" else "b", lw)
        }.toDF("doc_id", "stratum", "lw")
        val cap = 1 + i % 7
        def keptAt(c: Int): Set[Long] =
          Corpus.gumbelTopK(df, col("doc_id"), col("lw"), c, col("stratum"))
            .select("doc_id").as[Long].collect().toSet
        val kept = keptAt(cap)
        val ids = corpus.map(_._1).toSet
        assert(kept.subsetOf(ids), s"case $i: sampled ids must come from the corpus")
        val byStratum = corpus.groupBy { case (id, _) => id % 2 == 0 }
        byStratum.foreach { case (even, members) =>
          val inStratum = kept.count(id => (id % 2 == 0) == even)
          assert(inStratum == math.min(cap, members.size),
            s"case $i: stratum must keep exactly min(cap, size)")
        }
        // the Gumbel keys are a fixed total order per stratum; cap is a
        // prefix length, so raising it only ADDS rows
        assert(kept.subsetOf(keptAt(cap + 3)),
          s"case $i: cap must be prefix-monotone")
      }
    }
  }

  test("chunkTokens: coverage, bounds, and overlap reconstruction (random corpora)") {
    val docGen: Gen[List[(Long, Int)]] = Gen.choose(1, 15).flatMap { n =>
      Gen.listOfN(n, for {
        id <- Gen.choose(0L, 200L)
        tok <- Gen.choose(0, 40)
      } yield (id, tok))
    }.map(_.groupBy(_._1).map { case (id, rs) => (id, rs.head._2) }.toList)
    (1 to 15).foreach { i =>
      val corpus = docGen.pureApply(Gen.Parameters.default, Seed(1000L + i))
      val chunkSize = 2 + i % 9
      val overlap = i % chunkSize
      val stride = chunkSize - overlap
      val df = corpus.map { case (id, tok) =>
        (id, (0 until tok).map(j => s"t$j").mkString(" "))
      }.toDF("doc_id", "text")
      val out = Corpus.chunkTokens(df, col("doc_id"), col("text"), chunkSize, overlap)
        .select("doc_id", "chunk_id", "chunk_text", "n_tokens")
        .as[(Long, Long, String, Long)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
      corpus.foreach { case (id, tok) =>
        val chunks = out.getOrElse(id, Array.empty[(Long, Long, String, Long)])
        if (tok == 0) assert(chunks.isEmpty, s"case $i: empty doc $id must yield no chunks")
        else {
          val expectK = math.max(1L, (tok - overlap + stride - 1L) / stride)
          assert(chunks.map(_._2).toSeq == (0L until expectK),
            s"case $i doc $id: chunk ids must be contiguous 0..${expectK - 1}")
          chunks.foreach { case (_, cid, txt, nt) =>
            assert(nt >= 1 && nt <= chunkSize, s"case $i doc $id chunk $cid: size $nt")
            assert(txt.split(" ").length == nt)
            // chunk content is exactly tokens [cid*stride, cid*stride+nt)
            val start = (cid * stride).toInt
            assert(txt == (start until start + nt.toInt).map(j => s"t$j").mkString(" "),
              s"case $i doc $id chunk $cid: wrong window")
          }
          // stitching chunks (dropping each later chunk's overlap) == doc
          val stitched = chunks.zipWithIndex.flatMap { case ((_, _, txt, _), j) =>
            val ws = txt.split(" ").toSeq
            if (j == 0) ws else ws.drop(overlap)
          }
          assert(stitched.toSeq == (0 until tok).map(j => s"t$j"),
            s"case $i doc $id: chunks must reconstruct the document")
        }
      }
    }
  }

  /** Non-distinct word bigram list (the top-bigram mode needs
    * multiplicity; `shingles` deduplicates).
    */
  private def bigramList(toks: Column): Column =
    when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat_ws(" ", slice(toks, i, lit(2)))))
      .otherwise(array().cast("array<string>"))

  /** The aggregation formulation of [[Corpus.repetitionProfile]], the
    * oracle its per-row kernel must match: explode bigrams, count per
    * (doc, bigram), then max/total per doc.
    */
  private def repetitionProfileAgg(
      docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(id.as("doc_id"),
        // materialize the per-doc ratios BEFORE the explode: expressions
        // sharing a select with a generator end up in the Project above
        // the Generate and are re-evaluated once per exploded row
        distinctTokenPpm(text).as("d_ppm"), symbolPpm(text).as("s_ppm"),
        text.as("_text"))
      .select(col("doc_id"), col("d_ppm"), col("s_ppm"),
        explode_outer(bigramList(tokens(col("_text")))).as("bg"))
      .groupBy(col("doc_id"), col("bg"))
      .agg(count(col("bg")).as("cnt"), // count() skips the null bg of <2-token docs
        min("d_ppm").as("d_ppm"), min("s_ppm").as("s_ppm"))
      .groupBy(col("doc_id"))
      .agg(max("cnt").as("maxc"), sum("cnt").as("total"),
        min("d_ppm").as("distinct_token_ppm"), min("s_ppm").as("symbol_ppm"))
      .select(col("doc_id"),
        when(col("total") === 0, lit(0L))
          .otherwise(floor(col("maxc") * 1000000L / col("total")).cast("long"))
          .as("top_bigram_ppm"),
        col("distinct_token_ppm"), col("symbol_ppm"))

  test("r18 OPT: repetitionProfile kernel ≡ aggregation formulation " +
      "(15 random corpora incl. null/empty/single-token/looped docs)") {
    val wordGen = Gen.oneOf("a", "b", "cc", "dd", "x1", "!!", "")
    val docGen: Gen[String] = Gen.choose(0, 12).flatMap(n =>
      Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    (1 to 15).foreach { i =>
      val texts = Gen.listOfN(10, docGen)
        .pureApply(Gen.Parameters.default, Seed(3000L + i))
      // force the edge rows every time: null text, empty, single token,
      // and a looped-boilerplate doc (the mode the filter exists to catch)
      val rows = (texts ++ Seq(null, "", "solo", "spam spam spam spam"))
        .zipWithIndex.map { case (t, j) => (j.toLong, t) }
      val df = rows.toDF("doc_id", "text")
      def run(d: org.apache.spark.sql.DataFrame) =
        d.as[(Long, Long, Option[Long], Option[Long])].collect().sortBy(_._1).toSeq
      val fast = run(Corpus.repetitionProfile(df, col("doc_id"), col("text")))
      val agg = run(repetitionProfileAgg(df, col("doc_id"), col("text")))
      assert(fast == agg, s"case $i")
    }
  }
}
