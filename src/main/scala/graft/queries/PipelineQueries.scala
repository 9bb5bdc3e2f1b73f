package graft.queries

import graft.functions.TextFunctions
import graft.functions.TextFunctions._
import graft.operators.{Corpus, Dedup, Multimodal, Similarity, VectorIndex}
import graft.operators.Similarity.{Hier, HierMass, Mass, Nearest}
import graft.sources.Sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline queries over `documents` / `embeddings` /
  * `events` — dedup, similarity search, multimodal plumbing, text
  * analysis, event-time analytics. These extend the reference surface per
  * the north star (BASELINE.json).
  *
  * Oracle strategy: every deterministic operator ships a DuckDB SQL oracle
  * computing the SAME arithmetic (polynomial hashes, minhash coefficients,
  * simhash votes are all plain integer math both engines evaluate
  * identically). The "approximate" ANN variants (s2/s3) are approximate
  * w.r.t. the exact top-k but fully DETERMINISTIC algorithms (hyperplanes
  * and centroids are pure integer math), so they are hash-checked too —
  * the oracle replays the same bucketing/assignment in SQL.
  */
object PipelineQueries {

  private type Q = (SparkSession, String) => DataFrame

  /** Rebalance a fresh SOURCE scan: the local testdata files are single
    * row groups, so a bare scan is ONE task no matter how
    * `maxPartitionBytes` is tuned, and every per-row-heavy stage above it
    * (tokenize, shingle, hash, dot products) would run on one core
    * (SURVEY §8.1); a round-robin rebalance spreads that map work for the
    * price of shuffling a few MB. But the repartition is
    * only the remedy for UNDER-SPLIT inputs — on a production-sized
    * source the scan already yields ≥ cores of splits and a round-robin
    * exchange is a pure full-corpus reshuffle. So it is SKIPPED when the
    * scan's plan-stat bytes guarantee at least `defaultParallelism`
    * natural splits (cores × spark.sql.files.maxPartitionBytes) — derived
    * from conf, not a constant tuned for either mode (r18 OPT, guide §2.2
    * "make partitioning scale-adaptive"). sf0.1 and below stay on the
    * repartition path, so the bench contract is untouched.
    */
  private[queries] def rebalance(s: SparkSession, df: DataFrame): DataFrame = {
    val maxPart = try {
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        s.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    } catch { case _: Throwable => 134217728L }
    val threshold = BigInt(s.sparkContext.defaultParallelism.toLong) * maxPart
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes >= threshold) df
    else df.repartition(s.sparkContext.defaultParallelism)
  }

  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    rebalance(s, Sources.parquet(s, s"$dir/$name.parquet"))

  /** Events `ts` column, schema-adaptive: some testdata generations write
    * TIMESTAMP(NANOS) (which Spark's vectorized reader rejects — read the
    * raw nanos as long and downconvert, exact since the data is
    * µs-grained); newer generations write TIMESTAMP(MICROS) directly.
    */
  private def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(s, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        // µs parquet arrives as TIMESTAMP_NTZ; cast to TIMESTAMP_LTZ so
        // unix_micros & friends resolve. Session tz is pinned to UTC, so
        // the cast is exact and agrees with DuckDB's epoch_us on the
        // same naive values.
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }

  // ------------------------------------------------------------------
  // DuckDB oracle fragments (keep in lockstep with TextFunctions)
  // ------------------------------------------------------------------

  /** DuckDB: lowercased alnum tokens of expression `e`. */
  private[queries] def sqlToks(e: String) =
    s"list_filter(regexp_split_to_array(lower($e), '[^a-z0-9]+'), x -> x <> '')"

  /** DuckDB: the exact n-gram-Jaccard pair set at threshold 0.5 — the
    * shared ground truth of d2 (inverted-index formulation) and d19
    * (prefix-filtered formulation, lossless by construction).
    */
  private lazy val sqlExactJaccard =
    s"""WITH toks AS (SELECT doc_id, ${sqlToks("text")} AS w FROM documents),
       |sh AS (SELECT doc_id, unnest(${sqlShingles("w")}) AS s FROM toks),
       |cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  (inter * 1000000) // (ca.n_sh + cb.n_sh - inter) AS jaccard_ppm
       |FROM pairs
       |JOIN cnt ca ON ca.doc_id = doc_a
       |JOIN cnt cb ON cb.doc_id = doc_b
       |WHERE inter * 1000000 >= 500000 * (ca.n_sh + cb.n_sh - inter)""".stripMargin

  /** DuckDB CTEs `qm, q`: per-doc `qual_ppm` in lockstep with
    * `TextFunctions.qualityScorePpm` (shared by the t6 gate and the t14
    * tier assignment).
    */
  private lazy val sqlQualCtes =
    s"""qm AS (
       |  SELECT doc_id,
       |    length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))::BIGINT AS alnum_len,
       |    length(text)::BIGINT AS n_chars,
       |    ${sqlToks("text")} AS w
       |  FROM documents),
       |q AS (
       |  SELECT doc_id,
       |    ((least(1000000, len(w)::BIGINT * 10000)) * 5
       |     + (CASE WHEN len(w) > 0
       |          THEN (${sqlHits("w", TextFunctions.EnStop)}::BIGINT * 1000000) // len(w)
       |          ELSE 0 END) * 3
       |     + (CASE WHEN n_chars = 0 THEN 0
       |          ELSE (alnum_len * 1000000) // n_chars END) * 2) // 10 AS qual_ppm
       |  FROM qm)""".stripMargin

  /** DuckDB: polynomial rolling hash of string expression `e` (must match
    * TextFunctions.polyHash exactly).
    */
  private[queries] def sqlPolyHash(e: String) =
    s"""CASE WHEN length($e) = 0 THEN 0 ELSE
       |  list_reduce(list_transform(range(1, length($e)+1),
       |                             i -> ascii(substr($e, i, 1))::BIGINT),
       |              (x, y) -> (x*31 + y) % 1000000007) END""".stripMargin

  /** DuckDB: distinct word 3-gram shingles of token-list expression `w`. */
  private[queries] def sqlShingles(w: String) =
    s"""CASE WHEN len($w) >= 3 THEN
       |  list_distinct(list_transform(range(1, len($w)-1),
       |                               i -> $w[i] || ' ' || $w[i+1] || ' ' || $w[i+2]))
       |  ELSE [] END""".stripMargin

  private def sqlIn(words: Seq[String]) = words.map(w => s"'$w'").mkString("(", ", ", ")")
  private[queries] def sqlHits(toks: String, words: Seq[String]) =
    s"len(list_filter($toks, t -> t IN ${sqlIn(words)}))"

  // ------------------------------------------------------------------
  // Text analysis
  // ------------------------------------------------------------------

  private val t1: Q = (s, dir) =>
    t(s, dir, "documents").select(
      col("doc_id"),
      tokenCount(col("text")).cast("long").as("n_tokens"),
      bpeishCount(col("text")).cast("long").as("n_bpeish"),
      avgTokenLen(col("text")).as("avg_token_len"))

  private val t2: Q = (s, dir) =>
    t(s, dir, "documents").select(
      col("doc_id"),
      alnumRatio(col("text")).as("alnum_ratio"),
      stopwordRatio(col("text")).as("stop_ratio"),
      qualityScore(col("text")).as("quality"))

  private val t3: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(langId(col("text")).as("lang_guess"))
      .groupBy("lang_guess").agg(count(lit(1)).as("n"))

  private val t4: Q = (s, dir) =>
    t(s, dir, "documents").select(
      col("doc_id"), polyHash(col("text")).as("fingerprint"))

  // Gopher-style repetition/noise filters in exact integer ppm; `keep` is
  // the composed gate (thresholds picked to split this corpus: top-bigram
  // p99 ≈ 111k ppm, distinct-token p01 ≈ 293k ppm). Emitted as 1/0 BIGINT
  // — hash-compare on stringified booleans is representation-fragile.
  private val t5: Q = (s, dir) =>
    Corpus.repetitionProfile(t(s, dir, "documents"), col("doc_id"), col("text"))
      .withColumn("keep",
        (col("top_bigram_ppm") <= 100000L && col("distinct_token_ppm") >= 300000L &&
          col("symbol_ppm") <= 100000L).cast("long"))

  // the full Gopher rule set (Rae et al. A1.1) in one shuffle-free
  // projection — per-rule measured values plus the folded keep flag;
  // default thresholds, which split this corpus on word count (10–99
  // words, median 56, vs minWords = 50)
  private val t11: Q = (s, dir) =>
    Corpus.gopherRules(t(s, dir, "documents"), col("doc_id"), col("text"))

  // decile quality tiers: nine exact interpolated thresholds from ONE
  // reduce, broadcast back; tier = 1 + #thresholds ≤ score. The scalable
  // alternative to ntile, whose unpartitioned window would global-sort
  // the corpus into a single task.
  private val t14: Q = (s, dir) => {
    val scored = graft.operators.Corpus.cached(
      t(s, dir, "documents").select(col("doc_id"),
        qualityScorePpm(col("text")).as("qual_ppm")))
    val thr = scored.agg(percentile(col("qual_ppm"),
      lit(Array(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9))).as("_thr"))
    scored.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("qual_ppm"),
        expr("aggregate(_thr, 1L, (acc, t) -> acc + IF(qual_ppm >= t, 1L, 0L))")
          .as("tier"))
  }

  // global quality gate: drop the bottom decile by quality score — the
  // exact-percentile threshold is ONE reduce to a single row, broadcast
  // back over the corpus (no window, no global sort; `percentile` ≡
  // DuckDB quantile_cont bit-for-bit on integer ppm inputs, cf. a1)
  private val t6: Q = (s, dir) => {
    // cache the scored frame (as c9 does): the gate consumes it twice
    // (percentile reduce + filter), and without the cache boundary the
    // filter's inferred isnotnull(qualityScorePpm(text)) is pushed into
    // the single-split scan — the whole tokenize pipeline, serially
    val scored = graft.operators.Corpus.cached(
      t(s, dir, "documents").select(col("doc_id"),
        qualityScorePpm(col("text")).as("qual_ppm")))
    graft.operators.Corpus.percentileGate(scored, col("qual_ppm"), 0.1)
      .select(col("doc_id"), col("qual_ppm"))
  }

  // corpus-frequency commonness profile — the exact-integer unigram
  // stand-in for perplexity filtering (SURVEY §8.16: a real log-prob
  // would not replay across engines)
  private val t8: Q = (s, dir) =>
    Corpus.tokenRarity(t(s, dir, "documents"), col("doc_id"), col("text"))

  // corpus-level vocabulary health report (the Zipf/Heaps sanity numbers
  // a tokenizer-training run checks first): token/type/hapax counts, the
  // hapax share, and the head-heaviness (top-100 term share). One vocab
  // aggregation feeds everything; the top-100 slice is a TakeOrdered over
  // the (already corpus-bounded) vocab table with a deterministic
  // (count desc, term asc) tiebreak the oracle replays.
  private val t13: Q = (s, dir) => {
    val tc = graft.operators.Corpus.cached(
      t(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c")))
    val top = tc.orderBy(col("c").desc, col("tok").asc).limit(100)
      .agg(sum(col("c")).as("top100"))
    tc.agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .crossJoin(top)
      .select(col("n_tokens"), col("n_types"), col("n_hapax"),
        expr("n_hapax * 1000000 div n_types").as("hapax_ppm"),
        expr("top100 * 1000000 div n_tokens").as("top100_share_ppm"))
  }

  // per-document token-distribution Shannon entropy in integer micro-nats
  // (the diversity signal distinct_token_ppm approximates): each term's
  // -(c/n)·ln(c/n) contribution is rounded ONCE to micro-nats, then doc
  // entropy is an exact BIGINT sum — order-independent, replayed
  // bit-for-bit (the c15 DSIR rounding convention). Two shuffles: one
  // (doc, token) count agg, one doc-keyed window+agg.
  private val t12: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val tc = t(s, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("doc_id")))
    tc.select(col("doc_id"), col("n"),
        round((col("c").cast("double") / col("n")) *
          log(col("n").cast("double") / col("c")) * 1e6)
          .cast("long").as("term_micro"))
      .groupBy(col("doc_id"), col("n").as("n_tokens"))
      .agg(sum(col("term_micro")).as("entropy_micro_nats"))
  }

  // Count-Min frequency sketch over the token stream: one bounded-state
  // pass (depth×width longs) instead of a full-vocab groupBy — probed for
  // a fixed term set and reported next to the exact counts, so the
  // one-sided over-count contract is visible in the output itself
  private val CmsDepth = 4
  private val CmsWidth = 1024
  private val t9: Q = (s, dir) => {
    import graft.functions.CountMinSketch
    val cms = udaf(new CountMinSketch(CmsDepth, CmsWidth),
      org.apache.spark.sql.Encoders.scalaLong)
    // two consumers (sketch agg + exact probe counts): persist the token
    // stream or both branches re-scan and re-tokenize the corpus
    val toks = Corpus.cached(
      t(s, dir, "documents").select(explode(tokens(col("text"))).as("term")))
    val sk = toks.agg(cms(polyHash(col("term"))).as("sk"))
    val probes = s.createDataFrame(
      Seq("dup", "spark", "merge", "data", "the", "absent_term").map(Tuple1(_)))
      .toDF("term")
    val exact = toks.groupBy("term").agg(count(lit(1)).as("exact_count"))
    probes.crossJoin(broadcast(sk))
      .select(col("term"),
        CountMinSketch.estimate(col("sk"), polyHash(col("term")),
          CmsDepth, CmsWidth).as("est_count"))
      .join(exact, Seq("term"), "left")
      .select(col("term"), col("est_count"),
        coalesce(col("exact_count"), lit(0L)).as("exact_count"))
  }

  // denylist scrub: the redaction pipeline stage. The pattern set is the
  // operator's parameter — PII shapes (emails, IPv4, phone runs) slot in
  // unchanged (spec-tested on synthetic rows; this corpus contains no
  // digits, so the oracle-gated instance uses a term denylist that
  // actually exercises the matcher)
  private val ScrubPattern = "\\b(customer|order|part)\\b"
  private val ScrubMark = "[REDACTED]"
  private val t7: Q = (s, dir) =>
    t(s, dir, "documents").select(
      col("doc_id"),
      TextFunctions.scrubCount(col("text"), ScrubPattern).as("n_hits"),
      length(TextFunctions.scrub(col("text"), ScrubPattern, ScrubMark))
        .cast("long").as("red_len"),
      polyHash(TextFunctions.scrub(col("text"), ScrubPattern, ScrubMark))
        .as("red_fp"))

  // CCNet-shaped LM filter: every 10th doc plays the clean reference
  // corpus, the rest score against its bigram model — exact integer ppm,
  // add-one smoothing, so the oracle replays the model AND the scoring
  private val t10: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    graft.operators.NgramLm.bigramScore(
      docs.filter(col("doc_id") % 10 =!= 0), col("doc_id"), col("text"),
      docs.filter(col("doc_id") % 10 === 0), col("text"))
  }

  // ------------------------------------------------------------------
  // Dedup
  // ------------------------------------------------------------------

  private val d1: Q = (s, dir) =>
    Dedup.exact(t(s, dir, "documents"), col("text"), col("doc_id"))
      .select(col("keep_id"), col("n_copies"))

  private val d2: Q = (s, dir) =>
    Dedup.ngramJaccardPairs(t(s, dir, "documents"), col("doc_id"), col("text"),
      n = 3, minJaccard = 0.5)

  // 8-row bands: on a small-vocabulary corpus the background pairwise
  // Jaccard is ~0.2-0.3, and r=4 bands would let J^4 ≈ 1% of ALL pairs
  // through to the exact-verify join; r=8 cuts that to ~1e-4 while keeping
  // ~planted-dup (J ≥ 0.97) recall at 1-(1-J^8)^4 ≈ 0.999.
  // stop-shingle cap: the skew knob for web-scale corpora (shingles in
  // >maxDocFreq docs are join-skew, not signal); the oracle applies the
  // identical cap so the gate stays exact
  private val d2b: Q = (s, dir) =>
    Dedup.ngramJaccardPairs(t(s, dir, "documents"), col("doc_id"), col("text"),
      n = 3, minJaccard = 0.5, maxDocFreq = 50)

  private val d3: Q = (s, dir) =>
    Dedup.minhashLshPairs(t(s, dir, "documents"), col("doc_id"), col("text"),
      n = 3, numHashes = 32, bands = 4, minJaccard = 0.5)

  // asymmetric doc-in-doc tier: ordered pairs where doc_a's shingle set is
  // ≥70% inside doc_b's — the directional prefix filter indexes only
  // A-side rarest prefixes against B-side full postings (lossless)
  private val d21: Q = (s, dir) =>
    Dedup.containmentPairs(t(s, dir, "documents"), col("doc_id"), col("text"),
      n = 3, minContainmentPpm = 700000L)

  // worst-case-bounded containment tier: index-side postings capped at
  // df ≤ 50 so a boilerplate stop-shingle can never explode the candidate
  // join (documented recall trade — a pair visible only through a capped
  // shingle is missed; the prefix side and the exact verify are unchanged)
  private val d21b: Q = (s, dir) =>
    Dedup.containmentPairs(t(s, dir, "documents"), col("doc_id"), col("text"),
      n = 3, minContainmentPpm = 700000L, maxDocFreq = 50)

  // the PRODUCTION rung of the containment family (the heaviest exact
  // tier on the sf10 board): constant k=16 bottom-polyhash sample probes
  // per doc instead of the ~30%-of-doc rarest-first prefix, estimate ≡
  // candidate count — no full-set verify. Unbiased hypergeometric
  // estimator; d21d pins its recall/precision against the exact tier.
  private val d21c: Q = (s, dir) =>
    Dedup.containmentApproxPairs(t(s, dir, "documents"), col("doc_id"),
      col("text"), n = 3, k = 16, minContainmentPpm = 700000L,
      maxDocFreq = 50)

  // the estimator's measured quality contract (the s17 pattern applied
  // to containment): recall and precision of the k=16 approx tier vs the
  // exact tier at the same threshold and cap, as one hash-checked row.
  // Runs on a DETERMINISTIC id-hash QUARTER of the corpus (the c2 keyed-
  // sample pattern, MINSTD multiplier): the eval pays the exact tier by
  // definition — 346-429 s at sf10 on the full corpus — so the standing
  // benched row measures estimator quality at sample scale, the stated
  // deployment shape for a quality gate; the FULL eval stays one filter
  // removal away (the same two operators over unsampled docs)
  private val d21d: Q = (s, dir) => {
    val docs = t(s, dir, "documents").filter(
      graft.functions.KeyedHash.idHash(col("doc_id"), D21dSampleMult)
        % 1000000L < D21dSamplePpm)
    val ex = Dedup.containmentPairs(docs, col("doc_id"), col("text"),
      n = 3, minContainmentPpm = 700000L, maxDocFreq = 50)
      .select("doc_a", "doc_b")
    val ap = Dedup.containmentApproxPairs(docs, col("doc_id"), col("text"),
      n = 3, k = 16, minContainmentPpm = 700000L, maxDocFreq = 50)
      .select("doc_a", "doc_b")
    val exn = ex.agg(count(lit(1)).as("n_exact"))
    val apn = ap.agg(count(lit(1)).as("n_approx"))
    val bn = ex.join(ap, Seq("doc_a", "doc_b"))
      .agg(count(lit(1)).as("n_both"))
    // nullif guards the degenerate corpus (no exact / no approx pairs):
    // Spark's div yields NULL on a zero divisor where DuckDB's // errors,
    // so both sides must divide by NULL instead of 0 to stay in lockstep
    exn.crossJoin(apn).crossJoin(bn)
      .select(col("n_exact"), col("n_approx"), col("n_both"),
        expr("(n_both * 1000000) div nullif(n_exact, 0)").as("recall_ppm"),
        expr("(n_both * 1000000) div nullif(n_approx, 0)").as("precision_ppm"))
  }

  /** d21d's keyed quarter-sample constants (shared with its oracle so the
    * replay arithmetic can't drift): `idHash(doc_id, MINSTD) % 1e6 <
    * 250000`.
    */
  private val D21dSampleMult = 48271L
  private val D21dSamplePpm = 250000L

  // "drop the quote, keep the article": a doc is dropped iff ≥70%
  // contained in a strictly-bigger partner (or an equal-set earlier id —
  // mutual 1e6-ppm exact dups keep the min id deterministically)
  private val d22: Q = (s, dir) =>
    Dedup.containmentKeep(t(s, dir, "documents"), col("doc_id"), col("text"),
      n = 3, minContainmentPpm = 700000L)

  // ExactSubstr span tier: maximal ≥8-token spans whose every 8-gram
  // repeats corpus-wide — the cut-the-passage (not drop-the-doc) dedup
  private val d24: Q = (s, dir) =>
    Dedup.duplicateSpans(t(s, dir, "documents"), col("doc_id"), col("text"),
      k = 8, minCount = 2L)

  // the span tier APPLIED: token-space text with the duplicated spans cut
  // out, plus the kept/cut audit — what the corpus actually trains on
  private val d25: Q = (s, dir) =>
    Dedup.cutSpans(t(s, dir, "documents"), col("doc_id"), col("text"),
      k = 8, minCount = 2L)

  // WHAT is the duplicated text: top-20 corpus-wide 8-grams with doc
  // reach — the audit behind blocklists and span-cut thresholds
  private val d26: Q = (s, dir) =>
    Dedup.boilerplateReport(t(s, dir, "documents"), col("doc_id"), col("text"),
      k = 8, topN = 20)

  private val d4: Q = (s, dir) =>
    Dedup.simhashPairs(t(s, dir, "documents"), col("doc_id"), col("text"),
      maxHamming = 3)

  private val d5: Q = (s, dir) =>
    Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"), col("vec_id"),
      col("embedding"), minCosine = 0.4)

  // incremental dedup: every 5th doc arrives as the new batch, the rest
  // are the standing corpus whose persisted signature store is all the
  // batch joins against — the continuous-ingestion path where cost
  // tracks the increment, not the corpus
  private val d13: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val store = Dedup.minhashStore(docs.filter(col("doc_id") % 5 =!= 0),
      col("doc_id"), col("text"), n = 3, numHashes = 32)
    Dedup.incrementalDedup(docs.filter(col("doc_id") % 5 === 0), store,
      col("doc_id"), col("text"), n = 3, numHashes = 32, bands = 4, minAgree = 16)
  }

  // SemDeDup: coarse-cluster by nearest deterministic centroid, prune
  // within clusters — the linear-scale semantic-dedup path beside d5's
  // exact all-pairs baseline (same 0.4 threshold, same testdata dups)
  private val d12: Q = (s, dir) =>
    Dedup.semanticKeep(t(s, dir, "embeddings"), col("vec_id"),
      col("embedding"), minCosine = 0.4, centroidStride = 50)

  // soft dedup: reweight near-dup families instead of deleting — every
  // doc keeps a row, a cluster's members share one document's sampling
  // mass (weight_ppm = 1e6 / cluster size), uniques stay at 1e6. Same
  // LSH pair set as d7, so the cluster structure is the adjudicated one.
  private val d28: Q = (s, dir) =>
    Dedup.softDedupWeights(t(s, dir, "documents"), col("doc_id"),
      Dedup.minhashLshPairs(t(s, dir, "documents"), col("doc_id"), col("text"),
        n = 3, numHashes = 32, bands = 4, minJaccard = 0.5))

  // SemDeDup with the TRAINED coarse quantizer (the paper's actual
  // k-means): train → cluster → within-cluster prune as ONE declarative
  // plan — the route semanticKeep's maxFlatCentroids guard points at when
  // the stride contract would quadratic-ize the flat assignment. k is
  // SCALE-HONEST here: k = ⌈√N⌉ (one metadata-cheap count) balances the
  // rows × k assignment against the Σ cluster² ≈ N²/k within-cluster
  // prune — both terms then track N^1.5, the best any flat SemDeDup
  // does (r9 benched fixed k=8 at 392× wall for 100× data; BASELINE.md
  // §9 has the adjudication). Seeds are RANK-picked (rankSeeds=true,
  // stride 10) so the pick survives offset/sparse id spaces; the DuckDB
  // replay computes the same ⌈√count⌉ and the same ranked seed set.
  // Same 0.4 threshold as d12; iters=2 in lockstep with s9/s10.
  private val d12b: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    // k from the MEMOIZED per-corpus-version count (embeddingsCount) —
    // one metadata-cheap scan-agg per corpus version, not per query build
    val k = math.ceil(math.sqrt(embeddingsCount(s, dir).toDouble)).toInt
    Dedup.semanticKeep(emb, col("vec_id"), col("embedding"), minCosine = 0.4,
      centroids = Some(Similarity.kmeansCentroids(
        Similarity.kmeansTrain(emb, col("vec_id"), col("embedding"),
          k = k, iters = 2, seedStride = 10, rankSeeds = true))))
  }

  // d12b with the trainer on a deterministic 1-in-5 stride SAMPLE — the
  // deployment shape at 100 TB (faiss-style: k-means trains on a sample,
  // the index assigns the full corpus). Train cost drops rows×k →
  // (rows/5)×k per iteration while k stays ⌈√N_full⌉ (it balances the
  // FULL-corpus prune, which is unchanged). The sample is id-stride, not
  // random, so the DuckDB oracle replays the identical training set;
  // stride-10 seeds are a subset of the stride-5 sample by construction.
  private val d12c: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val k = math.ceil(math.sqrt(embeddingsCount(s, dir).toDouble)).toInt
    Dedup.semanticKeep(emb, col("vec_id"), col("embedding"), minCosine = 0.4,
      centroids = Some(Similarity.kmeansCentroids(
        Similarity.kmeansTrain(emb.filter(col("vec_id") % 5 === 0),
          col("vec_id"), col("embedding"),
          k = k, iters = 2, seedStride = 10, rankSeeds = true))))
  }

  // the full 100 TB SemDeDup composition: sampled trainer (d12c) +
  // TWO-LEVEL centroid assignment (rows probe sProbe of the ~√k
  // super-lists, exact argmax only within them — assignment drops from
  // rows × k to rows × ~2√k, N^1.25 total when k ≈ √N) + the shared
  // within-cluster prune via semanticKeepAssigned. Assignment is
  // approximate (the IVF recall trade moved one level up), so the
  // keep-set legitimately differs from d12c's — it has its own oracle
  // replaying the identical two-level argmax.
  private val d12d: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val k = math.ceil(math.sqrt(embeddingsCount(s, dir).toDouble)).toInt
    val superStride = math.ceil(math.sqrt(k.toDouble)).toInt
    val cents = Similarity.kmeansCentroids(
      Similarity.kmeansTrain(emb.filter(col("vec_id") % 5 === 0),
        col("vec_id"), col("embedding"),
        k = k, iters = 2, seedStride = 10, rankSeeds = true))
    Dedup.semanticKeepAssigned(
      Similarity.ivfAssignHierarchical(emb, col("vec_id"), col("embedding"),
        cents, superStride = superStride, sProbe = 2),
      minCosine = 0.4)
  }

  // d12d served FROM the persisted store: the trained model + two-level
  // assignment are written once (ensure — steady-state runs pay neither
  // training nor assignment), and SemDeDup's within-cluster prune runs
  // over the lists read back from disk. One persisted assignment, many
  // consumers (ANN probes AND dedup) — the keep-set is d12d's verbatim,
  // so the shared oracle hash-checks the store round-trip every run.
  private val d12e: Q = (s, dir) => {
    val ver = embeddingsVersion(s, dir)
    val path = ivfStorePath(dir, "sem", ver)
    val emb = t(s, dir, "embeddings")
    if (!VectorIndex.isServable(s, path)) {
      val k = math.ceil(math.sqrt(embeddingsCount(s, dir, ver).toDouble)).toInt
      val superStride = math.ceil(math.sqrt(k.toDouble)).toInt
      VectorIndex.writeIvfIndex(emb, col("vec_id"), col("embedding"), path,
        hier = Some(Hier(superStride, 2)),
        centroids = Some(Similarity.kmeansCentroids(
          Similarity.kmeansTrain(emb.filter(col("vec_id") % 5 === 0),
            col("vec_id"), col("embedding"),
            k = k, iters = 2, seedStride = 10, rankSeeds = true))))
    }
    Dedup.semanticKeepAssigned(
      VectorIndex.storedLists(s, path)
        .select(col("c_id").cast("long").as("c_id"), col("vec_id"), col("v")),
      minCosine = 0.4)
  }

  // LSH geometry picked by the S-curve selector instead of by hand:
  // lshParams(0.5, 32) = 8 bands × 4 rows — recall-heavier banding than
  // d3's hand-set 4×8 at the same exact-Jaccard verify threshold, chosen
  // by minimizing integrated FP+FN mass at the target 0.5. The knob a
  // user holds is the threshold; the geometry follows.
  private val d27: Q = (s, dir) =>
    Dedup.minhashLshPairsTuned(t(s, dir, "documents"),
      col("doc_id"), col("text"), n = 3, numHashes = 32, threshold = 0.5)

  // pairs → duplicate clusters → canonical representative (min doc id of
  // the connected component), the step that turns near-dup pairs into a
  // keep/drop decision. Fed from the LSH candidate pairs (the scale path —
  // banded equi-join, no Σf² posting self-join), same params as d3;
  // `ngramJaccardPairs` stays the standalone exact baseline in d2.
  private val d7: Q = (s, dir) =>
    Dedup.clusterPairs(
      Dedup.minhashLshPairs(t(s, dir, "documents"), col("doc_id"), col("text"),
        n = 3, numHashes = 32, bands = 4, minJaccard = 0.5))

  // the keep-set after near-dup clustering: all docs minus non-canonical
  // cluster members (the end-to-end "dedup this corpus" answer)
  // authority scores over the near-dup neighborhood graph: fixed-point
  // integer PageRank (5 iterations, damping 85/100) on the verified LSH
  // pair set — two bounded shuffles per iteration, edge table persisted
  // pre-partitioned on the join key, exact BIGINT arithmetic end to end
  private val g1: Q = (s, dir) =>
    graft.operators.Graph.pageRank(
      Dedup.minhashLshPairs(t(s, dir, "documents"), col("doc_id"), col("text"),
        n = 3, numHashes = 32, bands = 4, minJaccard = 0.5),
      col("doc_a"), col("doc_b"), iterations = 5)

  // structural profile of the dup graph: per-vertex degree (near-clique
  // clusters vs hub-and-spoke — the join-skew bound of every downstream
  // pair consumer)
  private val g3: Q = (s, dir) =>
    graft.operators.Graph.degrees(
      Dedup.minhashLshPairs(t(s, dir, "documents"), col("doc_id"), col("text"),
        n = 3, numHashes = 32, bands = 4, minJaccard = 0.5))

  // entity-name fuzzy matching: all customer-name pairs within one edit,
  // via the deletion-neighborhood equi-join (never an N² nested loop);
  // the oracle IS the N² levenshtein predicate at oracle scale
  private val d17: Q = (s, dir) =>
    graft.operators.FuzzyJoin.selfJoin(
      t(s, dir, "customer"), col("c_custkey"), col("c_name"))

  // blocked entity resolution: matches only form within a nation block —
  // the signature join's key becomes (block, sig), so a globally hot
  // name family is never a global hot key (the standard ER recall trade)
  private val d23: Q = (s, dir) =>
    graft.operators.FuzzyJoin.selfJoinBlocked(
      t(s, dir, "customer"), col("c_custkey"), col("c_name"), col("c_nationkey"))

  // prefix-filtered exact Jaccard pairs: PPJoin's lossless candidate
  // reduction — the oracle is d2's EXACT formulation, proving the prefix
  // filter drops no pair
  private val d19: Q = (s, dir) =>
    Dedup.prefixJaccardPairs(t(s, dir, "documents"), col("doc_id"), col("text"),
      n = 3, minJaccardPpm = 500000L)

  // similarity-weighted authority: neighbors contribute in proportion to
  // Jaccard (the pair tier's integer ppm column, directly) — scale 1e6
  // keeps every score·weight product in BIGINT per the operator's
  // overflow contract
  private val g2: Q = (s, dir) =>
    graft.operators.Graph.pageRank(
      Dedup.minhashLshPairs(t(s, dir, "documents"), col("doc_id"), col("text"),
        n = 3, numHashes = 32, bands = 4, minJaccard = 0.5),
      col("doc_a"), col("doc_b"), iterations = 5, scale = 1000000L,
      weight = Some(col("jaccard_ppm")))

  // cross-family composition: the fuzzy pair graph feeds the same
  // hash-min CC machinery the LSH tier uses — entity GROUPS, not just
  // pairs (all spellings of one entity share a cluster rep)
  private val d18: Q = (s, dir) =>
    Dedup.clusterPairs(
      graft.operators.FuzzyJoin.selfJoin(
        t(s, dir, "customer"), col("c_custkey"), col("c_name"))
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))

  // dedup-tier recall eval: LSH pairs vs the exact ground truth on the
  // same corpus — the index-swap gate (s8's similarity twin) as one row. Precision is 1 by construction (LSH candidates are
  // exact-Jaccard verified); the number that needs watching is band-miss
  // recall. Both pair frames are cached: each feeds a count and the
  // match semi-join.
  private val d16: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    // ground truth from the PREFIX-FILTERED exact join, not the raw
    // inverted index: d19 proves prefixJaccardPairs reproduces
    // ngramJaccardPairs' pair set bit-for-bit (identical oracle), and the
    // prefix tier has no Σ df² posting self-join — so the recall gate
    // itself stays scale-safe while measuring the same exact truth
    val exact = graft.operators.Corpus.cached(
      Dedup.prefixJaccardPairs(docs, col("doc_id"), col("text"),
        n = 3, minJaccardPpm = 500000L).select("doc_a", "doc_b"))
    val lsh = graft.operators.Corpus.cached(
      Dedup.minhashLshPairs(docs, col("doc_id"), col("text"),
        n = 3, numHashes = 32, bands = 4, minJaccard = 0.5)
        .select("doc_a", "doc_b"))
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
      .crossJoin(exact.join(lsh, Seq("doc_a", "doc_b"), "left_semi")
        .agg(count(lit(1)).as("n_matched")))
      .select(col("n_exact"), col("n_lsh"), col("n_matched"),
        expr("CASE WHEN n_exact = 0 THEN 1000000L " +
          "ELSE n_matched * 1000000 div n_exact END").as("recall_ppm"))
  }

  private val d8: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val clusters = Dedup.clusterPairs(
      Dedup.minhashLshPairs(docs, col("doc_id"), col("text"),
        n = 3, numHashes = 32, bands = 4, minJaccard = 0.5))
    Dedup.keepCanonical(docs, col("doc_id"), clusters)
      .select(col("doc_id"), col("lang"), col("source"))
  }

  // the dedup-impact report a curation run publishes: per source, how
  // many docs, how many sit in a duplicate cluster, how many get dropped,
  // and the integer-ppm keep rate — one left join of the corpus against
  // the (duplicates-only, hence small) cluster table + one source agg
  private val d11: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val clusters = Dedup.clusterPairs(
      Dedup.minhashLshPairs(docs, col("doc_id"), col("text"),
        n = 3, numHashes = 32, bands = 4, minJaccard = 0.5))
      .select(col("doc_id").as("_cid"), col("cluster_rep").as("_rep"))
    docs.join(clusters, col("doc_id") === col("_cid"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(col("_cid")).as("n_dup_members"),
        count(when(col("_cid") =!= col("_rep"), lit(1))).as("n_dropped"))
      .withColumn("kept_ppm",
        expr("(n_docs - n_dropped) * 1000000 div n_docs"))
  }

  // duplicate-substring coverage vs earlier docs (owner = min doc id per
  // shingle): one window shuffle + one agg, no pair join — the asymmetric
  // "page is mostly copied" gate; threshold 600k ppm splits this corpus
  private val d10: Q = (s, dir) =>
    Dedup.substringCoverage(t(s, dir, "documents"), col("doc_id"), col("text"),
      n = 3, dupPpmThreshold = 600000L)

  // C4-style duplicated-segment removal at word granularity (the corpus
  // is single-line, so words stand in for lines): drop every word present
  // in >= 78% of documents, rebuild the surviving text in order
  private val d15: Q = (s, dir) =>
    Dedup.segmentDedup(t(s, dir, "documents"), col("doc_id"), col("text"),
      sep = " ", dfPpmThreshold = 780000L)

  // group-level MinHash sketches: per-doc signatures unioned per source
  // through the custom typed Aggregator (elementwise min) — the
  // incremental fleet-dedup building block
  private val d6: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val sigs = Dedup.minhashStore(docs, col("doc_id"), col("text"), 3, 16)
    val mhu = udaf(new graft.functions.MinHashUnion(16))
    docs.select(col("doc_id"), col("source"))
      .join(sigs, "doc_id")
      .groupBy(col("source"))
      .agg(mhu(col("sig")).as("usig"))
      .select(col("source") +: (0 until 16).map(i =>
        element_at(col("usig"), i + 1).as(s"m$i")): _*)
  }

  // Cross-source near-dup overlap matrix: which corpus slices duplicate
  // which — the dataset-overlap audit run before mixing sources (and the
  // leak check between a training slice and a benchmark slice). Rides the
  // d3 LSH pair tier, so its cost is the banded join, never sources²
  // document pairs; mean similarity in exact integer ppm (order-
  // independent sums — a double avg would hash-diverge across engines).
  private val d20: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minhashLshPairs(docs, col("doc_id"), col("text"),
      n = 3, numHashes = 32, bands = 4, minJaccard = 0.5)
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(src.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(least(col("sa.source"), col("sb.source")).as("source_a"),
        greatest(col("sa.source"), col("sb.source")).as("source_b"),
        col("jaccard_ppm"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(jaccard_ppm) div count(1)").as("mean_jaccard_ppm"))
  }

  // ------------------------------------------------------------------
  // Similarity search
  // ------------------------------------------------------------------

  // read straight from the source: the five query rows need no rebalance
  // of the whole embeddings table
  private def queriesDf(s: SparkSession, dir: String): DataFrame =
    Sources.parquet(s, s"$dir/embeddings.parquet").filter(col("vec_id") < 5)

  private val s1: Q = (s, dir) =>
    Similarity.bruteForceTopK(t(s, dir, "embeddings"), queriesDf(s, dir),
      col("vec_id"), col("embedding"), k = 10)

  // MMR-diversified top-5 over the exact top-10 pool: integer-exact greedy
  // selection, replayed by the oracle as five chained CTE steps
  private val s13: Q = (s, dir) =>
    Similarity.mmrTopK(t(s, dir, "embeddings"), queriesDf(s, dir),
      col("vec_id"), col("embedding"), k = 5, poolSize = 10, lambdaPpm = 700000L)

  // filtered ANN: the metadata predicate composes declaratively — Catalyst
  // pushes `label = 3` into the embeddings parquet scan BEFORE any
  // distance work (plan-pinned), the pre-filter case dedicated vector
  // stores have to bolt on as a separate index mode
  private val s11: Q = (s, dir) =>
    Similarity.bruteForceTopK(
      t(s, dir, "embeddings").filter(col("label") === 3),
      queriesDf(s, dir), col("vec_id"), col("embedding"), k = 10)

  // (tables=24, bits=4): gated at mean recall@10 >= 0.9 vs the exact s1
  // ranking on the driver testdata (SimilaritySpec); the oracle replays
  // the identical deterministic bucketing, so this is hash-checked too
  private val s2: Q = (s, dir) =>
    Similarity.lshTopK(t(s, dir, "embeddings"), queriesDf(s, dir),
      col("vec_id"), col("embedding"), k = 10, tables = 24, bits = 4)

  // quarter of s2's tables (6 vs 24) + Hamming-1 query-side probing: the
  // index-size/recall trade the multi-probe tier exists for
  private val s15: Q = (s, dir) =>
    Similarity.lshMultiProbeTopK(t(s, dir, "embeddings"), queriesDf(s, dir),
      col("vec_id"), col("embedding"), k = 10, tables = 6, bits = 4)

  private val s3: Q = (s, dir) =>
    Similarity.ivfTopK(t(s, dir, "embeddings"), queriesDf(s, dir),
      col("vec_id"), col("embedding"), k = 10, centroidStride = 50,
      probe = Nearest(2))

  // s3 with hierarchical assignment on BOTH sides (list build + probe):
  // the rows × 256 flat assignment — 96% of s3's sf10 wall — drops to
  // rows × (16 + 2·16); sub-16-centroid test corpora degenerate to one
  // super-list (= exact flat), so the approximation only engages at scale
  private val s19: Q = (s, dir) =>
    Similarity.ivfTopK(t(s, dir, "embeddings"), queriesDf(s, dir),
      col("vec_id"), col("embedding"), k = 10, centroidStride = 50,
      probe = Nearest(2), hier = Some(Hier(16, 2)), maxCentroids = 256)

  // mass-adaptive probing: probe lists in centroid-cosine order until
  // the PRECEDING probed mass covers 15% of the corpus — the per-query
  // answer to imbalanced lists (§16c: fixed nProbe=2 reads 0.62 on the
  // Zipf-clustered corpus because the heavy cluster spans dozens of
  // lists; the budget here is explicit mass, not a global constant)
  private val s32: Q = (s, dir) =>
    Similarity.ivfTopK(t(s, dir, "embeddings"), queriesDf(s, dir),
      col("vec_id"), col("embedding"), k = 10, centroidStride = 50,
      probe = Mass(150000L))

  // s14 with RESIDUAL encoding — Jégou's actual IVFADC (codes and
  // per-(query, probed-list) LUTs over v − centroid(list)): the variant
  // the §16c adversarial-embeddings ladder exists for, pinned here on
  // the standard corpus so the residual path is oracle-backed, not just
  // spec-tested (the ladder's measurements live in BASELINE §16c)
  private val s31: Q = (s, dir) =>
    Similarity.ivfPqTopK(t(s, dir, "embeddings"), queriesDf(s, dir),
      col("vec_id"), col("embedding"), k = 10, centroidStride = 50,
      probe = Nearest(2), numSubspaces = 8, numCodes = 16, codeStride = 16,
      pool = 50, residual = true)

  // the FULL adaptive composition — both halves of §16c closed in one
  // config: residual IVFADC (s31) + mass-adaptive probing (s32) + the
  // rescore pool scaled to each query's probed candidate count (floor
  // at one result set). §16c measured the pool, not the codebook, as
  // the binding knob on clustered corpora (0.04 at pool=50, 0.38 at
  // pool=500); with the pool a FRACTION of the probed volume,
  // P(true-k ⊂ pool) stops depending on which cluster a query landed
  // in — measured at 0.92 advemb / 1.00 uniform recall where every
  // fixed arm sat ≤0.38, wall flat (BASELINE §17a)
  private val s33: Q = (s, dir) =>
    Similarity.ivfPqTopK(t(s, dir, "embeddings"), queriesDf(s, dir),
      col("vec_id"), col("embedding"), k = 10, centroidStride = 50,
      numSubspaces = 8, numCodes = 16, codeStride = 16, residual = true,
      probe = Mass(S33MassPpm), poolPpm = Some(S33PoolPpm))

  // s19 with MASS-ADAPTIVE probing at both levels — one budget, two
  // applications of s32's gate: supers probed while the preceding
  // rolled-up super mass is under 15% of the corpus (so the probed
  // supers always hold ≥ the budget's mass), then their leaf centroids
  // dot-ranked ACROSS the probed union with the same cut. The fixed
  // sProbe/nProbe pair is §16c's failure one level up — a heavy
  // cluster's mass spans several SUPER lists, so a fixed sProbe caps
  // what the leaf stage can even see. Query-time knob only: the stored
  // lists are s19's (index-compatible).
  private val s37: Q = (s, dir) =>
    Similarity.ivfTopK(t(s, dir, "embeddings"),
      queriesDf(s, dir), col("vec_id"), col("embedding"), k = 10,
      centroidStride = 50, probe = HierMass(S33MassPpm),
      hier = Some(Hier(16, 2)))

  // s14 with the same two-level assignment on both sides — the PQ
  // encode/ADC/pool-rescore tail is untouched
  private val s20: Q = (s, dir) =>
    Similarity.ivfPqTopK(t(s, dir, "embeddings"), queriesDf(s, dir),
      col("vec_id"), col("embedding"), k = 10, centroidStride = 50,
      probe = Nearest(2), numSubspaces = 8, numCodes = 16, codeStride = 16,
      pool = 50, hier = Some(Hier(16, 2)))

  // ------------------------------------------------------------------
  // Persisted vector index (VectorIndex store queries)
  // ------------------------------------------------------------------

  /** Root for per-corpus persisted ANN stores (gitignored tmp by
    * default; override with SPARK_GRAFT_STORE_DIR for a scratch disk).
    */
  private def storeRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_STORE_DIR", "/root/repo/tmp/stores")

  /** The corpus VERSION key shared by the cached-store paths and the
    * memoized corpus count: the digest of `dir`'s embeddings table
    * [[Sources.Stamp]] (names, lengths and mtimes under it, listed through
    * the Hadoop FS API, so hdfs://- or s3a://-shaped dirs work unchanged).
    */
  private def embeddingsVersion(s: SparkSession, dir: String): Long = {
    val path = s"$dir/embeddings.parquet"
    Sources.stamp(s, path).getOrElse(throw new java.io.FileNotFoundException(path)).digest
  }

  /** Deterministic per-(corpus, config) store path: keyed on the sfDir
    * path, the embeddings table's version, AND
    * [[VectorIndex.FormatVersion]] — so a regenerated corpus at the same
    * path gets a FRESH store instead of probing a stale one, and a
    * code-generation change in the assignment semantics or the store
    * layout (version bump) invalidates every cached store instead of
    * serving lists older code wrote.
    */
  private def ivfStorePath(s: SparkSession, dir: String, tag: String): String =
    ivfStorePath(dir, tag, embeddingsVersion(s, dir))

  /** Overload for callers that also need [[embeddingsCount]]: one
    * [[embeddingsVersion]] listing per query build serves both, so the
    * store path and the count agree on the corpus version.
    */
  private def ivfStorePath(dir: String, tag: String, ver: Long): String = {
    val root = storeRoot
    if (!swept.getAndSet(true)) sweepSuperseded(root)
    val key = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(s"$dir|$ver"))
    s"$root/ivf_${tag}_v${VectorIndex.FormatVersion}_$key"
  }

  /** Set by the first [[ivfStorePath]] of the JVM, which sweeps first. */
  private val swept = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Delete every cached store under `root` that an older code generation
    * keyed (`ivf_<tag>_v<N>_<key>` with `N` below
    * [[VectorIndex.FormatVersion]]): no path this code produces can name
    * it again, so it would otherwise stay on disk for good. Current- and
    * newer-generation stores, other names and caller-supplied store paths
    * (never under this root's naming) are left alone. Runs through the
    * Hadoop FS API, like the stores.
    *
    * @return the deleted store directories' names
    */
  private[queries] def sweepSuperseded(root: String): Seq[String] = {
    val Superseded = """ivf_[A-Za-z0-9]+_v(\d{1,9})_[0-9a-f]+""".r
    val dir = new org.apache.hadoop.fs.Path(root)
    val fs = dir.getFileSystem(SparkSession.getActiveSession
      .fold(new org.apache.hadoop.conf.Configuration())(
        _.sessionState.newHadoopConf()))
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.filter(_.isDirectory).map(_.getPath)
      .filter(p => p.getName match {
        case Superseded(n) => n.toInt < VectorIndex.FormatVersion
        case _ => false
      })
      .filter(fs.delete(_, true)).map(_.getName).sorted
  }

  /** The SemDeDup k = ⌈√N⌉ contract's N, memoized per corpus VERSION
    * (dir + [[embeddingsVersion]] — the cached-store key discipline): the
    * count is a config constant of the corpus, so it runs as ONE
    * metadata-cheap scan-agg per corpus version instead of one eager job
    * per d12b/c/d/e query build — the "compute k once beside the store
    * artifact" deployment shape. The oracle replays ⌈√count(*)⌉ itself,
    * so memoization cannot drift from the replay (same corpus ⇒ same N).
    */
  private val corpusNCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Long]()
  private def embeddingsCount(s: SparkSession, dir: String): Long =
    embeddingsCount(s, dir, embeddingsVersion(s, dir))
  private def embeddingsCount(s: SparkSession, dir: String, ver: Long): Long =
    corpusNCache.computeIfAbsent((dir, ver),
      _ => t(s, dir, "embeddings").count())

  // the store BUILD as its own timed query (always overwrite — honest
  // build cost every sample); the result is the written store's per-list
  // membership histogram read BACK from disk, so the oracle checks what
  // was actually persisted, not the in-flight plan
  private val s23: Q = (s, dir) => {
    val path = ivfStorePath(s, dir, "hier")
    VectorIndex.writeIvfIndex(t(s, dir, "embeddings"), col("vec_id"),
      col("embedding"), path, centroidStride = 50, maxCentroids = 256,
      hier = Some(Hier(16, 2)))
    VectorIndex.storedLists(s, path)
      .groupBy(col("c_id").cast("long").as("c_id"))
      .agg(count(lit(1)).as("n_vecs"))
  }

  // the PROBE against the persisted store: the probed list ids become a
  // literal partition filter (IO tracks nProbe/lists, not the corpus)
  // and the store side never exchanges. ensure = build-if-missing, so
  // steady-state samples time the probe alone (s23 is the build's own
  // timing row); result ≡ s19 (same geometry) — shared oracle by
  // construction
  private val s24: Q = (s, dir) => {
    val path = ivfStorePath(s, dir, "hier")
    VectorIndex.ensureIvfIndex(t(s, dir, "embeddings"), col("vec_id"),
      col("embedding"), path, hier = Some(Hier(16, 2)))
    VectorIndex.probeIvfIndex(s, path, queriesDf(s, dir), col("vec_id"),
      col("embedding"), k = 10, probe = Nearest(2))
  }

  // the store-served s37: the hier store (s23/s24's artifact, same
  // geometry) probed with the TWO-LEVEL mass budget — same lists (the
  // build filing IS ivfAssignHierarchical at the recorded geometry),
  // same two-gate selection, same exact rescore, so the result ≡ s37 by
  // construction (shared oracle). The scan is pruned to the budget-
  // selected partitions and per-query assignment dots drop 256 → ~48 —
  // the serving-batch trade at the hier tier's measured recall plateau
  // (BASELINE §17d)
  private val s38: Q = (s, dir) => {
    val path = ivfStorePath(s, dir, "hier")
    VectorIndex.ensureIvfIndex(t(s, dir, "embeddings"), col("vec_id"),
      col("embedding"), path, hier = Some(Hier(16, 2)))
    VectorIndex.probeIvfIndex(s, path, queriesDf(s, dir),
      col("vec_id"), col("embedding"), k = 10, probe = HierMass(S33MassPpm))
  }

  // the persisted-store probe under s32's mass budget — the steady-state
  // 100 TB path: lists are stored partitionBy(c_id), so the budget-
  // selected list set IS the partition filter and massPpm bounds the
  // BYTES each query's pruned scan touches (fixed nProbe's actual cost
  // silently varies with list imbalance). Masses come from the per-list
  // sizes in the store's manifest — no corpus pass at probe time. Flat
  // store at s32's geometry → result ≡ s32 by construction (the probe's
  // selection rule is byte-identical to massProbed's): shared oracle.
  private val s34: Q = (s, dir) => {
    val path = ivfStorePath(s, dir, "flat")
    VectorIndex.ensureIvfIndex(t(s, dir, "embeddings"), col("vec_id"),
      col("embedding"), path, hier = None)
    VectorIndex.probeIvfIndex(s, path, queriesDf(s, dir),
      col("vec_id"), col("embedding"), k = 10, probe = Mass(150000L))
  }

  // the store-served s33: a RESIDUAL-codes PQ store (Jégou's IVFADC as
  // the persisted layout — codes over v − centroid(list), the encoding
  // §16c showed clustered corpora need) probed with BOTH adaptive knobs;
  // the codes scan reads only (vec_id, codes) from only the budget-
  // selected partitions, and the result ≡ s33 by construction — shared
  // oracle, spec-pinned bit-identity
  private val s35: Q = (s, dir) => {
    val path = ivfStorePath(s, dir, "pqr")
    VectorIndex.ensureIvfIndex(t(s, dir, "embeddings"), col("vec_id"),
      col("embedding"), path, hier = None, pq = true,
      pqResidual = true)
    VectorIndex.probeIvfPqIndex(s, path, queriesDf(s, dir), col("vec_id"),
      col("embedding"), k = 10, probe = Mass(150000L),
      poolPpm = Some(500000L))
  }

  // radius search under the mass budget — for range probes the budget is
  // the ONLY cost knob the caller holds (the result set is data-
  // dependent, so nothing else bounds the scan); shares s34's flat store
  private val s36: Q = (s, dir) => {
    val path = ivfStorePath(s, dir, "flat")
    VectorIndex.ensureIvfIndex(t(s, dir, "embeddings"), col("vec_id"),
      col("embedding"), path, hier = None)
    VectorIndex.probeIvfRange(s, path, queriesDf(s, dir), col("vec_id"),
      col("embedding"), minCosine = 0.25, probe = Mass(150000L))
  }

  // FILTERED ANN under the FILTERED mass budget (BASELINE §18a): the
  // raw-mass tiers (fixed nProbe, s32/s34's budget) select lists by the
  // query's centroid order over ROW mass, so a predicate whose matching
  // rows live away from the query's neighborhood fills the probed lists
  // with non-matching candidates and filtered recall collapses while
  // every unfiltered contract stays green. Here the budget runs over
  // MATCHING masses from the label histogram in the store's manifest
  // (zone-map-style metadata: config-sized, counted at build, recounted
  // on append), zero-match lists leave the rank outright, and massPpm
  // keeps its meaning under the predicate — the fraction of the
  // MATCHING corpus each query's pruned scan may touch
  private val s40: Q = (s, dir) => {
    val path = ivfStorePath(s, dir, "fila")
    VectorIndex.ensureIvfIndex(t(s, dir, "embeddings"), col("vec_id"),
      col("embedding"), path, hier = None,
      payload = Seq(col("label")), statsCols = Seq("label"))
    VectorIndex.probeIvfIndexFiltered(s, path, queriesDf(s, dir),
      col("vec_id"), col("embedding"), statsCol = "label",
      statsValues = Seq(3), k = 10, massPpm = 150000L)
  }

  // continuous ingestion for the vector tier (the d13 contract applied
  // to embeddings): build on the standing corpus (vec_id % 7 != 0),
  // append the % 7 == 0 increment against the STORED model — the
  // centroids never retrain, so stored rows stay batch-independent —
  // and probe the union. Rebuilt from scratch each run so the append is
  // replay-idempotent.
  private val s25: Q = (s, dir) => {
    val path = ivfStorePath(s, dir, "app")
    val emb = t(s, dir, "embeddings")
    VectorIndex.writeIvfIndex(emb.filter(col("vec_id") % 7 =!= 0),
      col("vec_id"), col("embedding"), path, hier = Some(Hier(16, 2)))
    VectorIndex.appendToIvfIndex(emb.filter(col("vec_id") % 7 === 0),
      col("vec_id"), col("embedding"), path)
    VectorIndex.probeIvfIndex(s, path, queriesDf(s, dir), col("vec_id"),
      col("embedding"), k = 10, probe = Nearest(2))
  }

  // store maintenance as a standing contract: build on the %7!=0 slice,
  // drizzle-append the increment, COMPACT (the OPTIMIZE analog — merge
  // each touched list's per-append file sets into target-sized blocks),
  // probe. Result ≡ s25 by construction: compaction must never change a
  // probe — the oracle IS that invariant, hash-checked every round.
  private val s28: Q = (s, dir) => {
    val path = ivfStorePath(s, dir, "cmp")
    val emb = t(s, dir, "embeddings")
    VectorIndex.writeIvfIndex(emb.filter(col("vec_id") % 7 =!= 0),
      col("vec_id"), col("embedding"), path, hier = Some(Hier(16, 2)))
    VectorIndex.appendToIvfIndex(emb.filter(col("vec_id") % 7 === 0),
      col("vec_id"), col("embedding"), path)
    VectorIndex.compactIvfIndex(s, path)
    VectorIndex.probeIvfIndex(s, path, queriesDf(s, dir), col("vec_id"),
      col("embedding"), k = 10, probe = Nearest(2))
  }

  // assignment-fidelity curve for the two-level assignment: ppm of rows
  // whose hierarchical centroid equals the flat argmax, per sProbe —
  // the sProbe knob's measured curve, the way s17/s18 are nProbe's
  private val s26: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    Similarity.assignmentAgreement(emb, col("vec_id"), col("embedding"),
      Similarity.coarseCentroids(emb, col("vec_id"), col("embedding"),
        centroidStride = 50, maxCentroids = 256),
      superStride = 16, sProbes = Seq(1, 2, 4))
  }

  // s26 STAGE FINGERPRINTS (s26a–s26e): one config-sized integer checksum
  // per pipeline stage of the s26 eval, each with its own oracle — the
  // driver-observable bisection harness for the one chronic red row.
  // s26 itself is UNCHANGED so its signal stays round-comparable; these
  // five rows name the FIRST stage where the driver's engine diverges
  // (grid entry → flat argmax → super probe → c2s filing → hier pick).
  // All checksums are order-independent sums of bounded integer products
  // — no float, no hash, no new fragility class.
  private def s26Cents(s: SparkSession, dir: String) =
    Similarity.coarseCentroids(t(s, dir, "embeddings"),
      col("vec_id"), col("embedding"), centroidStride = 50, maxCentroids = 256)
  private val s26a: Q = (s, dir) =>
    Similarity.gridFingerprint(t(s, dir, "embeddings"),
      col("vec_id"), col("embedding"))
  private val s26b: Q = (s, dir) =>
    Similarity.flatAssignFingerprint(t(s, dir, "embeddings"),
      col("vec_id"), col("embedding"), s26Cents(s, dir))
  private val s26c: Q = (s, dir) =>
    Similarity.superProbeFingerprint(t(s, dir, "embeddings"),
      col("vec_id"), col("embedding"), s26Cents(s, dir), superStride = 16)
  private val s26d: Q = (s, dir) =>
    Similarity.c2sFingerprint(s26Cents(s, dir), superStride = 16)
  private val s26e: Q = (s, dir) =>
    Similarity.hierAssignFingerprint(t(s, dir, "embeddings"),
      col("vec_id"), col("embedding"), s26Cents(s, dir),
      superStride = 16, sProbes = Seq(1, 2, 4))

  // PQ store probe: ADC candidates read ONLY (vec_id, codes) from ONLY
  // the probed partitions; result ≡ s20 — shared oracle
  private val s27: Q = (s, dir) => {
    val path = ivfStorePath(s, dir, "pq")
    VectorIndex.ensureIvfIndex(t(s, dir, "embeddings"), col("vec_id"),
      col("embedding"), path, hier = Some(Hier(16, 2)), pq = true)
    VectorIndex.probeIvfPqIndex(s, path, queriesDf(s, dir), col("vec_id"),
      col("embedding"), k = 10, probe = Nearest(2), pool = 50)
  }

  // METADATA-FILTERED vector search against the persisted store: the
  // store is built with `label` as an inline payload column, and the
  // probe's `where` pre-filters candidates (each query gets its full k
  // among label < 4 rows) INSIDE the pruned list scan — a pushed parquet
  // data filter on only the probed partitions, never a join against a
  // corpus-sized attribute table
  private val s29: Q = (s, dir) => {
    val path = ivfStorePath(s, dir, "fil")
    VectorIndex.ensureIvfIndex(t(s, dir, "embeddings"), col("vec_id"),
      col("embedding"), path, hier = Some(Hier(16, 2)),
      payload = Seq(col("label")))
    VectorIndex.probeIvfIndex(s, path, queriesDf(s, dir), col("vec_id"),
      col("embedding"), k = 10, probe = Nearest(2),
      where = Some(col("label") < 4))
  }

  // RADIUS search served from the same persisted store s24 probes: every
  // candidate in the probed lists with cos >= 0.25 — no per-query rank,
  // so the probe is entirely exchange-free (the threshold replaces
  // top-k's one bounded exchange); shares the "hier" store artifact
  private val s30: Q = (s, dir) => {
    val path = ivfStorePath(s, dir, "hier")
    VectorIndex.ensureIvfIndex(t(s, dir, "embeddings"), col("vec_id"),
      col("embedding"), path, hier = Some(Hier(16, 2)))
    VectorIndex.probeIvfRange(s, path, queriesDf(s, dir), col("vec_id"),
      col("embedding"), minCosine = 0.25, probe = Nearest(2))
  }

  // int8 quantize → integer-dot candidate ranking → exact rescore of the
  // k survivors; the integer ranking replays bit-for-bit in the oracle
  private val s4: Q = (s, dir) =>
    Similarity.quantizedTopK(t(s, dir, "embeddings"), queriesDf(s, dir),
      col("vec_id"), col("embedding"), k = 10)

  // JL random projection 64→16 dims, projected-cosine ranking, exact
  // rescore of the pool survivors — the dimensionality-shrink ANN tier;
  // the deterministic integer plane weights replay in the oracle
  private val s12: Q = (s, dir) =>
    Similarity.rpTopK(t(s, dir, "embeddings"), queriesDf(s, dir),
      col("vec_id"), col("embedding"), k = 10, targetDim = 16, dim = 64, pool = 150)

  // deterministic Lloyd k-means in exact integer micros — the coarse-
  // quantizer/codebook trainer; the oracle replays both unrolled
  // iterations (assign → floored-integer-mean update → empty-cluster
  // coalesce) CTE by CTE
  private val s9: Q = (s, dir) =>
    Similarity.kmeansTrain(t(s, dir, "embeddings"),
      col("vec_id"), col("embedding"), k = 8, iters = 2, seedStride = 50)

  // s3's IVF with the TRAINED coarse quantizer swapped in — the full
  // production loop (train → index → probe) as one declarative plan
  private val s10: Q = (s, dir) =>
    Similarity.ivfTopK(t(s, dir, "embeddings"), queriesDf(s, dir),
      col("vec_id"), col("embedding"), k = 10, probe = Nearest(2),
      centroids = Some(Similarity.kmeansCentroids(
        Similarity.kmeansTrain(t(s, dir, "embeddings"),
          col("vec_id"), col("embedding"), k = 8, iters = 2, seedStride = 50))))

  // the TRAINED quantizer under the MASS BUDGET — the composition the
  // two features exist for: k-means lists align with the corpus's
  // clusters, which is precisely the shape where per-list masses
  // inherit the full cluster-mass variance (§15a/§16c Zipf) and a fixed
  // nProbe's cost/recall varies silently per query. s10 pins trained +
  // fixed, s32 pins stride + adaptive; this row pins that the two
  // compose oracle-exactly (train → index → budget-probe end-to-end)
  private val s39: Q = (s, dir) =>
    Similarity.ivfTopK(t(s, dir, "embeddings"), queriesDf(s, dir),
      col("vec_id"), col("embedding"), k = 10, probe = Mass(S33MassPpm),
      centroids = Some(Similarity.kmeansCentroids(
        Similarity.kmeansTrain(t(s, dir, "embeddings"),
          col("vec_id"), col("embedding"), k = 8, iters = 2, seedStride = 50))))

  // IVF×PQ (IVFADC): coarse lists prune candidates, PQ/ADC ranks only the
  // probed lists from 8 small ints per vector, exact rescore of the pool
  // — the billion-scale ANN composition as one declarative plan; the
  // codebook comes from the FULL corpus (probe-independent stored codes)
  private val s14: Q = (s, dir) =>
    Similarity.ivfPqTopK(t(s, dir, "embeddings"), queriesDf(s, dir),
      col("vec_id"), col("embedding"), k = 10, centroidStride = 50,
      probe = Nearest(2), numSubspaces = 8, numCodes = 16, codeStride = 16,
      pool = 50)

  // lexical search over the corpus: rare-term-weighted exact-integer
  // relevance ("dup" hits ~5% of docs and dominates; "spark"/"merge"
  // are near-ubiquitous ballast), deterministic top-25
  private val s5: Q = (s, dir) =>
    graft.operators.Search.keywordTopK(t(s, dir, "documents"),
      col("doc_id"), col("text"), Seq("dup", "spark", "merge"), k = 25)

  // hybrid retrieval: lexical top-20 (TF-IDF integers) and vector top-20
  // (cosine micros for query vec 0) meet ONLY through their ranks —
  // reciprocal-rank fusion needs no cross-scale normalization, and the
  // fusion itself runs over 40 rows regardless of corpus size
  private val s16: Q = (s, dir) => {
    val rankW = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id").asc)
    val lex = graft.operators.Search.keywordTopK(t(s, dir, "documents"),
        col("doc_id"), col("text"), Seq("dup", "spark", "merge"), k = 20)
      .withColumn("rank", row_number().over(rankW).cast("long"))
      .select("doc_id", "rank")
    val vec = Similarity.bruteForceTopK(t(s, dir, "embeddings"),
        t(s, dir, "embeddings").filter(col("vec_id") === 0),
        col("vec_id"), col("embedding"), k = 20)
      .select(col("vec_id").as("doc_id"), col("rn").as("rank"))
    graft.operators.Search.rrfFuse(Seq(lex, vec), k = 10)
  }

  // batch retrieval: three queries amortize one posting-list build; the
  // shared term ("dup") must carry the same global df in both queries
  private val s6: Q = (s, dir) => {
    import s.implicits._
    val qs = Seq(
      (1L, "dup"), (1L, "scan"),
      (2L, "dup"), (2L, "vector"),
      (3L, "spark"), (3L, "merge")).toDF("query_id", "term")
    graft.operators.Search.keywordTopKBatch(t(s, dir, "documents"),
      col("doc_id"), col("text"), qs, k = 10)
  }

  // ------------------------------------------------------------------
  // Multimodal
  // ------------------------------------------------------------------

  private val mm1: Q = (s, dir) =>
    Multimodal.decodeMeta(s, Multimodal.attachMedia(t(s, dir, "documents"))).toDF()

  private val mm2: Q = (s, dir) =>
    Multimodal.sampleFrames(s, Multimodal.attachMedia(t(s, dir, "documents")), stride = 4)

  // ViT patch-coordinate plumbing over the decoded image metadata: edge
  // tiles clip to the image bounds, all integer arithmetic
  private val mm3: Q = (s, dir) =>
    Multimodal.patchGrid(
      Multimodal.decodeMeta(s, Multimodal.attachMedia(t(s, dir, "documents"))).toDF(),
      patch = 64)

  // ------------------------------------------------------------------
  // Events (event-time analytics; streaming variants in graft.streaming)
  // ------------------------------------------------------------------

  // same transform object the streaming path uses (watermark applies only
  // when the input is a stream) — batch and stream share one code path
  private val e1: Q = (s, dir) =>
    graft.streaming.EventStreams.windowedTypeCounts(events(s, dir))

  // rate-spike detection on the windowed counts: a window is a spike when
  // 3·n exceeds 2× the trailing-3-window sum (exact BIGINT comparison —
  // no rate division). One extra type-keyed lag window over e1's
  // already-tiny (window, type) frame; windows with an incomplete trail
  // are never flagged.
  private val e13: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("window_start"))
    graft.streaming.EventStreams.windowedTypeCounts(events(s, dir))
      .select(col("window_start"), col("event_type"), col("n"),
        lag(col("n"), 1).over(w).as("_n1"),
        lag(col("n"), 2).over(w).as("_n2"),
        lag(col("n"), 3).over(w).as("_n3"))
      .select(col("window_start"), col("event_type"), col("n"),
        (col("_n1").isNotNull && col("_n2").isNotNull && col("_n3").isNotNull &&
          col("n") * 3 > (col("_n1") + col("_n2") + col("_n3")) * 2)
          .cast("long").as("spike"))
  }

  // per-window top-3 event types: rank rides the already-aggregated
  // window counts (window-sized partitions), never the raw events — the
  // dashboard "what's hot each hour" query at event-stream scale
  private val e12: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("window_start"))
      .orderBy(col("n").desc, col("event_type").asc)
    graft.streaming.EventStreams.windowedTypeCounts(events(s, dir))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
  }

  private val e2: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val sec = col("ts").cast("double")
    val newSession = when(
      lag(sec, 1).over(byUser).isNull || sec - lag(sec, 1).over(byUser) > 1800.0,
      1L).otherwise(0L)
    events(s, dir)
      .withColumn("is_new", newSession)
      .withColumn("session_id",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("session_start"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
  }

  private val e3: Q = (s, dir) =>
    events(s, dir)
      .groupBy(col("event_type"))
      .agg(sum(get_json_object(col("props"), "$.k").cast("long")).as("total_k"),
        count(lit(1)).as("n"))

  // two-stage skew-aware distinct + totals over the 4-value heavy-hitter
  // key — distinct dedups on the composite (key, user) so no reducer owns
  // a whole hot key; the oracle computes the single-pass equivalent
  private val e4: Q = (s, dir) =>
    graft.operators.SkewAgg.distinctAndTotals(events(s, dir),
      col("event_type"), col("value"), col("user_id"))
      .select(col("key").as("event_type"), col("n"), col("sum_value"), col("n_distinct"))

  // as-of join: each click picks up the most recent prior (≤ ts) view of
  // the same user — one shuffle via the union+window composition
  private val e5: Q = (s, dir) => {
    val ev = events(s, dir)
    graft.operators.AsOfJoin.asOf(
      left = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id")),
      right = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_id"),
          col("value").as("view_value")),
      keys = Seq("user_id"), ts = "ts", leftId = "event_id",
      payload = Seq("view_id", "view_value"), tieBreak = "view_id")
      .select(col("event_id"), col("user_id"), col("view_id"), col("view_value"))
  }

  // forward as-of with a 2-hour tolerance: each view attaches the NEXT
  // purchase of the same user within the window ("did this view convert,
  // and to what") — same one-shuffle union+window shape scanned in
  // reverse time order; out-of-tolerance matches null out, not fall back
  private val e11: Q = (s, dir) => {
    val ev = events(s, dir)
    graft.operators.AsOfJoin.asOf(
      left = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id")),
      right = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"),
          col("value").as("purchase_value")),
      keys = Seq("user_id"), ts = "ts", leftId = "event_id",
      payload = Seq("purchase_id", "purchase_value"), tieBreak = "purchase_id",
      direction = "forward", toleranceMicros = Some(7200000000L))
      .select(col("event_id"), col("user_id"),
        col("purchase_id"), col("purchase_value"))
  }

  // KMV distinct sketch over user-DAYS per event type (bounded mergeable
  // state — the scale-out alternative to e4's exact two-stage distinct);
  // exact count alongside makes the ~1/√k estimator error visible. Day
  // arithmetic in exact integer micros (unix_micros div), never float
  // seconds.
  private val e6: Q = (s, dir) => {
    val k = 32
    val kmv = udaf(new graft.functions.KmvSketch(k), org.apache.spark.sql.Encoders.scalaLong)
    val key = (col("user_id").cast("long") * 100000L +
      expr("unix_micros(ts) div 86400000000")).as("key")
    events(s, dir)
      .select(col("event_type"), key)
      .select(col("event_type"), col("key"),
        graft.functions.KmvSketch.hash(col("key")).as("h"))
      .groupBy("event_type")
      .agg(kmv(col("h")).as("sk"), countDistinct(col("key")).as("exact_distinct"))
      .select(col("event_type"),
        graft.functions.KmvSketch.kthValue(col("sk")).as("kth_hash"),
        graft.functions.KmvSketch.estimate(col("sk"), k).as("est_distinct"),
        col("exact_distinct"))
  }

  // weekly cohort retention: users bucketed by signup week, counted in
  // each later week they were active. The activity set dedups to
  // (user, week) FIRST — one row per user-week regardless of event
  // volume — then a user-keyed join and a tiny (cohort, offset) agg;
  // week arithmetic in exact integer micros (no float epoch)
  private val e8: Q = (s, dir) => {
    val ev = events(s, dir)
    val week = expr("unix_micros(ts) div 604800000000") // resolves against each frame's ts
    val cohort = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(week).as("cohort_week"))
    val activity = ev.select(col("user_id").as("_u"), week.as("week")).distinct()
    // count(*) here IS count(distinct user_id): activity is deduped to one
    // row per (user, week), and within a user cohort_week is fixed — so each
    // user hits a given (cohort_week, week_offset) group at most once. The
    // oracle states the distinct-count intent; this side skips the two
    // distinct-agg passes a countDistinct would replan
    cohort.join(activity,
        col("user_id") === col("_u") && col("week") >= col("cohort_week"))
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  // ordered signup→click→purchase funnel, each hop within one day — one
  // user-keyed aggregation per step, nulls from the stall point onward
  private val e7: Q = (s, dir) =>
    graft.operators.Funnel.funnel(events(s, dir), col("user_id"), col("ts"),
      col("event_type"), Seq("signup", "click", "purchase"),
      maxGapSeconds = Some(86400L))

  // keyless interval join: clicks inside each purchase's 30-minute
  // attribution window. Bucket width = window length (µs), so each
  // interval explodes to ≤ 2 bucket rows and the join is a plain
  // equi-join on bucket id — never the BroadcastNestedLoopJoin Spark
  // would plan for the raw range predicate
  private val e9: Q = (s, dir) => {
    val winUs = 1800000000L // 30 min in µs
    val ev = events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event_id"),
        unix_micros(col("ts")).as("_s"),
        (unix_micros(col("ts")) + winUs).as("_e"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(unix_micros(col("ts")).as("_p"))
    graft.operators.IntervalJoin.bucketed(
        clicks, purchases, "_p", "_s", "_e", winUs)
      .groupBy("p_event_id")
      .agg(count(lit(1)).as("n_clicks"))
  }

  // interval×interval overlap: purchase windows that co-occur (pairs
  // counted once, a_id < b_id) — same bucket scheme as e9, self-joined
  private val e10: Q = (s, dir) => {
    val winUs = 1800000000L
    def side(p: String) = events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as(s"${p}_id"),
        unix_micros(col("ts")).as(s"${p}_s"),
        (unix_micros(col("ts")) + winUs).as(s"${p}_e"))
    graft.operators.IntervalJoin.overlap(
        side("a"), side("b"), "a_s", "a_e", "b_s", "b_e", winUs)
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id")
      .agg(count(lit(1)).as("n_overlaps"))
  }

  val queries: Map[String, Q] = Map(
    "t1_token_stats" -> t1,
    "t2_quality" -> t2,
    "t3_langid" -> t3,
    "t4_fingerprint" -> t4,
    "t5_repetition" -> t5,
    "t6_quality_gate" -> t6,
    "t11_gopher_rules" -> t11,
    "t7_scrub" -> t7,
    "t8_token_rarity" -> t8,
    "t12_token_entropy" -> t12,
    "t13_vocab_stats" -> t13,
    "e13_rate_spike" -> e13,
    "t14_quality_tiers" -> t14,
    "t9_freq_sketch" -> t9,
    "t10_lm_score" -> t10,
    "d1_exact_dedup" -> d1,
    "d2_ngram_jaccard" -> d2,
    "d19_prefix_jaccard" -> d19,
    "d2b_ngram_capped" -> d2b,
    "d3_minhash_lsh" -> d3,
    "d27_lsh_tuned" -> d27,
    "d21_containment" -> d21,
    "d21b_containment_capped" -> d21b,
    "d21c_containment_approx" -> d21c,
    "d21d_containment_approx_eval" -> d21d,
    "d22_containment_keep" -> d22,
    "d24_dup_spans" -> d24,
    "d25_cut_spans" -> d25,
    "d26_boilerplate" -> d26,
    "d6_source_signatures" -> d6,
    "d20_source_overlap" -> d20,
    "d7_dup_clusters" -> d7,
    "d8_dedup_keep" -> d8,
    "g1_pagerank" -> g1,
    "g3_degree" -> g3,
    "g2_pagerank_weighted" -> g2,
    "d16_dedup_recall" -> d16,
    "d17_fuzzy_pairs" -> d17,
    "d23_fuzzy_blocked" -> d23,
    "d18_fuzzy_clusters" -> d18,
    "d4_simhash" -> d4,
    "d5_embedding_neardup" -> d5,
    "d12_semdedup" -> d12,
    "d12b_semdedup_trained" -> d12b,
    "d12c_semdedup_sampled" -> d12c,
    "d12d_semdedup_ann" -> d12d,
    "d12e_semdedup_store" -> d12e,
    "d28_softdedup_weights" -> d28,
    "d13_incremental_dedup" -> d13,
    "d10_substring_coverage" -> d10,
    "d11_dedup_report" -> d11,
    "d15_segment_dedup" -> d15,
    "s1_ann_bruteforce" -> s1,
    "s11_ann_filtered" -> s11,
    "s2_ann_lsh" -> s2,
    "s3_ann_ivf" -> s3,
    "s19_ann_ivf_hier" -> s19,
    "s20_ann_ivfpq_hier" -> s20,
    "s23_ivf_store_build" -> s23,
    "s24_ann_ivf_store" -> s24,
    "s25_ann_ivf_store_append" -> s25,
    "s26_assign_fidelity" -> s26,
    "s26a_fp_grid" -> s26a,
    "s26b_fp_flat" -> s26b,
    "s26c_fp_super" -> s26c,
    "s26d_fp_c2s" -> s26d,
    "s26e_fp_hier" -> s26e,
    "s28_ivf_store_compact" -> s28,
    "s27_ann_ivfpq_store" -> s27,
    "s29_ann_store_filtered" -> s29,
    "s30_ann_store_range" -> s30,
    "s4_ann_quantized" -> s4,
    "s12_ann_rp" -> s12,
    "s13_ann_mmr" -> s13,
    "s9_kmeans_codebook" -> s9,
    "s10_ann_ivf_trained" -> s10,
    "s14_ann_ivfpq" -> s14,
    "s31_ann_ivfpq_residual" -> s31,
    "s32_ann_ivf_adaptive" -> s32,
    "s33_ann_ivfpq_adaptive" -> s33,
    "s34_ann_store_adaptive" -> s34,
    "s35_ann_pqstore_residual" -> s35,
    "s36_ann_store_range_adaptive" -> s36,
    "s37_ann_ivf_hier_adaptive" -> s37,
    "s38_ann_store_hier_adaptive" -> s38,
    "s39_ann_ivf_trained_adaptive" -> s39,
    "s40_ann_store_filtered_adaptive" -> s40,
    "s15_ann_multiprobe" -> s15,
    "s7_ann_pq" -> ((s, dir) =>
      Similarity.pqTopK(t(s, dir, "embeddings"), queriesDf(s, dir),
        col("vec_id"), col("embedding"), k = 10)),
    "s5_keyword_search" -> s5,
    "s16_hybrid_rrf" -> s16,
    "s6_keyword_batch" -> s6,
    // index-swap eval: the LSH tier's recall@10 vs the exact ranking,
    // per query, in integer ppm — both rankings truncated to k before
    // the join, so the eval never costs a corpus pass of its own
    "s8_recall_eval" -> ((s, dir) => Similarity.recallAtK(
      s1(s, dir), s2(s, dir), k = 10)),
    // same eval over the capped-IVF tier: the 256-list recall contract
    // (Similarity.Nearest scaladoc, BASELINE.md §9) hash-checked every round
    "s17_recall_ivf" -> ((s, dir) => Similarity.recallAtK(
      s1(s, dir), s3(s, dir), k = 10)),
    // and over the IVF×PQ tier, whose recall is pool-bound past ~8
    // probes (the measured nProbe=32 dip, Similarity.Nearest scaladoc) —
    // pinned here at the benched nProbe=2/pool=50 config
    "s18_recall_ivfpq" -> ((s, dir) => Similarity.recallAtK(
      s1(s, dir), s14(s, dir), k = 10)),
    // the same standing-recall contract over the HIERARCHICAL tiers —
    // s19/s20's 0.96 sf10 recall was a one-off probe until these rows
    "s21_recall_ivf_hier" -> ((s, dir) => Similarity.recallAtK(
      s1(s, dir), s19(s, dir), k = 10)),
    "s22_recall_ivfpq_hier" -> ((s, dir) => Similarity.recallAtK(
      s1(s, dir), s20(s, dir), k = 10)),
    "mm1_media_meta" -> mm1,
    "mm2_frame_sample" -> mm2,
    "mm3_patch_grid" -> mm3,
    "e1_window_agg" -> e1,
    "e12_windowed_topk" -> e12,
    "e2_sessionize" -> e2,
    "e3_json_props" -> e3,
    "e4_heavy_hitter_distinct" -> e4,
    "e5_asof_join" -> e5,
    "e11_asof_forward" -> e11,
    "e6_kmv_distinct" -> e6,
    "e7_funnel" -> e7,
    "e8_retention" -> e8,
    "e9_interval_join" -> e9,
    "e10_overlap_join" -> e10)

  // ------------------------------------------------------------------
  // Oracles
  // ------------------------------------------------------------------

  // TRY_CAST (not CAST): attachMedia's substring-cast yields null on a
  // non-numeric suffix, and with no ELSE branch a null modulus maps to null
  // kind on both sides. Byte lengths use octet_length(encode(..)) — the
  // Spark side measures the UTF-8 payload, and char-count length() would
  // silently diverge on any multibyte text.
  private val sqlKind =
    "CASE (TRY_CAST(substr(source, 4) AS INT) % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' WHEN 2 THEN 'video' END"

  private val sqlNBytes = "octet_length(encode(text))"

  /** DuckDB: the LSH sign-bucket id of `embedding` for hash table `t` (a
    * correlated column) — Σ_h (v·plane(t,h) > 0 ? 1<<h : 0). The dot
    * product replays HyperplaneBuckets' left-to-right double fold exactly:
    * list_reduce seeds with the FIRST element, Spark's loop seeds with 0.0,
    * and 0.0 + x == x for every IEEE double (a -0.0 first term flips to
    * +0.0, which the `> 0` sign test cannot distinguish). The weight
    * formula must stay in lockstep with Similarity.planeWeight.
    */
  private def sqlLshBucket(bits: Int): String =
    (0 until bits).map { h =>
      val dot = s"""list_reduce(
                   |      list_transform(range(1, len(embedding)+1),
                   |        i -> embedding[i]::DOUBLE *
                   |             (((t*7919 + ${h * 104729 + 1}) * i * 2654435761) % 65536 - 32768)::DOUBLE),
                   |      (x, y) -> x + y)""".stripMargin
      s"(CASE WHEN $dot > 0 THEN ${1L << h} ELSE 0 END)"
    }.mkString("\n    + ")

  private def simhashSelect: String = {
    val bits = (0 until 32).map { j =>
      s"(CASE WHEN sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    s"SELECT doc_id, $bits AS simhash FROM th GROUP BY doc_id"
  }

  /** DuckDB replay of `Dedup.minhashLshPairs` (n=3, 32 hashes, `bands`
    * bands of `rowsPerBand` rows — the d3 default is 4×8; d27 passes the
    * lshParams-selected 8×4): shingle → minhash signature → bands →
    * band-equality candidates → exact Jaccard verify. Shared by the
    * d3/d27 pair gates and the d7/d8 cluster oracles so all stay in
    * lockstep with the one Spark implementation.
    */
  private[queries] def sqlLshPairCtes(
      src: String = "documents", bands: Int = 4, rowsPerBand: Int = 8) =
    s"""base AS (
       |  SELECT doc_id, sh FROM (
       |    SELECT doc_id, ${sqlShingles("w")} AS sh
       |    FROM (SELECT doc_id, ${sqlToks("text")} AS w FROM $src))
       |  WHERE len(sh) > 0),
       |sig AS (
       |  SELECT doc_id, sh,
       |    list_transform(range(0, 32), i ->
       |      list_min(list_transform(sh, s ->
       |        ((${sqlPolyHash("s")}) * (i*2 + 1) + (i*i*31 + 7)) % 1000000007))) AS sig
       |  FROM base),
       |banded AS (
       |  SELECT doc_id, b AS band,
       |    list_slice(sig, b*$rowsPerBand + 1, b*$rowsPerBand + $rowsPerBand) AS bsig
       |  FROM sig, unnest(range(0, $bands)) t(b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
       |verified AS (
       |  SELECT doc_a, doc_b, (inter * 1000000) // uni AS jaccard_ppm,
       |    inter, uni
       |  FROM (
       |    SELECT doc_a, doc_b,
       |      len(list_filter(sa.sh, s -> list_contains(sb.sh, s))) AS inter,
       |      len(sa.sh) + len(sb.sh)
       |        - len(list_filter(sa.sh, s -> list_contains(sb.sh, s))) AS uni
       |    FROM cand
       |    JOIN base sa ON sa.doc_id = doc_a
       |    JOIN base sb ON sb.doc_id = doc_b))""".stripMargin

  /** Hash-min connected components over the LSH pairs + canonical-rep
    * labeling, as a recursive walk (DuckDB side of `Dedup.clusterPairs`).
    * Shared with the corpus-curation oracles (CorpusQueries c1/d9), which
    * consume the same cluster assignment.
    */
  private[queries] def sqlLshClusterCtes(src: String = "documents"): String =
    s"""${sqlLshPairCtes(src)},
       |pairs AS (SELECT doc_a, doc_b FROM verified WHERE inter * 1000000 >= 500000 * uni),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |walk AS (
       |  SELECT a AS v, a AS l FROM edges
       |  UNION
       |  SELECT e.b AS v, w.l FROM walk w JOIN edges e ON e.a = w.v)""".stripMargin

  /** The s26 pipeline's full CTE set — shared verbatim by the
    * s26_assign_fidelity replay and the s26a–s26e stage-fingerprint
    * keys (DuckDB elides the CTEs a query never references, so each
    * fingerprint pays only its own stages): unit grid (`ue`), capped
    * stride centroids (`cents`), flat exact argmax (`flatl`), super set
    * (`rankedc`/`supers`), centroid→super filing (`c2s`), per-row super
    * ranks (`sup`), two-level pick per sProbe (`hier`).
    */
  private lazy val sqlS26Ctes =
    s"""${sqlUnitCte("ue", "vec_id", "embedding", "embeddings")},
        |cents AS (
        |  SELECT vec_id AS c_id, u AS cu
        |  FROM embeddings JOIN ue USING (vec_id)
        |  WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT 256),
        |flatl AS (
        |  SELECT vec_id, c_id AS flat_c FROM (
        |    SELECT b.vec_id, c.c_id,
        |      ROW_NUMBER() OVER (PARTITION BY b.vec_id
        |        ORDER BY ${sqlUDot("bu.u", "c.cu")} DESC,
        |                 c.c_id ASC) AS crn
        |    FROM embeddings b JOIN ue bu ON bu.vec_id = b.vec_id
        |    CROSS JOIN cents c)
        |  WHERE crn <= 1),
        |rankedc AS (
        |  SELECT c_id, cu, ROW_NUMBER() OVER (ORDER BY c_id) - 1 AS crk FROM cents),
        |supers AS (
        |  SELECT c_id AS s_id, cu AS su FROM rankedc WHERE crk % 16 = 0),
        |c2s AS (
        |  SELECT s_id, c_id, cu FROM (
        |    SELECT c.c_id, c.cu, s.s_id,
        |      ROW_NUMBER() OVER (PARTITION BY c.c_id
        |        ORDER BY (s.s_id = c.c_id) DESC,
        |                 ${sqlUDot("c.cu", "s.su")} DESC, s.s_id ASC) AS srn
        |    FROM cents c CROSS JOIN supers s)
        |  WHERE srn = 1),
        |sup AS (
        |  SELECT vec_id, u, s_id, srn FROM (
        |    SELECT b.vec_id, bu.u, s.s_id,
        |      ROW_NUMBER() OVER (PARTITION BY b.vec_id
        |        ORDER BY ${sqlUDot("bu.u", "s.su")} DESC,
        |                 s.s_id ASC) AS srn
        |    FROM embeddings b JOIN ue bu ON bu.vec_id = b.vec_id
        |    CROSS JOIN supers s)
        |  WHERE srn <= 4),
        |hier AS (
        |  SELECT s_probe, vec_id, c_id FROM (
        |    SELECT sp.s_probe, r.vec_id, c.c_id,
        |      ROW_NUMBER() OVER (PARTITION BY sp.s_probe, r.vec_id
        |        ORDER BY ${sqlUDot("r.u", "c.cu")} DESC,
        |                 c.c_id ASC) AS crn
        |    FROM sup r
        |    JOIN (VALUES (1), (2), (4)) sp(s_probe) ON r.srn <= sp.s_probe
        |    JOIN c2s c ON c.s_id = r.s_id)
        |  WHERE crn = 1)""".stripMargin

  /** The exact-ranking replay, parameterized on an extra base-side
    * predicate so s1 (unfiltered) and s11 (label slice) share one
    * template — a ranking fix lands in both by construction.
    */
  private def sqlExactTopK(basePred: String = ""): String =
    s"""WITH ${sqlUnitCte("xue", "vec_id", "embedding", "embeddings")}
       |SELECT q_id, vec_id, cos_ud, rn FROM (
       |  SELECT q.vec_id AS q_id, b.vec_id AS vec_id,
       |    ${sqlUDot("qu.u", "bu.u")} AS cos_ud,
       |    ROW_NUMBER() OVER (
       |      PARTITION BY q.vec_id
       |      ORDER BY ${sqlUDot("qu.u", "bu.u")} DESC,
       |               b.vec_id ASC) AS rn
       |  FROM embeddings q JOIN embeddings b ON q.vec_id <> b.vec_id
       |  JOIN xue qu ON qu.vec_id = q.vec_id
       |  JOIN xue bu ON bu.vec_id = b.vec_id
       |  WHERE q.vec_id < 5$basePred)
       |WHERE rn <= 10""".stripMargin

  /** s1's exact-ranking replay — also the ground truth inside s8. */
  private val sqlS1Exact = sqlExactTopK()

  /** One Lloyd iteration of the s9/s10 k-means replay (oracle side of
    * [[graft.operators.Similarity.kmeansTrain]]): exact squared-L2
    * assignment over integer micros, argmin window, floored-integer-mean
    * update, empty-cluster coalesce. `cI` is the iteration's output
    * centroid list table; `mI` the same exploded to (c_id, pos, val).
    */
  private def sqlKmeansIter(i: Int, src: String = "ev"): String = {
    val prev = if (i == 1) "c0" else s"c${i - 1}"
    s"""d$i AS (
       |  SELECT e.vec_id, c.c_id, e.mv,
       |    list_reduce(list_transform(range(1, 65),
       |      i -> (e.mv[i::INT] - c.cv[i::INT]) * (e.mv[i::INT] - c.cv[i::INT])),
       |      (a, b) -> a + b) AS dist
       |  FROM $src e CROSS JOIN $prev c),
       |a$i AS (
       |  SELECT c_id, mv FROM (
       |    SELECT vec_id, c_id, mv,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist ASC, c_id ASC) AS rn
       |    FROM d$i) WHERE rn = 1),
       |u$i AS (
       |  SELECT c_id, pos, CAST(floor(SUM(val) * 1.0 / COUNT(*)) AS BIGINT) AS val
       |  FROM (SELECT c_id, generate_subscripts(mv, 1) AS pos, unnest(mv) AS val FROM a$i)
       |  GROUP BY 1, 2),
       |p$i AS (SELECT c_id, generate_subscripts(cv, 1) AS pos, unnest(cv) AS pval FROM $prev),
       |m$i AS (
       |  SELECT p.c_id, p.pos, COALESCE(u.val, p.pval) AS val
       |  FROM p$i p LEFT JOIN u$i u ON u.c_id = p.c_id AND u.pos = p.pos),
       |c$i AS (SELECT c_id, list(val ORDER BY pos) AS cv FROM m$i GROUP BY 1)""".stripMargin
  }

  /** The shared WITH-prefix of the k-means replays: micros vectors, the
    * stride seeds, and both unrolled iterations (k=8, iters=2,
    * seedStride=50 — in lockstep with the s9/s10 Spark calls).
    */
  private val sqlKmeansCtes =
    s"""ev AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> floor(x::DOUBLE * 1048576 + 0.5)::BIGINT) AS mv
       |  FROM embeddings),
       |c0 AS (
       |  SELECT vec_id // 50 AS c_id, mv AS cv FROM ev
       |  WHERE vec_id % 50 = 0 AND vec_id // 50 < 8),
       |${sqlKmeansIter(1)},
       |${sqlKmeansIter(2)}""".stripMargin

  /** d12b's scale-honest variant of [[sqlKmeansCtes]]: k = ⌈√N⌉ computed
    * from the corpus itself, seeds = the first k stride-10 ids BY RANK
    * with `c_id = 0…k−1` — in lockstep with `kmeansTrain(k = ⌈√count⌉,
    * seedStride = 10, rankSeeds = true)`. The Lloyd iterations are
    * k-agnostic and shared.
    */
  private val sqlKmeansCtesRank =
    s"""ev AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> floor(x::DOUBLE * 1048576 + 0.5)::BIGINT) AS mv
       |  FROM embeddings),
       |c0 AS (
       |  SELECT c_id, cv FROM (
       |    SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c_id, mv AS cv
       |    FROM ev WHERE vec_id % 10 = 0)
       |  WHERE c_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)),
       |${sqlKmeansIter(1)},
       |${sqlKmeansIter(2)}""".stripMargin

  /** d12c's sampled-train variant of [[sqlKmeansCtesRank]]: the Lloyd
    * iterations run over the deterministic 1-in-5 stride SAMPLE
    * (`vec_id % 5 = 0` — the faiss/SemDeDup deployment shape: train on a
    * sample, assign the full corpus), k = ⌈√N⌉ still from the FULL
    * corpus (it balances the full-corpus prune, not the train), seeds =
    * first k stride-10 ids by rank (stride-10 ⊂ stride-5, so every seed
    * is in the sample).
    */
  private val sqlKmeansCtesSampled =
    s"""ev AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> floor(x::DOUBLE * 1048576 + 0.5)::BIGINT) AS mv
       |  FROM embeddings),
       |evs AS (SELECT vec_id, mv FROM ev WHERE vec_id % 5 = 0),
       |c0 AS (
       |  SELECT c_id, cv FROM (
       |    SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c_id, mv AS cv
       |    FROM evs WHERE vec_id % 10 = 0)
       |  WHERE c_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)),
       |${sqlKmeansIter(1, "evs")},
       |${sqlKmeansIter(2, "evs")}""".stripMargin

  /** DuckDB replay of [[graft.functions.UnitMicros]] as a CTE
    * `name(id, u)`: integer grid units `floor(x·2²⁰ + 0.5)`, EXACT
    * BIGINT `Σ m²`, the EXACT floor integer square root
    * `isq = isqrt(nsq)` (double-`sqrt` SEED, then pure-integer CASE
    * corrections in the overflow-free division form
    * `x² ≤ n ⟺ x ≤ n div x` — one step down guarded to `≥ 1`, one step
    * up; the result is a function of the BIGINT `nsq` alone, immune to
    * any engine's `sqrt` ulp), then
    * `u_i = sign(m)·((|m|·2²⁰) div isq)` per component — sign-split so
    * the replay never leans on an engine's negative-integer-division
    * convention (`//` truncates in current DuckDB; floor elsewhere).
    * The grid scale is a POWER OF TWO (r15): `x·2²⁰` is an exact
    * exponent shift, so the only rounded float op anywhere is the
    * single `+ 0.5` addition — one exactly-rounded IEEE op that even
    * FMA contraction cannot change (the multiply contributes no
    * rounding), closing the last arithmetic-divergence candidate the
    * earlier `x·10⁶ + 0.5` entry (two rounded ops) left open. Every
    * later step is integer, so the produced vectors — and therefore
    * every integer-dot argmax ranked on them — are bit-identical across
    * engines (the fix lineage: round-6 cosine boundary class → the
    * `floor(m/√nsq·10⁶+0.5)` three-op float chain → the 10⁶ entry
    * multiply, each removed in turn).
    */
  private def sqlUnitCte(
      name: String, id: String, vec: String, src: String): String =
    s"""$name AS (
       |  SELECT $id,
       |    CASE WHEN isq = 0 THEN list_transform(mv, y -> 0::BIGINT)
       |         ELSE list_transform(mv,
       |                y -> CASE WHEN y < 0 THEN -(((-y) * 1048576) // isq)
       |                          ELSE ((y * 1048576) // isq) END)
       |    END AS u
       |  FROM (
       |    SELECT $id, mv,
       |      CASE WHEN nsq = 0 THEN 0
       |           WHEN s1 + 1 <= nsq // (s1 + 1) THEN s1 + 1
       |           ELSE s1 END AS isq
       |    FROM (
       |      SELECT $id, mv, nsq,
       |        CASE WHEN s0 > 1 AND s0 > nsq // s0 THEN s0 - 1 ELSE s0 END AS s1
       |      FROM (
       |        SELECT $id, mv, nsq,
       |          CASE WHEN nsq = 0 THEN 1
       |               ELSE greatest(floor(sqrt(nsq::DOUBLE))::BIGINT, 1) END AS s0
       |        FROM (
       |          SELECT $id, mv,
       |            CASE WHEN len(mv) = 0 THEN 0
       |                 ELSE list_reduce(list_transform(mv, y -> y * y), (a, b) -> a + b)
       |            END AS nsq
       |          FROM (
       |            SELECT $id,
       |              list_transform($vec, x -> floor(x::DOUBLE * 1048576 + 0.5)::BIGINT) AS mv
       |            FROM $src))))))""".stripMargin

  /** Exact BIGINT dot of two unit-micros list expressions — the
    * assignment-ranking score ([[graft.functions.VectorDot]]'s long
    * fold; integer addition is order-independent, so `list_reduce`
    * replays it exactly).
    */
  private def sqlUDot(a: String, b: String): String =
    s"""(CASE WHEN len($a) = 0 THEN 0
       |      ELSE list_reduce(list_transform(range(1, len($a) + 1),
       |             i -> $a[i::INT] * $b[i::INT]), (x, y) -> x + y) END)""".stripMargin

  /** The flat capped-IVF CTEs (`ue`, `cents`, `listed`, `probed`) shared
    * by the s3 / s14 / s17 / s18 replays: 256 stride-picked centroids,
    * nearest-centroid lists by EXACT integer unit-micros dot (in
    * lockstep with [[graft.operators.Similarity.ivfAssignTo]]), queries
    * probe their 2 nearest lists.
    */
  private val sqlIvfFlatCtes =
    s"""${sqlUnitCte("ue", "vec_id", "embedding", "embeddings")},
       |cents AS (
       |  SELECT vec_id AS c_id, embedding AS cv, u AS cu
       |  FROM embeddings JOIN ue USING (vec_id)
       |  WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT 256),
       |listed AS (
       |  SELECT vec_id, v, c_id FROM (
       |    SELECT b.vec_id, b.embedding AS v, c.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY b.vec_id
       |        ORDER BY ${sqlUDot("bu.u", "c.cu")} DESC,
       |                 c.c_id ASC) AS crn
       |    FROM embeddings b JOIN ue bu ON bu.vec_id = b.vec_id
       |    CROSS JOIN cents c)
       |  WHERE crn <= 1),
       |probed AS (
       |  SELECT q_id, qv, c_id FROM (
       |    SELECT q.vec_id AS q_id, q.embedding AS qv, c.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${sqlUDot("qu.u", "c.cu")} DESC,
       |                 c.c_id ASC) AS crn
       |    FROM embeddings q JOIN ue qu ON qu.vec_id = q.vec_id
       |    CROSS JOIN cents c
       |    WHERE q.vec_id < 5)
       |  WHERE crn <= 2)""".stripMargin

  /** The integer-scored rescore tail over `listed ⋈ probed` — the final
    * SELECT shared by the s3 (flat) and s19 (hierarchical) replays; which
    * assignment produced the two CTEs is invisible to it, exactly as in
    * the Spark operators. Emits the SAME integer unit-grid dot the rank
    * runs on (`cos_ud`) — no float column in the hashed output.
    */
  private val sqlIvfRescoreTail =
    s"""SELECT q_id, vec_id, cos_ud, rn FROM (
      |  SELECT p.q_id, l.vec_id,
      |    ${sqlUDot("pu.u", "lu.u")} AS cos_ud,
      |    ROW_NUMBER() OVER (PARTITION BY p.q_id
      |      ORDER BY ${sqlUDot("pu.u", "lu.u")} DESC,
      |               l.vec_id ASC) AS rn
      |  FROM listed l JOIN probed p ON l.c_id = p.c_id
      |  JOIN ue lu ON lu.vec_id = l.vec_id
      |  JOIN ue pu ON pu.vec_id = p.q_id
      |  WHERE p.q_id <> l.vec_id)
      |WHERE rn <= 10""".stripMargin

  /** The PQ codebook/encode/ADC/pool/rescore tail (CTEs `cbv` … final
    * SELECT) over whatever `listed`/`probed` precede it — one named
    * constant CONCATENATED by both the s14 (flat) and s20 (hierarchical)
    * replays, so the two can never drift (previously s20 substring-spliced
    * s14's text, which a CTE rename would have silently broken).
    */
  private val sqlPqTail =
      s"""cbv AS (
        |  SELECT vec_id // 16 AS j, embedding AS cv FROM embeddings
        |  WHERE vec_id % 16 = 0 AND vec_id // 16 < 16),
        |sub AS (
        |  SELECT t.s AS s, j,
        |    list_transform(list_slice(cv, t.s*8 + 1, t.s*8 + 8),
        |      c -> floor(c::DOUBLE * 1048576 + 0.5)::BIGINT) AS mc
        |  FROM cbv, unnest(range(0, 8)) t(s)),
        |mb AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> floor(x::DOUBLE * 1048576 + 0.5)::BIGINT) AS mv
        |  FROM embeddings),
        |dist AS (
        |  SELECT b.vec_id, sub.s, sub.j,
        |    list_reduce(list_transform(range(1, 9),
        |      i -> (b.mv[(sub.s*8 + i)::INT] - sub.mc[i::INT])
        |           * (b.mv[(sub.s*8 + i)::INT] - sub.mc[i::INT])),
        |      (x, y) -> x + y) AS d
        |  FROM mb b CROSS JOIN sub),
        |enc AS (
        |  SELECT vec_id, s, j AS code FROM (
        |    SELECT vec_id, s, j,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d ASC, j ASC) AS rn
        |    FROM dist)
        |  WHERE rn = 1),
        |cand AS (
        |  SELECT p.q_id, l.vec_id,
        |    list_reduce(list(qd.d ORDER BY qd.s), (x, y) -> x + y) AS est
        |  FROM probed p
        |  JOIN listed l ON l.c_id = p.c_id AND l.vec_id <> p.q_id
        |  JOIN enc e ON e.vec_id = l.vec_id
        |  JOIN dist qd ON qd.vec_id = p.q_id AND qd.s = e.s AND qd.j = e.code
        |  GROUP BY p.q_id, l.vec_id),
        |pool AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY est ASC, vec_id ASC) AS ern
        |    FROM cand)
        |  WHERE ern <= 50)
        |SELECT q_id, vec_id, cos_ud, rn FROM (
        |  SELECT p.q_id, p.vec_id,
        |    ${sqlUDot("qu.u", "bu.u")} AS cos_ud,
        |    ROW_NUMBER() OVER (PARTITION BY p.q_id
        |      ORDER BY ${sqlUDot("qu.u", "bu.u")} DESC,
        |               p.vec_id ASC) AS rn
        |  FROM pool p
        |  JOIN ue qu ON qu.vec_id = p.q_id
        |  JOIN ue bu ON bu.vec_id = p.vec_id)
        |WHERE rn <= 10""".stripMargin

  /** The two-level (hierarchical) IVF assignment CTEs over the
    * stride-capped centroid set — shared by s19 (plain rescore tail) and
    * s20 (s14's PQ tail): super-centroids every 16th by rank, each
    * centroid filed under its nearest super (a super files under ITSELF
    * first — the structural no-row-loss guarantee, mirrored from
    * `hierC2s`), rows/queries probe their 2 nearest super-lists, exact
    * argmax within. Every rank runs on the exact integer unit-micros
    * dot ([[sqlUnitCte]]/[[sqlUDot]] — in lockstep with the Spark
    * assignment family). `listed` keeps crn <= 1 (one list per stored
    * row), `probed` keeps crn <= 2 (= nProbe).
    */
  private def sqlHierIvfCtesWith(centsPred: String): String =
    s"""${sqlUnitCte("ue", "vec_id", "embedding", "embeddings")},
      |cents AS (
      |  SELECT vec_id AS c_id, embedding AS cv, u AS cu
      |  FROM embeddings JOIN ue USING (vec_id)
      |  WHERE vec_id % 50 = 0$centsPred ORDER BY vec_id LIMIT 256),
      |rankedc AS (
      |  SELECT c_id, cv, cu, ROW_NUMBER() OVER (ORDER BY c_id) - 1 AS crk FROM cents),
      |supers AS (
      |  SELECT c_id AS s_id, cv AS sv, cu AS su FROM rankedc WHERE crk % 16 = 0),
      |c2s AS (
      |  SELECT s_id, c_id, cv, cu FROM (
      |    SELECT c.c_id, c.cv, c.cu, s.s_id,
      |      ROW_NUMBER() OVER (PARTITION BY c.c_id
      |        ORDER BY (s.s_id = c.c_id) DESC,
      |                 ${sqlUDot("c.cu", "s.su")} DESC, s.s_id ASC) AS srn
      |    FROM cents c CROSS JOIN supers s)
      |  WHERE srn = 1),
      |r2s AS (
      |  SELECT vec_id, v, u, s_id FROM (
      |    SELECT b.vec_id, b.embedding AS v, bu.u, s.s_id,
      |      ROW_NUMBER() OVER (PARTITION BY b.vec_id
      |        ORDER BY ${sqlUDot("bu.u", "s.su")} DESC,
      |                 s.s_id ASC) AS srn
      |    FROM embeddings b JOIN ue bu ON bu.vec_id = b.vec_id
      |    CROSS JOIN supers s)
      |  WHERE srn <= 2),
      |listed AS (
      |  SELECT vec_id, v, c_id FROM (
      |    SELECT r.vec_id, r.v, c.c_id,
      |      ROW_NUMBER() OVER (PARTITION BY r.vec_id
      |        ORDER BY ${sqlUDot("r.u", "c.cu")} DESC,
      |                 c.c_id ASC) AS crn
      |    FROM r2s r JOIN c2s c ON r.s_id = c.s_id)
      |  WHERE crn <= 1),
      |probed AS (
      |  SELECT vec_id AS q_id, v AS qv, c_id FROM (
      |    SELECT r.vec_id, r.v, c.c_id,
      |      ROW_NUMBER() OVER (PARTITION BY r.vec_id
      |        ORDER BY ${sqlUDot("r.u", "c.cu")} DESC,
      |                 c.c_id ASC) AS crn
      |    FROM r2s r JOIN c2s c ON r.s_id = c.s_id
      |    WHERE r.vec_id < 5)
      |  WHERE crn <= 2)""".stripMargin

  private val sqlHierIvfCtes = sqlHierIvfCtesWith("")

  /** s14's IVF×PQ replay — also the candidate side of s18. */
  private val sqlS14IvfPq = s"WITH $sqlIvfFlatCtes,\n$sqlPqTail"

  /** s31's residual-PQ tail over [[sqlIvfFlatCtes]]: every stored row and
    * every (query, probed list) pair is re-centered on the list's
    * centroid BEFORE the micros grid, codebook rows are the residuals of
    * the same stride ids — otherwise byte-for-byte the s14 ADC replay.
    * The LUT is per-(query, LIST): `qdist` keys on (q_id, c_id) and the
    * candidate join matches on the probed list, mirroring the operator's
    * per-list lut(resOf(qv)).
    *
    * Parameterized on the probed-pairs CTE name and the pool cut so the
    * s33 full-adaptive replay (mass-adaptive probe CTE + candidate-
    * scaled pool rule) shares every byte of the ADC machinery; the s31
    * instance below is the fixed-knob original. `cand_n` (each query's
    * candidate count) rides the pool window unconditionally — s31's cut
    * ignores it, s33's reads it.
    */
  private def sqlPqResidualTailFrom(
      probedCte: String, poolCut: String): String =
    s"""res AS (
      |  SELECT l.vec_id, l.c_id,
      |    list_transform(range(1, 65),
      |      i -> l.v[i::INT]::DOUBLE - c.cv[i::INT]::DOUBLE) AS rv
      |  FROM listed l JOIN cents c USING (c_id)),
      |qres AS (
      |  SELECT p.q_id, p.c_id,
      |    list_transform(range(1, 65),
      |      i -> p.qv[i::INT]::DOUBLE - c.cv[i::INT]::DOUBLE) AS rv
      |  FROM $probedCte p JOIN cents c USING (c_id)),
      |rcb AS (
      |  SELECT vec_id // 16 AS j, rv AS cv FROM res
      |  WHERE vec_id % 16 = 0 AND vec_id // 16 < 16),
      |sub AS (
      |  SELECT t.s AS s, j,
      |    list_transform(list_slice(cv, t.s*8 + 1, t.s*8 + 8),
      |      c -> floor(c::DOUBLE * 1048576 + 0.5)::BIGINT) AS mc
      |  FROM rcb, unnest(range(0, 8)) t(s)),
      |mres AS (
      |  SELECT vec_id, list_transform(rv, x -> floor(x * 1048576 + 0.5)::BIGINT) AS mv
      |  FROM res),
      |mqres AS (
      |  SELECT q_id, c_id, list_transform(rv, x -> floor(x * 1048576 + 0.5)::BIGINT) AS mv
      |  FROM qres),
      |encd AS (
      |  SELECT vec_id, s, j AS code FROM (
      |    SELECT m.vec_id, sub.s, sub.j,
      |      ROW_NUMBER() OVER (PARTITION BY m.vec_id, sub.s
      |        ORDER BY list_reduce(list_transform(range(1, 9),
      |          i -> (m.mv[(sub.s*8 + i)::INT] - sub.mc[i::INT])
      |             * (m.mv[(sub.s*8 + i)::INT] - sub.mc[i::INT])),
      |          (x, y) -> x + y) ASC, sub.j ASC) AS rn
      |    FROM mres m CROSS JOIN sub)
      |  WHERE rn = 1),
      |qdist AS (
      |  SELECT q.q_id, q.c_id, sub.s, sub.j,
      |    list_reduce(list_transform(range(1, 9),
      |      i -> (q.mv[(sub.s*8 + i)::INT] - sub.mc[i::INT])
      |         * (q.mv[(sub.s*8 + i)::INT] - sub.mc[i::INT])),
      |      (x, y) -> x + y) AS d
      |  FROM mqres q CROSS JOIN sub),
      |cand AS (
      |  SELECT p.q_id, l.vec_id,
      |    list_reduce(list(qd.d ORDER BY qd.s), (x, y) -> x + y) AS est
      |  FROM $probedCte p
      |  JOIN listed l ON l.c_id = p.c_id AND l.vec_id <> p.q_id
      |  JOIN encd e ON e.vec_id = l.vec_id
      |  JOIN qdist qd ON qd.q_id = p.q_id AND qd.c_id = p.c_id
      |    AND qd.s = e.s AND qd.j = e.code
      |  GROUP BY p.q_id, l.vec_id),
      |pool AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT q_id, vec_id,
      |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY est ASC, vec_id ASC) AS ern,
      |      COUNT(*) OVER (PARTITION BY q_id) AS cand_n
      |    FROM cand)
      |  WHERE $poolCut)
      |SELECT q_id, vec_id, cos_ud, rn FROM (
      |  SELECT p.q_id, p.vec_id,
      |    ${sqlUDot("qu.u", "bu.u")} AS cos_ud,
      |    ROW_NUMBER() OVER (PARTITION BY p.q_id
      |      ORDER BY ${sqlUDot("qu.u", "bu.u")} DESC,
      |               p.vec_id ASC) AS rn
      |  FROM pool p
      |  JOIN ue qu ON qu.vec_id = p.q_id
      |  JOIN ue bu ON bu.vec_id = p.vec_id)
      |WHERE rn <= 10""".stripMargin

  private val sqlPqResidualTail = sqlPqResidualTailFrom("probed", "ern <= 50")

  private val sqlS31IvfPqResidual = s"WITH $sqlIvfFlatCtes,\n$sqlPqResidualTail"

  /** s33's knobs, shared by the Spark query and its replay so the two
    * can never drift: probe-mass budget (s32's pinned 15%) and the
    * candidate-scaled rescore-pool fraction — BASELINE §17a's measured
    * ≥0.9 point (advemb recall 0.92, uniform 1.00, at the fixed-knob
    * wall; the curve is ~linear in the fraction on the adversarial
    * shape because within-cluster ADC margins sit below 64-bit
    * resolution, §16c).
    */
  private val S33MassPpm = 150000L
  private val S33PoolPpm = 500000L

  /** The mass-adaptive probe selection as shared CTEs over
    * [[sqlIvfFlatCtes]]' `listed`/`cents` — s32's window-cumsum rule
    * carrying `qv` (the residual LUT needs the query vector per probed
    * list): list sizes from `listed`, per-(query, centroid) rank with
    * the running mass of all better-ranked lists, keep while that mass
    * is under the budget. Shared verbatim by the s33 (PQ tail) and s36
    * (range tail) replays; `sqlIvfFlatCtes`' fixed-nProbe `probed` CTE
    * rides along unused, exactly as in the s32 replay.
    */
  private val sqlAdaptiveProbeCtes =
    s"""sizes AS (SELECT c_id, count(*) AS n_list FROM listed GROUP BY c_id),
       |pr3 AS (
       |  SELECT q.vec_id AS q_id, q.embedding AS qv, c.c_id,
       |    ${sqlUDot("qu.u", "c.cu")} AS cd
       |  FROM embeddings q JOIN ue qu ON qu.vec_id = q.vec_id
       |  CROSS JOIN cents c
       |  WHERE q.vec_id < 5),
       |probeda3 AS (
       |  SELECT q_id, qv, c_id FROM (
       |    SELECT p.q_id, p.qv, p.c_id,
       |      COALESCE(SUM(COALESCE(s.n_list, 0)) OVER (PARTITION BY p.q_id
       |        ORDER BY p.cd DESC, p.c_id ASC
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |    FROM pr3 p LEFT JOIN sizes s ON s.c_id = p.c_id)
       |  WHERE cum_before * 1000000 < $S33MassPpm * (SELECT count(*) FROM embeddings))"""
      .stripMargin

  /** s33's full-adaptive IVF×PQ replay: the s31 residual-ADC tail fed by
    * [[sqlAdaptiveProbeCtes]], pool cut scaled to each query's candidate
    * count with a floor at one full result set. Also s35's: the
    * residual-PQ STORE probed with both adaptive knobs is this same
    * computation served from persisted artifacts (spec-pinned
    * bit-identity), so the two keys share every byte of the replay.
    */
  private val sqlS33IvfPqAdaptive =
    s"""WITH $sqlIvfFlatCtes,
       |$sqlAdaptiveProbeCtes,
       |${sqlPqResidualTailFrom("probeda3",
           s"ern <= 10 OR ern * 1000000 <= $S33PoolPpm * cand_n")}"""
      .stripMargin

  /** s36's adaptive RANGE replay: the budget-selected lists feed the s30
    * threshold tail (no rank window — membership on the integer
    * unit-grid dot, 0.25 → 2³⁸).
    */
  private val sqlS36RangeAdaptive =
    s"""WITH $sqlIvfFlatCtes,
       |$sqlAdaptiveProbeCtes
       |SELECT p.q_id, l.vec_id,
       |  ${sqlUDot("pu.u", "lu.u")} AS cos_ud
       |FROM listed l JOIN probeda3 p ON l.c_id = p.c_id
       |JOIN ue lu ON lu.vec_id = l.vec_id
       |JOIN ue pu ON pu.vec_id = p.q_id
       |WHERE p.q_id <> l.vec_id
       |  AND ${sqlUDot("pu.u", "lu.u")} >= 274877906944""".stripMargin

  /** s32's mass-adaptive probe replay: list sizes from `listed`, per
    * (query, centroid) rank with the running mass of all BETTER-ranked
    * lists (window cumsum, 1-PRECEDING frame), keep while that running
    * mass is under 15% of the corpus — rank 1 always survives. The
    * rescore tail is s3's. (`sqlIvfFlatCtes`' fixed-nProbe `probed` CTE
    * rides along unused.)
    */
  private val sqlS32IvfAdaptive =
    s"""WITH $sqlIvfFlatCtes,
       |sizes AS (SELECT c_id, count(*) AS n_list FROM listed GROUP BY c_id),
       |pr AS (
       |  SELECT q.vec_id AS q_id, c.c_id, ${sqlUDot("qu.u", "c.cu")} AS cd
       |  FROM embeddings q JOIN ue qu ON qu.vec_id = q.vec_id
       |  CROSS JOIN cents c
       |  WHERE q.vec_id < 5),
       |probeda AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT p.q_id, p.c_id,
       |      COALESCE(SUM(COALESCE(s.n_list, 0)) OVER (PARTITION BY p.q_id
       |        ORDER BY p.cd DESC, p.c_id ASC
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |    FROM pr p LEFT JOIN sizes s ON s.c_id = p.c_id)
       |  WHERE cum_before * 1000000 < 150000 * (SELECT count(*) FROM embeddings))
       |SELECT q_id, vec_id, cos_ud, rn FROM (
       |  SELECT p.q_id, l.vec_id,
       |    ${sqlUDot("qu.u", "lu.u")} AS cos_ud,
       |    ROW_NUMBER() OVER (PARTITION BY p.q_id
       |      ORDER BY ${sqlUDot("qu.u", "lu.u")} DESC, l.vec_id ASC) AS rn
       |  FROM listed l JOIN probeda p ON l.c_id = p.c_id
       |  JOIN ue lu ON lu.vec_id = l.vec_id
       |  JOIN ue qu ON qu.vec_id = p.q_id
       |  WHERE l.vec_id <> p.q_id)
       |WHERE rn <= 10""".stripMargin

  /** s40's FILTERED-mass replay (BASELINE §18a): per-list MATCHING
    * counts under the predicate (`label = 3`) replace the row masses in
    * s32's cumsum gate — INNER join, so a zero-match list leaves the
    * rank entirely (it can contribute no candidate; under the left-join
    * rule it would still be selected and scanned for nothing) — and the
    * budget's denominator is the corpus's matching total, so `massPpm`
    * stays "fraction of the MATCHING corpus scanned" under any
    * predicate selectivity. The tail is the pre-filtered exact rank
    * (s11's semantics) over only the budget-selected lists.
    */
  private val sqlS40FilteredAdaptive =
    s"""WITH $sqlIvfFlatCtes,
       |fsz AS (
       |  SELECT l.c_id, count(*) AS n_list
       |  FROM listed l JOIN embeddings e ON e.vec_id = l.vec_id
       |  WHERE e.label = 3 GROUP BY l.c_id),
       |pr AS (
       |  SELECT q.vec_id AS q_id, c.c_id, ${sqlUDot("qu.u", "c.cu")} AS cd
       |  FROM embeddings q JOIN ue qu ON qu.vec_id = q.vec_id
       |  CROSS JOIN cents c
       |  WHERE q.vec_id < 5),
       |probedf AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT p.q_id, p.c_id,
       |      COALESCE(SUM(s.n_list) OVER (PARTITION BY p.q_id
       |        ORDER BY p.cd DESC, p.c_id ASC
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |    FROM pr p JOIN fsz s ON s.c_id = p.c_id)
       |  WHERE cum_before * 1000000 < 150000 *
       |    (SELECT count(*) FROM embeddings WHERE label = 3))
       |SELECT q_id, vec_id, cos_ud, rn FROM (
       |  SELECT p.q_id, l.vec_id,
       |    ${sqlUDot("qu.u", "lu.u")} AS cos_ud,
       |    ROW_NUMBER() OVER (PARTITION BY p.q_id
       |      ORDER BY ${sqlUDot("qu.u", "lu.u")} DESC, l.vec_id ASC) AS rn
       |  FROM listed l JOIN probedf p ON l.c_id = p.c_id
       |  JOIN embeddings e ON e.vec_id = l.vec_id
       |  JOIN ue lu ON lu.vec_id = l.vec_id
       |  JOIN ue qu ON qu.vec_id = p.q_id
       |  WHERE l.vec_id <> p.q_id AND e.label = 3)
       |WHERE rn <= 10""".stripMargin

  /** s39's trained+adaptive replay: s10's trained-centroid CTEs (micros
    * back on the float scale) feeding s32's window-cumsum mass gate and
    * the shared exact rescore tail — train → index → budget-probe
    * replayed end-to-end over the SAME trained quantizer.
    */
  private val sqlS39TrainedAdaptive =
    s"""WITH $sqlKmeansCtes,
       |cents AS (
       |  SELECT c_id, list_transform(cv, x -> x::DOUBLE / 1048576.0) AS cv FROM c2),
       |${sqlUnitCte("ue", "vec_id", "embedding", "embeddings")},
       |${sqlUnitCte("cu", "c_id", "cv", "cents")},
       |listed AS (
       |  SELECT vec_id, v, c_id FROM (
       |    SELECT b.vec_id, b.embedding AS v, c.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY b.vec_id
       |        ORDER BY ${sqlUDot("bu.u", "cu.u")} DESC,
       |                 c.c_id ASC) AS crn
       |    FROM embeddings b JOIN ue bu ON bu.vec_id = b.vec_id
       |    CROSS JOIN cents c JOIN cu ON cu.c_id = c.c_id)
       |  WHERE crn <= 1),
       |sizes AS (SELECT c_id, count(*) AS n_list FROM listed GROUP BY c_id),
       |pr AS (
       |  SELECT q.vec_id AS q_id, c.c_id, ${sqlUDot("qu.u", "cu.u")} AS cd
       |  FROM embeddings q JOIN ue qu ON qu.vec_id = q.vec_id
       |  CROSS JOIN cents c JOIN cu ON cu.c_id = c.c_id
       |  WHERE q.vec_id < 5),
       |probeda AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT p.q_id, p.c_id,
       |      COALESCE(SUM(COALESCE(s.n_list, 0)) OVER (PARTITION BY p.q_id
       |        ORDER BY p.cd DESC, p.c_id ASC
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |    FROM pr p LEFT JOIN sizes s ON s.c_id = p.c_id)
       |  WHERE cum_before * 1000000 < $S33MassPpm * (SELECT count(*) FROM embeddings))
       |SELECT q_id, vec_id, cos_ud, rn FROM (
       |  SELECT p.q_id, l.vec_id,
       |    ${sqlUDot("qu.u", "lu.u")} AS cos_ud,
       |    ROW_NUMBER() OVER (PARTITION BY p.q_id
       |      ORDER BY ${sqlUDot("qu.u", "lu.u")} DESC, l.vec_id ASC) AS rn
       |  FROM listed l JOIN probeda p ON l.c_id = p.c_id
       |  JOIN ue lu ON lu.vec_id = l.vec_id
       |  JOIN ue qu ON qu.vec_id = p.q_id
       |  WHERE l.vec_id <> p.q_id)
       |WHERE rn <= 10""".stripMargin

  /** Shared containment CTEs: tokenized shingles, per-doc set sizes,
    * corpus df, and the df≤50 capped index — the common prefix of the
    * exact (d21b), sampling (d21c), and eval (d21d) replays.
    */
  private def sqlContainmentCtesWhere(docPred: String): String =
    s"""toks AS (SELECT doc_id, ${sqlToks("text")} AS w FROM documents$docPred),
       |sh AS (SELECT doc_id, unnest(${sqlShingles("w")}) AS s FROM toks),
       |cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |dfs AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
       |idx AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfs USING (s)
       |        WHERE df <= 50)""".stripMargin

  private val sqlContainmentCtes = sqlContainmentCtesWhere("")

  /** d21b's pipeline over [[sqlContainmentCtes]]: uncapped-df rarest-first
    * prefixes probing the capped index, exact verify on the full sets —
    * final pair set in `exctn`.
    */
  private val sqlContainmentExactTail =
    """rk AS (SELECT sh.doc_id, sh.s, cnt.n_sh,
      |         row_number() OVER (PARTITION BY sh.doc_id
      |                            ORDER BY dfs.df ASC, sh.s ASC) AS rk
      |       FROM sh JOIN dfs USING (s) JOIN cnt USING (doc_id)),
      |pref AS (SELECT doc_id, s FROM rk
      |         WHERE rk <= n_sh - ((n_sh * 700000 + 999999) // 1000000) + 1),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |         FROM pref a JOIN idx b ON a.s = b.s AND a.doc_id <> b.doc_id),
      |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
      |          FROM cand c JOIN sh x ON x.doc_id = c.doc_a
      |          JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
      |          GROUP BY 1, 2),
      |exctn AS (SELECT doc_a, doc_b,
      |            CAST(inter * 1000000 // ca.n_sh AS BIGINT) AS containment_ppm
      |          FROM inter JOIN cnt ca ON ca.doc_id = doc_a
      |          WHERE inter * 1000000 // ca.n_sh >= 700000)""".stripMargin

  /** d21c's pipeline over [[sqlContainmentCtes]]: each doc's bottom-16
    * shingles in polyhash order probe the capped index, the hit count IS
    * the estimate — final rows in `apctn`.
    */
  private val sqlContainmentApproxTail =
    s"""srk AS (SELECT sh.doc_id, cnt.n_sh, sh.s,
       |          row_number() OVER (PARTITION BY sh.doc_id
       |                             ORDER BY (${sqlPolyHash("sh.s")}) ASC,
       |                                      sh.s ASC) AS rk
       |        FROM sh JOIN cnt USING (doc_id)),
       |sig AS (SELECT doc_id, n_sh, s FROM srk WHERE rk <= 16),
       |apctn AS (
       |  SELECT doc_a, doc_b, sample_hits, sample_size,
       |    (sample_hits * 1000000 // sample_size)::BIGINT AS containment_est_ppm
       |  FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |      count(*)::BIGINT AS sample_hits,
       |      least(16, a.n_sh)::BIGINT AS sample_size
       |    FROM sig a JOIN idx b ON a.s = b.s AND a.doc_id <> b.doc_id
       |    GROUP BY 1, 2, a.n_sh)
       |  WHERE sample_hits * 1000000 // sample_size >= 700000)""".stripMargin

  /** d12d's full replay: sampled-train k-means + two-level assignment +
    * within-cluster prune. Shared verbatim by d12e (the store-served
    * composition probes the same model, so the keep-set is identical by
    * construction — a named constant, not a substring splice).
    */
  private val sqlD12dSemdedupAnn =
    s"""WITH $sqlKmeansCtesSampled,
       |cents0 AS (
       |  SELECT c_id, list_transform(cv, x -> x::DOUBLE / 1048576.0) AS cv FROM c2),
       |${sqlUnitCte("ue", "vec_id", "embedding", "embeddings")},
       |${sqlUnitCte("cu", "c_id", "cv", "cents0")},
       |cents AS (
       |  SELECT c.c_id, c.cv, cu.u AS cuv FROM cents0 c JOIN cu ON cu.c_id = c.c_id),
       |rankedc AS (
       |  SELECT c_id, cv, cuv, ROW_NUMBER() OVER (ORDER BY c_id) - 1 AS crk FROM cents),
       |supers AS (
       |  SELECT c_id AS s_id, cv AS sv, cuv AS su FROM rankedc
       |  WHERE crk % (SELECT CAST(ceil(sqrt(ceil(sqrt(count(*))))) AS BIGINT)
       |               FROM embeddings) = 0),
       |c2s AS (
       |  SELECT s_id, c_id, cv, cuv FROM (
       |    SELECT c.c_id, c.cv, c.cuv, s.s_id,
       |      ROW_NUMBER() OVER (PARTITION BY c.c_id
       |        ORDER BY (s.s_id = c.c_id) DESC,
       |                 ${sqlUDot("c.cuv", "s.su")} DESC, s.s_id ASC) AS srn
       |    FROM cents c CROSS JOIN supers s)
       |  WHERE srn = 1),
       |r2s AS (
       |  SELECT vec_id, v, u, s_id FROM (
       |    SELECT b.vec_id, b.embedding AS v, bu.u, s.s_id,
       |      ROW_NUMBER() OVER (PARTITION BY b.vec_id
       |        ORDER BY ${sqlUDot("bu.u", "s.su")} DESC,
       |                 s.s_id ASC) AS srn
       |    FROM embeddings b JOIN ue bu ON bu.vec_id = b.vec_id
       |    CROSS JOIN supers s)
       |  WHERE srn <= 2),
       |listed AS (
       |  SELECT vec_id, v, c_id FROM (
       |    SELECT r.vec_id, r.v, c.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY r.vec_id
       |        ORDER BY ${sqlUDot("r.u", "c.cuv")} DESC,
       |                 c.c_id ASC) AS crn
       |    FROM r2s r JOIN c2s c ON r.s_id = c.s_id)
       |  WHERE crn <= 1),
       |dropped AS (
       |  SELECT DISTINCT x.vec_id
       |  FROM listed x JOIN listed y ON x.c_id = y.c_id AND y.vec_id < x.vec_id
       |  JOIN ue xu ON xu.vec_id = x.vec_id
       |  JOIN ue yu ON yu.vec_id = y.vec_id
       |  WHERE ${sqlUDot("xu.u", "yu.u")} >= 439804651110)
       |SELECT vec_id, c_id FROM listed
       |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin

  /** s19's hierarchical-IVF replay — also the candidate side of s21. */
  private val sqlS19HierIvf = s"WITH $sqlHierIvfCtes\n$sqlIvfRescoreTail"

  /** s37's two-level mass-adaptive replay over [[sqlHierIvfCtes]]: leaf
    * sizes from `listed`, rolled up through `c2s` to super masses
    * (every centroid files under exactly one super, so the rollup
    * partitions the corpus); the super gate then the leaf gate are the
    * SAME window-cumsum rule as s32's, the leaf window ranking the
    * probed supers' centroids in ONE per-query order. Exact rescore
    * tail on the surviving lists. (`sqlHierIvfCtes`' fixed-probe
    * `probed` CTE rides along unused, as in s32.)
    */
  private val sqlS37HierIvfAdaptive =
    s"""WITH $sqlHierIvfCtes,
       |sizes AS (SELECT c_id, count(*) AS n_list FROM listed GROUP BY c_id),
       |ssizes AS (
       |  SELECT c.s_id, SUM(COALESCE(s.n_list, 0)) AS n_super
       |  FROM c2s c LEFT JOIN sizes s ON s.c_id = c.c_id GROUP BY c.s_id),
       |hq AS (
       |  SELECT q.vec_id AS q_id, qu.u AS qu, s.s_id,
       |    ${sqlUDot("qu.u", "s.su")} AS sd
       |  FROM embeddings q JOIN ue qu ON qu.vec_id = q.vec_id
       |  CROSS JOIN supers s WHERE q.vec_id < 5),
       |hqs AS (
       |  SELECT q_id, qu, s_id FROM (
       |    SELECT h.q_id, h.qu, h.s_id,
       |      COALESCE(SUM(COALESCE(ss.n_super, 0)) OVER (PARTITION BY h.q_id
       |        ORDER BY h.sd DESC, h.s_id ASC
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |    FROM hq h LEFT JOIN ssizes ss ON ss.s_id = h.s_id)
       |  WHERE cum_before * 1000000 < $S33MassPpm * (SELECT count(*) FROM embeddings)),
       |hprobed AS (
       |  SELECT q_id, qu, c_id FROM (
       |    SELECT h.q_id, h.qu, c.c_id,
       |      COALESCE(SUM(COALESCE(s.n_list, 0)) OVER (PARTITION BY h.q_id
       |        ORDER BY ${sqlUDot("h.qu", "c.cu")} DESC, c.c_id ASC
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |    FROM hqs h JOIN c2s c ON c.s_id = h.s_id
       |    LEFT JOIN sizes s ON s.c_id = c.c_id)
       |  WHERE cum_before * 1000000 < $S33MassPpm * (SELECT count(*) FROM embeddings))
       |SELECT q_id, vec_id, cos_ud, rn FROM (
       |  SELECT p.q_id, l.vec_id,
       |    ${sqlUDot("p.qu", "lu.u")} AS cos_ud,
       |    ROW_NUMBER() OVER (PARTITION BY p.q_id
       |      ORDER BY ${sqlUDot("p.qu", "lu.u")} DESC, l.vec_id ASC) AS rn
       |  FROM listed l JOIN hprobed p ON l.c_id = p.c_id
       |  JOIN ue lu ON lu.vec_id = l.vec_id
       |  WHERE l.vec_id <> p.q_id)
       |WHERE rn <= 10""".stripMargin

  /** s20's hierarchical-IVF×PQ replay — also the candidate side of s22.
    * Identical PQ tail as s14 by construction (shared constant). */
  private val sqlS20HierIvfPq = s"WITH $sqlHierIvfCtes,\n$sqlPqTail"

  /** s3's capped-IVF replay — also the candidate side of s17. */
  private val sqlS3Ivf = s"WITH $sqlIvfFlatCtes\n$sqlIvfRescoreTail"

  /** s2's LSH-ranking replay — also the candidate side of s8. */
  private val sqlS2Lsh =
    s"""WITH b AS (
       |  SELECT vec_id, t,
       |    ${sqlLshBucket(4)} AS bucket
       |  FROM embeddings, unnest(range(0, 24)) tt(t)),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS q_id, x.vec_id AS vec_id
       |  FROM b x JOIN b q ON x.t = q.t AND x.bucket = q.bucket
       |  WHERE q.vec_id < 5 AND q.vec_id <> x.vec_id),
       |${sqlUnitCte("ue", "vec_id", "embedding", "embeddings")},
       |scored AS (
       |  SELECT c.q_id, c.vec_id,
       |    ${sqlUDot("qu.u", "bu.u")} AS cos_ud
       |  FROM cand c
       |  JOIN ue qu ON qu.vec_id = c.q_id
       |  JOIN ue bu ON bu.vec_id = c.vec_id)
       |SELECT q_id, vec_id, cos_ud, rn FROM (
       |  SELECT q_id, vec_id, cos_ud,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_ud DESC, vec_id ASC) AS rn
       |  FROM scored)
       |WHERE rn <= 10""".stripMargin

  /** s15's multi-probe replay: same sign buckets over 6 tables; the query
    * side expands to its own bucket plus the `bits` Hamming-1 flips before
    * the candidate join — in lockstep with `lshMultiProbeTopK`'s probeSet.
    */
  private val sqlS15MultiProbe =
    s"""WITH b AS (
       |  SELECT vec_id, t,
       |    ${sqlLshBucket(4)} AS bucket
       |  FROM embeddings, unnest(range(0, 6)) tt(t)),
       |probes AS (
       |  SELECT vec_id AS q_id, t,
       |    unnest([bucket::BIGINT] ||
       |      list_transform(range(0, 4), j -> xor(bucket::BIGINT, (1::BIGINT << j)))) AS bucket
       |  FROM b WHERE vec_id < 5),
       |cand AS (
       |  SELECT DISTINCT p.q_id, x.vec_id
       |  FROM b x JOIN probes p ON x.t = p.t AND x.bucket = p.bucket
       |  WHERE p.q_id <> x.vec_id),
       |${sqlUnitCte("ue", "vec_id", "embedding", "embeddings")},
       |scored AS (
       |  SELECT c.q_id, c.vec_id,
       |    ${sqlUDot("qu.u", "bu.u")} AS cos_ud
       |  FROM cand c
       |  JOIN ue qu ON qu.vec_id = c.q_id
       |  JOIN ue bu ON bu.vec_id = c.vec_id)
       |SELECT q_id, vec_id, cos_ud, rn FROM (
       |  SELECT q_id, vec_id, cos_ud,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_ud DESC, vec_id ASC) AS rn
       |  FROM scored)
       |WHERE rn <= 10""".stripMargin

  /** DuckDB replay of `Similarity.randomProject` (component j = the
    * left-to-right dot of the embedding with the deterministic integer
    * plane) — formula in lockstep with Similarity.rpWeight.
    */
  private def sqlRpProject(targetDim: Int): String =
    (0 until targetDim).map { j =>
      s"""list_reduce(
         |      list_transform(range(1, len(embedding)+1),
         |        i -> embedding[i]::DOUBLE *
         |             ((${j * 104729 + 7919} * i * 2654435761) % 65536 - 32768)::DOUBLE),
         |      (x, y) -> x + y)""".stripMargin
    }.mkString("list_value(", ",\n    ", ")")

  private val sqlS12Rp =
    s"""WITH pb AS (
       |  SELECT vec_id, embedding,
       |    ${sqlRpProject(16)} AS pv
       |  FROM embeddings),
       |${sqlUnitCte("ue", "vec_id", "embedding", "embeddings")},
       |${sqlUnitCte("pu", "vec_id", "list_transform(pv, x -> x / 4194304)", "pb")},
       |pool AS (
       |  SELECT q_id, vec_id, pcos_ud FROM (
       |    SELECT q.vec_id AS q_id, b.vec_id AS vec_id,
       |      ${sqlUDot("qpu.u", "bpu.u")} AS pcos_ud,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${sqlUDot("qpu.u", "bpu.u")} DESC,
       |                 b.vec_id ASC) AS ern
       |    FROM pb b JOIN pb q ON q.vec_id < 5 AND q.vec_id <> b.vec_id
       |    JOIN pu qpu ON qpu.vec_id = q.vec_id
       |    JOIN pu bpu ON bpu.vec_id = b.vec_id)
       |  WHERE ern <= 150),
       |scored AS (
       |  SELECT p.q_id, p.vec_id, p.pcos_ud,
       |    ${sqlUDot("qu.u", "bu.u")} AS cos_ud
       |  FROM pool p
       |  JOIN ue qu ON qu.vec_id = p.q_id
       |  JOIN ue bu ON bu.vec_id = p.vec_id)
       |SELECT q_id, vec_id, pcos_ud, cos_ud, rn FROM (
       |  SELECT q_id, vec_id, pcos_ud, cos_ud,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_ud DESC, vec_id ASC) AS rn
       |  FROM scored)
       |WHERE rn <= 10""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "s12_ann_rp" -> sqlS12Rp,
    "t1_token_stats" ->
      s"""WITH toks AS (SELECT doc_id, text, ${sqlToks("text")} AS w FROM documents)
         |SELECT doc_id,
         |  len(w)::BIGINT AS n_tokens,
         |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS n_bpeish,
         |  CASE WHEN len(w) > 0
         |    THEN round(list_sum(list_transform(w, t -> length(t)))::DOUBLE / len(w), 6)
         |    ELSE 0.0 END AS avg_token_len
         |FROM toks""".stripMargin,
    "t2_quality" ->
      s"""WITH m AS (
         |  SELECT doc_id,
         |    length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))::BIGINT AS alnum_len,
         |    length(text)::BIGINT AS n_chars,
         |    ${sqlToks("text")} AS w
         |  FROM documents),
         |m2 AS (
         |  SELECT doc_id,
         |    CASE WHEN n_chars = 0 THEN 0.0
         |         ELSE round(alnum_len::DOUBLE / n_chars, 6) END AS alnum_ratio,
         |    CASE WHEN len(w) > 0
         |      THEN round(${sqlHits("w", TextFunctions.EnStop)}::DOUBLE / len(w), 6)
         |      ELSE 0.0 END AS stop_ratio,
         |    CASE WHEN n_chars = 0 THEN 0
         |         ELSE (alnum_len * 1000000) // n_chars END AS alnum_ppm,
         |    CASE WHEN len(w) > 0
         |      THEN (${sqlHits("w", TextFunctions.EnStop)}::BIGINT * 1000000) // len(w)
         |      ELSE 0 END AS stop_ppm,
         |    least(1000000, len(w)::BIGINT * 10000) AS len_ppm
         |  FROM m)
         |SELECT doc_id, alnum_ratio, stop_ratio,
         |  ((len_ppm * 5 + stop_ppm * 3 + alnum_ppm * 2) // 10)::DOUBLE / 1000000.0 AS quality
         |FROM m2""".stripMargin,
    "t3_langid" ->
      s"""WITH g AS (
         |  SELECT CASE
         |    WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
         |    WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
         |    WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
         |    WHEN fr >= es AND fr > 0 THEN 'fr'
         |    WHEN es > 0 THEN 'es'
         |    ELSE 'unknown' END AS lang_guess
         |  FROM (
         |    SELECT text,
         |      ${sqlHits("w", TextFunctions.EnStop)} AS en,
         |      ${sqlHits("w", TextFunctions.DeStop)} AS de,
         |      ${sqlHits("w", TextFunctions.FrStop)} AS fr,
         |      ${sqlHits("w", TextFunctions.EsStop)} AS es
         |    FROM (SELECT text, ${sqlToks("text")} AS w FROM documents)))
         |SELECT lang_guess, count(*) AS n FROM g GROUP BY lang_guess""".stripMargin,
    "t4_fingerprint" ->
      s"""SELECT doc_id, ${sqlPolyHash("text")} AS fingerprint FROM documents""".stripMargin,
    "t5_repetition" ->
      s"""WITH toks AS (SELECT doc_id, text, ${sqlToks("text")} AS w FROM documents),
         |b AS (
         |  SELECT doc_id, text, w,
         |    CASE WHEN len(w) >= 2
         |         THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
         |         ELSE [] END AS bg
         |  FROM toks),
         |m AS (
         |  SELECT doc_id,
         |    CASE WHEN len(bg) = 0 THEN 0
         |         ELSE (list_max(list_transform(list_distinct(bg),
         |                g -> len(list_filter(bg, x -> x = g))))::BIGINT * 1000000)
         |              // len(bg) END AS top_bigram_ppm,
         |    CASE WHEN len(w) = 0 THEN 0
         |         ELSE (len(list_distinct(w))::BIGINT * 1000000) // len(w)
         |         END AS distinct_token_ppm,
         |    CASE WHEN length(text) = 0 THEN 0
         |         ELSE (len(regexp_extract_all(text, '[^a-zA-Z0-9 ]'))::BIGINT * 1000000)
         |              // length(text) END AS symbol_ppm
         |  FROM b)
         |SELECT doc_id, top_bigram_ppm, distinct_token_ppm, symbol_ppm,
         |  (CASE WHEN top_bigram_ppm <= 100000 AND distinct_token_ppm >= 300000
         |             AND symbol_ppm <= 100000 THEN 1 ELSE 0 END)::BIGINT AS keep
         |FROM m""".stripMargin,
    // the Gopher A1.1 rule set — every measure in lockstep with
    // Corpus.gopherRules (token split, `//` floor division, chr(10)
    // line split, distinct-stopword intersection)
    "t11_gopher_rules" ->
      s"""WITH d AS (
         |  SELECT doc_id, text, ${sqlToks("text")} AS w,
         |    str_split(text, chr(10)) AS lines
         |  FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    len(w)::BIGINT AS n_words,
         |    CASE WHEN len(w) = 0 THEN 0
         |         ELSE (list_sum(list_transform(w, t -> length(t)))::BIGINT * 100)
         |              // len(w) END AS mwl_c,
         |    CASE WHEN length(text) = 0 THEN 0
         |         ELSE (len(regexp_extract_all(text, '[^a-zA-Z0-9 ]'))::BIGINT * 1000000)
         |              // length(text) END AS symbol_ppm,
         |    (len(list_filter(lines, l ->
         |        starts_with(ltrim(l), '- ') OR starts_with(ltrim(l), '* ')
         |        OR starts_with(ltrim(l), '• ')))::BIGINT * 1000000)
         |      // len(lines) AS bullet_ppm,
         |    (len(list_filter(lines, l ->
         |        ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…')))::BIGINT
         |        * 1000000)
         |      // len(lines) AS ellipsis_ppm,
         |    CASE WHEN len(w) = 0 THEN 0
         |         ELSE (len(list_filter(w, t -> regexp_matches(t, '[a-z]')))::BIGINT
         |               * 1000000) // len(w) END AS alpha_word_ppm,
         |    len(list_intersect(list_distinct(w),
         |        ['the','be','to','of','and','that','have','with']))::BIGINT
         |      AS req_stop_hits
         |  FROM d)
         |SELECT doc_id, n_words, mwl_c, symbol_ppm, bullet_ppm, ellipsis_ppm,
         |  alpha_word_ppm, req_stop_hits,
         |  (CASE WHEN n_words BETWEEN 50 AND 100000
         |         AND mwl_c BETWEEN 300 AND 1000
         |         AND symbol_ppm <= 100000
         |         AND bullet_ppm <= 900000
         |         AND ellipsis_ppm <= 300000
         |         AND alpha_word_ppm >= 800000
         |         AND req_stop_hits >= 2
         |    THEN 1 ELSE 0 END)::BIGINT AS keep_flag
         |FROM m""".stripMargin,
    "t6_quality_gate" ->
      s"""WITH $sqlQualCtes,
         |t AS (SELECT quantile_cont(qual_ppm, 0.1) AS p10 FROM q)
         |SELECT doc_id, qual_ppm FROM q, t WHERE qual_ppm >= p10""".stripMargin,
    // decile tier = 1 + #thresholds at or below the score; the nine exact
    // interpolated deciles come from ONE reduce (never an ntile global
    // sort) and broadcast back
    "t14_quality_tiers" ->
      s"""WITH $sqlQualCtes,
         |thr AS (SELECT quantile_cont(qual_ppm,
         |          [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS th FROM q)
         |SELECT doc_id, qual_ppm,
         |  (1 + len(list_filter(th, t -> qual_ppm >= t)))::BIGINT AS tier
         |FROM q, thr""".stripMargin,
    "t7_scrub" -> {
      val red = s"regexp_replace(text, '$ScrubPattern', '$ScrubMark', 'g')"
      s"""SELECT doc_id,
         |  len(regexp_extract_all(text, '$ScrubPattern'))::BIGINT AS n_hits,
         |  length($red)::BIGINT AS red_len,
         |  ${sqlPolyHash(red)} AS red_fp
         |FROM documents""".stripMargin
    },
    // per-term micro-nat rounding then exact BIGINT sum — the c15
    // convention; c and n are identical integers in both engines so the
    // double expression inside round() is bit-identical
    "t12_token_entropy" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(${sqlToks("text")}) AS t FROM documents),
         |tc AS (SELECT doc_id, t, count(*)::BIGINT AS c FROM toks GROUP BY doc_id, t),
         |tot AS (SELECT doc_id, sum(c)::BIGINT AS n FROM tc GROUP BY doc_id)
         |SELECT tc.doc_id, tot.n AS n_tokens,
         |  sum(CAST(round((tc.c::DOUBLE / tot.n) * ln(tot.n::DOUBLE / tc.c) * 1000000)
         |           AS BIGINT))::BIGINT AS entropy_micro_nats
         |FROM tc JOIN tot ON tc.doc_id = tot.doc_id
         |GROUP BY tc.doc_id, tot.n""".stripMargin,
    "t13_vocab_stats" ->
      s"""WITH tc AS (
         |  SELECT t, count(*)::BIGINT AS c
         |  FROM (SELECT unnest(${sqlToks("text")}) AS t FROM documents)
         |  GROUP BY t),
         |top AS (SELECT sum(c)::BIGINT AS top100
         |        FROM (SELECT c FROM tc ORDER BY c DESC, t ASC LIMIT 100)),
         |agg AS (SELECT sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types,
         |               sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax
         |        FROM tc)
         |SELECT n_tokens, n_types, n_hapax,
         |  (n_hapax * 1000000) // n_types AS hapax_ppm,
         |  (top100 * 1000000) // n_tokens AS top100_share_ppm
         |FROM agg, top""".stripMargin,
    "t8_token_rarity" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(${sqlToks("text")}) AS t FROM documents),
         |vocab AS (SELECT t, count(*) AS cnt FROM toks GROUP BY t),
         |tot AS (SELECT sum(cnt)::BIGINT AS total FROM vocab),
         |freq AS (SELECT t, (cnt * 1000000) // total AS freq_ppm FROM vocab, tot)
         |SELECT doc_id, count(*)::BIGINT AS n_tokens,
         |  (sum(freq_ppm) // count(*))::BIGINT AS mean_freq_ppm
         |FROM toks JOIN freq USING (t)
         |GROUP BY doc_id""".stripMargin,
    // every sketch cell is a sum of integer bucket hits and the estimate
    // is a min over 4 cells — all exact int64 arithmetic in lockstep with
    // CountMinSketch.{bucket,estimate}
    "t9_freq_sketch" ->
      s"""WITH toks AS (
         |  SELECT unnest(${sqlToks("text")}) AS term FROM documents),
         |th AS (
         |  SELECT term, ${sqlPolyHash("term")} AS h FROM toks),
         |cells AS (
         |  SELECT t.i AS i,
         |    ((h * (2*t.i + 1) + (31*t.i*t.i + 7)) % 1000000007) % $CmsWidth AS bucket,
         |    count(*) AS c
         |  FROM th, unnest(range(0, $CmsDepth)) t(i)
         |  GROUP BY 1, 2),
         |probe(term) AS (VALUES ('dup'), ('spark'), ('merge'), ('data'), ('the'), ('absent_term')),
         |ph AS (SELECT term, ${sqlPolyHash("term")} AS h FROM probe),
         |pb AS (
         |  SELECT ph.term, t.i AS i,
         |    ((h * (2*t.i + 1) + (31*t.i*t.i + 7)) % 1000000007) % $CmsWidth AS bucket
         |  FROM ph, unnest(range(0, $CmsDepth)) t(i)),
         |est AS (
         |  SELECT pb.term, min(coalesce(c.c, 0))::BIGINT AS est_count
         |  FROM pb LEFT JOIN cells c ON c.i = pb.i AND c.bucket = pb.bucket
         |  GROUP BY pb.term),
         |exact AS (SELECT term, count(*) AS exact_count FROM toks GROUP BY term)
         |SELECT e.term, e.est_count,
         |  coalesce(x.exact_count, 0)::BIGINT AS exact_count
         |FROM est e LEFT JOIN exact x USING (term)""".stripMargin,
    // bigram LM replay: reference counts, add-one-smoothed integer ppm per
    // adjacent pair, floored mean per doc; <2-token docs keep n_pairs=0
    // and a NULL score
    "t10_lm_score" ->
      s"""WITH tk AS (
         |  SELECT doc_id, ${sqlToks("text")} AS tk FROM documents),
         |lmbi AS (
         |  SELECT t.tk[i::INT] AS bw1, t.tk[(i+1)::INT] AS bw2, count(*) AS cb
         |  FROM tk t, unnest(range(1, len(t.tk))) u(i)
         |  WHERE t.doc_id % 10 = 0 GROUP BY 1, 2),
         |lmuni AS (
         |  SELECT w, count(*) AS cu FROM (
         |    SELECT unnest(tk) AS w FROM tk WHERE doc_id % 10 = 0)
         |  GROUP BY 1),
         |v AS (SELECT count(*)::BIGINT AS v FROM lmuni),
         |pairs AS (
         |  SELECT d.doc_id, d.tk[i::INT] AS w1, d.tk[(i+1)::INT] AS w2
         |  FROM tk d, unnest(range(1, len(d.tk))) u(i)
         |  WHERE d.doc_id % 10 <> 0),
         |scored AS (
         |  SELECT p.doc_id,
         |    ((COALESCE(b.cb, 0) + 1) * 1000000) // (COALESCE(u.cu, 0) + (SELECT v FROM v)) AS ppm
         |  FROM pairs p
         |  LEFT JOIN lmbi b ON b.bw1 = p.w1 AND b.bw2 = p.w2
         |  LEFT JOIN lmuni u ON u.w = p.w1)
         |SELECT d.doc_id, COALESCE(s.n_pairs, 0)::BIGINT AS n_pairs, s.lm_ppm
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d
         |LEFT JOIN (
         |  SELECT doc_id, count(*)::BIGINT AS n_pairs,
         |    (sum(ppm) // count(*))::BIGINT AS lm_ppm
         |  FROM scored GROUP BY 1) s USING (doc_id)""".stripMargin,
    "d1_exact_dedup" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY text""".stripMargin,
    "d10_substring_coverage" ->
      s"""WITH toks AS (SELECT doc_id, ${sqlToks("text")} AS w FROM documents),
         |sh AS (SELECT doc_id, unnest(${sqlShingles("w")}) AS s FROM toks),
         |own AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY s) AS owner FROM sh),
         |agg AS (SELECT doc_id, count(*) AS n_shingles,
         |          sum(CASE WHEN owner < doc_id THEN 1 ELSE 0 END)::BIGINT AS nd
         |        FROM own GROUP BY doc_id)
         |SELECT d.doc_id,
         |  coalesce(a.n_shingles, 0)::BIGINT AS n_shingles,
         |  coalesce((a.nd * 1000000) // a.n_shingles, 0)::BIGINT AS dup_ppm,
         |  (CASE WHEN coalesce((a.nd * 1000000) // a.n_shingles, 0) <= 600000
         |        THEN 1 ELSE 0 END)::BIGINT AS keep
         |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id""".stripMargin,
    "d2_ngram_jaccard" -> sqlExactJaccard,
    // IDENTICAL oracle: the prefix filter is lossless, so the operator
    // must reproduce the exact formulation's pair set bit-for-bit
    "d19_prefix_jaccard" -> sqlExactJaccard,
    "d21_containment" ->
      s"""WITH toks AS (SELECT doc_id, ${sqlToks("text")} AS w FROM documents),
         |sh AS (SELECT doc_id, unnest(${sqlShingles("w")}) AS s FROM toks),
         |cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  CAST(inter * 1000000 // ca.n_sh AS BIGINT) AS containment_ppm
         |FROM pairs JOIN cnt ca ON ca.doc_id = doc_a
         |WHERE inter * 1000000 // ca.n_sh >= 700000""".stripMargin,
    // the cap makes the CANDIDATE tier part of the semantics (unlike d21,
    // whose lossless prefix lets the oracle replay the unfiltered pair
    // definition), so this oracle replays the full pipeline: uncapped-df
    // rarest-first prefixes probing a df≤50 index, exact verify on top
    "d21b_containment_capped" ->
      s"""WITH $sqlContainmentCtes,
         |$sqlContainmentExactTail
         |SELECT doc_a, doc_b, containment_ppm FROM exctn""".stripMargin,
    // full replay of the sampling tier: bottom-16 of each doc's shingles
    // in polyhash order probing the same df≤50 index, hit count = the
    // estimate — in lockstep with containmentApproxPairs
    "d21c_containment_approx" ->
      s"""WITH $sqlContainmentCtes,
         |$sqlContainmentApproxTail
         |SELECT doc_a, doc_b, sample_hits, sample_size,
         |  containment_est_ppm FROM apctn""".stripMargin,
    // both tiers replayed side by side; the quality row is exact integer
    // arithmetic over their pair-set counts
    // the same exact/approx composition over the keyed quarter-sample —
    // the WHERE replays d21d's idHash arithmetic verbatim
    "d21d_containment_approx_eval" ->
      s"""WITH ${sqlContainmentCtesWhere(
             s" WHERE (doc_id % ${graft.functions.KeyedHash.IdMod})" +
               s" * $D21dSampleMult % 1000000 < $D21dSamplePpm")},
         |$sqlContainmentExactTail,
         |$sqlContainmentApproxTail,
         |exn AS (SELECT count(*)::BIGINT AS n_exact FROM exctn),
         |apn AS (SELECT count(*)::BIGINT AS n_approx FROM apctn),
         |bn AS (SELECT count(*)::BIGINT AS n_both
         |       FROM exctn e JOIN apctn a
         |         ON e.doc_a = a.doc_a AND e.doc_b = a.doc_b)
         |SELECT n_exact, n_approx, n_both,
         |  (n_both * 1000000 // nullif(n_exact, 0))::BIGINT AS recall_ppm,
         |  (n_both * 1000000 // nullif(n_approx, 0))::BIGINT AS precision_ppm
         |FROM exn, apn, bn""".stripMargin,
    // top-N ties broken gram-ascending on both sides; rank replayed over
    // the already-cut 20 rows
    "d26_boilerplate" ->
      s"""WITH toks AS (SELECT doc_id, ${sqlToks("text")} AS w FROM documents),
         |p AS (SELECT doc_id, w, unnest(range(1, len(w) - 8 + 2)) AS pos
         |      FROM toks WHERE len(w) >= 8),
         |g AS (SELECT doc_id, array_to_string(w[pos:pos+7], ' ') AS g FROM p),
         |pd AS (SELECT g, doc_id, count(*) AS n_in_doc FROM g GROUP BY 1, 2),
         |agg AS (SELECT g, sum(n_in_doc)::BIGINT AS n_occurrences,
         |          count(*)::BIGINT AS n_docs
         |        FROM pd GROUP BY g
         |        ORDER BY n_occurrences DESC, g ASC LIMIT 20)
         |SELECT row_number() OVER (ORDER BY n_occurrences DESC, g ASC) AS rank,
         |  g AS gram, n_occurrences, n_docs
         |FROM agg""".stripMargin,
    // positional (non-distinct) 8-grams; gram counts are TOTAL occurrences
    // (within-doc repetition is duplicated text too); lag/sum windows are
    // per-doc with unique pos, so the merge replays deterministically
    "d24_dup_spans" ->
      s"""WITH toks AS (SELECT doc_id, ${sqlToks("text")} AS w FROM documents),
         |p AS (SELECT doc_id, w, unnest(range(1, len(w) - 8 + 2)) AS pos
         |      FROM toks WHERE len(w) >= 8),
         |g AS (SELECT doc_id, pos::BIGINT AS pos,
         |        array_to_string(w[pos:pos+7], ' ') AS g FROM p),
         |cnt AS (SELECT g, count(*) AS c FROM g GROUP BY g),
         |dup AS (SELECT x.doc_id, x.pos FROM g x
         |        JOIN cnt ON cnt.g = x.g WHERE cnt.c >= 2),
         |m AS (SELECT doc_id, pos,
         |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
         |             THEN 1 ELSE 0 END AS brk
         |      FROM dup),
         |sp AS (SELECT doc_id, pos,
         |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
         |       FROM m)
         |SELECT doc_id, min(pos)::BIGINT AS span_start,
         |  (max(pos) + 7)::BIGINT AS span_end,
         |  (max(pos) + 7 - min(pos) + 1)::BIGINT AS n_tokens
         |FROM sp GROUP BY doc_id, span_id""".stripMargin,
    // d24's span chain + per-token coverage anti-join + ordered string_agg;
    // docs below 8 tokens (or with no spans) pass through whole
    "d25_cut_spans" ->
      s"""WITH toks AS (SELECT doc_id, ${sqlToks("text")} AS w FROM documents),
         |p AS (SELECT doc_id, w, unnest(range(1, len(w) - 8 + 2)) AS pos
         |      FROM toks WHERE len(w) >= 8),
         |g AS (SELECT doc_id, pos::BIGINT AS pos,
         |        array_to_string(w[pos:pos+7], ' ') AS g FROM p),
         |cnt AS (SELECT g, count(*) AS c FROM g GROUP BY g),
         |dup AS (SELECT x.doc_id, x.pos FROM g x
         |        JOIN cnt ON cnt.g = x.g WHERE cnt.c >= 2),
         |m AS (SELECT doc_id, pos,
         |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
         |             THEN 1 ELSE 0 END AS brk
         |      FROM dup),
         |sp AS (SELECT doc_id, pos,
         |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
         |       FROM m),
         |spans AS (SELECT doc_id, min(pos) AS a, max(pos) + 7 AS b
         |          FROM sp GROUP BY doc_id, span_id),
         |cov AS (SELECT DISTINCT doc_id, unnest(range(a, b + 1)) AS pos
         |        FROM spans),
         |tokpos AS (SELECT doc_id, unnest(range(1, len(w) + 1))::BIGINT AS pos, w
         |           FROM toks),
         |kept AS (SELECT t.doc_id, t.pos, t.w[t.pos] AS tok
         |         FROM tokpos t LEFT JOIN cov
         |           ON cov.doc_id = t.doc_id AND cov.pos = t.pos
         |         WHERE cov.pos IS NULL),
         |agg AS (SELECT doc_id,
         |          coalesce(string_agg(tok, ' ' ORDER BY pos), '') AS clean_text,
         |          count(*)::BIGINT AS n_kept
         |        FROM kept GROUP BY doc_id)
         |SELECT tk.doc_id,
         |  coalesce(agg.clean_text, '') AS clean_text,
         |  coalesce(agg.n_kept, 0)::BIGINT AS n_tokens_kept,
         |  (len(tk.w) - coalesce(agg.n_kept, 0))::BIGINT AS n_tokens_cut
         |FROM toks tk LEFT JOIN agg ON agg.doc_id = tk.doc_id""".stripMargin,
    "d22_containment_keep" ->
      s"""WITH toks AS (SELECT doc_id, ${sqlToks("text")} AS w FROM documents),
         |sh AS (SELECT doc_id, unnest(${sqlShingles("w")}) AS s FROM toks),
         |cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2),
         |dropped AS (
         |  SELECT DISTINCT doc_a AS doc_id
         |  FROM pairs
         |  JOIN cnt ca ON ca.doc_id = doc_a
         |  JOIN cnt cb ON cb.doc_id = doc_b
         |  WHERE inter * 1000000 // ca.n_sh >= 700000
         |    AND (cb.n_sh > ca.n_sh OR (cb.n_sh = ca.n_sh AND doc_b < doc_a)))
         |SELECT d.doc_id, dr.doc_id IS NULL AS keep
         |FROM documents d LEFT JOIN dropped dr ON dr.doc_id = d.doc_id""".stripMargin,
    "d2b_ngram_capped" ->
      s"""WITH toks AS (SELECT doc_id, ${sqlToks("text")} AS w FROM documents),
         |sh AS (SELECT doc_id, unnest(${sqlShingles("w")}) AS s FROM toks),
         |keep AS (SELECT s FROM (SELECT s, count(*) AS df FROM sh GROUP BY s)
         |         WHERE df <= 50),
         |shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep ON sh.s = keep.s),
         |cnt AS (SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  (inter * 1000000) // (ca.n_sh + cb.n_sh - inter) AS jaccard_ppm
         |FROM pairs
         |JOIN cnt ca ON ca.doc_id = doc_a
         |JOIN cnt cb ON cb.doc_id = doc_b
         |WHERE inter * 1000000 >= 500000 * (ca.n_sh + cb.n_sh - inter)""".stripMargin,
    "d3_minhash_lsh" ->
      s"""WITH ${sqlLshPairCtes()}
         |SELECT doc_a, doc_b, jaccard_ppm FROM verified WHERE inter * 1000000 >= 500000 * uni""".stripMargin,
    // same replay with the lshParams-selected 8×4 geometry (the Spark side
    // derives it from threshold=0.5; the oracle pins the selected shape)
    "d27_lsh_tuned" ->
      s"""WITH ${sqlLshPairCtes(bands = 8, rowsPerBand = 4)}
         |SELECT doc_a, doc_b, jaccard_ppm FROM verified WHERE inter * 1000000 >= 500000 * uni""".stripMargin,
    "d20_source_overlap" ->
      s"""WITH ${sqlLshPairCtes()},
         |pairs AS (SELECT doc_a, doc_b, jaccard_ppm FROM verified WHERE inter * 1000000 >= 500000 * uni),
         |lab AS (
         |  SELECT least(sa.source, sb.source) AS source_a,
         |    greatest(sa.source, sb.source) AS source_b,
         |    p.jaccard_ppm
         |  FROM pairs p
         |  JOIN documents sa ON p.doc_a = sa.doc_id
         |  JOIN documents sb ON p.doc_b = sb.doc_id)
         |SELECT source_a, source_b, count(*) AS n_pairs,
         |  CAST(CAST(sum(jaccard_ppm) AS BIGINT)
         |       // count(*) AS BIGINT) AS mean_jaccard_ppm
         |FROM lab GROUP BY 1, 2""".stripMargin,
    "d7_dup_clusters" ->
      s"""WITH RECURSIVE ${sqlLshClusterCtes()}
         |SELECT v AS doc_id, min(l) AS cluster_rep FROM walk GROUP BY v""".stripMargin,
    // d7's clusters + per-cluster counts + 1e6/size integer weights, left
    // joined over the WHOLE corpus (singletons weight 1e6)
    "d28_softdedup_weights" ->
      s"""WITH RECURSIVE ${sqlLshClusterCtes()},
         |cl AS (SELECT v AS doc_id, min(l) AS cluster_rep FROM walk GROUP BY v),
         |sz AS (SELECT cluster_rep, count(*)::BIGINT AS cluster_size FROM cl GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(cl.cluster_rep, d.doc_id) AS cluster_rep,
         |  COALESCE(sz.cluster_size, 1)::BIGINT AS cluster_size,
         |  (1000000 // COALESCE(sz.cluster_size, 1))::BIGINT AS weight_ppm
         |FROM documents d
         |LEFT JOIN cl ON cl.doc_id = d.doc_id
         |LEFT JOIN sz ON sz.cluster_rep = COALESCE(cl.cluster_rep, d.doc_id)""".stripMargin,
    // the same recursive hash-min walk as d7, over the levenshtein graph
    "d18_fuzzy_clusters" ->
      """WITH RECURSIVE fpairs AS (
        |  SELECT a.c_custkey AS doc_a, b.c_custkey AS doc_b
        |  FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |  WHERE levenshtein(a.c_name, b.c_name) <= 1),
        |fedges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM fpairs
        |  UNION SELECT doc_b, doc_a FROM fpairs),
        |fwalk AS (
        |  SELECT a AS v, a AS l FROM fedges
        |  UNION
        |  SELECT e.b AS v, w.l FROM fwalk w JOIN fedges e ON e.a = w.v)
        |SELECT v AS doc_id, min(l) AS cluster_rep FROM fwalk GROUP BY v""".stripMargin,
    // the brute-force definition the neighborhood join must equal
    "d17_fuzzy_pairs" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  a.c_name AS s_a, b.c_name AS s_b
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin,
    "d23_fuzzy_blocked" ->
      """SELECT a.c_nationkey AS block,
        |  a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  a.c_name AS s_a, b.c_name AS s_b
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin,
    // both ground-truth replays composed: the exact inverted-index pair
    // set (d2's CTEs) semi-joined against the LSH pair set (d3's CTEs)
    "d16_dedup_recall" ->
      s"""WITH ${sqlLshPairCtes()},
         |lshp AS (SELECT doc_a, doc_b FROM verified WHERE inter * 1000000 >= 500000 * uni),
         |toks AS (SELECT doc_id, ${sqlToks("text")} AS w FROM documents),
         |sh AS (SELECT doc_id, unnest(${sqlShingles("w")}) AS s FROM toks),
         |cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |ip AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |epairs AS (
         |  SELECT doc_a, doc_b FROM ip
         |  JOIN cnt ca ON ca.doc_id = doc_a
         |  JOIN cnt cb ON cb.doc_id = doc_b
         |  WHERE inter * 1000000 >= 500000 * (ca.n_sh + cb.n_sh - inter)),
         |m AS (SELECT count(*)::BIGINT AS n_matched FROM epairs e
         |      JOIN lshp l ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b)
         |SELECT (SELECT count(*)::BIGINT FROM epairs) AS n_exact,
         |  (SELECT count(*)::BIGINT FROM lshp) AS n_lsh,
         |  n_matched,
         |  CASE WHEN (SELECT count(*) FROM epairs) = 0 THEN 1000000
         |       ELSE (n_matched * 1000000) // (SELECT count(*) FROM epairs)
         |  END AS recall_ppm
         |FROM m""".stripMargin,
    // the weighted replay: edges carry round(jaccard·1e6), contributions
    // are score·w // Σw(src), scale 1e6 (base 150000)
    "g2_pagerank_weighted" -> {
      def iter(prev: String, cur: String) =
        s"""$cur AS (
           |  SELECT n.v, CAST(150000 + (85 * c.s) // 100 AS BIGINT) AS score
           |  FROM wnodes n JOIN (
           |    SELECT e.dst, CAST(SUM(i.score * e.w // d.sw) AS BIGINT) AS s
           |    FROM wedges e
           |    JOIN wdeg d ON d.src = e.src
           |    JOIN $prev i ON i.v = e.src
           |    GROUP BY e.dst) c ON c.dst = n.v)""".stripMargin
      s"""WITH ${sqlLshPairCtes()},
         |wpairs AS (
         |  SELECT doc_a, doc_b, jaccard_ppm AS w
         |  FROM verified WHERE inter * 1000000 >= 500000 * uni),
         |wedges AS (SELECT doc_a AS src, doc_b AS dst, w FROM wpairs
         |           UNION ALL SELECT doc_b, doc_a, w FROM wpairs),
         |wdeg AS (SELECT src, CAST(sum(w) AS BIGINT) AS sw FROM wedges GROUP BY src),
         |wnodes AS (SELECT DISTINCT src AS v FROM wedges),
         |wit0 AS (SELECT v, CAST(1000000 AS BIGINT) AS score FROM wnodes),
         |${iter("wit0", "wit1")},
         |${iter("wit1", "wit2")},
         |${iter("wit2", "wit3")},
         |${iter("wit3", "wit4")},
         |${iter("wit4", "wit5")}
         |SELECT v, score FROM wit5""".stripMargin
    },
    // fixed-point PageRank replay: same 85/100 damping, 1e12 scale,
    // BIGINT floor division at every step (// ≡ Spark's div on positives)
    "g3_degree" ->
      s"""WITH ${sqlLshPairCtes()},
         |dpairs AS (SELECT doc_a, doc_b FROM verified WHERE inter * 1000000 >= 500000 * uni),
         |ends AS (SELECT doc_a AS v FROM dpairs
         |         UNION ALL SELECT doc_b FROM dpairs)
         |SELECT v, count(*) AS degree FROM ends GROUP BY v""".stripMargin,
    "g1_pagerank" -> {
      def iter(prev: String, cur: String) =
        s"""$cur AS (
           |  SELECT n.v, CAST(150000000000 + (85 * c.s) // 100 AS BIGINT) AS score
           |  FROM nodes n JOIN (
           |    SELECT e.dst, CAST(SUM(i.score // d.outdeg) AS BIGINT) AS s
           |    FROM edges e
           |    JOIN deg d ON d.src = e.src
           |    JOIN $prev i ON i.v = e.src
           |    GROUP BY e.dst) c ON c.dst = n.v)""".stripMargin
      s"""WITH ${sqlLshPairCtes()},
         |prpairs AS (SELECT doc_a, doc_b FROM verified WHERE inter * 1000000 >= 500000 * uni),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM prpairs
         |          UNION ALL SELECT doc_b, doc_a FROM prpairs),
         |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
         |nodes AS (SELECT DISTINCT src AS v FROM edges),
         |it0 AS (SELECT v, CAST(1000000000000 AS BIGINT) AS score FROM nodes),
         |${iter("it0", "it1")},
         |${iter("it1", "it2")},
         |${iter("it2", "it3")},
         |${iter("it3", "it4")},
         |${iter("it4", "it5")}
         |SELECT v, score FROM it5""".stripMargin
    },
    "d8_dedup_keep" ->
      s"""WITH RECURSIVE ${sqlLshClusterCtes()},
         |clusters AS (SELECT v AS doc_id, min(l) AS cluster_rep FROM walk GROUP BY v)
         |SELECT d.doc_id, d.lang, d.source FROM documents d
         |WHERE NOT EXISTS (SELECT 1 FROM clusters c
         |                  WHERE c.doc_id = d.doc_id AND c.doc_id <> c.cluster_rep)""".stripMargin,
    "d11_dedup_report" ->
      s"""WITH RECURSIVE ${sqlLshClusterCtes()},
         |clusters AS (SELECT v AS doc_id, min(l) AS cluster_rep FROM walk GROUP BY v),
         |r AS (
         |  SELECT d.source,
         |    count(*) AS n_docs,
         |    count(c.doc_id) AS n_dup_members,
         |    count(CASE WHEN c.doc_id <> c.cluster_rep THEN 1 END) AS n_dropped
         |  FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
         |  GROUP BY d.source)
         |SELECT source, n_docs, n_dup_members, n_dropped,
         |  (n_docs - n_dropped) * 1000000 // n_docs AS kept_ppm
         |FROM r""".stripMargin,
    "d15_segment_dedup" ->
      """WITH seg AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS s,
        |         generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents),
        |tot AS (SELECT count(*) AS n FROM documents),
        |off AS (
        |  SELECT s FROM (
        |    SELECT s, count(DISTINCT doc_id) AS nd FROM seg
        |    WHERE length(s) > 0 GROUP BY 1) x, tot
        |  WHERE nd * 1000000 >= 780000 * tot.n),
        |fl AS (
        |  SELECT g.doc_id, g.pos, g.s, (o.s IS NOT NULL) AS dup
        |  FROM seg g LEFT JOIN off o USING (s))
        |SELECT doc_id,
        |  coalesce(string_agg(s, ' ' ORDER BY pos) FILTER (WHERE NOT dup), '')
        |    AS clean_text,
        |  count(*) FILTER (WHERE NOT dup) AS n_kept,
        |  count(*) FILTER (WHERE dup) AS n_dropped
        |FROM fl GROUP BY doc_id""".stripMargin,
    "d6_source_signatures" -> {
      val mins = (0 until 16).map(i =>
        s"min((h * ${i * 2 + 1} + ${i * i * 31 + 7}) % 1000000007) AS m$i").mkString(",\n  ")
      s"""WITH toks AS (SELECT source, ${sqlToks("text")} AS w FROM documents),
         |sh AS (SELECT source, unnest(${sqlShingles("w")}) AS s FROM toks),
         |hashed AS (SELECT source, ${sqlPolyHash("s")} AS h FROM sh)
         |SELECT source,
         |  $mins
         |FROM hashed GROUP BY source""".stripMargin
    },
    "d4_simhash" ->
      s"""WITH toks AS (SELECT doc_id, ${sqlToks("text")} AS w FROM documents),
         |th AS (
         |  SELECT doc_id, ((${sqlPolyHash("t")}) * 2654435761) % 4294967296 AS h
         |  FROM (SELECT doc_id, unnest(w) AS t FROM toks)),
         |fp AS ($simhashSelect)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
         |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,
    "d5_embedding_neardup" ->
      s"""WITH ${sqlUnitCte("ue", "vec_id", "embedding", "embeddings")}
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  ${sqlUDot("au.u", "bu.u")} AS cos_ud
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |JOIN ue au ON au.vec_id = a.vec_id
        |JOIN ue bu ON bu.vec_id = b.vec_id
        |WHERE ${sqlUDot("au.u", "bu.u")} >= 439804651110""".stripMargin,
    // incremental replay: shared sig/band CTEs (same affine family as d3),
    // candidates = increment × (store ∪ earlier increment), verification
    // by signature-agreement count (the MinHash Jaccard estimator, ≥16/32)
    "d13_incremental_dedup" ->
      s"""WITH base AS (
         |  SELECT doc_id, sh FROM (
         |    SELECT doc_id, ${sqlShingles("w")} AS sh
         |    FROM (SELECT doc_id, ${sqlToks("text")} AS w FROM documents))
         |  WHERE len(sh) > 0),
         |sig AS (
         |  SELECT doc_id,
         |    list_transform(range(0, 32), i ->
         |      list_min(list_transform(sh, s ->
         |        ((${sqlPolyHash("s")}) * (i*2 + 1) + (i*i*31 + 7)) % 1000000007))) AS sig
         |  FROM base),
         |banded AS (
         |  SELECT doc_id, b AS band, list_slice(sig, b*8 + 1, b*8 + 8) AS bsig
         |  FROM sig, unnest(range(0, 4)) t(b)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS partner
         |  FROM banded a JOIN banded b ON a.band = b.band AND a.bsig = b.bsig
         |  WHERE a.doc_id % 5 = 0
         |    AND (b.doc_id % 5 <> 0 OR b.doc_id < a.doc_id)),
         |ver AS (
         |  SELECT c.doc_id, c.partner
         |  FROM cand c
         |  JOIN sig sa ON sa.doc_id = c.doc_id
         |  JOIN sig sb ON sb.doc_id = c.partner
         |  WHERE len(list_filter(range(1, 33),
         |          i -> sa.sig[i::INT] = sb.sig[i::INT])) >= 16),
         |dup AS (SELECT doc_id, min(partner) AS dup_of FROM ver GROUP BY doc_id)
         |SELECT i.doc_id, d.dup_of
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) i
         |LEFT JOIN dup d USING (doc_id)""".stripMargin,
    "d12_semdedup" ->
      s"""WITH ${sqlUnitCte("ue", "vec_id", "embedding", "embeddings")},
        |cents AS (
        |  SELECT vec_id AS c_id, embedding AS cv, u AS cu
        |  FROM embeddings JOIN ue USING (vec_id) WHERE vec_id % 50 = 0),
        |listed AS (
        |  SELECT vec_id, v, c_id FROM (
        |    SELECT b.vec_id, b.embedding AS v, c.c_id,
        |      ROW_NUMBER() OVER (PARTITION BY b.vec_id
        |        ORDER BY ${sqlUDot("bu.u", "c.cu")} DESC,
        |                 c.c_id ASC) AS crn
        |    FROM embeddings b JOIN ue bu ON bu.vec_id = b.vec_id
        |    CROSS JOIN cents c)
        |  WHERE crn <= 1),
        |dropped AS (
        |  SELECT DISTINCT x.vec_id
        |  FROM listed x JOIN listed y ON x.c_id = y.c_id AND y.vec_id < x.vec_id
        |  JOIN ue xu ON xu.vec_id = x.vec_id
        |  JOIN ue yu ON yu.vec_id = y.vec_id
        |  WHERE ${sqlUDot("xu.u", "yu.u")} >= 439804651110)
        |SELECT vec_id, c_id FROM listed
        |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin,
    // d12's prune CTEs over the s9/s10 trained-centroid replay: the two
    // unrolled Lloyd iterations produce c2, nearest-trained-centroid
    // assignment replaces the stride cluster, the within-cluster
    // drop/keep logic is unchanged
    "d12b_semdedup_trained" ->
      s"""WITH $sqlKmeansCtesRank,
         |cents AS (
         |  SELECT c_id, list_transform(cv, x -> x::DOUBLE / 1048576.0) AS cv FROM c2),
         |${sqlUnitCte("ue", "vec_id", "embedding", "embeddings")},
         |${sqlUnitCte("cu", "c_id", "cv", "cents")},
         |listed AS (
         |  SELECT vec_id, v, c_id FROM (
         |    SELECT b.vec_id, b.embedding AS v, c.c_id,
         |      ROW_NUMBER() OVER (PARTITION BY b.vec_id
         |        ORDER BY ${sqlUDot("bu.u", "cu.u")} DESC,
         |                 c.c_id ASC) AS crn
         |    FROM embeddings b JOIN ue bu ON bu.vec_id = b.vec_id
         |    CROSS JOIN cents c JOIN cu ON cu.c_id = c.c_id)
         |  WHERE crn <= 1),
         |dropped AS (
         |  SELECT DISTINCT x.vec_id
         |  FROM listed x JOIN listed y ON x.c_id = y.c_id AND y.vec_id < x.vec_id
         |  JOIN ue xu ON xu.vec_id = x.vec_id
         |  JOIN ue yu ON yu.vec_id = y.vec_id
         |  WHERE ${sqlUDot("xu.u", "yu.u")} >= 439804651110)
         |SELECT vec_id, c_id FROM listed
         |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin,
    "d12c_semdedup_sampled" ->
      s"""WITH $sqlKmeansCtesSampled,
         |cents AS (
         |  SELECT c_id, list_transform(cv, x -> x::DOUBLE / 1048576.0) AS cv FROM c2),
         |${sqlUnitCte("ue", "vec_id", "embedding", "embeddings")},
         |${sqlUnitCte("cu", "c_id", "cv", "cents")},
         |listed AS (
         |  SELECT vec_id, v, c_id FROM (
         |    SELECT b.vec_id, b.embedding AS v, c.c_id,
         |      ROW_NUMBER() OVER (PARTITION BY b.vec_id
         |        ORDER BY ${sqlUDot("bu.u", "cu.u")} DESC,
         |                 c.c_id ASC) AS crn
         |    FROM embeddings b JOIN ue bu ON bu.vec_id = b.vec_id
         |    CROSS JOIN cents c JOIN cu ON cu.c_id = c.c_id)
         |  WHERE crn <= 1),
         |dropped AS (
         |  SELECT DISTINCT x.vec_id
         |  FROM listed x JOIN listed y ON x.c_id = y.c_id AND y.vec_id < x.vec_id
         |  JOIN ue xu ON xu.vec_id = x.vec_id
         |  JOIN ue yu ON yu.vec_id = y.vec_id
         |  WHERE ${sqlUDot("xu.u", "yu.u")} >= 439804651110)
         |SELECT vec_id, c_id FROM listed
         |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin,
    "d12d_semdedup_ann" -> sqlD12dSemdedupAnn,
    // the store-served composition probes the SAME model + assignment, so
    // the keep-set is d12d's verbatim — "one persisted assignment, many
    // consumers" as a hash-checked invariant
    "d12e_semdedup_store" -> sqlD12dSemdedupAnn,
    "s1_ann_bruteforce" -> sqlS1Exact,
    // MMR replay: the s1 pool + pairwise pool sims in integer micro-units,
    // then five greedy CTE steps with the identical BIGINT score and
    // (score desc, vec_id asc) pick — in lockstep with Similarity.mmrTopK
    "s13_ann_mmr" -> {
      def step(prev: String, pick: String, sel: String, n: Int) =
        s"""$pick AS (
           |  SELECT q_id, vec_id, $n AS step FROM (
           |    SELECT p.q_id, p.vec_id,
           |      ROW_NUMBER() OVER (PARTITION BY p.q_id ORDER BY
           |        (700000 * p.cm - 300000 * coalesce(mx.m, 0)) DESC,
           |        p.vec_id ASC) AS rn
           |    FROM poolm p
           |    LEFT JOIN (SELECT ps.q_id, ps.a, max(ps.cab) AS m
           |               FROM psim ps JOIN $prev s
           |                 ON s.q_id = ps.q_id AND s.vec_id = ps.b
           |               GROUP BY ps.q_id, ps.a) mx
           |      ON mx.q_id = p.q_id AND mx.a = p.vec_id
           |    WHERE NOT EXISTS (SELECT 1 FROM $prev s2
           |                      WHERE s2.q_id = p.q_id AND s2.vec_id = p.vec_id))
           |  WHERE rn = 1),
           |$sel AS (SELECT * FROM $prev UNION ALL SELECT * FROM $pick)""".stripMargin
      s"""WITH pool AS (${sqlS1Exact.replace("\n", "\n")}),
         |${sqlUnitCte("mue", "vec_id", "embedding", "embeddings")},
         |poolm AS (SELECT p.q_id, p.vec_id,
         |            ${sqlUDot("qu.u", "bu.u")} AS cm
         |          FROM pool p
         |          JOIN mue qu ON qu.vec_id = p.q_id
         |          JOIN mue bu ON bu.vec_id = p.vec_id),
         |psim AS (
         |  SELECT p1.q_id, p1.vec_id AS a, p2.vec_id AS b,
         |    ${sqlUDot("u1.u", "u2.u")} AS cab
         |  FROM pool p1
         |  JOIN pool p2 ON p1.q_id = p2.q_id AND p1.vec_id <> p2.vec_id
         |  JOIN mue u1 ON u1.vec_id = p1.vec_id
         |  JOIN mue u2 ON u2.vec_id = p2.vec_id),
         |sel0 AS (SELECT q_id, vec_id, 0 AS step FROM poolm WHERE false),
         |${step("sel0", "pick1", "sel1", 1)},
         |${step("sel1", "pick2", "sel2", 2)},
         |${step("sel2", "pick3", "sel3", 3)},
         |${step("sel3", "pick4", "sel4", 4)},
         |${step("sel4", "pick5", "sel5", 5)}
         |SELECT q_id, vec_id, CAST(step AS BIGINT) AS mmr_rank FROM sel5""".stripMargin
    },
    // s1's exact replay restricted to the label slice — the filter sits
    // on the base side only; queries rank against the filtered corpus
    "s11_ann_filtered" -> sqlExactTopK(" AND b.label = 3"),
    "s2_ann_lsh" -> sqlS2Lsh,
    "s15_ann_multiprobe" -> sqlS15MultiProbe,
    // recall@10 of the LSH ranking vs exact, composed from the same two
    // replays so the eval oracle can never drift from the ranker oracles
    "s8_recall_eval" ->
      s"""WITH exact AS (SELECT * FROM ($sqlS1Exact)),
         |approx AS (SELECT * FROM ($sqlS2Lsh))
         |SELECT e.q_id, count(a.vec_id)::BIGINT AS hits, 10::BIGINT AS k,
         |  (count(a.vec_id) * 1000000) // 10 AS recall_ppm
         |FROM exact e LEFT JOIN approx a
         |  ON a.q_id = e.q_id AND a.vec_id = e.vec_id
         |GROUP BY e.q_id""".stripMargin,
    // the two unrolled Lloyd iterations, centroid components in micros
    "s9_kmeans_codebook" ->
      s"""WITH $sqlKmeansCtes
         |SELECT c_id, pos, val FROM m2""".stripMargin,
    // s3's probe/list/rank body over the TRAINED centroids (micros back
    // on the float scale) — train → index → probe replayed end-to-end
    "s10_ann_ivf_trained" ->
      s"""WITH $sqlKmeansCtes,
         |cents AS (
         |  SELECT c_id, list_transform(cv, x -> x::DOUBLE / 1048576.0) AS cv FROM c2),
         |${sqlUnitCte("ue", "vec_id", "embedding", "embeddings")},
         |${sqlUnitCte("cu", "c_id", "cv", "cents")},
         |listed AS (
         |  SELECT vec_id, v, c_id FROM (
         |    SELECT b.vec_id, b.embedding AS v, c.c_id,
         |      ROW_NUMBER() OVER (PARTITION BY b.vec_id
         |        ORDER BY ${sqlUDot("bu.u", "cu.u")} DESC,
         |                 c.c_id ASC) AS crn
         |    FROM embeddings b JOIN ue bu ON bu.vec_id = b.vec_id
         |    CROSS JOIN cents c JOIN cu ON cu.c_id = c.c_id)
         |  WHERE crn <= 1),
         |probed AS (
         |  SELECT q_id, qv, c_id FROM (
         |    SELECT q.vec_id AS q_id, q.embedding AS qv, c.c_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${sqlUDot("qu.u", "cu.u")} DESC,
         |                 c.c_id ASC) AS crn
         |    FROM embeddings q JOIN ue qu ON qu.vec_id = q.vec_id
         |    CROSS JOIN cents c JOIN cu ON cu.c_id = c.c_id
         |    WHERE q.vec_id < 5)
         |  WHERE crn <= 2)
         |SELECT q_id, vec_id, cos_ud, rn FROM (
         |  SELECT p.q_id, l.vec_id,
         |    ${sqlUDot("pu.u", "lu.u")} AS cos_ud,
         |    ROW_NUMBER() OVER (PARTITION BY p.q_id
         |      ORDER BY ${sqlUDot("pu.u", "lu.u")} DESC,
         |               l.vec_id ASC) AS rn
         |  FROM listed l JOIN probed p ON l.c_id = p.c_id
         |  JOIN ue lu ON lu.vec_id = l.vec_id
         |  JOIN ue pu ON pu.vec_id = p.q_id
         |  WHERE p.q_id <> l.vec_id)
         |WHERE rn <= 10""".stripMargin,
    "s3_ann_ivf" -> sqlS3Ivf,
    // s3's two-level variant: the identical super-grouping/argmax CTEs as
    // d12d, over the stride-picked 256-cap centroid set; the rescore tail
    // is the SAME named constant as s3's
    "s19_ann_ivf_hier" -> sqlS19HierIvf,
    // s14's two-level variant: the hierarchical listed/probed CTEs + the
    // UNCHANGED PQ tail — the same named constant s14 concatenates, so
    // the two stay in lockstep by construction
    "s20_ann_ivfpq_hier" -> sqlS20HierIvfPq,
    // recall@10 of the HIERARCHICAL tiers vs exact — s17/s18's pattern
    // over s19/s20, so the two-level assignment's recall (0.96 measured
    // at sf10, BASELINE.md §9) is hash-checked every round instead of
    // probed once
    "s21_recall_ivf_hier" ->
      s"""WITH exact AS (SELECT * FROM ($sqlS1Exact)),
         |approx AS (SELECT * FROM ($sqlS19HierIvf))
         |SELECT e.q_id, count(a.vec_id)::BIGINT AS hits, 10::BIGINT AS k,
         |  (count(a.vec_id) * 1000000) // 10 AS recall_ppm
         |FROM exact e LEFT JOIN approx a
         |  ON a.q_id = e.q_id AND a.vec_id = e.vec_id
         |GROUP BY e.q_id""".stripMargin,
    "s22_recall_ivfpq_hier" ->
      s"""WITH exact AS (SELECT * FROM ($sqlS1Exact)),
         |approx AS (SELECT * FROM ($sqlS20HierIvfPq))
         |SELECT e.q_id, count(a.vec_id)::BIGINT AS hits, 10::BIGINT AS k,
         |  (count(a.vec_id) * 1000000) // 10 AS recall_ppm
         |FROM exact e LEFT JOIN approx a
         |  ON a.q_id = e.q_id AND a.vec_id = e.vec_id
         |GROUP BY e.q_id""".stripMargin,
    // the persisted store's per-list histogram — the oracle checks what
    // the build actually wrote to disk against the hier `listed` replay
    "s23_ivf_store_build" ->
      s"""WITH $sqlHierIvfCtes
         |SELECT c_id, count(*)::BIGINT AS n_vecs FROM listed GROUP BY c_id""".stripMargin,
    // probing the persisted store ≡ the in-flight s19 tier (same
    // geometry, bit-for-bit) — the shared oracle IS the parity claim
    "s24_ann_ivf_store" -> sqlS19HierIvf,
    // build-on-subset + append-increment + probe ≡ the full corpus
    // assigned against the SUBSET's centroid model (the fixed-model
    // append contract, visible in the cents predicate)
    "s25_ann_ivf_store_append" ->
      ("WITH " + sqlHierIvfCtesWith(" AND vec_id % 7 <> 0") + "\n" +
        sqlIvfRescoreTail),
    // append → compact → probe ≡ append → probe: compaction rewrites
    // FILES, never rows, so s28 shares s25's replay verbatim — the
    // oracle is the "maintenance changes nothing" invariant itself
    "s28_ivf_store_compact" ->
      ("WITH " + sqlHierIvfCtesWith(" AND vec_id % 7 <> 0") + "\n" +
        sqlIvfRescoreTail),
    // filtered probe = s19's geometry with the candidate set restricted
    // to label < 4 BEFORE the per-query rank (pre-filter semantics: the
    // full k among matching rows) — the replay applies the same
    // predicate via the base table the payload column was copied from
    "s29_ann_store_filtered" ->
      s"""WITH $sqlHierIvfCtes
         |SELECT q_id, vec_id, cos_ud, rn FROM (
         |  SELECT p.q_id, l.vec_id,
         |    ${sqlUDot("pu.u", "lu.u")} AS cos_ud,
         |    ROW_NUMBER() OVER (PARTITION BY p.q_id
         |      ORDER BY ${sqlUDot("pu.u", "lu.u")} DESC,
         |               l.vec_id ASC) AS rn
         |  FROM listed l JOIN probed p ON l.c_id = p.c_id
         |  JOIN embeddings e ON e.vec_id = l.vec_id
         |  JOIN ue lu ON lu.vec_id = l.vec_id
         |  JOIN ue pu ON pu.vec_id = p.q_id
         |  WHERE p.q_id <> l.vec_id AND e.label < 4)
         |WHERE rn <= 10""".stripMargin,
    // radius search over the same store/geometry: the threshold replaces
    // the rank — no window in either engine, and MEMBERSHIP decides on
    // the integer unit-grid dot (0.25 → 2³⁸ = 274877906944), never on a float
    // boundary
    "s30_ann_store_range" ->
      s"""WITH $sqlHierIvfCtes
         |SELECT p.q_id, l.vec_id,
         |  ${sqlUDot("pu.u", "lu.u")} AS cos_ud
         |FROM listed l JOIN probed p ON l.c_id = p.c_id
         |JOIN ue lu ON lu.vec_id = l.vec_id
         |JOIN ue pu ON pu.vec_id = p.q_id
         |WHERE p.q_id <> l.vec_id
         |  AND ${sqlUDot("pu.u", "lu.u")} >= 274877906944""".stripMargin,
    // the sProbe fidelity curve: per sProbe ∈ {1,2,4}, agreement of the
    // two-level argmax with the flat one, in integer ppm. `sup` computes
    // the per-row super ranks once (to the max sProbe); each sProbe
    // re-cuts them — in lockstep with assignmentAgreement's single-pass
    // plan shape
    "s26_assign_fidelity" ->
      s"""WITH $sqlS26Ctes
        |SELECT h.s_probe::INT AS s_probe, count(*)::BIGINT AS n_rows,
        |  sum(CASE WHEN h.c_id = f.flat_c THEN 1 ELSE 0 END)::BIGINT AS n_agree,
        |  ((sum(CASE WHEN h.c_id = f.flat_c THEN 1 ELSE 0 END) * 1000000) // count(*))::BIGINT AS agree_ppm
        |FROM hier h JOIN flatl f USING (vec_id)
        |GROUP BY h.s_probe""".stripMargin,
    // s26 stage fingerprints: each key replays ONE stage of the s26
    // pipeline over the shared CTE set and folds it to a config-sized
    // integer checksum — the driver's per-key green/red names the first
    // diverging stage (DuckDB drops the CTEs a key never references).
    // Arithmetic mirrors Similarity's two-level mod fold exactly: ids
    // enter as (x % 999983 + 1), per-(id % 4096)-group partial sums are
    // reduced % 1000000007 with the sign-safe double-mod form (Spark's
    // pmod is always non-negative; DuckDB's % follows the dividend), and
    // the ≤4096 reduced partials sum — no Long overflow at any id range.
    "s26a_fp_grid" ->
      s"""WITH ${sqlUnitCte("ue", "vec_id", "embedding", "embeddings")},
        |mvt AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> floor(x::DOUBLE * 1048576 + 0.5)::BIGINT) AS mv
        |  FROM embeddings),
        |folded AS (
        |  SELECT m.vec_id,
        |    (m.vec_id % 97 + 1) * list_reduce(list_transform(range(1, len(m.mv) + 1),
        |      i -> m.mv[i::INT] * i), (a, b) -> a + b) AS mvt_term,
        |    (m.vec_id % 97 + 1) * list_reduce(list_transform(range(1, len(u.u) + 1),
        |      i -> u.u[i::INT] * i), (a, b) -> a + b) AS u_term
        |  FROM mvt m JOIN ue u ON u.vec_id = m.vec_id),
        |parts AS (
        |  SELECT vec_id % 4096 AS g, count(*) AS n,
        |    sum(mvt_term) AS p_mv, sum(u_term) AS p_u
        |  FROM folded GROUP BY g)
        |SELECT sum(n)::BIGINT AS n_rows,
        |  sum(((p_mv % 1000000007) + 1000000007) % 1000000007)::BIGINT AS mv_fp,
        |  sum(((p_u % 1000000007) + 1000000007) % 1000000007)::BIGINT AS u_fp
        |FROM parts""".stripMargin,
    "s26b_fp_flat" ->
      s"""WITH $sqlS26Ctes,
        |parts AS (
        |  SELECT vec_id % 4096 AS g, count(*) AS n,
        |    sum((vec_id % 999983 + 1) * (flat_c % 999983 + 1)) AS p_fp,
        |    sum(flat_c % 999983 + 1) AS p_cs
        |  FROM flatl GROUP BY g)
        |SELECT sum(n)::BIGINT AS n_rows,
        |  sum(((p_fp % 1000000007) + 1000000007) % 1000000007)::BIGINT AS fp,
        |  sum(((p_cs % 1000000007) + 1000000007) % 1000000007)::BIGINT AS c_sum
        |FROM parts""".stripMargin,
    "s26c_fp_super" ->
      s"""WITH $sqlS26Ctes,
        |parts AS (
        |  SELECT vec_id % 4096 AS g, count(*) AS n,
        |    sum((vec_id % 999983 + 1) * (s_id % 999983 + 1)) AS p_fp
        |  FROM sup WHERE srn = 1 GROUP BY g)
        |SELECT sum(n)::BIGINT AS n_rows,
        |  sum(((p_fp % 1000000007) + 1000000007) % 1000000007)::BIGINT AS fp
        |FROM parts""".stripMargin,
    "s26d_fp_c2s" ->
      s"""WITH $sqlS26Ctes,
        |parts AS (
        |  SELECT c_id % 4096 AS g, count(*) AS n,
        |    sum((c_id % 999983 + 1) * (s_id % 999983 + 1)) AS p_fp
        |  FROM c2s GROUP BY g)
        |SELECT sum(n)::BIGINT AS n_cents,
        |  sum(((p_fp % 1000000007) + 1000000007) % 1000000007)::BIGINT AS fp
        |FROM parts""".stripMargin,
    "s26e_fp_hier" ->
      s"""WITH $sqlS26Ctes,
        |parts AS (
        |  SELECT s_probe, vec_id % 4096 AS g, count(*) AS n,
        |    sum((vec_id % 999983 + 1) * (c_id % 999983 + 1)) AS p_fp
        |  FROM hier GROUP BY s_probe, g)
        |SELECT s_probe::INT AS s_probe, sum(n)::BIGINT AS n_rows,
        |  sum(((p_fp % 1000000007) + 1000000007) % 1000000007)::BIGINT AS fp
        |FROM parts GROUP BY s_probe""".stripMargin,
    // PQ store probe ≡ the in-flight s20 tier — shared oracle, same
    // parity-by-construction claim as s24
    "s27_ann_ivfpq_store" -> sqlS20HierIvfPq,
    // recall@10 of the capped-IVF ranking vs exact — the s8 pattern over
    // s3, so the 256-list recall contract (Similarity.Nearest scaladoc,
    // BASELINE.md §9) is hash-checked every round, not just probed once
    "s17_recall_ivf" ->
      s"""WITH exact AS (SELECT * FROM ($sqlS1Exact)),
         |approx AS (SELECT * FROM ($sqlS3Ivf))
         |SELECT e.q_id, count(a.vec_id)::BIGINT AS hits, 10::BIGINT AS k,
         |  (count(a.vec_id) * 1000000) // 10 AS recall_ppm
         |FROM exact e LEFT JOIN approx a
         |  ON a.q_id = e.q_id AND a.vec_id = e.vec_id
         |GROUP BY e.q_id""".stripMargin,
    "s18_recall_ivfpq" ->
      s"""WITH exact AS (SELECT * FROM ($sqlS1Exact)),
         |approx AS (SELECT * FROM ($sqlS14IvfPq))
         |SELECT e.q_id, count(a.vec_id)::BIGINT AS hits, 10::BIGINT AS k,
         |  (count(a.vec_id) * 1000000) // 10 AS recall_ppm
         |FROM exact e LEFT JOIN approx a
         |  ON a.q_id = e.q_id AND a.vec_id = e.vec_id
         |GROUP BY e.q_id""".stripMargin,
    "s4_ann_quantized" ->
      s"""WITH ${sqlUnitCte("ue", "vec_id", "embedding", "embeddings")},
        |nb AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE),
        |                     (a, b) -> a + b)) AS nrm
        |  FROM embeddings),
        |qz AS (
        |  SELECT vec_id,
        |    CASE WHEN nrm = 0 THEN list_transform(embedding, x -> 0::BIGINT)
        |         ELSE list_transform(embedding,
        |                x -> floor(x::DOUBLE / nrm * 127.0 + 0.5)::BIGINT)
        |    END AS q
        |  FROM nb),
        |cand AS (
        |  SELECT qq.vec_id AS q_id, bb.vec_id AS vec_id,
        |    list_reduce(list_transform(range(1, len(bb.q) + 1),
        |                               i -> qq.q[i] * bb.q[i]),
        |                (a, b) -> a + b) AS qdot
        |  FROM qz bb JOIN qz qq ON qq.vec_id < 5 AND qq.vec_id <> bb.vec_id),
        |top AS (
        |  SELECT q_id, vec_id, qdot,
        |    row_number() OVER (PARTITION BY q_id
        |                       ORDER BY qdot DESC, vec_id ASC) AS rn
        |  FROM cand)
        |SELECT t.q_id, t.vec_id, t.qdot,
        |  ${sqlUDot("qu.u", "bu.u")} AS cos_ud,
        |  t.rn
        |FROM top t
        |JOIN ue qu ON qu.vec_id = t.q_id
        |JOIN ue bu ON bu.vec_id = t.vec_id
        |WHERE t.rn <= 10""".stripMargin,
    // IVFADC replay: s3's coarse CTEs (cents/listed/probed) composed with
    // s7's PQ CTEs (cbv/sub/dist/enc); candidates are the list join, the
    // ADC estimate folds the query-side LUT rows in subspace order, pool
    // rank then exact cosine rescore — lockstep with Similarity.ivfPqTopK
    "s14_ann_ivfpq" -> sqlS14IvfPq,
    "s31_ann_ivfpq_residual" -> sqlS31IvfPqResidual,
    "s32_ann_ivf_adaptive" -> sqlS32IvfAdaptive,
    "s33_ann_ivfpq_adaptive" -> sqlS33IvfPqAdaptive,
    // the store-served adaptive probe replays the in-flight tier's rule
    // over the same flat geometry — result ≡ s32 by construction
    "s34_ann_store_adaptive" -> sqlS32IvfAdaptive,
    // the residual-PQ store probed with both adaptive knobs ≡ s33 by
    // construction (same codebook derivation, LUT space, pool rule)
    "s35_ann_pqstore_residual" -> sqlS33IvfPqAdaptive,
    "s36_ann_store_range_adaptive" -> sqlS36RangeAdaptive,
    "s37_ann_ivf_hier_adaptive" -> sqlS37HierIvfAdaptive,
    // s38 ≡ s37 by construction (store-served, shared geometry/rule)
    "s38_ann_store_hier_adaptive" -> sqlS37HierIvfAdaptive,
    "s39_ann_ivf_trained_adaptive" -> sqlS39TrainedAdaptive,
    "s40_ann_store_filtered_adaptive" -> sqlS40FilteredAdaptive,
    // PQ replay: codebook slices + vectors on the micros grid (one
    // rounded entry op per component), per-(vector, subspace, code)
    // squared-L2 as EXACT BIGINT folds (order-independent), argmin
    // encode, integer ADC sum, pool rank, exact rescore — all in
    // lockstep with PqEncode/PqLut/Similarity.pqTopK
    "s7_ann_pq" ->
      s"""WITH ${sqlUnitCte("ue", "vec_id", "embedding", "embeddings")},
        |cbv AS (
        |  SELECT vec_id // 16 AS j, embedding AS cv FROM embeddings
        |  WHERE vec_id % 16 = 0 AND vec_id // 16 < 16),
        |sub AS (
        |  SELECT t.s AS s, j,
        |    list_transform(list_slice(cv, t.s*8 + 1, t.s*8 + 8),
        |      c -> floor(c::DOUBLE * 1048576 + 0.5)::BIGINT) AS mc
        |  FROM cbv, unnest(range(0, 8)) t(s)),
        |mb AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> floor(x::DOUBLE * 1048576 + 0.5)::BIGINT) AS mv
        |  FROM embeddings),
        |dist AS (
        |  SELECT b.vec_id, sub.s, sub.j,
        |    list_reduce(list_transform(range(1, 9),
        |      i -> (b.mv[(sub.s*8 + i)::INT] - sub.mc[i::INT])
        |           * (b.mv[(sub.s*8 + i)::INT] - sub.mc[i::INT])),
        |      (x, y) -> x + y) AS d
        |  FROM mb b CROSS JOIN sub),
        |enc AS (
        |  SELECT vec_id, s, j AS code FROM (
        |    SELECT vec_id, s, j,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d ASC, j ASC) AS rn
        |    FROM dist)
        |  WHERE rn = 1),
        |cand AS (
        |  SELECT qd.q_id, e.vec_id,
        |    list_reduce(list(qd.d ORDER BY qd.s), (x, y) -> x + y) AS est
        |  FROM (SELECT vec_id AS q_id, s, j, d FROM dist WHERE vec_id < 5) qd
        |  JOIN enc e ON e.s = qd.s AND e.code = qd.j
        |  WHERE e.vec_id <> qd.q_id
        |  GROUP BY qd.q_id, e.vec_id),
        |pool AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY est ASC, vec_id ASC) AS ern
        |    FROM cand)
        |  WHERE ern <= 50)
        |SELECT q_id, vec_id, cos_ud, rn FROM (
        |  SELECT p.q_id, p.vec_id,
        |    ${sqlUDot("qu.u", "bu.u")} AS cos_ud,
        |    ROW_NUMBER() OVER (PARTITION BY p.q_id
        |      ORDER BY ${sqlUDot("qu.u", "bu.u")} DESC,
        |               p.vec_id ASC) AS rn
        |  FROM pool p
        |  JOIN ue qu ON qu.vec_id = p.q_id
        |  JOIN ue bu ON bu.vec_id = p.vec_id)
        |WHERE rn <= 10""".stripMargin,
    "s16_hybrid_rrf" ->
      s"""WITH tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(${sqlToks("text")}) AS term FROM documents)
         |  WHERE term IN ('dup', 'spark', 'merge')
         |  GROUP BY doc_id, term),
         |wtf AS (
         |  SELECT doc_id, tf, count(*) OVER (PARTITION BY term) AS df FROM tf),
         |lexs AS (
         |  SELECT doc_id, sum(tf * (1000000 // df))::BIGINT AS score
         |  FROM wtf GROUP BY doc_id
         |  ORDER BY score DESC, doc_id ASC LIMIT 20),
         |lex AS (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
         |  FROM lexs),
         |${sqlUnitCte("ue", "vec_id", "embedding", "embeddings")},
         |vecs AS (
         |  SELECT b.vec_id AS doc_id, ${sqlUDot("qu.u", "bu.u")} AS ud
         |  FROM embeddings q JOIN embeddings b ON b.vec_id <> 0
         |  JOIN ue qu ON qu.vec_id = q.vec_id
         |  JOIN ue bu ON bu.vec_id = b.vec_id
         |  WHERE q.vec_id = 0),
         |vec AS (
         |  SELECT doc_id, rank FROM (
         |    SELECT doc_id,
         |      row_number() OVER (ORDER BY ud DESC, doc_id ASC) AS rank
         |    FROM vecs)
         |  WHERE rank <= 20),
         |u AS (SELECT * FROM lex UNION ALL SELECT * FROM vec)
         |SELECT doc_id, count(*) AS n_lists,
         |  CAST(SUM(1000000000 // (60 + rank)) AS BIGINT) AS rrf_score
         |FROM u GROUP BY doc_id
         |ORDER BY rrf_score DESC, doc_id ASC LIMIT 10""".stripMargin,
    "s5_keyword_search" ->
      s"""WITH tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(${sqlToks("text")}) AS term FROM documents)
         |  WHERE term IN ('dup', 'spark', 'merge')
         |  GROUP BY doc_id, term),
         |wtf AS (
         |  SELECT doc_id, tf, count(*) OVER (PARTITION BY term) AS df FROM tf)
         |SELECT doc_id, sum(tf * (1000000 // df))::BIGINT AS score
         |FROM wtf GROUP BY doc_id
         |ORDER BY score DESC, doc_id ASC LIMIT 25""".stripMargin,
    "s6_keyword_batch" ->
      s"""WITH q(query_id, term) AS (
         |  VALUES (1, 'dup'), (1, 'scan'), (2, 'dup'), (2, 'vector'),
         |         (3, 'spark'), (3, 'merge')),
         |tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(${sqlToks("text")}) AS term FROM documents)
         |  WHERE term IN (SELECT term FROM q)
         |  GROUP BY doc_id, term),
         |wtf AS (
         |  SELECT doc_id, term, tf, count(*) OVER (PARTITION BY term) AS df
         |  FROM tf),
         |sc AS (
         |  SELECT q.query_id, w.doc_id, sum(tf * (1000000 // df))::BIGINT AS score
         |  FROM wtf w JOIN q USING (term) GROUP BY 1, 2)
         |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score, rank
         |FROM (SELECT *, row_number() OVER (
         |        PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
         |      FROM sc)
         |WHERE rank <= 10""".stripMargin,
    "mm1_media_meta" ->
      s"""SELECT doc_id,
         |  $sqlKind AS kind,
         |  $sqlNBytes::BIGINT AS n_bytes,
         |  32 + ($sqlNBytes * 7) % 1888 AS width,
         |  32 + ($sqlNBytes * 13) % 1048 AS height,
         |  CASE WHEN $sqlKind = 'video' THEN 1 + $sqlNBytes % 30 ELSE 1 END AS n_frames
         |FROM documents""".stripMargin,
    "mm3_patch_grid" ->
      s"""WITH m AS (
         |  SELECT doc_id, $sqlKind AS kind,
         |    (32 + ($sqlNBytes * 7) % 1888)::BIGINT AS width,
         |    (32 + ($sqlNBytes * 13) % 1048)::BIGINT AS height
         |  FROM documents)
         |SELECT doc_id, px, py,
         |  px * 64 AS x0, py * 64 AS y0,
         |  least(64, width - px * 64) AS w,
         |  least(64, height - py * 64) AS h
         |FROM m,
         |  unnest(range(0, (width - 1) // 64 + 1)) tx(px),
         |  unnest(range(0, (height - 1) // 64 + 1)) ty(py)
         |WHERE kind = 'image'""".stripMargin,
    "mm2_frame_sample" ->
      s"""WITH m AS (
         |  SELECT doc_id, $sqlKind AS kind,
         |    (1 + $sqlNBytes % 30)::BIGINT AS n_frames
         |  FROM documents)
         |SELECT doc_id, n_frames, f::BIGINT AS frame_idx
         |FROM m, unnest(range(0, n_frames, 4)) t(f)
         |WHERE kind = 'video'""".stripMargin,
    "e1_window_agg" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "e12_windowed_topk" ->
      """WITH wc AS (
        |  SELECT date_trunc('hour', ts) AS window_start, event_type,
        |    count(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1, 2)
        |SELECT window_start, event_type, n, sum_value, rank FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY window_start ORDER BY n DESC, event_type ASC) AS rank
        |  FROM wc)
        |WHERE rank <= 3""".stripMargin,
    "e13_rate_spike" ->
      """WITH wc AS (
        |  SELECT date_trunc('hour', ts) AS window_start, event_type,
        |    count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT window_start, event_type, n,
        |    lag(n, 1) OVER w AS n1, lag(n, 2) OVER w AS n2, lag(n, 3) OVER w AS n3
        |  FROM wc WINDOW w AS (PARTITION BY event_type ORDER BY window_start))
        |SELECT window_start, event_type, n,
        |  (CASE WHEN n1 IS NOT NULL AND n2 IS NOT NULL AND n3 IS NOT NULL
        |             AND n * 3 > (n1 + n2 + n3) * 2
        |        THEN 1 ELSE 0 END)::BIGINT AS spike
        |FROM l""".stripMargin,
    "e2_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(epoch(ts)) OVER w IS NULL
        |           OR epoch(ts) - lag(epoch(ts)) OVER w > 1800.0
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |sessioned AS (
        |  SELECT user_id, ts, value,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, min(ts) AS session_start,
        |  count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM sessioned GROUP BY user_id, session_id""".stripMargin,
    "e3_json_props" ->
      """SELECT event_type,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS total_k,
        |  count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    "e4_heavy_hitter_distinct" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  COUNT(DISTINCT user_id) AS n_distinct
        |FROM events GROUP BY event_type""".stripMargin,
    "e5_asof_join" ->
      """SELECT c.event_id, c.user_id,
        |  (SELECT v.event_id FROM events v
        |   WHERE v.event_type = 'view' AND v.user_id = c.user_id AND v.ts <= c.ts
        |   ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) AS view_id,
        |  (SELECT v.value FROM events v
        |   WHERE v.event_type = 'view' AND v.user_id = c.user_id AND v.ts <= c.ts
        |   ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) AS view_value
        |FROM events c WHERE c.event_type = 'click'""".stripMargin,
    // forward + tolerance: filter-then-nearest ≡ nearest-then-discard for
    // a one-sided direction (if the nearest future row is beyond the
    // window, every later row is too), so the oracle can put the
    // tolerance in WHERE; ts ASC + id DESC replays the op's largest-
    // tie-break-wins convention
    "e11_asof_forward" ->
      """SELECT v.event_id, v.user_id,
        |  (SELECT p.event_id FROM events p
        |   WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
        |     AND p.ts >= v.ts AND epoch_us(p.ts) - epoch_us(v.ts) <= 7200000000
        |   ORDER BY p.ts ASC, p.event_id DESC LIMIT 1) AS purchase_id,
        |  (SELECT p.value FROM events p
        |   WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
        |     AND p.ts >= v.ts AND epoch_us(p.ts) - epoch_us(v.ts) <= 7200000000
        |   ORDER BY p.ts ASC, p.event_id DESC LIMIT 1) AS purchase_value
        |FROM events v WHERE v.event_type = 'view'""".stripMargin,
    // epoch_us (not epoch::BIGINT — DuckDB's double→int cast ROUNDS where
    // Spark's truncates); hash/estimate arithmetic all-integer, in
    // lockstep with KmvSketch.{hash,estimate}
    "e6_kmv_distinct" ->
      """WITH k AS (
        |  SELECT DISTINCT event_type,
        |    user_id * 100000 + epoch_us(ts) // 86400000000 AS key
        |  FROM events),
        |h AS (
        |  SELECT DISTINCT event_type,
        |    ((key % 2147483648) * 2654435761 + 104729) % 4294967296 AS h
        |  FROM k),
        |r AS (
        |  SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h ASC) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS nd
        |  FROM h),
        |agg AS (
        |  SELECT event_type,
        |    max(h) FILTER (rn <= 32) AS kth_hash,
        |    max(nd) AS nd
        |  FROM r GROUP BY event_type),
        |ex AS (
        |  SELECT event_type,
        |    count(DISTINCT user_id * 100000 + epoch_us(ts) // 86400000000) AS exact_distinct
        |  FROM events GROUP BY event_type)
        |SELECT a.event_type, a.kth_hash,
        |  CASE WHEN a.nd < 32 THEN a.nd
        |       ELSE (31 * 4294967296) // a.kth_hash END AS est_distinct,
        |  ex.exact_distinct
        |FROM agg a JOIN ex USING (event_type)""".stripMargin,
    "e8_retention" ->
      """WITH cohort AS (
        |  SELECT user_id, min(epoch_us(ts) // 604800000000) AS cohort_week
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |activity AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS week
        |  FROM events),
        |r AS (
        |  SELECT c.cohort_week, a.week - c.cohort_week AS week_offset, a.user_id
        |  FROM cohort c JOIN activity a ON a.user_id = c.user_id
        |  WHERE a.week >= c.cohort_week)
        |SELECT cohort_week, week_offset, count(DISTINCT user_id) AS n_users
        |FROM r GROUP BY cohort_week, week_offset""".stripMargin,
    "e7_funnel" ->
      """WITH s0 AS (
        |  SELECT user_id, min(ts) AS ts_signup FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |s1 AS (
        |  SELECT s0.user_id, ts_signup, min(e.ts) AS ts_click
        |  FROM s0 LEFT JOIN events e
        |    ON e.user_id = s0.user_id AND e.event_type = 'click'
        |    AND e.ts > s0.ts_signup
        |    AND epoch_us(e.ts) - epoch_us(s0.ts_signup) <= 86400000000
        |  GROUP BY s0.user_id, ts_signup),
        |s2 AS (
        |  SELECT s1.user_id, ts_signup, ts_click, min(e.ts) AS ts_purchase
        |  FROM s1 LEFT JOIN events e
        |    ON e.user_id = s1.user_id AND e.event_type = 'purchase'
        |    AND e.ts > s1.ts_click
        |    AND epoch_us(e.ts) - epoch_us(s1.ts_click) <= 86400000000
        |  GROUP BY s1.user_id, ts_signup, ts_click)
        |SELECT user_id, ts_signup, ts_click, ts_purchase FROM s2""".stripMargin,
    "e9_interval_join" ->
      """SELECT p.event_id AS p_event_id, count(*) AS n_clicks
        |FROM events p JOIN events c
        |  ON epoch_us(c.ts) >= epoch_us(p.ts)
        | AND epoch_us(c.ts) < epoch_us(p.ts) + 1800000000
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |GROUP BY p.event_id""".stripMargin,
    "e10_overlap_join" ->
      """SELECT a.event_id AS a_id, count(*) AS n_overlaps
        |FROM events a JOIN events b
        |  ON a.event_id < b.event_id
        | AND epoch_us(a.ts) < epoch_us(b.ts) + 1800000000
        | AND epoch_us(b.ts) < epoch_us(a.ts) + 1800000000
        |WHERE a.event_type = 'purchase' AND b.event_type = 'purchase'
        |GROUP BY a.event_id""".stripMargin)
}
