package graft.queries

import graft.functions.TextFunctions
import graft.functions.TextFunctions.{qualityScore, qualityScorePpm}
import graft.operators.{Corpus, Dedup}
import graft.queries.PipelineQueries.{sqlHits, sqlLshClusterCtes, sqlLshPairCtes, sqlPolyHash, sqlShingles, sqlToks, t}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation queries — the dedup-to-training-shards tail of the
  * pipeline (graft.operators.Corpus + Dedup.keepBest): leak-proof
  * splitting, stratified sampling, shard manifests, token packing, and
  * quality-weighted canonical selection.
  *
  * Every assignment is a deterministic BIGINT hash or an order-defined
  * greedy scan, so each query carries a full DuckDB oracle — including the
  * greedy packer, whose per-shard prefix scan the oracle replays as a
  * recursive CTE, and the two cluster-consuming queries (c1/d9), which
  * share PipelineQueries' recursive LSH-cluster CTEs so all cluster
  * consumers stay in lockstep with the one Spark implementation.
  */
object CorpusQueries {

  private type Q = (SparkSession, String) => DataFrame

  /** The duplicate-cluster assignment used by c1/d9/c9 — same pipeline and
    * parameters as d7/d8 (MinHash 32 hashes, 4 bands, verify ≥ 0.5). The
    * parameter set lives HERE only; pass the corpus frame (c9 clusters the
    * quality-gated corpus, not the raw table).
    */
  private def lshClusters(docs: DataFrame): DataFrame =
    Dedup.clusterPairs(
      Dedup.minhashLshPairs(docs, col("doc_id"), col("text"),
        n = 3, numHashes = 32, bands = 4, minJaccard = 0.5))

  private val c1: Q = (s, dir) =>
    Corpus.leakproofSplit(t(s, dir, "documents"), col("doc_id"),
      lshClusters(t(s, dir, "documents")), trainPerMille = 800, valPerMille = 100)

  // downsample the dominant language (en is ~44% of the corpus) to 20%,
  // keep half of everything else — the classic language-rebalance step
  private val c2: Q = (s, dir) =>
    Corpus.stratifiedSample(t(s, dir, "documents"), col("doc_id"), col("lang"),
      ratesPct = Map("en" -> 20), defaultPct = 50)
      .select(col("doc_id"), col("lang"), col("source"))

  private val c3: Q = (s, dir) =>
    Corpus.shardManifest(t(s, dir, "documents"), col("doc_id"), col("text"),
      numShards = 8)

  // rendezvous/HRW shard assignment: grow 8 → 9 shards and only ~1/9 of
  // docs move (vs ~8/9 under mod-hashing) — the reshard-stable layout
  private val c25: Q = (s, dir) =>
    Corpus.rendezvousShards(t(s, dir, "documents"), col("doc_id"),
      numShards = 8)

  private val c4: Q = (s, dir) =>
    Corpus.packTokens(t(s, dir, "documents"), col("doc_id"), col("text"),
      numShards = 8, budget = 256L)

  // c4's packs + each doc's [start_tok, end_tok) span inside its pack —
  // the boundary layout an attention/loss-mask builder consumes
  private val c21: Q = (s, dir) =>
    Corpus.packedSpans(t(s, dir, "documents"), col("doc_id"), col("text"),
      numShards = 8, budget = 256L)

  // every 100th doc plays the benchmark set; flag training docs sharing
  // >= 2 word 3-grams with any benchmark doc (short synthetic docs — real
  // deployments use 13-grams and minShared 1)
  private val c5: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    Corpus.contaminationPairs(
      train = docs.filter(col("doc_id") % 100 =!= 0),
      bench = docs.filter(col("doc_id") % 100 === 0),
      col("doc_id"), col("text"), n = 3, minShared = 2L)
  }

  // temperature-flattened language rebalance (α = 0.5): rates computed
  // from the corpus' own language counts — en (~3× the rarest) is kept at
  // ~sqrt(1/3), the rarest language whole
  private val c6: Q = (s, dir) =>
    Corpus.temperatureMix(t(s, dir, "documents"), col("doc_id"), col("lang"))
      .select(col("doc_id"), col("lang"), col("rate_ppm"))

  // deterministic epoch-3 training order; the oracle replays the global
  // rank as a single window, the operator computes it scale-safely
  // (range partition + per-partition offsets, never a one-task window)
  private val c7: Q = (s, dir) =>
    Corpus.epochOrder(t(s, dir, "documents"), col("doc_id"), epoch = 3)

  // easy→hard quality curriculum: decile tiers via counted score groups —
  // per-score counts, one window over the DISTINCT scores to derive
  // all-integer tier cutoffs, joined back; immune to cross-engine
  // percentile-interpolation ulps, and the window input is bounded by the
  // distinct-score count, never the corpus
  private val c19: Q = (s, dir) =>
    Corpus.curriculumOrder(t(s, dir, "documents"), col("doc_id"),
      qualityScorePpm(col("text")), tiers = 10)

  // CCNet head/middle/tail strata: pseudo-perplexity = the NEGATED
  // bigram-LM fluency score (t10's model — held-out docs scored against
  // the doc_id%10==0 training slice), tercile cut by counted integer
  // thresholds (c19's construction). head = most fluent. Docs with no
  // bigram at all carry no LM evidence and are excluded, as in CCNet's
  // LM-scored pipeline.
  private val c23: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val scored = graft.operators.NgramLm.bigramScore(
      docs.filter(col("doc_id") % 10 =!= 0), col("doc_id"), col("text"),
      docs.filter(col("doc_id") % 10 === 0), col("text"))
      .filter(col("lm_ppm").isNotNull)
    Corpus.perplexityBuckets(scored, col("doc_id"), -col("lm_ppm"), buckets = 3)
  }

  // padding-efficient batching: length-sorted fixed-size batches per
  // shard; emits each row's exact pad waste vs its batch max
  private val c20: Q = (s, dir) =>
    Corpus.lengthBucketBatches(t(s, dir, "documents"), col("doc_id"),
      col("text"), numShards = 8, batchSize = 16)

  // C4-style wordlist gate with a tolerance threshold: per-category hit
  // counts + keep at ≤4% listed tokens (categories chosen from the
  // synthetic vocab so the verdict actually varies)
  private val t15: Q = (s, dir) =>
    Corpus.blocklistFilter(t(s, dir, "documents"), col("doc_id"), col("text"),
      categories = Map(
        "noise" -> Seq("slow", "dup"),
        "infra" -> Seq("disk", "cluster")),
      maxHitsPpm = 40000L)

  private val d9: Q = (s, dir) =>
    Dedup.keepBest(t(s, dir, "documents"), col("doc_id"), lshClusters(t(s, dir, "documents")),
      qualityScore(col("text")))
      .select(col("doc_id"), col("lang"), col("source"))

  // DPO-style preference mining: per near-dup family, best-vs-worst
  // quality as a (chosen, rejected) pair — near-identical content, so the
  // contrast isolates quality, not topic
  private val c26: Q = (s, dir) =>
    Dedup.preferencePairs(t(s, dir, "documents"), col("doc_id"),
      lshClusters(t(s, dir, "documents")), qualityScorePpm(col("text")))

  // hard per-source cap (30 docs each), hash-ordered so the kept subset
  // is an unbiased sample of the source
  private val c8: Q = (s, dir) =>
    Corpus.quotaSample(t(s, dir, "documents"), col("doc_id"), col("source"), cap = 30)
      .select(col("doc_id"), col("source"))

  // length-weighted A-ES sample, 10 docs per source: inclusion probability
  // tracks n_chars, so the picked subset skews long without becoming a
  // deterministic take-longest
  private val c13: Q = (s, dir) =>
    Corpus.weightedSample(t(s, dir, "documents"), col("doc_id"), col("source"),
      col("n_chars"), cap = 10)
      .select(col("doc_id"), col("source"), col("n_chars"))

  // explicit-recipe mixture: realize a 70/30 en/de split at the largest
  // size the corpus supports without upsampling — the "hit this data
  // recipe" sampler beside c6's temperature flattening. (Both domains
  // exist at every SF; a recipe domain absent from the corpus caps the
  // feasible size at 0 and the output is empty by design.)
  private val c14: Q = (s, dir) =>
    Corpus.targetMix(t(s, dir, "documents"), col("doc_id"), col("lang"),
      Map("en" -> 700000L, "de" -> 300000L))
      .select(col("doc_id"), col("lang"), col("rate_ppm"))

  // repetition recipe WITH upsampling: de gets 2.25 epochs, en 1.5, fr
  // exactly 1, zh is downsampled to 0.7 — es is absent so it drops
  private val c18: Q = (s, dir) =>
    Corpus.upsampleMix(t(s, dir, "documents"), col("doc_id"), col("lang"),
      Map("en" -> 1500000L, "de" -> 2250000L, "fr" -> 1000000L, "zh" -> 700000L))

  // snapshot diff: yesterday's corpus (sans the %11 ids) vs today's (sans
  // the %7 ids, %13 texts edited) — added/removed/changed by fingerprint,
  // never by body compare
  private val d14: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val oldSnap = docs.filter(col("doc_id") % 11 =!= 0)
    val newSnap = docs.filter(col("doc_id") % 7 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    Corpus.snapshotDiff(oldSnap, newSnap, col("doc_id"),
      TextFunctions.polyHash(col("text")))
      .filter(col("status") =!= "unchanged")
  }

  // end-to-end curation capstone: quality gate → near-dup dedup (clusters
  // computed on the GATED corpus — a different cluster set than d7's) →
  // leak-proof split, composed into ONE declarative plan from the same
  // already-verified operators. Composability is the point: Catalyst sees
  // the whole chain, and the oracle replays the full composition
  // (quality CTEs → gated source → LSH cluster CTEs over it → keep → split)
  private val c9: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    // persist the scored corpus: the heavy qual_ppm expression feeds three
    // consumers (percentile reduce, gate filter, and — via the gated frame —
    // the whole LSH pipeline); without the cache each branch re-evaluates it
    // over the full corpus, and the gate's isnotnull pre-filter gets pushed
    // into the scan for a fourth evaluation
    val scored = Corpus.cached(
      docs.select(col("doc_id"), col("text"),
        qualityScorePpm(col("text")).as("qual_ppm")))
    val gated = Corpus.percentileGate(scored, col("qual_ppm"), 0.1)
      .select(col("doc_id"), col("text"))
    val clusters = lshClusters(gated)
    val kept = Dedup.keepCanonical(gated, col("doc_id"), clusters)
    Corpus.leakproofSplit(kept, col("doc_id"), clusters)
  }

  // c5's LSH-scale companion: decontaminate train against the benchmark
  // via its MinHash signature store — near-dup-level contamination, cost
  // bounded by the band probe instead of the shared-shingle posting join;
  // withinBatch=false keeps train-internal dups out (that is d8's job)
  private val c11: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    Dedup.incrementalDedup(
      docs.filter(col("doc_id") % 7 =!= 0),
      Dedup.minhashStore(docs.filter(col("doc_id") % 7 === 0),
        col("doc_id"), col("text"), n = 3, numHashes = 32),
      col("doc_id"), col("text"), n = 3, numHashes = 32, bands = 4,
      minAgree = 16, withinBatch = false)
      .filter(col("dup_of").isNotNull)
      .select(col("doc_id"), col("dup_of").as("bench_id"))
  }

  // GPT-3-style overlap decontamination SPANS: which exact train passages
  // leak benchmark 8-grams (c5/c11 say WHICH docs; this says WHERE) —
  // same train/bench split convention as c11
  private lazy val sqlContaminationSpans =
    s"""WITH toks AS (SELECT doc_id, ${sqlToks("text")} AS w FROM documents),
         |tp AS (SELECT doc_id, w, unnest(range(1, len(w) - 8 + 2)) AS pos
         |       FROM toks WHERE doc_id % 7 <> 0 AND len(w) >= 8),
         |tg AS (SELECT doc_id, pos::BIGINT AS pos,
         |         array_to_string(w[pos:pos+7], ' ') AS g FROM tp),
         |bp AS (SELECT w, unnest(range(1, len(w) - 8 + 2)) AS pos
         |       FROM toks WHERE doc_id % 7 = 0 AND len(w) >= 8),
         |bg AS (SELECT DISTINCT array_to_string(w[pos:pos+7], ' ') AS g FROM bp),
         |dup AS (SELECT t.doc_id, t.pos FROM tg t JOIN bg ON bg.g = t.g),
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
         |FROM sp GROUP BY doc_id, span_id""".stripMargin

  private val c22: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    Dedup.contaminationSpans(
      docs.filter(col("doc_id") % 7 =!= 0),
      docs.filter(col("doc_id") % 7 === 0),
      col("doc_id"), col("text"), k = 8)
  }

  // c22 with the Bloom prefilter on the train side: the benchmark gram
  // set rides as ONE serialized filter probed in the scan stage, the
  // exact semi-join sees only probable hits. No false negatives → the
  // output (and the oracle) is c22's, bit for bit; only the plan differs.
  private val c24: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    Dedup.contaminationSpansBloom(
      docs.filter(col("doc_id") % 7 =!= 0),
      docs.filter(col("doc_id") % 7 === 0),
      col("doc_id"), col("text"), k = 8)
  }

  // domain-balanced training order: every language's docs spread uniformly
  // over one integer axis, so consuming in (order_key, doc_id) order mixes
  // domains at their corpus-proportional rate — scale-safely ranked (per-
  // domain two-job range-rank, never a one-task-per-domain window)
  private val c12: Q = (s, dir) =>
    Corpus.balancedOrder(t(s, dir, "documents"), col("doc_id"), col("lang"))

  // fixed 48-token chunks with an 8-token overlap — the doc→training-window
  // explode; boundaries are all-integer so the oracle replays them exactly
  private val c10: Q = (s, dir) =>
    Corpus.chunkTokens(t(s, dir, "documents"), col("doc_id"), col("text"),
      chunkSize = 48, overlap = 8)

  // DSIR importance scores against the English slice as the target
  // domain: every doc scored by how English-like its hashed-token
  // distribution is; downstream resampling is c13's weighted sampler
  private val c15: Q = (s, dir) =>
    Corpus.dsirScores(t(s, dir, "documents"), col("doc_id"), col("text"),
      col("lang") === "en", buckets = 4096)

  // DSIR end-to-end: score against the English target, then Gumbel-top-k
  // resample 100 docs with probability ∝ exp(score) — selection entirely
  // in log space, composed from two already-verified operators
  private val c16: Q = (s, dir) => {
    val scored = Corpus.dsirScores(t(s, dir, "documents"), col("doc_id"),
      col("text"), col("lang") === "en", buckets = 4096)
    Corpus.gumbelTopK(scored, col("doc_id"),
      col("dsir_micro_nats").cast("double") / 1000000.0, k = 100)
      .select(col("doc_id"), col("dsir_micro_nats"))
  }

  // contrastive triplets over the verified LSH pair set: positives from
  // the near-dup tier, negatives from the deterministic 64-bucket hash
  // pool (min-id representative, 3-probe walk)
  private val c17: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    Corpus.contrastiveTriplets(docs, col("doc_id"),
      Dedup.minhashLshPairs(docs, col("doc_id"), col("text"),
        n = 3, numHashes = 32, bands = 4, minJaccard = 0.5),
      poolBuckets = 64)
  }

  val queries: Map[String, Q] = Map(
    "c15_dsir_scores" -> c15,
    "c16_dsir_resample" -> c16,
    "c17_contrastive_triplets" -> c17,
    "c1_leakproof_split" -> c1,
    "c10_chunking" -> c10,
    "c11_contamination_minhash" -> c11,
    "c22_contamination_spans" -> c22,
    "c23_ccnet_buckets" -> c23,
    "c24_contamination_bloom" -> c24,
    "c12_balanced_order" -> c12,
    "c2_stratified_sample" -> c2,
    "c3_shard_manifest" -> c3,
    "c25_rendezvous_shards" -> c25,
    "c26_preference_pairs" -> c26,
    "c4_token_packing" -> c4,
    "c5_contamination" -> c5,
    "c6_domain_mix" -> c6,
    "c7_epoch_order" -> c7,
    "c19_curriculum_order" -> c19,
    "c20_length_batches" -> c20,
    "c21_packed_spans" -> c21,
    "t15_blocklist" -> t15,
    "c8_quota_sample" -> c8,
    "c13_weighted_sample" -> c13,
    "c14_target_mix" -> c14,
    "c18_upsample_mix" -> c18,
    "d14_snapshot_diff" -> d14,
    "c9_curation_pipeline" -> c9,
    "d9_keep_best" -> d9)

  // ------------------------------------------------------------------
  // Oracles (keep hash constants in lockstep with Corpus)
  // ------------------------------------------------------------------

  /** DuckDB: shard id — must match Corpus.shardOf / ShardMult (including
    * the overflow-proof mod-2^31 id reduction every corpus hash applies).
    */
  private val sqlShard = s"((doc_id % ${Corpus.IdMod}) * ${Corpus.ShardMult}) % 8"

  /** DuckDB: integer-ppm quality score (ordering key of d9's keep rule) —
    * must match TextFunctions.qualityScore's ppm arithmetic exactly.
    */
  private val sqlQualityCtes =
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

  /** DuckDB: the c15 DSIR replay as shared CTEs ending in `dsir` — the
    * per-bucket add-1-smoothed log-ratio rounded ONCE to integer
    * micro-nats, then exact BIGINT doc sums (the only float op is one ln
    * per bucket, identical formula both engines). c16 composes the
    * Gumbel ranking on top of the same CTEs so the two can never drift.
    */
  private val sqlDsirCtes =
    s"""toks AS (
       |  SELECT doc_id, (lang = 'en') AS tgt, (${sqlPolyHash("t")}) % 4096 AS b
       |  FROM (SELECT doc_id, lang, unnest(${sqlToks("text")}) AS t FROM documents)),
       |raw AS (SELECT b, count(*) AS rcnt FROM toks GROUP BY b),
       |tgt AS (SELECT b, count(*) AS tcnt FROM toks WHERE tgt GROUP BY b),
       |tot AS (SELECT (SELECT sum(rcnt) FROM raw) AS rtot,
       |               (SELECT coalesce(sum(tcnt), 0) FROM tgt) AS ttot),
       |lr AS (
       |  SELECT r.b, CAST(round(ln(
       |      ((coalesce(t.tcnt, 0) + 1.0) / (tot.ttot + 4096)) /
       |      ((r.rcnt + 1.0) / (tot.rtot + 4096))) * 1000000.0) AS BIGINT) AS lr_micro
       |  FROM raw r LEFT JOIN tgt t ON r.b = t.b, tot),
       |dsir AS (
       |  SELECT k.doc_id, count(*)::BIGINT AS n_tokens,
       |    sum(l.lr_micro)::BIGINT AS dsir_micro_nats
       |  FROM toks k JOIN lr l ON k.b = l.b
       |  GROUP BY k.doc_id)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "c15_dsir_scores" ->
      s"""WITH $sqlDsirCtes
         |SELECT doc_id, n_tokens, dsir_micro_nats FROM dsir""".stripMargin,
    // Gumbel-top-k replay: key = score_nats − ln(−ln u) with the keyed
    // uniform strictly inside (0,1); rank desc, id tiebreak, keep 100
    "c16_dsir_resample" ->
      s"""WITH $sqlDsirCtes,
         |g AS (
         |  SELECT doc_id, dsir_micro_nats,
         |    CAST(dsir_micro_nats AS DOUBLE) / 1000000.0
         |      - ln(-ln(CAST(((doc_id % ${Corpus.IdMod}) * ${Corpus.GumbelMult}
         |                     + ${Corpus.GumbelInc}) % 4294967296 + 1 AS DOUBLE)
         |               / 4294967297.0)) AS key
         |  FROM dsir),
         |r AS (
         |  SELECT doc_id, dsir_micro_nats,
         |    row_number() OVER (ORDER BY key DESC, doc_id ASC) AS rn FROM g)
         |SELECT doc_id, dsir_micro_nats FROM r WHERE rn <= 100""".stripMargin,
    // pool-negative triplet replay: 64-bucket min-id pool, pair-keyed
    // 3-probe walk, first representative that is neither endpoint
    "c17_contrastive_triplets" ->
      s"""WITH ${sqlLshPairCtes()},
         |prs AS (SELECT doc_a, doc_b FROM verified
         |        WHERE inter * 1000000 >= 500000 * uni),
         |pool AS (
         |  SELECT (doc_id % ${Corpus.IdMod}) * ${Corpus.TripletMult} % 64 AS pb,
         |         min(doc_id) AS cand
         |  FROM documents GROUP BY 1),
         |probe AS (
         |  SELECT doc_a, doc_b, o.off,
         |    ((doc_a % ${Corpus.IdMod}) * ${Corpus.TripletMult}
         |     + (doc_b % ${Corpus.IdMod}) + o.off) % 64 AS pb
         |  FROM prs, (VALUES (0), (1), (2)) o(off)),
         |j AS (
         |  SELECT doc_a, doc_b, off, cand
         |  FROM probe JOIN pool USING (pb)
         |  WHERE cand <> doc_a AND cand <> doc_b)
         |SELECT doc_a AS anchor, doc_b AS positive, min_by(cand, off) AS negative
         |FROM j GROUP BY 1, 2""".stripMargin,
    "c1_leakproof_split" ->
      s"""WITH RECURSIVE ${sqlLshClusterCtes()},
         |clusters AS (SELECT v AS doc_id, min(l) AS cluster_rep FROM walk GROUP BY v)
         |SELECT doc_id,
         |  CASE WHEN h < 800 THEN 'train' WHEN h < 900 THEN 'val' ELSE 'test' END AS split
         |FROM (
         |  SELECT d.doc_id,
         |    ((coalesce(c.cluster_rep, d.doc_id) % ${Corpus.IdMod})
         |     * ${Corpus.SplitMult}) % 1000 AS h
         |  FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id) hashed""".stripMargin,
    // t10's bigram-LM replay (train slice doc_id%10==0, add-one smoothing,
    // integer ppm) negated into a pseudo-perplexity, then c19's counted
    // integer tercile cut with the CCNet head/middle/tail labels
    "c23_ccnet_buckets" ->
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
         |  LEFT JOIN lmuni u ON u.w = p.w1),
         |px AS (
         |  SELECT doc_id, (-(sum(ppm) // count(*)))::BIGINT AS s
         |  FROM scored GROUP BY 1),
         |cnt AS (SELECT s, count(*) AS c FROM px GROUP BY 1),
         |cum AS (SELECT s, (sum(c) OVER (ORDER BY s) - c)::BIGINT AS start FROM cnt),
         |tot AS (SELECT count(*)::BIGINT AS n FROM px),
         |tm AS (SELECT s, (start * 3 // n + 1)::BIGINT AS bucket FROM cum, tot)
         |SELECT p.doc_id, p.s AS perplexity_ppm, tm.bucket,
         |  CASE tm.bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
         |       ELSE 'tail' END AS bucket_label
         |FROM px p JOIN tm USING (s)""".stripMargin,
    // train-side positional grams joined to the DISTINCT benchmark gram
    // set (distinct → the join emits each train window at most once), then
    // the d24 coverage merge
    "c22_contamination_spans" -> sqlContaminationSpans,
    // IDENTICAL oracle: the Bloom prefilter has no false negatives and
    // its false positives die in the exact semi-join, so the operator
    // must reproduce the exact gate's span set bit-for-bit
    "c24_contamination_bloom" -> sqlContaminationSpans,
    "c11_contamination_minhash" ->
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
         |  WHERE a.doc_id % 7 <> 0 AND b.doc_id % 7 = 0),
         |ver AS (
         |  SELECT c.doc_id, c.partner
         |  FROM cand c
         |  JOIN sig sa ON sa.doc_id = c.doc_id
         |  JOIN sig sb ON sb.doc_id = c.partner
         |  WHERE len(list_filter(range(1, 33),
         |          i -> sa.sig[i::INT] = sb.sig[i::INT])) >= 16)
         |SELECT doc_id, min(partner) AS bench_id FROM ver GROUP BY doc_id""".stripMargin,
    "c12_balanced_order" ->
      s"""WITH h AS (
         |  SELECT doc_id, lang AS dom,
         |    ((doc_id % ${Corpus.IdMod}) * ${Corpus.SplitMult}) % 4294967296 AS h
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, dom,
         |    row_number() OVER (PARTITION BY dom ORDER BY h, doc_id) - 1 AS k,
         |    count(*) OVER (PARTITION BY dom) AS nd
         |  FROM h)
         |SELECT doc_id, dom, (k * ${Corpus.BalanceScale}) // nd AS order_key
         |FROM r""".stripMargin,
    "c10_chunking" ->
      s"""WITH toks AS (
         |  SELECT doc_id, ${sqlToks("text")} AS w, len(${sqlToks("text")})::BIGINT AS n
         |  FROM documents),
         |nc AS (
         |  SELECT doc_id, w, n,
         |    greatest(1, (n - 8 + 39) // 40) AS k
         |  FROM toks),
         |ex AS (
         |  SELECT doc_id, w, n, unnest(generate_series(0, k - 1)) AS i FROM nc)
         |SELECT doc_id, i AS chunk_id,
         |  array_to_string(w[(i*40 + 1):least(i*40 + 48, n)], ' ') AS chunk_text,
         |  least(i*40 + 48, n) - i*40 AS n_tokens
         |FROM ex WHERE i*40 < n""".stripMargin,
    "c2_stratified_sample" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE (((doc_id % ${Corpus.IdMod}) * ${Corpus.SampleMult}
         |        + ${Corpus.SampleInc}) % 4294967296) * 100
         |      < (CASE WHEN lang = 'en' THEN 20 ELSE 50 END)::BIGINT * 4294967296""".stripMargin,
    "c3_shard_manifest" ->
      s"""WITH s AS (
         |  SELECT $sqlShard AS shard, doc_id,
         |         len(${sqlToks("text")})::BIGINT AS n_tokens
         |  FROM documents)
         |SELECT shard, count(*) AS n_docs, sum(n_tokens)::BIGINT AS sum_tokens,
         |       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
         |FROM s GROUP BY shard""".stripMargin,
    // HRW replay: the minhash-style affine weight family over the shared
    // KeyedHash base, first-max position as the winning shard
    "c25_rendezvous_shards" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 8), s ->
        |      (((doc_id % 2147483648) * 2654435761 % 1000000007) * (s*2 + 1)
        |       + (s*s*31 + 7)) % 1000000007) AS ws
        |  FROM documents)
        |SELECT doc_id,
        |  (list_position(ws, list_max(ws)) - 1)::BIGINT AS shard
        |FROM w""".stripMargin,
    "c4_token_packing" ->
      s"""WITH RECURSIVE sharded AS (
         |  SELECT $sqlShard AS shard, doc_id,
         |         len(${sqlToks("text")})::BIGINT AS n_tokens,
         |         row_number() OVER (PARTITION BY $sqlShard ORDER BY doc_id) AS rn
         |  FROM documents),
         |packed AS (
         |  SELECT shard, doc_id, n_tokens, rn, 1::BIGINT AS pack_id, n_tokens AS used
         |  FROM sharded WHERE rn = 1
         |  UNION ALL
         |  SELECT d.shard, d.doc_id, d.n_tokens, d.rn,
         |    CASE WHEN p.used + d.n_tokens <= 256 THEN p.pack_id ELSE p.pack_id + 1 END,
         |    CASE WHEN p.used + d.n_tokens <= 256 THEN p.used + d.n_tokens ELSE d.n_tokens END
         |  FROM packed p JOIN sharded d ON d.shard = p.shard AND d.rn = p.rn + 1)
         |SELECT shard, doc_id, n_tokens, pack_id FROM packed""".stripMargin,
    "c21_packed_spans" ->
      s"""WITH RECURSIVE sharded AS (
         |  SELECT $sqlShard AS shard, doc_id,
         |         len(${sqlToks("text")})::BIGINT AS n_tokens,
         |         row_number() OVER (PARTITION BY $sqlShard ORDER BY doc_id) AS rn
         |  FROM documents),
         |packed AS (
         |  SELECT shard, doc_id, n_tokens, rn, 1::BIGINT AS pack_id, n_tokens AS used
         |  FROM sharded WHERE rn = 1
         |  UNION ALL
         |  SELECT d.shard, d.doc_id, d.n_tokens, d.rn,
         |    CASE WHEN p.used + d.n_tokens <= 256 THEN p.pack_id ELSE p.pack_id + 1 END,
         |    CASE WHEN p.used + d.n_tokens <= 256 THEN p.used + d.n_tokens ELSE d.n_tokens END
         |  FROM packed p JOIN sharded d ON d.shard = p.shard AND d.rn = p.rn + 1)
         |SELECT shard, doc_id, n_tokens, pack_id,
         |  CAST(SUM(n_tokens) OVER (PARTITION BY shard, pack_id ORDER BY doc_id)
         |       - n_tokens AS BIGINT) AS start_tok,
         |  CAST(SUM(n_tokens) OVER (PARTITION BY shard, pack_id ORDER BY doc_id)
         |       AS BIGINT) AS end_tok
         |FROM packed""".stripMargin,
    "c5_contamination" ->
      s"""WITH t0 AS (SELECT doc_id, ${sqlToks("text")} AS w FROM documents),
         |sh AS (SELECT doc_id, unnest(${sqlShingles("w")}) AS s FROM t0),
         |bench AS (SELECT * FROM sh WHERE doc_id % 100 = 0),
         |train AS (SELECT * FROM sh WHERE doc_id % 100 <> 0)
         |SELECT b.doc_id AS bench_id, tr.doc_id AS train_id, count(*) AS n_shared
         |FROM bench b JOIN train tr ON b.s = tr.s
         |GROUP BY 1, 2
         |HAVING count(*) >= 2""".stripMargin,
    "c6_domain_mix" ->
      s"""WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
         |r AS (
         |  SELECT lang,
         |    floor(sqrt((SELECT min(cnt) FROM c)::DOUBLE / cnt::DOUBLE)
         |          * 1000000.0)::BIGINT AS rate_ppm
         |  FROM c)
         |SELECT d.doc_id, d.lang, r.rate_ppm
         |FROM documents d JOIN r ON r.lang IS NOT DISTINCT FROM d.lang
         |WHERE ((d.doc_id % ${Corpus.IdMod}) * ${Corpus.MixMult}
         |       + ${Corpus.MixInc}) % 1000000
         |      < r.rate_ppm""".stripMargin,
    "c7_epoch_order" ->
      s"""SELECT doc_id,
         |  row_number() OVER (
         |    ORDER BY ((doc_id + ${3L * Corpus.EpochStride}) % ${Corpus.IdMod})
         |             * ${Corpus.SplitMult} % 4294967296 ASC, doc_id ASC) AS epoch_rank
         |FROM documents""".stripMargin,
    "c19_curriculum_order" ->
      s"""WITH $sqlQualityCtes,
         |cnt AS (SELECT qual_ppm, count(*) AS c FROM q GROUP BY 1),
         |cum AS (SELECT qual_ppm,
         |          (sum(c) OVER (ORDER BY qual_ppm) - c)::BIGINT AS start
         |        FROM cnt),
         |tot AS (SELECT count(*)::BIGINT AS n FROM q),
         |tm AS (SELECT qual_ppm, (start * 10 // n + 1)::BIGINT AS tier
         |       FROM cum, tot)
         |SELECT doc_id, tier,
         |  CAST(tier * 4294967296
         |       + (doc_id % ${Corpus.IdMod}) * ${Corpus.SplitMult} % 4294967296
         |       AS BIGINT) AS curriculum_key
         |FROM q JOIN tm USING (qual_ppm)""".stripMargin,
    "c20_length_batches" ->
      s"""WITH s AS (
         |  SELECT $sqlShard AS shard, doc_id,
         |         len(${sqlToks("text")})::BIGINT AS n_tokens
         |  FROM documents),
         |p AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY shard ORDER BY n_tokens ASC, doc_id ASC) AS pos
         |  FROM s),
         |b AS (SELECT *, (pos - 1) // 16 AS batch_idx FROM p)
         |SELECT shard, doc_id, n_tokens, pos, batch_idx,
         |  max(n_tokens) OVER (PARTITION BY shard, batch_idx) AS batch_max_tokens,
         |  max(n_tokens) OVER (PARTITION BY shard, batch_idx) - n_tokens
         |    AS pad_tokens
         |FROM b""".stripMargin,
    "t15_blocklist" ->
      s"""WITH b AS (SELECT doc_id, ${sqlToks("text")} AS w FROM documents),
         |h AS (SELECT doc_id, len(w)::BIGINT AS n_tokens,
         |  ${sqlHits("w", Seq("disk", "cluster"))}::BIGINT AS hits_infra,
         |  ${sqlHits("w", Seq("slow", "dup"))}::BIGINT AS hits_noise
         |FROM b)
         |SELECT doc_id, n_tokens, hits_infra, hits_noise,
         |  (hits_infra + hits_noise) AS hits_total,
         |  CASE WHEN n_tokens = 0 THEN 0
         |       ELSE (hits_infra + hits_noise) * 1000000 // n_tokens
         |  END AS hits_ppm,
         |  (CASE WHEN n_tokens = 0 THEN 0
         |        ELSE (hits_infra + hits_noise) * 1000000 // n_tokens
         |   END) <= 40000 AS keep
         |FROM h""".stripMargin,
    "c9_curation_pipeline" ->
      s"""WITH RECURSIVE $sqlQualityCtes,
         |thr AS (SELECT quantile_cont(qual_ppm, 0.1) AS p10 FROM q),
         |gated AS (
         |  SELECT d.doc_id, d.text
         |  FROM documents d JOIN q ON q.doc_id = d.doc_id, thr
         |  WHERE q.qual_ppm >= thr.p10),
         |${sqlLshClusterCtes("gated")},
         |clusters AS (SELECT v AS doc_id, min(l) AS cluster_rep FROM walk GROUP BY v),
         |kept AS (
         |  SELECT g.doc_id FROM gated g
         |  WHERE NOT EXISTS (SELECT 1 FROM clusters c
         |                    WHERE c.doc_id = g.doc_id AND c.doc_id <> c.cluster_rep))
         |SELECT doc_id,
         |  CASE WHEN h < 800 THEN 'train' WHEN h < 900 THEN 'val' ELSE 'test' END AS split
         |FROM (
         |  SELECT k.doc_id,
         |    ((coalesce(c.cluster_rep, k.doc_id) % ${Corpus.IdMod})
         |     * ${Corpus.SplitMult}) % 1000 AS h
         |  FROM kept k LEFT JOIN clusters c ON c.doc_id = k.doc_id) hashed""".stripMargin,
    "c8_quota_sample" ->
      s"""WITH h AS (
         |  SELECT doc_id, source,
         |    ((doc_id % ${Corpus.IdMod}) * ${Corpus.QuotaMult}
         |     + ${Corpus.QuotaInc}) % 4294967296 AS ord
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source ORDER BY ord ASC, doc_id ASC) AS rn
         |  FROM h)
         |SELECT doc_id, source FROM r WHERE rn <= 30""".stripMargin,
    // the uniform draw and the ln(u)/w ranking key replay the Spark
    // expression exactly (same hash family, same doubles)
    "c13_weighted_sample" ->
      s"""WITH h AS (
         |  SELECT doc_id, source, n_chars,
         |    ln(CAST((((doc_id % ${Corpus.IdMod}) * ${Corpus.WeightMult}
         |              + ${Corpus.WeightInc}) % 4294967296) + 1 AS DOUBLE)
         |       / 4294967296.0) / CAST(n_chars AS DOUBLE) AS key
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, source, n_chars,
         |    row_number() OVER (PARTITION BY source
         |                       ORDER BY key DESC, doc_id ASC) AS rn
         |  FROM h)
         |SELECT doc_id, source, n_chars FROM r WHERE rn <= 10""".stripMargin,
    // integer-ppm replay of the feasible-size reduce and the per-domain
    // floored rates, then the same hash-rate filter
    "c14_target_mix" ->
      s"""WITH counts AS (
         |  SELECT lang AS dom, count(*) AS cnt FROM documents GROUP BY lang),
         |tgt AS (SELECT * FROM (VALUES ('en', 700000), ('de', 300000)) t(dom, share)),
         |joined AS (SELECT t.dom, coalesce(c.cnt, 0) AS cnt, t.share
         |           FROM tgt t LEFT JOIN counts c ON c.dom = t.dom),
         |tsize AS (SELECT min((cnt * 1000000) // share) AS t FROM joined),
         |rates AS (
         |  SELECT dom, ((SELECT t FROM tsize) * share) // cnt AS rate_ppm
         |  FROM joined WHERE cnt > 0)
         |SELECT d.doc_id, d.lang, r.rate_ppm
         |FROM documents d JOIN rates r ON d.lang = r.dom
         |WHERE ((d.doc_id % ${Corpus.IdMod}) * ${Corpus.TargetMult}
         |       + ${Corpus.TargetInc}) % 1000000 < r.rate_ppm""".stripMargin,
    // same keyed-hash replay, independent LCG family; copies via
    // generate_series (empty when n = 0, so the WHERE only documents it)
    "c18_upsample_mix" ->
      s"""WITH recipe AS (SELECT * FROM (VALUES
         |    ('en', 1500000), ('de', 2250000), ('fr', 1000000), ('zh', 700000))
         |  r(dom, f)),
         |n AS (
         |  SELECT d.doc_id, r.dom,
         |    f // 1000000
         |      + CASE WHEN ((d.doc_id % ${Corpus.IdMod}) * ${Corpus.UpsampleMult}
         |                   + ${Corpus.UpsampleInc}) % 1000000 < f % 1000000
         |             THEN 1 ELSE 0 END AS n_copies
         |  FROM documents d JOIN recipe r ON d.lang = r.dom)
         |SELECT doc_id, dom, CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS copy
         |FROM n WHERE n_copies >= 1""".stripMargin,
    // fingerprints replayed via the shared polyhash CTE; the edited texts
    // are re-hashed exactly as the Spark side edits them
    "d14_snapshot_diff" ->
      s"""WITH oldsnap AS (
         |  SELECT doc_id, ${sqlPolyHash("text")} AS fp
         |  FROM documents WHERE doc_id % 11 <> 0),
         |newdocs AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END AS text
         |  FROM documents WHERE doc_id % 7 <> 0),
         |newsnap AS (
         |  SELECT doc_id, ${sqlPolyHash("text")} AS fp FROM newdocs),
         |j AS (
         |  SELECT coalesce(n.doc_id, o.doc_id) AS doc_id,
         |    CASE WHEN o.doc_id IS NULL THEN 'added'
         |         WHEN n.doc_id IS NULL THEN 'removed'
         |         WHEN o.fp IS DISTINCT FROM n.fp THEN 'changed'
         |         ELSE 'unchanged' END AS status
         |  FROM oldsnap o FULL JOIN newsnap n ON o.doc_id = n.doc_id)
         |SELECT doc_id, status FROM j WHERE status <> 'unchanged'""".stripMargin,
    "d9_keep_best" ->
      s"""WITH RECURSIVE ${sqlLshClusterCtes()},
         |clusters AS (SELECT v AS doc_id, min(l) AS cluster_rep FROM walk GROUP BY v),
         |$sqlQualityCtes,
         |ranked AS (
         |  SELECT c.doc_id,
         |    row_number() OVER (PARTITION BY c.cluster_rep
         |                       ORDER BY q.qual_ppm DESC, c.doc_id ASC) AS rk
         |  FROM clusters c JOIN q ON q.doc_id = c.doc_id)
         |SELECT d.doc_id, d.lang, d.source FROM documents d
         |WHERE NOT EXISTS (SELECT 1 FROM ranked r
         |                  WHERE r.doc_id = d.doc_id AND r.rk > 1)""".stripMargin,
    // d7's clusters joined to the c19 quality score: chosen = rank-1 by
    // (score desc, id asc), rejected = rank-1 by (score asc, id desc) —
    // the same order-pair the Spark struct min/max encodes
    "c26_preference_pairs" ->
      s"""WITH RECURSIVE ${sqlLshClusterCtes()},
         |clusters AS (SELECT v AS doc_id, min(l) AS cluster_rep FROM walk GROUP BY v),
         |$sqlQualityCtes,
         |mem AS (
         |  SELECT c.cluster_rep, c.doc_id, q.qual_ppm
         |  FROM clusters c JOIN q ON q.doc_id = c.doc_id),
         |best AS (
         |  SELECT cluster_rep, doc_id AS chosen_id, qual_ppm AS chosen_score
         |  FROM (SELECT *, row_number() OVER (PARTITION BY cluster_rep
         |          ORDER BY qual_ppm DESC, doc_id ASC) AS rk FROM mem)
         |  WHERE rk = 1),
         |worst AS (
         |  SELECT cluster_rep, doc_id AS rejected_id, qual_ppm AS rejected_score
         |  FROM (SELECT *, row_number() OVER (PARTITION BY cluster_rep
         |          ORDER BY qual_ppm ASC, doc_id DESC) AS rk FROM mem)
         |  WHERE rk = 1),
         |sz AS (SELECT cluster_rep, count(*)::BIGINT AS n_members
         |       FROM mem GROUP BY 1)
         |SELECT b.cluster_rep, b.chosen_id, w.rejected_id,
         |  b.chosen_score, w.rejected_score, s.n_members
         |FROM best b JOIN worst w USING (cluster_rep)
         |JOIN sz s USING (cluster_rep)""".stripMargin)
}
