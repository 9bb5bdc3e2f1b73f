package graft.operators

import graft.functions.TextFunctions._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators — the steps between "deduped documents" and
  * "training shards" in an LLM data pipeline: leak-proof train/val/test
  * splitting, stratified sampling, shard planning, and token-budget
  * sequence packing.
  *
  * All assignment decisions are **deterministic hashes of stable ids**
  * (multiplicative hashing over BIGINT — exact in any engine), never RNG
  * state: re-running the pipeline on the same corpus yields the same
  * split/sample/shard, which is what makes incremental corpus refreshes
  * and cross-engine verification possible. Ids are assumed non-negative
  * (the `%` convention for negative dividends differs across engines) and
  * are reduced mod 2^31 before every multiply ([[idHash]]) so no product
  * can overflow BIGINT — ANSI Spark throws on overflow while DuckDB
  * errors differently, which would break the cross-engine contract right
  * at the multi-billion-document scale these operators target.
  *
  * Scale shape: split/sample/shard are narrow per-row maps (no shuffle);
  * packing shuffles once on the shard key and scans each shard
  * sequentially — parallelism = number of shards, which at 100 TB is
  * O(100k) output shards, not O(rows).
  */
object Corpus {

  /** Knuth multiplicative constant — split hashing. */
  val SplitMult = 2654435761L

  /** glibc LCG constants — sample hashing (decorrelated from the split
    * hash so sampling within a split stays unbiased).
    */
  val SampleMult = 1103515245L
  val SampleInc = 12345L

  /** Prime multiplier — shard hashing. */
  val ShardMult = 1299709L

  /** Numerical Recipes LCG constants — domain-mix hashing (decorrelated
    * from the split/sample hashes).
    */
  val MixMult = 1566083941L
  val MixInc = 1013904223L

  /** quota-sampling order hash (odd, distinct from the other families so
    * quota decisions are independent of split/sample/mix decisions)
    */
  val QuotaMult = 22695477L
  val QuotaInc = 1L

  /** Borland LCG constants — weighted-sampling uniform draw (its own
    * family so weighted picks are independent of every other decision)
    */
  val WeightMult = 134775813L
  val WeightInc = 1L

  /** VAX MTH$RANDOM LCG constants — target-mix hashing (its own family) */
  val TargetMult = 69069L
  val TargetInc = 1L

  /** MSVC LCG constants — Gumbel-top-k uniform draw (its own family so
    * resampling picks are independent of every other keyed decision)
    */
  val GumbelMult = 214013L
  val GumbelInc = 2531011L

  /** Borland Delphi LCG constants — upsample fractional-copy draw (its own
    * family so repetition decisions are independent of every other keyed
    * decision)
    */
  val UpsampleMult = 22695477L
  val UpsampleInc = 1L

  /** Lehmer/minstd multiplier — contrastive-negative pool bucketing (its
    * own family: negative picks must not correlate with splits or samples)
    */
  val TripletMult = 48271L

  /** Knuth multiplicative constant (shared with [[SplitMult]]) and epoch
    * stride for the epoch-shuffle hash.
    */
  val EpochStride = 1000003L

  /** Pre-multiplication reduction: 2^31. Caps every `idHash` product at
    * ~2^31 · SplitMult < 2^63 (the largest multiplier), at the price that
    * ids congruent mod 2^31 share a hash — inherent to any finite hash
    * and irrelevant below ~2.1 B documents per congruence class.
    */
  val IdMod = graft.functions.KeyedHash.IdMod

  /** The shared keyed-decision hash ([[graft.functions.KeyedHash]] is the
    * single implementation): `((key mod 2^31) · mult + inc)`. Callers
    * reduce the result by their own modulus; every multiplier in this
    * object is odd and coprime to every modulus used on top (1000, 10^6,
    * 2^32, shard counts via the prime [[ShardMult]]), so residues cover
    * the full range and per-stratum rates are unbiased.
    */
  private def idHash(key: Column, mult: Long, inc: Long = 0L): Column =
    graft.functions.KeyedHash.idHash(key, mult, inc)

  /** Train/val/test split that cannot leak near-duplicates across splits:
    * the split key of a document is its duplicate-cluster representative
    * (from [[Dedup.clusterPairs]]) when it has one, else its own id — so
    * every member of a near-dup cluster lands in the SAME split. Splitting
    * on raw doc ids instead silently places a train-set paraphrase of every
    * val/test document, which inflates eval scores; keying on the cluster
    * rep is the standard guard.
    *
    * Buckets are per-mille of the split hash: [0, train) → "train",
    * [train, train+val) → "val", rest → "test".
    *
    * The cluster table only contains docs that HAVE duplicates, so it is
    * small relative to the corpus; the left join broadcasts under AQE and
    * the whole operator adds no extra shuffle of the corpus.
    */
  def leakproofSplit(
      docs: DataFrame,
      id: Column,
      clusters: DataFrame,
      trainPerMille: Int = 800,
      valPerMille: Int = 100): DataFrame = {
    require(trainPerMille > 0 && valPerMille >= 0 &&
      trainPerMille + valPerMille < 1000,
      "per-mille budgets must satisfy 0 < train, 0 <= val, train + val < 1000")
    val c = clusters.select(col("doc_id").as("_c_doc"), col("cluster_rep").as("_c_rep"))
    val h = idHash(coalesce(col("_c_rep"), id.cast("long")), SplitMult) % 1000L
    docs.join(c, id === col("_c_doc"), "left")
      .select(id.as("doc_id"),
        when(h < trainPerMille, "train")
          .when(h < trainPerMille + valPerMille, "val")
          .otherwise("test").as("split"))
  }

  /** Global exact-percentile gate: keep rows whose `score` is at or above
    * the `quantile`-th percentile of the whole frame. ONE reduce to a
    * single-row threshold, broadcast back over the corpus — no window, no
    * global sort, so the corpus itself is never key-shuffled. Spark's
    * exact `percentile` is bit-for-bit `quantile_cont` on integer inputs,
    * which is what keeps the t6/c9 oracles replayable; feed it integer-ppm
    * scores, not doubles. The threshold column is internal and dropped.
    */
  def percentileGate(df: DataFrame, score: Column, quantile: Double): DataFrame = {
    val thresh = df.agg(
      call_function("percentile", score, lit(quantile)).as("_gate_thr"))
    df.crossJoin(broadcast(thresh))
      .filter(score >= col("_gate_thr"))
      .drop("_gate_thr")
  }

  /** Deterministic stratified sampling: row kept iff
    * `hash(id) mod 2^32  <  rate% of 2^32` (compared as
    * `h·100 < rate·2^32`, all-integer and exact in any engine).
    * Per-stratum percentage rates rebalance a skewed corpus (e.g.
    * downsample the dominant language); strata absent from `ratesPct` use
    * `defaultPct`. Pure filter — no shuffle, no state, reproducible on
    * re-run, and the sample of a subset equals the subset of the sample
    * (hash sampling's composability property, which RNG sampling lacks).
    *
    * The comparison reduces by 2^32, NOT by 100: `SampleMult` shares the
    * factor 5 with 100, so a `% 100` hash only ever hits multiples of 5 —
    * rates would silently round up to the next multiple of 5 and the keep
    * decision would alias on `id mod 20`. Against 2^32 the odd multiplier
    * is coprime and every integer rate is honored.
    */
  def stratifiedSample(
      df: DataFrame,
      id: Column,
      strata: Column,
      ratesPct: Map[String, Int],
      defaultPct: Int): DataFrame = {
    require((ratesPct.values ++ Seq(defaultPct)).forall(r => r >= 0 && r <= 100),
      "rates are percentages in [0, 100]")
    val rate = coalesce(element_at(typedlit(ratesPct), strata), lit(defaultPct))
    df.filter(
      (idHash(id, SampleMult, SampleInc) % 4294967296L) * 100L <
        rate.cast("long") * 4294967296L)
  }

  /** Deterministic shard id of `id` in [0, numShards). */
  def shardOf(id: Column, numShards: Int): Column =
    idHash(id, ShardMult) % numShards

  /** Per-shard manifest of a hash-sharded corpus: document count, total
    * token budget, id range — the planning table a shard writer consumes
    * (and the balance check: multiplicative hashing keeps shard sizes
    * within sampling noise of each other). One map + one aggregation with
    * map-side partials; `numShards` rows out.
    */
  def shardManifest(docs: DataFrame, id: Column, text: Column, numShards: Int): DataFrame = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    docs
      .select(shardOf(id, numShards).as("shard"), id.cast("long").as("doc_id"),
        tokenCount(text).cast("long").as("n_tokens"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"),
        min("doc_id").as("min_doc_id"), max("doc_id").as("max_doc_id"))
  }

  /** Rendezvous / highest-random-weight sharding (Thaler & Ravishankar
    * 1998): each document lands on the shard whose keyed weight wins the
    * per-document argmax. The property that matters at 100 TB: growing
    * `numShards` n → n+1 moves ONLY the documents the NEW shard wins —
    * ~1/(n+1) of the corpus — where mod-hashing ([[shardManifest]]'s
    * layout) remaps ~n/(n+1) of it; incremental stores, bucketed layouts
    * and cache affinity all survive a capacity change. Weights are the
    * same affine family as the MinHash permutations
    * (`(base·(2s+1) + s²·31 + 7) mod 1e9+7` over the [[graft.functions
    * .KeyedHash]] base), so the assignment is exact integer arithmetic,
    * oracle-replayable, and free of engine RNG. Ties (≈ impossible at
    * p ≈ 1e-9, but determinism is the contract) break to the LOWEST
    * shard via first-max position.
    *
    * Pure narrow projection — the weight array is a per-row higher-order
    * transform over a `sequence` literal; nothing shuffles.
    */
  def rendezvousShards(docs: DataFrame, id: Column, numShards: Int): DataFrame = {
    require(numShards >= 1 && numShards <= 4096,
      s"numShards must be in [1, 4096], got $numShards")
    val P = 1000000007L
    val base = pmod(graft.functions.KeyedHash.idHash(id, 2654435761L), lit(P))
    val weights = transform(sequence(lit(0), lit(numShards - 1)),
      s => pmod(base * (s * 2 + 1) + (s * s * lit(31L) + 7L), lit(P)))
    docs.select(id.cast("long").as("doc_id"), weights.as("_w"))
      .select(col("doc_id"),
        (array_position(col("_w"), array_max(col("_w"))) - 1L).as("shard"))
  }

  /** Exact per-stratum quota: keep at most `cap` rows per stratum,
    * chosen deterministically by hash order (ties broken on the id) — the
    * "no domain exceeds N documents" cap, complementing the rate-based
    * samplers ([[stratifiedSample]] scales each stratum, [[temperatureMix]]
    * flattens the distribution; this TRUNCATES, which is what robots.txt-
    * style per-site limits and eval-set caps ask for). Hash order (not id
    * order) so the kept subset is an unbiased sample of the stratum, and
    * re-running on a grown corpus keeps a stable prefix preference.
    *
    * Shape: one shuffle on the stratum key + a per-partition rank. An
    * extremely hot stratum concentrates its rank in one task — if a
    * single stratum approaches a task's memory, apply a rate-based
    * pre-cut ([[stratifiedSample]]) first and quota the remainder; the
    * composition stays deterministic because both decisions are pure
    * hash functions of the id.
    */
  def quotaSample(df: DataFrame, id: Column, strata: Column, cap: Int): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("_q_stratum"))
      .orderBy(col("_q_ord").asc, col("_q_id").asc)
    df.withColumn("_q_stratum", strata)
      .withColumn("_q_id", id.cast("long"))
      .withColumn("_q_ord", idHash(id, QuotaMult, QuotaInc) % 4294967296L)
      .withColumn("_q_rn", row_number().over(w))
      .filter(col("_q_rn") <= cap)
      .drop("_q_stratum", "_q_id", "_q_ord", "_q_rn")
  }

  /** Deterministic weighted sampling without replacement, cap rows per
    * stratum (Efraimidis–Spirakis A-ES): each row draws a reproducible
    * uniform u ∈ (0,1] from its id hash and the cap highest u^(1/w) win,
    * so inclusion probability tracks the weight — the quality- or
    * length-proportional subsample a mixture builder wants, without the
    * bias of take-highest-weight and without RNG state. Ranking uses the
    * monotone-equivalent ln(u)/w (w > 0 ⟹ same order as u^(1/w)), which
    * keeps one transcendental per row and replays exactly in the oracle.
    * Non-positive weights raise rather than silently sort last.
    *
    * Shape: identical to [[quotaSample]] — one shuffle on the stratum
    * key + a per-partition rank; same hot-stratum caveat, same
    * composability with the rate-based pre-cuts.
    */
  def weightedSample(df: DataFrame, id: Column, strata: Column,
      weight: Column, cap: Int): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("_w_stratum"))
      .orderBy(col("_w_key").desc, col("_w_id").asc)
    val wt = when(weight.cast("double") > 0.0, weight.cast("double"))
      .otherwise(raise_error(concat(
        lit("weightedSample: non-positive weight "), weight.cast("string"),
        lit(" for id "), id.cast("string"))))
    df.withColumn("_w_stratum", strata)
      .withColumn("_w_id", id.cast("long"))
      .withColumn("_w_u",
        ((idHash(id, WeightMult, WeightInc) % 4294967296L) + 1L)
          .cast("double") / 4294967296.0)
      .withColumn("_w_key", log(col("_w_u")) / wt)
      .withColumn("_w_rn", row_number().over(w))
      .filter(col("_w_rn") <= cap)
      .drop("_w_stratum", "_w_id", "_w_u", "_w_key", "_w_rn")
  }

  /** Diff two corpus snapshots by document fingerprint — the incremental-
    * ingestion bookkeeping query: which documents appeared, vanished, or
    * changed content between yesterday's snapshot and today's. One
    * full-outer equi-join on the id (snapshots stored id-partitioned or
    * bucketed make this a co-located merge with no shuffle); the
    * fingerprint column is whatever cheap content hash the pipeline
    * already computes (e.g. `TextFunctions.polyHash(text)`), so the diff
    * never compares full document bodies.
    *
    * @return (doc_id, status) with status ∈ added | removed | changed |
    *         unchanged
    */
  def snapshotDiff(
      oldSnap: DataFrame,
      newSnap: DataFrame,
      id: Column,
      fingerprint: Column): DataFrame = {
    val o = oldSnap.select(id.cast("long").as("_o_id"), fingerprint.as("_o_fp"))
    val n = newSnap.select(id.cast("long").as("_n_id"), fingerprint.as("_n_fp"))
    o.join(n, col("_o_id") === col("_n_id"), "full")
      .select(
        coalesce(col("_n_id"), col("_o_id")).as("doc_id"),
        when(col("_o_id").isNull, lit("added"))
          .when(col("_n_id").isNull, lit("removed"))
          // null-safe: a fingerprint going null↔non-null IS a change (a
          // plain =!= evaluates null there and would fall through to
          // "unchanged")
          .when(!(col("_o_fp") <=> col("_n_fp")), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** Corpus-frequency commonness profile per document — the cheap
    * unigram-LM stand-in for perplexity filtering: a document made of the
    * corpus' most frequent tokens scores high `mean_freq_ppm`
    * (boilerplate-ish), one full of rare tokens scores low (jargon,
    * mojibake, other languages). All arithmetic is exact integer ppm
    * (`div`), so the oracle replays it bit-for-bit — a real log-prob
    * would not cross engines exactly (SURVEY §8.16).
    *
    * Shape: one vocabulary aggregation (map-side partials absorb hot
    * tokens), the scalar total broadcast back, one equi-join of the
    * posting rows against the per-token frequency (AQE broadcasts the
    * vocabulary when it fits; at web scale it shuffles — either way no
    * N² and no driver state), one per-doc aggregation. The exploded
    * posting list is cached once and feeds both the vocabulary and the
    * join side.
    */
  def tokenRarity(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = cached(docs.select(id.as("doc_id"), explode(tokens(text)).as("t")))
    val vocab = toks.groupBy("t").agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("total"))
    val freq = vocab.crossJoin(broadcast(total))
      .select(col("t"), expr("cnt * 1000000 div total").as("freq_ppm"))
    toks.join(freq, "t")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        expr("sum(freq_ppm) div count(1)").as("mean_freq_ppm"))
  }

  /** DSIR-style importance scores (Data Selection via Importance
    * Resampling, Xie et al. 2023): how much more likely is each document
    * under the TARGET domain's hashed-token distribution than under the
    * raw corpus distribution? `isTarget` marks the exemplar rows (e.g. a
    * trusted high-quality slice); every document — target or not — gets a
    * score. Downstream, resampling with weight ∝ exp(score) is
    * [[weightedSample]]; a hard cut is a top-k on the score.
    *
    * score(d) = Σ_tokens ln( p̂_tgt(b(t)) / p̂_raw(b(t)) ) over hashed
    * token buckets `b(t) = polyHash(t) mod buckets`, add-1 smoothed.
    * Each bucket's log-ratio is rounded ONCE to integer micro-nats
    * (·1e6); per-document scores are then exact BIGINT sums of those —
    * order-independent, so the result is reproducible across engines and
    * partitionings (a double sum would depend on row order). Documents
    * with no tokens produce no row (same contract as [[tokenRarity]]).
    *
    * Scale shape: one explode pass over the corpus; the bucket
    * distribution is bounded state (≤ `buckets` rows — thousands, not
    * corpus-sized) broadcast back onto the token stream; one groupBy on
    * doc_id. Never a self-join, never driver-side data.
    *
    * Output: (doc_id, n_tokens, dsir_micro_nats).
    */
  def dsirScores(
      docs: DataFrame,
      id: Column,
      text: Column,
      isTarget: Column,
      buckets: Int = 4096): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val toks = cached(
      docs.select(id.as("doc_id"), isTarget.as("_tgt"),
          explode(tokens(text)).as("_t"))
        .select(col("doc_id"), col("_tgt"),
          (polyHash(col("_t")) % buckets).as("b")))
    val raw = toks.groupBy("b").agg(count(lit(1)).as("rcnt"))
    val tgt = toks.filter(col("_tgt")).groupBy("b").agg(count(lit(1)).as("tcnt"))
    val totals = raw.agg(sum("rcnt").as("rtot"))
      .crossJoin(tgt.agg(coalesce(sum("tcnt"), lit(0L)).as("ttot")))
    // every doc bucket appears in raw (raw spans all docs), so LEFT from
    // raw covers the corpus; a bucket with no target hits smooths to 1
    val lr = raw.join(tgt, Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("b"),
        round(log(
          ((coalesce(col("tcnt"), lit(0L)) + lit(1.0)) / (col("ttot") + lit(buckets))) /
            ((col("rcnt") + lit(1.0)) / (col("rtot") + lit(buckets)))) * lit(1000000.0))
          .cast("long").as("lr_micro"))
    toks.join(broadcast(lr), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum("lr_micro").as("dsir_micro_nats"))
  }

  /** Gumbel-top-k resampling: draw `k` rows per stratum with probability
    * ∝ exp(logWeight), without replacement — entirely in log space. The
    * Gumbel-max trick makes "rank by `logWeight − ln(−ln u)`, keep the
    * top k" exactly equivalent to softmax sampling without replacement,
    * with no `exp` anywhere: a log-weight of ±10⁴ nats (where exp
    * overflows/underflows doubles) ranks fine. This is the selection
    * step of DSIR — feed it [[dsirScores]]' micro-nats ÷ 1e6 — but any
    * log-space score works (LM log-likelihoods, negative perplexities).
    *
    * The uniform draw is the usual deterministic keyed hash (its own
    * constant family), so the sample is reproducible and replayable.
    * Same scale shape as [[weightedSample]]: narrow map + one per-stratum
    * window; with the default single stratum the window is one exchange
    * on a constant key — at 100 TB prefer per-domain strata or a
    * pre-filter so no single task ranks the whole corpus.
    *
    * @return the selected input rows, unchanged (helper columns dropped).
    */
  def gumbelTopK(
      df: DataFrame,
      id: Column,
      logWeight: Column,
      k: Int,
      strata: Column = lit(1)): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("_g_stratum"))
      .orderBy(col("_g_key").desc, col("_g_id").asc)
    df.withColumn("_g_stratum", strata)
      .withColumn("_g_id", id.cast("long"))
      // strictly inside (0,1): u = 1 would send −ln(−ln u) to +∞ (an
      // always-wins row), u = 0 to −∞ — the +1 / (2^32+1) shift excludes
      // both endpoints
      .withColumn("_g_u",
        ((idHash(id, GumbelMult, GumbelInc) % 4294967296L) + 1L)
          .cast("double") / 4294967297.0)
      .withColumn("_g_key", logWeight.cast("double") - log(-log(col("_g_u"))))
      .withColumn("_g_rn", row_number().over(w))
      .filter(col("_g_rn") <= k)
      .drop("_g_stratum", "_g_id", "_g_u", "_g_key", "_g_rn")
  }

  /** Contrastive-triplet mining: turn a near-duplicate PAIR set into
    * `(anchor, positive, negative)` training rows for embedding models.
    * Positives are the pairs as given (any tier: MinHash-LSH, SimHash,
    * semantic); the negative of a pair comes from a deterministic hash
    * pool — documents bucket by keyed hash into `poolBuckets` buckets,
    * each non-empty bucket contributes its min-id representative, and the
    * pair probes 3 consecutive buckets starting at a pair-keyed bucket,
    * keeping the FIRST representative that is neither endpoint. Distinct
    * buckets have distinct representatives, so when the probed buckets
    * are non-empty at most two collide with the pair and a negative
    * always exists; on a degenerate corpus (fewer than 3 usable probed
    * buckets) the pair drops — deterministically, so the oracle replays
    * the drop. Negatives are "random" (pool) negatives; HARD negatives
    * are already a composition the engine ships: rank with a similarity
    * tier and anti-join this pair set.
    *
    * Scale: the pool is a `poolBuckets`-row aggregation (broadcast under
    * AQE); pairs explode ×3 and meet the pool on the bucket key; the
    * first-valid pick is a min-of-struct aggregation (map-side
    * combinable). Linear in the pair count, nothing on the driver.
    */
  def contrastiveTriplets(
      docs: DataFrame,
      id: Column,
      pairs: DataFrame,
      poolBuckets: Int = 64): DataFrame = {
    require(poolBuckets >= 3,
      s"contrastiveTriplets: poolBuckets=$poolBuckets must be >= 3 (the probe walk needs 3 buckets)")
    val b = lit(poolBuckets.toLong)
    val pool = docs.groupBy(pmod(idHash(id, TripletMult), b).as("_pb"))
      .agg(min(id.cast("long")).as("_cand"))
    val probes = pairs
      .select(col("doc_a").cast("long").as("doc_a"),
        col("doc_b").cast("long").as("doc_b"))
      .withColumn("_off", explode(array(lit(0L), lit(1L), lit(2L))))
      .withColumn("_pb",
        pmod(idHash(col("doc_a"), TripletMult)
          + pmod(col("doc_b"), lit(IdMod)) + col("_off"), b))
    probes.join(pool, Seq("_pb"))
      .filter(col("_cand") =!= col("doc_a") && col("_cand") =!= col("doc_b"))
      .groupBy(col("doc_a").as("anchor"), col("doc_b").as("positive"))
      .agg(min(struct(col("_off"), col("_cand"))).getField("_cand").as("negative"))
  }

  /** Benchmark decontamination: which training documents share at least
    * `minShared` word n-gram shingles with a benchmark/eval document —
    * the standard pre-training hygiene check (real deployments use long
    * n-grams, e.g. 13-grams; the parameter is exposed because this corpus'
    * documents are short). Output `(bench_id, train_id, n_shared)`.
    *
    * Same inverted-index shape as the n-gram dedup: explode both sides'
    * distinct shingles, equi-join on the shingle — never an N×M document
    * cross product. The benchmark side is tiny relative to the training
    * corpus, so AQE broadcasts it and the training side is never
    * shuffled; cost is one pass over the training shingles. Stop-shingle
    * skew on the training side is bounded by the benchmark's shingle
    * vocabulary (the join only keeps training shingles a bench doc
    * contains).
    */
  def contaminationPairs(
      train: DataFrame,
      bench: DataFrame,
      id: Column,
      text: Column,
      n: Int = 3,
      minShared: Long = 1L): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    def sh(df: DataFrame, as: String) =
      df.select(id.as(as), explode(shingles(tokens(text), n)).as("s"))
    sh(bench, "bench_id")
      .join(sh(train, "train_id"), "s")
      .groupBy("bench_id", "train_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Gopher-style repetition/noise profile per document, in exact integer
    * ppm: the fraction of word bigrams taken by the single most frequent
    * bigram (looped boilerplate scores near 1e6), the distinct-token
    * fraction, and the symbol-character fraction. Output
    * `(doc_id, top_bigram_ppm, distinct_token_ppm, symbol_ppm)`.
    *
    * The top-bigram mode is a per-row reduction (every bigram of a
    * document comes from that one row), computed by the
    * [[graft.functions.BigramModeStats]] kernel inside the scan's
    * projection, so the query is shuffle-free. It is NOT a per-row
    * Catalyst lambda: counting a mode there is O(distinct × total)
    * interpreted work per document (measured 15 s at sf0.1, unbounded for
    * book-sized docs); the kernel is O(total) compiled work.
    * CorpusPropertiesSpec pins it bit-identical to the two-exchange
    * aggregation formulation, incl. null/empty/single-token docs.
    */
  def repetitionProfile(docs: DataFrame, id: Column, text: Column): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val bm = ColumnBridge.column(graft.functions.BigramModeStats(
      ColumnBridge.expression(tokens(text))))
    docs.select(id.as("doc_id"),
        distinctTokenPpm(text).as("distinct_token_ppm"),
        symbolPpm(text).as("symbol_ppm"),
        coalesce(bm, struct(lit(0L).as("maxc"), lit(0L).as("total"))).as("_bm"))
      .select(col("doc_id"),
        when(col("_bm.total") === 0, lit(0L))
          .otherwise(
            floor(col("_bm.maxc") * 1000000L / col("_bm.total")).cast("long"))
          .as("top_bigram_ppm"),
        col("distinct_token_ppm"), col("symbol_ppm"))
  }

  /** The Gopher paper's required stop words (Rae et al. 2021, table A1
    * rule 8): a document must contain at least `minRequiredStops` DISTINCT
    * members to pass.
    */
  val GopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style document quality rules (Rae et al. 2021, appendix A1.1)
    * as one shuffle-free projection — the full published heuristic set
    * beside [[graft.functions.TextFunctions.qualityScorePpm]]'s composite
    * score and [[repetitionProfile]]'s repetition signals. Output is one
    * row per document with every rule's measured value, each rule's
    * verdict folded into `keep_flag` (1 = passes all) — values are kept so
    * a curation run can report WHY documents died, not just drop them.
    *
    * All thresholds are integer (ppm / centi-units) and every measure is
    * exact integer arithmetic over the shared token split, so any engine
    * replays the gate bit-for-bit:
    *  - `n_words` ∈ [minWords, maxWords];
    *  - mean word length in centi-chars `mwl_c` ∈ [minMwlC, maxMwlC];
    *  - symbol fraction `symbol_ppm` ≤ maxSymbolPpm (non-alnum non-space
    *    chars over all chars — the #/ellipsis litter signal);
    *  - bullet-started lines `bullet_ppm` ≤ maxBulletPpm and
    *    ellipsis-ended lines `ellipsis_ppm` ≤ maxEllipsisPpm;
    *  - words containing a letter `alpha_word_ppm` ≥ minAlphaPpm;
    *  - distinct [[GopherStops]] present `req_stop_hits` ≥ minRequiredStops.
    *
    * Scale shape: narrow map over the corpus, no shuffle, no joins — the
    * token array materializes ONCE per document and feeds every rule
    * (same single-projection discipline as [[repetitionProfile]], whose
    * measured trap was re-evaluating the tokenizer per consumer).
    */
  def gopherRules(
      docs: DataFrame,
      id: Column,
      text: Column,
      minWords: Int = 50,
      maxWords: Int = 100000,
      minMwlC: Int = 300,
      maxMwlC: Int = 1000,
      maxSymbolPpm: Int = 100000,
      maxBulletPpm: Int = 900000,
      maxEllipsisPpm: Int = 300000,
      minAlphaPpm: Int = 800000,
      minRequiredStops: Int = 2): DataFrame = {
    import org.apache.spark.sql.functions.{filter => afilter}
    val withToks = docs.select(id.as("doc_id"), text.as("_text"),
      tokens(text).as("_toks"), split(text, "\n").as("_lines"))
    val n = size(col("_toks")).cast("long")
    val nLines = size(col("_lines")).cast("long") // split never yields []
    val sumLen = aggregate(transform(col("_toks"), t => length(t).cast("long")),
      lit(0L), _ + _)
    val nBullet = size(afilter(col("_lines"), l =>
      ltrim(l).startsWith("- ") || ltrim(l).startsWith("* ") ||
        ltrim(l).startsWith("• "))).cast("long")
    val nEllipsis = size(afilter(col("_lines"), l =>
      rtrim(l).endsWith("...") || rtrim(l).endsWith("…"))).cast("long")
    val nAlpha = size(afilter(col("_toks"), t => t.rlike("[a-z]"))).cast("long")
    val measured = withToks.select(
      col("doc_id"),
      n.as("n_words"),
      when(n > 0, floor(sumLen * 100L / n).cast("long")).otherwise(0L).as("mwl_c"),
      symbolPpm(col("_text")).as("symbol_ppm"),
      floor(nBullet * 1000000L / nLines).cast("long").as("bullet_ppm"),
      floor(nEllipsis * 1000000L / nLines).cast("long").as("ellipsis_ppm"),
      when(n > 0, floor(nAlpha * 1000000L / n).cast("long")).otherwise(0L)
        .as("alpha_word_ppm"),
      size(array_intersect(array_distinct(col("_toks")),
        typedLit(GopherStops))).cast("long").as("req_stop_hits"))
    measured.withColumn("keep_flag",
      (col("n_words").between(minWords, maxWords) &&
        col("mwl_c").between(minMwlC, maxMwlC) &&
        col("symbol_ppm") <= maxSymbolPpm &&
        col("bullet_ppm") <= maxBulletPpm &&
        col("ellipsis_ppm") <= maxEllipsisPpm &&
        col("alpha_word_ppm") >= minAlphaPpm &&
        col("req_stop_hits") >= minRequiredStops).cast("long"))
  }

  /** Temperature-flattened domain mixing (the multilingual "exponential
    * smoothing" resample, α = 0.5): per-domain acceptance rate
    * `rate(s) = sqrt(min_count / count(s))` keeps the rarest domain whole
    * and downsamples dominant domains toward `count^0.5`-proportional
    * shares. α is fixed at 0.5 because `sqrt` is the one power IEEE
    * requires to be correctly rounded — any engine computes the identical
    * double, so the per-mille acceptance threshold (`floor(rate · 1e6)`)
    * is exact and the decision replays bit-for-bit in the oracle
    * (general `pow` is not correctly rounded and would not).
    *
    * Rates derive from the corpus itself: one tiny per-domain count
    * aggregation (map-side partials), a broadcast of the rate table, and a
    * hash filter — the corpus itself is never shuffled. Deterministic and
    * composable like [[stratifiedSample]], but with rates computed from
    * the data instead of supplied.
    */
  def temperatureMix(df: DataFrame, id: Column, domain: Column): DataFrame = {
    val counts = df.groupBy(domain.as("_dom")).agg(count(lit(1)).as("_cnt"))
    val minCnt = counts.agg(min(col("_cnt")).as("_min"))
    val rates = counts.crossJoin(broadcast(minCnt))
      .select(col("_dom"),
        floor(sqrt(col("_min").cast("double") / col("_cnt").cast("double")) *
          1000000.0).cast("long").as("rate_ppm"))
    // null-safe equality: groupBy collects null domains into one group, and
    // a plain `===` would then silently drop every null-domain row at the
    // rate join — they must resample like any other domain
    df.join(broadcast(rates), domain <=> col("_dom"))
      .filter(idHash(id, MixMult, MixInc) % 1000000L < col("rate_ppm"))
      .drop("_dom")
  }

  /** Sample toward an explicit TARGET domain mixture — the "hit this
    * data recipe" step ([[temperatureMix]] flattens the natural
    * distribution; this realizes a requested one). For domain d with
    * n_d rows and target share s_d (ppm), the largest output size
    * reachable WITHOUT upsampling any domain is
    * T = min_d ⌊n_d · 10⁶ / s_d⌋; each domain then keeps
    * rate_d = ⌊T · s_d / n_d⌋ ppm of its rows by id hash. Domains absent
    * from the target drop entirely. All arithmetic is integer ppm
    * (floored), replayed exactly by the oracle; shares under ~100 ppm on
    * trillion-row domains approach the i64 headroom of T·s_d — tighten
    * to micro-shares before that point.
    *
    * Shape: one count aggregation over the domain column
    * (domain-bounded), the scalar T reduced from it, rates broadcast
    * back — the corpus itself is never key-shuffled.
    */
  def targetMix(
      df: DataFrame,
      id: Column,
      domain: Column,
      targetPpm: Map[String, Long]): DataFrame = {
    require(targetPpm.nonEmpty, "targetPpm must name at least one domain")
    require(targetPpm.values.forall(_ > 0), "target shares must be positive ppm")
    require(targetPpm.values.sum <= 1000000L,
      s"target shares sum to ${targetPpm.values.sum} ppm > 1e6")
    val spark = df.sparkSession
    import spark.implicits._
    val target = targetPpm.toSeq.toDF("_dom", "_share")
    // LEFT join from the recipe: a recipe domain with zero corpus rows must
    // contribute n_d = 0 to the feasibility reduce (T = min_d floor(n_d·1e6
    // /s_d) = 0 → empty output), not silently vanish from the mixture
    val counts = broadcast(target)
      .join(df.groupBy(domain.as("_dom")).agg(count(lit(1)).as("_cnt")),
        Seq("_dom"), "left")
      .select(col("_dom"), col("_share"),
        coalesce(col("_cnt"), lit(0L)).as("_cnt"))
    // integer `div`, not `/`: Column division on longs is DOUBLE division,
    // which loses exactness right where the oracle replay must match
    val t = counts.agg(min(expr("_cnt * 1000000 div _share")).as("_t"))
    val rates = counts.filter(col("_cnt") > 0).crossJoin(broadcast(t))
      .select(col("_dom"), expr("_t * _share div _cnt").as("rate_ppm"))
    df.join(broadcast(rates), domain <=> col("_dom"))
      .filter(idHash(id, TargetMult, TargetInc) % 1000000L < col("rate_ppm"))
      .drop("_dom")
  }

  /** Realize a per-domain repetition recipe WITH upsampling: each listed
    * domain's documents are replicated `epochsPpm(dom) / 1e6` times in
    * expectation — every doc appears `floor(f/1e6)` times, plus one more
    * iff its keyed hash falls below the fractional part (deterministic,
    * composable, exactly replayable). The training-mixture counterpart of
    * [[targetMix]], which only ever downsamples: data recipes repeat
    * high-quality sources (multiple epochs of a small corpus) while
    * passing big web crawls through at < 1 epoch, and this operator
    * realizes both directions in one pass. Output `(doc_id, dom, copy)`
    * with `copy` ∈ 1..n; domains absent from the recipe are dropped (a
    * recipe IS the output spec).
    *
    * Scale shape: the recipe is a broadcast map-side join; replication is
    * a narrow `explode(sequence(...))` — the corpus is never key-shuffled
    * and the output size is exactly the recipe's expectation. Replicas
    * land in the same input partition as their source; follow with
    * [[epochOrder]] (which permutes on id and copy-independent hashes)
    * before training-order writes.
    */
  def upsampleMix(
      df: DataFrame,
      id: Column,
      domain: Column,
      epochsPpm: Map[String, Long]): DataFrame = {
    require(epochsPpm.nonEmpty, "epochsPpm must name at least one domain")
    require(epochsPpm.values.forall(_ > 0), "repetition factors must be positive ppm")
    val spark = df.sparkSession
    import spark.implicits._
    val recipe = epochsPpm.toSeq.toDF("_dom", "_f")
    df.join(broadcast(recipe), domain <=> col("_dom"))
      .select(id.cast("long").as("doc_id"), col("_dom").as("dom"),
        (expr("_f div 1000000") +
          when(idHash(id, UpsampleMult, UpsampleInc) % 1000000L <
            expr("_f % 1000000"), 1L).otherwise(0L)).as("_n"))
      .filter(col("_n") > 0)
      .select(col("doc_id"), col("dom"),
        explode(sequence(lit(1L), col("_n"))).as("copy"))
  }

  /** Deterministic epoch-shuffle order: a contiguous global rank (1-based)
    * of every document under the per-epoch permutation hash
    * `h = (((id + epoch · EpochStride) mod 2^31) · SplitMult) mod 2^32` — the
    * reproducible "shuffle the corpus differently each epoch" step of a
    * training-data pipeline. Output `(doc_id, epoch_rank)`.
    *
    * A global contiguous rank is NOT a window function at scale — an
    * unpartitioned `row_number()` collapses to one task. The scalable
    * shape used here is the classic two-job range-rank: range-partition by
    * the hash (so partition i's rows all precede partition i+1's), sort
    * within partitions, count rows per partition (a tiny driver-side array
    * — one long per partition), then assign `offset(partition) + local
    * position` in a single `mapPartitions` pass. The sorted input is
    * cached between the two jobs and registered for release via
    * [[unpersistIntermediates]].
    */
  def epochOrder(df: DataFrame, id: Column, epoch: Int, partitions: Int = 0): DataFrame = {
    require(epoch >= 0, s"epoch must be non-negative, got $epoch")
    val spark = df.sparkSession
    import spark.implicits._
    val p = if (partitions > 0) partitions else spark.sparkContext.defaultParallelism
    val sorted = cached(
      df.select(id.cast("long").as("doc_id"),
          (idHash(id.cast("long") + epoch.toLong * EpochStride, SplitMult) %
            4294967296L).as("h"))
        .repartitionByRange(p, col("h"), col("doc_id"))
        .sortWithinPartitions("h", "doc_id"))
    // Both jobs traverse the SAME RDD instance: an RDD's partition array is
    // fixed at creation, so the count view and the rank view cannot diverge
    // (two separate Dataset traversals can — AQE may compile them to
    // different physical partitionings of the range shuffle).
    val rdd = sorted.as[(Long, Long)].rdd
    // job 1: per-partition row counts → prefix-sum offsets on the driver
    // (one long per partition — driver-safe at any scale)
    val counts = rdd.mapPartitionsWithIndex { (i, it) =>
      Iterator.single((i, it.size.toLong))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _)
    // job 2: rank = partition offset + local position (cache hit, no resort)
    val ranked = rdd.mapPartitionsWithIndex { (pid, it) =>
      var rank = offsets(pid)
      it.map { case (doc, _) => rank += 1L; (doc, rank) }
    }
    spark.createDataset(ranked).toDF("doc_id", "epoch_rank")
  }

  /** Scale used by [[balancedOrder]] keys: positions land in [0, 10^9).
    * `(k · BalanceScale)` must stay under 2^63 — fine below ~9.2 B docs
    * per domain.
    */
  val BalanceScale = 1000000000L

  /** Domain-balanced training order: an interleave key under which the
    * k-th document (0-based, hash-ordered) of a domain with `n_d` members
    * sits at `(k · BalanceScale) div n_d` — every domain's documents
    * spread uniformly over the same [0, BalanceScale) axis, so consuming
    * the corpus in `(order_key, doc_id)` order yields each domain at its
    * corpus-proportional rate with no clumping (the training-stream
    * mixing step after [[temperatureMix]] decides the rates). All-integer
    * and hash-driven, so the order is reproducible and oracle-replayable.
    * Output `(doc_id, dom, order_key)`.
    *
    * Scale shape: the naive intra-domain rank is
    * `row_number() OVER (PARTITION BY domain ...)` — one task per domain,
    * serialized on the dominant domain precisely when the corpus is
    * skewed enough to need mixing. This uses [[epochOrder]]'s two-job
    * range-rank generalized to per-domain offsets: range-partition by
    * `(domain, hash)`, count rows per (partition, domain) — a
    * partitions × domains driver array, tiny — then assign
    * `offset + local position` in one `mapPartitions` pass. Parallelism
    * is the partition count regardless of domain skew.
    */
  def balancedOrder(df: DataFrame, id: Column, domain: Column,
      partitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val p = if (partitions > 0) partitions else spark.sparkContext.defaultParallelism
    val sorted = cached(
      df.select(id.cast("long").as("doc_id"), domain.cast("string").as("dom"),
          (idHash(id.cast("long"), SplitMult) % 4294967296L).as("h"))
        .repartitionByRange(p, col("dom"), col("h"), col("doc_id"))
        .sortWithinPartitions("dom", "h", "doc_id"))
    val rdd = sorted.as[(Long, String, Long)].rdd
    // job 1: per-(partition, domain) counts; domains are contiguous within
    // a partition after the range sort, so one fold per partition
    val perPart = rdd.mapPartitionsWithIndex { (i, it) =>
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      it.foreach { case (_, dom, _) => m.update(dom, m.getOrElse(dom, 0L) + 1L) }
      Iterator.single((i, m.toSeq))
    }.collect().sortBy(_._1).map(_._2)
    // driver: domain totals + the starting intra-domain position of each
    // partition's slice of each domain
    val totals = scala.collection.mutable.HashMap.empty[String, Long]
    val offsets = perPart.map { counts =>
      counts.map { case (dom, c) =>
        val off = totals.getOrElse(dom, 0L)
        totals.update(dom, off + c)
        dom -> off
      }.toMap
    }
    val totalsB = spark.sparkContext.broadcast(totals.toMap)
    val offsetsB = spark.sparkContext.broadcast(offsets)
    // job 2: key = (intra-domain position · BalanceScale) div n_d
    val keyed = rdd.mapPartitionsWithIndex { (pid, it) =>
      val pos = scala.collection.mutable.HashMap.empty[String, Long]
      it.map { case (doc, dom, _) =>
        val k = pos.getOrElse(dom, offsetsB.value(pid)(dom))
        pos.update(dom, k + 1L)
        (doc, dom, k * BalanceScale / totalsB.value(dom))
      }
    }
    spark.createDataset(keyed).toDF("doc_id", "dom", "order_key")
  }

  /** Persist `df` in the corpus family of [[Intermediates]] — the corpus
    * operators' own shared intermediates (e.g. [[epochOrder]]'s two-job
    * sorted input) and caller-built ones of multi-operator compositions
    * (a scored corpus feeding both a percentile reduce and the gated
    * pipeline). Released by [[unpersistIntermediates]].
    */
  private[graft] def cached(df: DataFrame): DataFrame =
    Intermediates.persist("corpus")(df)

  /** Length-bucketed batch assignment — the padding-efficiency packer:
    * within each hash shard, documents sort by token length and chop into
    * fixed-`batchSize` batches, so co-batched sequences have near-equal
    * lengths and the pad waste `batch_max − len` per row collapses
    * (random batching pads every sequence to the batch max; sorted
    * batching is the standard fix). Emits the assignment plus each row's
    * exact pad count so the caller can audit the waste it saved.
    *
    * Scale shape: one hash exchange to shards + per-shard window sorts
    * (shard-sized partitions, pick `numShards` like a shuffle partition
    * count); the batch-max window runs on (shard, batch) micro-partitions.
    * Nothing global, nothing driver-side.
    */
  def lengthBucketBatches(
      docs: DataFrame,
      id: Column,
      text: Column,
      numShards: Int = 8,
      batchSize: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(numShards > 0, s"numShards must be positive, got $numShards")
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    val base = docs.select(
      shardOf(id, numShards).as("shard"), id.cast("long").as("doc_id"),
      tokenCount(text).cast("long").as("n_tokens"))
    val pos = row_number().over(
      Window.partitionBy("shard").orderBy(col("n_tokens").asc, col("doc_id").asc))
    val wb = Window.partitionBy("shard", "batch_idx")
    base
      .withColumn("pos", pos.cast("long"))
      .withColumn("batch_idx", expr(s"(pos - 1) div $batchSize"))
      .withColumn("batch_max_tokens", max(col("n_tokens")).over(wb))
      .withColumn("pad_tokens", col("batch_max_tokens") - col("n_tokens"))
  }

  /** All-integer counted-threshold tier map over a `(doc_id, _score)`
    * frame: tier = ⌊(# rows with strictly smaller score) · tiers / N⌋ + 1
    * for each DISTINCT score value. The one window runs over the
    * distinct-score rows only (bounded by the value domain, never the
    * corpus), thresholds are integer division end to end — no percentile
    * interpolation, so every engine lands ties in the same tier. Shared
    * by [[curriculumOrder]] and [[perplexityBuckets]].
    */
  private def countedTierMap(scored: DataFrame, tiers: Int): DataFrame = {
    val counts = scored.groupBy(col("_score")).agg(count(lit(1)).as("_c"))
    // cumulative count of strictly-smaller scores; window runs over the
    // distinct-score rows only
    val cum = counts.withColumn("_start",
      sum(col("_c")).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("_score"))) - col("_c"))
    val total = scored.agg(count(lit(1)).as("_n"))
    cum.crossJoin(broadcast(total))
      .select(col("_score"),
        // integer div, never float: `/` would round-trip through double
        expr(s"(_start * ${tiers.toLong} div _n) + 1L").as("tier"))
  }

  /** Quality-curriculum training order: tier documents into `tiers`
    * equal-count score bands (tier 1 = lowest … `tiers` = highest) and
    * emit a deterministic consume key that walks tiers in the requested
    * direction with a hash-shuffled order inside each tier — the
    * easy→hard (or hard→easy) schedule curriculum-learning recipes ask
    * for.
    *
    * Tier cutoffs are COUNTED, not interpolated: per-score counts →
    * cumulative count of strictly-smaller scores → `tier(s) =
    * start(s)·tiers div N + 1`. All-integer arithmetic, so the tier of
    * every score is bit-identical in any engine — an interpolated
    * continuous quantile (the previous design) could flip a boundary
    * score's tier on a last-ulp difference between two engines'
    * interpolation. Ties share one score group and therefore one tier
    * (tier sizes are equal up to tie granularity).
    *
    * Scale shape: one `groupBy(score)` reduce (map-side combinable), one
    * window over the DISTINCT scores only (a quality-ppm domain is ≤1e6
    * values regardless of corpus size — never a window over rows), and a
    * join of that small score→tier map back onto the docs (AQE broadcasts
    * it). The key is pure integer arithmetic (`tier · 2³² + idHash(id)
    * mod 2³²`), so consuming shards in `(curriculum_key, doc_id)` order
    * needs only a range-partitioned write, never a driver-side sort.
    *
    * @param score     integer score column (e.g. quality ppm)
    * @param easyFirst true → ascending tiers (lowest band first)
    */
  def curriculumOrder(
      docs: DataFrame,
      id: Column,
      score: Column,
      tiers: Int = 10,
      easyFirst: Boolean = true): DataFrame = {
    require(tiers >= 2 && tiers <= 1000, s"tiers must be in [2,1000], got $tiers")
    val scored = cached(
      docs.select(id.cast("long").as("doc_id"), score.cast("long").as("_score")))
    val tierMap = countedTierMap(scored, tiers)
    val dirTier = if (easyFirst) col("tier")
                  else lit(tiers.toLong + 1L) - col("tier")
    scored.join(tierMap, "_score")
      .select(col("doc_id"), col("tier"),
        (dirTier * lit(4294967296L) +
          graft.functions.KeyedHash.idHash(col("doc_id"), SplitMult) %
            lit(4294967296L)).as("curriculum_key"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020,
    * arXiv:1911.00359 §4): split the corpus into `buckets` equal-count
    * strata of a per-document perplexity-like score — bucket 1 ("head")
    * holds the LOWEST-perplexity (most fluent) documents, the last
    * ("tail") the highest — the stratification CCNet applies before
    * keeping head+middle for LM pretraining. Built on the same counted
    * integer thresholds as [[curriculumOrder]]: ties land
    * deterministically in one bucket on any engine, and the single
    * window runs over DISTINCT score values only.
    *
    * Output: `(doc_id, perplexity_ppm, bucket, bucket_label)` with the
    * CCNet names head/middle/tail at `buckets = 3` (positional `b<i>`
    * labels otherwise).
    */
  def perplexityBuckets(
      docs: DataFrame,
      id: Column,
      perplexity: Column,
      buckets: Int = 3): DataFrame = {
    require(buckets >= 2 && buckets <= 1000,
      s"buckets must be in [2,1000], got $buckets")
    val scored = cached(
      docs.select(id.cast("long").as("doc_id"),
        perplexity.cast("long").as("_score")))
    val labels =
      if (buckets == 3) array(lit("head"), lit("middle"), lit("tail"))
      else array((1 to buckets).map(i => lit(s"b$i")): _*)
    scored.join(countedTierMap(scored, buckets), "_score")
      .select(col("doc_id"), col("_score").as("perplexity_ppm"),
        col("tier").as("bucket"),
        element_at(labels, col("tier").cast("int")).as("bucket_label"))
  }

  /** C4-style blocklist filter: per-category token hit counts plus a
    * keep verdict — the wordlist gate every web-scale curation pipeline
    * runs (C4 §2.2 drops any page containing a listed word; the ppm
    * threshold generalizes that to "drop when more than x/1e6 of the
    * tokens are listed", which tolerates incidental mentions).
    *
    * Pure narrow projection: the (small) blocklists are literal arrays in
    * the plan — nothing shuffles, nothing broadcasts at runtime, and the
    * scan prunes to (id, text). Category columns are emitted in sorted
    * name order (`hits_<category>`), so the schema is deterministic.
    */
  def blocklistFilter(
      docs: DataFrame,
      id: Column,
      text: Column,
      categories: Map[String, Seq[String]],
      maxHitsPpm: Long = 0L): DataFrame = {
    require(categories.nonEmpty, "need at least one blocklist category")
    require(maxHitsPpm >= 0L && maxHitsPpm <= 1000000L,
      s"maxHitsPpm out of [0, 1e6]: $maxHitsPpm")
    val toks = graft.functions.TextFunctions.tokens(text)
    val cats = categories.toSeq.sortBy(_._1)
    val hitCols = cats.map { case (name, words) =>
      size(filter(toks, t => t.isInCollection(words))).cast("long")
        .as(s"hits_$name")
    }
    val base = docs.select(
      (id.as("doc_id") +: size(toks).cast("long").as("n_tokens") +: hitCols): _*)
    val total = cats.map(c => col(s"hits_${c._1}")).reduce(_ + _)
    base
      .withColumn("hits_total", total)
      .withColumn("hits_ppm",
        when(col("n_tokens") === 0L, 0L)
          .otherwise(expr("hits_total * 1000000 div n_tokens")))
      .withColumn("keep", col("hits_ppm") <= maxHitsPpm)
  }

  /** Release every intermediate the corpus operators have cached since the
    * last call; returns the number of frames released.
    */
  def unpersistIntermediates(blocking: Boolean = false): Int =
    Intermediates.release("corpus", blocking)

  /** Token-budget sequence packing: within each shard, documents in
    * ascending id order are greedily packed into consecutive packs of at
    * most `budget` tokens (a document alone longer than the budget gets
    * its own pack — packing never splits documents). Output is the
    * document → pack assignment `(shard, doc_id, n_tokens, pack_id)` with
    * `pack_id` 1-based within its shard.
    *
    * The greedy prefix scan carries running state across rows (pack
    * boundaries depend on every previous row in the shard), which no
    * window function expresses — this is the one legitimately imperative
    * loop in the pipeline, and it runs as a `mapPartitions` scan over
    * shard-sorted partitions: ONE shuffle on the shard key, then each
    * shard is a sequential in-task scan. Parallelism = shards, cost per
    * task = shard size — the same contract as writing the shard files
    * themselves.
    */
  def packTokens(
      docs: DataFrame,
      id: Column,
      text: Column,
      numShards: Int,
      budget: Long): DataFrame = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    require(budget > 0, s"token budget must be positive, got $budget")
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(shardOf(id, numShards).as("shard"), id.cast("long").as("doc_id"),
        tokenCount(text).cast("long").as("n_tokens"))
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "doc_id")
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        // rows arrive grouped by shard and id-ordered within it; reset the
        // running pack state at every shard boundary
        var shard = Long.MinValue
        var pack = 0L
        var used = 0L
        it.map { case (sh, doc, tok) =>
          if (sh != shard) { shard = sh; pack = 1L; used = tok }
          else if (used + tok <= budget) { used += tok }
          else { pack += 1L; used = tok }
          (sh, doc, tok, pack)
        }
      }
      .toDF("shard", "doc_id", "n_tokens", "pack_id")
  }

  /** [[packTokens]] plus each document's token SPAN inside its pack
    * (`start_tok`/`end_tok`, 0-based half-open) — the layout a sequence
    * builder needs to emit attention/loss boundary masks: concatenate a
    * pack's documents in `doc_id` order and document k occupies
    * `[start_tok, end_tok)`. One extra window over (shard, pack) —
    * pack-sized partitions (≤ budget tokens), nothing global.
    */
  def packedSpans(
      docs: DataFrame,
      id: Column,
      text: Column,
      numShards: Int,
      budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard", "pack_id").orderBy("doc_id")
    packTokens(docs, id, text, numShards, budget)
      .withColumn("end_tok", sum(col("n_tokens")).over(w))
      .withColumn("start_tok", col("end_tok") - col("n_tokens"))
      .select("shard", "doc_id", "n_tokens", "pack_id", "start_tok", "end_tok")
  }

  /** Physically lay training shards on disk: the output side of
    * [[shardManifest]]/[[packTokens]]. One hash exchange co-locates each
    * shard, a partition-LOCAL sort orders rows `(pack_id, doc_id)` inside
    * it, and `partitionBy` writes one `shard=N/` directory with exactly
    * one file per shard — the layout a training loader wants (open shard,
    * stream packs in order), produced with no global sort and no driver
    * involvement.
    *
    * Scale: parallelism = shard count (same contract as [[packTokens]],
    * whose output this writes); file count is bounded by construction, so
    * no small-files problem and no post-hoc compaction job. At 100 TB,
    * shard count is sized so one shard ≈ one HDFS-block-friendly file.
    */
  def writeShards(packed: DataFrame, outDir: String): Unit =
    packed
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "pack_id", "doc_id")
      .write.partitionBy("shard").mode("overwrite").parquet(outDir)

  /** Fixed-size token chunking with overlap — the preprocessing step that
    * turns variable-length documents into training/retrieval windows.
    * Chunk `i` covers tokens `[i·stride, i·stride + chunkSize)` where
    * `stride = chunkSize - overlap`; the last chunk is truncated at the
    * document end. A document with `0 < n ≤ overlap` tokens still yields
    * one (short) chunk; an empty document yields none.
    *
    * The chunk count is all-integer —
    * `ceil((n - overlap) / stride)` computed as
    * `(n - overlap + stride - 1) div stride` — so any engine replays the
    * same boundaries bit-for-bit (no float ceil).
    *
    * Scale shape: narrow map + explode, NO shuffle — each document's
    * chunks are produced where the document is read, and output size is
    * `≈ n/stride` rows per doc regardless of corpus size. The explode
    * multiplies rows ~(1 + overlap/stride)×, which is the storage price
    * of overlap, paid here once instead of at every training epoch.
    */
  def chunkTokens(
      docs: DataFrame,
      id: Column,
      text: Column,
      chunkSize: Int,
      overlap: Int): DataFrame = {
    require(chunkSize > 0, s"chunkSize must be positive, got $chunkSize")
    require(overlap >= 0 && overlap < chunkSize,
      s"overlap must be in [0, chunkSize), got $overlap")
    val stride = chunkSize - overlap
    val w = col("_chunk_w")
    val n = size(w).cast("long")
    // floor at 1 so the sequence stop is never negative (Spark's
    // sequence(0, -1) DESCENDS); the spurious chunk this floor generates
    // for an empty doc is killed by the `start < n` filter below. That
    // filter references the GENERATED column, so Catalyst cannot push it
    // through the explode into the scan — a `size(tokens(text)) > 0`
    // pre-filter would be pushed there and tokenize the corpus inside the
    // (possibly single-split) scan, serially (§8.2's trap).
    val k = greatest(lit(1L),
      expr(s"(size(_chunk_w) - $overlap + ${stride - 1}) div $stride"))
    val start = col("_chunk_i") * stride // 0-based token offset
    docs
      .select(id.cast("long").as("doc_id"), tokens(text).as("_chunk_w"))
      .withColumn("_chunk_i", explode(sequence(lit(0L), k - 1L)))
      .where(start < n)
      .select(col("doc_id"),
        col("_chunk_i").as("chunk_id"),
        array_join(slice(w, (start + 1L).cast("int"),
          least(lit(chunkSize.toLong), n - start).cast("int")), " ").as("chunk_text"),
        least(lit(chunkSize.toLong), n - start).as("n_tokens"))
  }
}
