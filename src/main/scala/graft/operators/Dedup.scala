package graft.operators

import graft.functions.TextFunctions._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM-training-data pipelines, each expressed
  * as a declarative DataFrame plan so Catalyst/AQE own the physical
  * strategy (map-side partial aggregation, broadcast of small sides, skew
  * handling).
  *
  * Scale design (the point at 100 TB):
  *  - every near-dup variant goes through an **inverted index + shuffle
  *    join on the bucket key** — never an O(N²) cross product and never a
  *    driver-side collect;
  *  - candidate pair counts are bounded by bucket sizes, so the classic
  *    mitigations compose: raise bands (MinHash), widen the hamming bands
  *    (SimHash), or cap document frequency (n-gram) — knobs exposed here;
  *  - output pair sets are deterministic, so the driver's DuckDB oracle can
  *    recompute them exactly at sf0.01.
  */
object Dedup {

  /** Persist `df` in the dedup family of [[Intermediates]]; released by
    * [[unpersistIntermediates]] (operators cannot unpersist on exit: the
    * frame must outlive the CALLER's terminal action).
    */
  private[graft] def cached(df: DataFrame): DataFrame =
    Intermediates.persist("dedup")(df)

  /** Corpus-size-gated persist for the ranked-prefix tiers' shared
    * posting frame (d16/d19/d21x/d22) — r18 OPT, guide §5.
    *
    * Their candidate joins read one derived posting frame on BOTH sides.
    * Spark's exchange reuse would dedupe the two identical subtrees, but
    * under AQE the reuse does not fire for these lambda-bearing cached
    * plans (measured: `ReusedExchange=0` with AQE on, `=1` with AQE off,
    * Spark 4.1), so the df-agg + join + window chain runs TWICE. Each tier
    * persists the frame its two sides share, which differs by tier:
    *  - [[prefixJaccardPairs]] persists the PREFIX SLICE — it feeds both
    *    sides of the self-join (measured 0.48× on the cand+verify tail at
    *    sf0.1). The ranked table above it is NOT persisted there: that
    *    measured flat on d19 and ~40% slower on d21 at sf10.
    *  - [[containmentPairs]] persists the RANKED table — the common parent
    *    of the A-side prefix and the B-side full index (measured 0.57× at
    *    sf0.1, flat at sf1).
    * Either persist pays only while the corpus is small: at sf10 (150 MB
    * text, BASELINE §15 persist note) the columnar cache build of the
    * corpus-sized postings outweighs the recompute it saves (1.4×). So
    * the persist is gated on the SOURCE's plan-stat size: at or below
    * [[PostingsCacheBytes]] the frame is cached like any other
    * intermediate; above it the recompute shape is kept verbatim.
    * Results are identical either way — persist is semantically
    * transparent; only the plan changes.
    */
  private def cachedIfSmall(src: DataFrame, df: DataFrame): DataFrame =
    if (src.queryExecution.optimizedPlan.stats.sizeInBytes <= PostingsCacheBytes)
      cached(df)
    else df

  /** [[cachedIfSmall]]'s source-size bound: 64 MB sits between the
    * corpora where the persist measured faster (0.48–0.57× at sf0.1) and
    * sf10's 150 MB, where it measured 1.4× slower.
    */
  private val PostingsCacheBytes = BigInt(64L * 1024 * 1024)

  /** Unpersist every intermediate the dedup operators have cached since the
    * last call. Call after the terminal action on an operator's result.
    * Safe while other results are still in flight only if they came from
    * other operator families. Returns the number of frames released.
    */
  def unpersistIntermediates(blocking: Boolean = false): Int =
    Intermediates.release("dedup", blocking)

  // ---- set-similarity candidate core --------------------------------
  // The shingle-set tiers (prefixJaccardPairs, containmentPairs,
  // containmentApproxPairs, minhashLshPairs) compose these helpers; each
  // keeps only its own join condition and output columns.
  // ngramJaccardPairs stays the self-contained reference formulation.

  /** Per-document shingle SETS `(doc_id, sh)` — one tokenize+shingle
    * evaluation per call, cached because postings, candidate
    * generation and the exact verify all read it. Persisted BEFORE the
    * empty-set filter: a filter under the persist would be pushed past
    * the rebalance into the (single-split) scan and evaluate the whole
    * shingle expression once per doc on one core; against the cache it's
    * a cheap array-size check. Docs with no shingle are dropped (they can
    * match nothing). `shingles` is `array_distinct`ed, so `size(sh)` is
    * the set size.
    */
  private def shingleSets(docs: DataFrame, id: Column, text: Column,
      n: Int): DataFrame =
    cached(docs.select(id.as("doc_id"), shingles(tokens(text), n).as("sh")))
      .filter(size(col("sh")) > 0)

  /** Posting rows `(doc_id, n_sh, s)`: one row per shingle of each set. */
  private def postings(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), size(col("sh")).as("n_sh"),
      explode(col("sh")).as("s"))

  /** Document frequency `(s, df)` as a partial-agg `groupBy("s")`: a
    * stop-shingle's postings combine map-side, and joining `df` back is
    * an AQE-splittable shuffle join — deliberately NOT a window over the
    * shingle key, which would serialize the hot posting list into one
    * window partition.
    */
  private def docFreq(post: DataFrame): DataFrame =
    post.select("s").groupBy("s").agg(count(lit(1)).as("df"))

  /** Postings ranked rarest-first per document: `(s, doc_id, n_sh, df,
    * rk)`, `rk` the 1-based position in the GLOBAL (df asc, shingle asc)
    * order — a total order, so every document ranks shared shingles
    * consistently. One doc-keyed window: partitions are document-sized.
    */
  private def rankedPostings(post: DataFrame): DataFrame =
    post.join(docFreq(post), Seq("s"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df").asc, col("s").asc)))

  /** The PPJoin prefix of a ranked posting table for threshold `ppm`: the
    * `|s| − ⌈t·|s|⌉ + 1` rarest shingles (all-integer ceil). A set whose
    * overlap with another reaches `⌈t·|s|⌉` cannot fit that overlap inside
    * its `⌈t·|s|⌉ − 1` commonest shingles, so it shares one of these.
    */
  private def prefixSlice(ranked: DataFrame, ppm: Long): DataFrame =
    ranked.filter(
      col("rk") <= col("n_sh") - expr(s"(n_sh * $ppm + 999999) div 1000000") + 1)
      .select(col("doc_id"), col("s"), col("n_sh"), col("rk"))

  /** Positional bound inside a candidate join of ranked sides `a` and
    * `b`: both rank in the SAME global order, so a shared shingle at ranks
    * (i, j) bounds the whole intersection by
    * min(i−1, j−1) + 1 + min(|A|−i, |B|−j) — shared shingles sort
    * consistently, so they sit on the same side of it in both sets.
    */
  private def positionalBound: Column =
    least(col("a.rk") - 1, col("b.rk") - 1) + 1 +
      least(col("a.n_sh") - col("a.rk"), col("b.n_sh") - col("b.rk"))

  /** Exact overlap of candidate pairs `(doc_a, doc_b)` over their FULL
    * shingle sets: `(doc_a, doc_b, na, nb, inter)`. Sets are distinct, so
    * `|A ∪ B| = na + nb − inter` exactly. Candidate-bounded: the
    * `array_intersect` never runs over the corpus.
    */
  private def overlap(cand: DataFrame, sets: DataFrame): DataFrame =
    cand
      .join(sets.as("fa"), col("doc_a") === col("fa.doc_id"))
      .join(sets.as("fb"), col("doc_b") === col("fb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        size(col("fa.sh")).as("na"), size(col("fb.sh")).as("nb"),
        size(array_intersect(col("fa.sh"), col("fb.sh"))).as("inter"))

  /** Jaccard cut over [[overlap]] rows: `(doc_a, doc_b, jaccard_ppm)` for
    * pairs with J ≥ `ppm`/1e6. The threshold is pure integer
    * (inter·1e6 ≥ ppm·union — the [[ngramJaccardPairs]] convention, so a
    * tier verified here emits the same pairs as the reference), and the
    * emitted `jaccard_ppm` is the floored quotient of the same counts.
    */
  private def jaccardAtLeast(ov: DataFrame, ppm: Long): DataFrame =
    ov.withColumn("_uni", col("na") + col("nb") - col("inter"))
      .filter(col("inter") * 1000000L >= lit(ppm) * col("_uni"))
      .select(col("doc_a"), col("doc_b"),
        expr("(inter * 1000000) div _uni").as("jaccard_ppm"))

  /** Exact dedup: one representative (minimum id) per distinct value of
    * `key`. A single hash aggregation — Spark plans partial aggregation
    * before the shuffle, which is the scalable exact-dedup shape.
    */
  def exact(df: DataFrame, key: Column, id: Column): DataFrame =
    df.groupBy(key.as("dedup_key"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Word n-gram Jaccard near-dup pairs via an inverted shingle index:
    * explode distinct shingles → self-join on shingle (equi-shuffle, no
    * cross product) → per-pair intersection counts → Jaccard ≥ `minJaccard`.
    *
    * ORACLE-ONLY TIER when uncapped: the full shingle self-join generates
    * Σ df² candidate rows, which is quadratic in document frequency on
    * stop-shingles — it exists as the ground-truth definition the DuckDB
    * oracle replays. The production exact tier is [[prefixJaccardPairs]]
    * (bit-identical output, lossless prefix filter) and the capped/
    * approximate tiers are `maxDocFreq` here and [[minhashLshPairs]].
    *
    * `maxDocFreq` drops shingles occurring in more than that many documents
    * (stop-shingles are pure join skew: a shingle shared by f docs yields
    * f² candidate rows while contributing ~nothing to similarity). Pass
    * Int.MaxValue for exact semantics (the oracle uses exact).
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      id: Column,
      text: Column,
      n: Int = 3,
      minJaccard: Double = 0.5,
      maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val sh0 = docs
      .select(id.as("doc_id"), explode(shingles(tokens(text), n)).as("s"))
    // doc-freq via two-stage hash aggregation, NOT a window over the
    // shingle key: partial (map-side) aggregation collapses a hot
    // shingle's postings before the shuffle, whereas
    // `count().over(Window.partitionBy("s"))` lands the ENTIRE posting
    // list of exactly the stop-shingle this cap exists to tame in ONE
    // window partition, processed serially by one task. The offender set
    // is tiny by construction (≤ total-postings/maxDocFreq keys), so AQE
    // broadcasts the anti-join. Costs a second traversal of the posting
    // table — the cache below makes that a cached scan, not a
    // re-tokenize.
    val filtered =
      if (maxDocFreq == Int.MaxValue) cached(sh0)
      else {
        val sh = cached(sh0)
        val hot = sh.groupBy("s").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDocFreq)
          .select("s")
        cached(sh.join(hot, Seq("s"), "left_anti"))
      }
    // the surviving posting rows feed three plan branches (per-doc counts +
    // both join sides); the persist makes tokenize+shingle run once,
    // spilling if large
    val counts = filtered.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = filtered.as("a")
      .join(filtered.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    // the THRESHOLD is pure integer (inter·1e6 ≥ ppm·union — no float
    // compare decides membership; the s26 convention applied to sets);
    // the emitted `jaccard_ppm` is the floored integer quotient of the
    // SAME counts — all-integer output, so the driver's value hash never
    // rides a float division/rounding boundary
    inter
      .join(counts.as("ca"), col("doc_a") === col("ca.doc_id"))
      .join(counts.as("cb"), col("doc_b") === col("cb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("ca.n_sh") + col("cb.n_sh") - col("inter")).as("_uni"))
      .filter(col("inter") * 1000000L >= lit(Math.round(minJaccard * 1e6)) * col("_uni"))
      .select(col("doc_a"), col("doc_b"),
        expr("(inter * 1000000) div _uni").as("jaccard_ppm"))
  }

  /** PPJoin-style prefix-filtered Jaccard pairs (Xiao et al., "Efficient
    * similarity joins for near duplicate detection"): the LOSSLESS
    * candidate reduction for an exact threshold join. Order every
    * document's shingles globally rarest-first; two sets with
    * Jaccard ≥ t MUST share an element inside their length-
    * `|s| − ⌈t·|s|⌉ + 1` prefixes, so only prefixes are indexed and
    * joined — the posting volume a stop-shingle would otherwise explode
    * drops to the prefix slice — and exact verification of the (few)
    * candidates reproduces [[ngramJaccardPairs]]' output EXACTLY (the
    * oracle for this operator IS the exact formulation's oracle).
    *
    * Cost shape: one two-stage doc-frequency aggregation joined back to
    * the postings (an AQE-splittable shuffle join — deliberately NOT a
    * window over the shingle key, which would serialize a stop-shingle's
    * whole posting list into one window partition), one doc-keyed window
    * (rarest-first rank; partitions are document-sized), the prefix
    * self-join, and the candidate-bounded verify join. The self-join also
    * carries the paper's other two LOSSLESS per-row prunes — the length
    * filter (t·|A| ≤ |B| ≤ |A|/t) and the positional filter (a shared
    * token's ranks bound the whole intersection) — inside the join
    * condition, so non-viable candidate rows die before the distinct and
    * the verify ever see them. Deterministic: ordering is (df asc,
    * shingle asc); prefix length in exact integer arithmetic from
    * `minJaccardPpm`.
    */
  def prefixJaccardPairs(
      docs: DataFrame,
      id: Column,
      text: Column,
      n: Int = 3,
      minJaccardPpm: Long = 500000L): DataFrame = {
    require(minJaccardPpm > 0 && minJaccardPpm <= 1000000L,
      s"minJaccardPpm out of (0, 1e6]: $minJaccardPpm")
    val sets = shingleSets(docs, id, text, n)
    val prefix = cachedIfSmall(docs,
      prefixSlice(rankedPostings(postings(sets)), minJaccardPpm))
    // two more LOSSLESS per-row filters from the same paper, evaluated
    // INSIDE the join so pruned rows never reach the distinct or the
    // verify join. Any TRUE pair (J ≥ t) passes both at every shared
    // token, so the surviving pair set is unchanged:
    //  - length filter: J ≤ min/max of the set sizes, so t·|A| ≤ |B|
    //    and t·|B| ≤ |A| (integer cross-multiplication);
    //  - positional filter: J ≥ t needs I·(1e6+ppm) ≥ ppm·(|A|+|B|);
    //    prune when even the positional bound on I fails.
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n_sh") * minJaccardPpm <= col("b.n_sh") * 1000000L &&
          col("b.n_sh") * minJaccardPpm <= col("a.n_sh") * 1000000L &&
          positionalBound * (1000000L + minJaccardPpm) >=
            (col("a.n_sh") + col("b.n_sh")) * minJaccardPpm)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    jaccardAtLeast(overlap(cand, sets), minJaccardPpm)
  }

  /** Exact shingle-set containment pairs — the ASYMMETRIC near-dup
    * relation: `cont(A→B) = |S_A ∩ S_B| / |S_A|`, the doc-in-doc signal a
    * symmetric Jaccard threshold misses entirely (a short quote page fully
    * contained in a long article has containment ≈ 1 but Jaccard ≈
    * |S_A|/|S_B| ≈ 0). Output is ordered pairs: `doc_a` is the CONTAINED
    * document, `containment_ppm` normalizes by `doc_a`'s set size in
    * exact integer ppm.
    *
    * Candidate generation is the directional prefix filter (the
    * containment variant of [[prefixJaccardPairs]]' PPJoin bound): if
    * `|S_A ∩ S_B| ≥ ⌈t·|S_A|⌉`, the intersection cannot fit inside the
    * `⌈t·|S_A|⌉ − 1` commonest shingles of A, so A must share one of its
    * `|S_A| − ⌈t·|S_A|⌉ + 1` RAREST shingles (global df order) with B —
    * LOSSLESS, so only A-prefixes probe the index. The index side is
    * necessarily B's FULL posting list (containment puts no prefix bound
    * on the containing document), which is exactly why the probe side
    * being a prefix slice matters: the join volume per shingle is
    * `df_prefix × df_full`, and stop-shingles almost never survive into a
    * rarest-first prefix. The probe join also carries the containment
    * forms of the other two LOSSLESS per-row prunes — the length filter
    * (t·|S_A| ≤ |S_B|: the intersection cannot exceed the containing
    * set) and the positional filter (the shared shingle's ranks in the
    * common global order bound the whole intersection) — inside the join
    * condition. Doc frequency comes from a two-stage hash aggregation
    * joined back (AQE-splittable), never a window over the shingle key.
    * Exact verification over the candidates' full sets keeps the
    * threshold exact.
    *
    * @param maxDocFreq drops INDEX-side (B) postings of shingles occurring
    *   in more than this many documents. The rarest-first A-prefix already
    *   keeps stop-shingles off the probe side, but the index side explodes
    *   FULL posting lists, so a pathological corpus (every doc sharing one
    *   boilerplate shingle) still pays df_prefix × df_full on it; the cap
    *   bounds that worst case. RECALL TRADE, documented like d2b's: a pair
    *   discoverable only through a dropped stop-shingle is missed
    *   (verification stays exact over full sets, so precision is
    *   unaffected). Default Int.MaxValue = exact semantics.
    */
  def containmentPairs(
      docs: DataFrame,
      id: Column,
      text: Column,
      n: Int = 3,
      minContainmentPpm: Long = 700000L,
      maxDocFreq: Int = Int.MaxValue): DataFrame =
    containmentPairsSized(docs, id, text, n, minContainmentPpm, maxDocFreq)
      .select("doc_a", "doc_b", "containment_ppm")

  /** [[containmentPairs]] plus both set sizes (`na`, `nb`) — the extra
    * columns ride the joins the verify step already makes, so the sized
    * variant costs nothing; [[containmentKeep]]'s dominance rule needs
    * them.
    *
    * @param dominanceOnly restrict candidates to pairs where B DOMINATES A
    *   (|S_B| > |S_A|, or equal sizes and `doc_b < doc_a`) INSIDE the
    *   candidate join, before the exact verify. [[containmentKeep]]'s drop
    *   rule only ever reads dominating pairs, so for it this is LOSSLESS
    *   pruning (the discarded pairs could never drop a document) that the
    *   plain pair tiers must not apply (they report every ≥t ordered
    *   pair). At t=0.7 the length filter alone admits 0.7·|S_A| ≤ |S_B| <
    *   |S_A| — similar-sized near-dups, the bulk of a boilerplate-heavy
    *   candidate set — and all of those skip both the distinct() and the
    *   full-set intersect under the flag.
    */
  private def containmentPairsSized(
      docs: DataFrame,
      id: Column,
      text: Column,
      n: Int,
      minContainmentPpm: Long,
      maxDocFreq: Int = Int.MaxValue,
      dominanceOnly: Boolean = false): DataFrame = {
    require(minContainmentPpm > 0 && minContainmentPpm <= 1000000L,
      s"minContainmentPpm out of (0, 1e6]: $minContainmentPpm")
    val sets = shingleSets(docs, id, text, n)
    // `df` rides along so the cap below is a column filter, not a join
    val ranked = cachedIfSmall(docs, rankedPostings(postings(sets)))
    val prefix = prefixSlice(ranked, minContainmentPpm)
    // index side: B's FULL RANKED posting list (containment puts no
    // prefix bound on the containing document; the rank feeds the
    // positional filter below) — or, under the cap, those postings minus
    // the stop-shingle offenders; the prefix ranking above always uses
    // the UNCAPPED df so the A-side prefix is identical in both tiers and
    // the oracle replay needs only one df table (the B-side rank, too, is
    // always the rank within the FULL set)
    val idx = (if (maxDocFreq == Int.MaxValue) ranked
      else ranked.filter(col("df") <= maxDocFreq))
      .select(col("doc_id"), col("s"), col("n_sh"), col("rk"))
    // two more LOSSLESS per-row filters inside the join (any true pair —
    // cont(A→B) ≥ t — passes both at every shared shingle, so the
    // surviving pair set is unchanged):
    //  - length filter: |S_A ∩ S_B| ≤ |S_B|, so ⌈t·|S_A|⌉ needs
    //    t·|S_A| ≤ |S_B| (integer cross-multiplication);
    //  - positional filter: prune when even the positional bound on the
    //    intersection misses t·|S_A|.
    val domFilter =
      if (!dominanceOnly) lit(true)
      else col("b.n_sh") > col("a.n_sh") ||
        (col("b.n_sh") === col("a.n_sh") && col("b.doc_id") < col("a.doc_id"))
    val cand = prefix.as("a")
      .join(idx.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id") &&
          col("a.n_sh") * minContainmentPpm <= col("b.n_sh") * 1000000L &&
          positionalBound * 1000000L >= col("a.n_sh") * minContainmentPpm &&
          domFilter)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    overlap(cand, sets)
      .withColumn("containment_ppm", expr("inter * 1000000 div na"))
      .filter(col("containment_ppm") >= minContainmentPpm)
      .select("doc_a", "doc_b", "na", "nb", "containment_ppm")
  }

  /** APPROXIMATE containment pairs — the production rung of the
    * containment family, the same trade [[graft.operators.Similarity]]'s
    * two-level assignment makes for SemDeDup: constant work per document
    * instead of work that grows with the document.
    *
    * [[containmentPairs]] probes the index with a rarest-first PREFIX of
    * `|S_A| − ⌈t·|S_A|⌉ + 1` shingles per document — lossless, but at
    * t = 0.7 that is ~30 % of every document's shingles, and the probe
    * volume grows with document size. This tier probes with the `k`
    * smallest shingles of `S_A` in [[graft.functions.PolyHash]] order — a
    * deterministic uniform-without-replacement SAMPLE of `S_A` (hash
    * order is corpus-independent, so the same shingle sorts the same way
    * everywhere). For a candidate pair the hit count of the sample
    * against `S_B` is hypergeometric with mean `k·cont(A→B)`, so
    * `hits · 1e6 / min(k, |S_A|)` is an unbiased containment estimate
    * with sd ≈ `sqrt(c(1−c)/k)` (k = 16 → ±11 % at c = 0.5, tighter at
    * the ends); documents with `|S_A| ≤ k` are sampled whole and their
    * estimate is EXACT. The estimate doubles as the candidate generator:
    * one sample×postings join + one pair aggregation — no prefix
    * ranking, no full-set `array_intersect` verify, probe volume
    * k·docs = constant per document.
    *
    * APPROXIMATION CONTRACT (documented like d2b's / d21b's): both false
    * negatives (a contained pair whose sample under-hits the threshold)
    * and false positives (over-hits) occur with hypergeometric
    * probability; `d21d_containment_approx_eval` measures
    * recall/precision against the exact tier as a standing oracle row.
    * `maxDocFreq` caps index-side postings exactly like
    * [[containmentPairs]]' cap, with the same recall-only effect — and
    * unlike the exact tier it DEFAULTS to a finite cap (1000): the exact
    * tier's probes are rarest-FIRST so a boilerplate stop-shingle rarely
    * makes the prefix, but this tier's bottom-polyhash sample is
    * hash-uniform, so a stop-shingle shared by F documents lands in
    * samples at its natural rate and alone contributes O(F²/corpus·k)
    * candidate rows — unbounded by default is exactly the worst case a
    * production rung must not ship with. Pass `Int.MaxValue` to restore
    * the uncapped join when the corpus is known boilerplate-free.
    *
    * Output: `(doc_a, doc_b, sample_hits, sample_size,
    * containment_est_ppm)` for pairs with estimate ≥
    * `minContainmentPpm`; `doc_a` is the (estimated-)contained side.
    *
    * CHOOSING k (measured, BASELINE §16d): wall is FLAT in k at corpus
    * scale (the postings side dominates, not the probe sample), so k is
    * nearly free quality — k=64 read 0.97 recall / 0.91 precision where
    * k=16 read 0.89/0.86 at the same wall on the sf10 adversarial
    * corpus. Recall is NOT pointwise monotone in k: the detection rule
    * `hits ≥ ⌈t·k⌉` has an effective threshold ⌈t·k⌉/k that oscillates
    * above t, so prefer k where ⌈t·k⌉/k sits CLOSE TO t (k=64 at t=0.7,
    * effective 0.703) over merely bigger k (k=16's effective 0.75
    * under-detects true containment in [0.70, 0.75) — the measured
    * k=8→16 recall dip, spec-pinned in DedupSpec). The DEFAULT is the
    * measured-better k=64 (0.97/0.91 at the flat wall); the pinned
    * d21c/d21d oracle rows pass k=16 explicitly so their round-over-
    * round signal stays comparable.
    */
  def containmentApproxPairs(
      docs: DataFrame,
      id: Column,
      text: Column,
      n: Int = 3,
      k: Int = 64,
      minContainmentPpm: Long = 700000L,
      maxDocFreq: Int = 1000): DataFrame = {
    require(k > 0, s"sample size k must be positive, got $k")
    require(minContainmentPpm > 0 && minContainmentPpm <= 1000000L,
      s"minContainmentPpm out of (0, 1e6]: $minContainmentPpm")
    val sh = postings(shingleSets(docs, id, text, n))
    // bottom-k of S_A by (polyhash, shingle) — the per-doc window ranks
    // each document's own shingles only, never a corpus-wide key
    val wD = Window.partitionBy(col("doc_id"))
      .orderBy(polyHash(col("s")).asc, col("s").asc)
    val sig = sh.withColumn("rk", row_number().over(wD)).filter(col("rk") <= k)
      .select(col("doc_id"), col("n_sh"), col("s"))
    // index side: full postings, optionally df-capped
    val idx =
      if (maxDocFreq == Int.MaxValue) sh.select(col("doc_id"), col("s"))
      else sh.join(docFreq(sh).filter(col("df") > maxDocFreq).select("s"),
        Seq("s"), "left_anti").select(col("doc_id"), col("s"))
    // shingle arrays are distinct per doc, so each sampled shingle found
    // in S_B contributes exactly one row: count(*) IS the hit count
    sig.as("a")
      .join(idx.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n_sh").as("n_sh_a"))
      .agg(count(lit(1)).as("sample_hits"))
      .withColumn("sample_size", least(lit(k.toLong), col("n_sh_a")))
      .withColumn("containment_est_ppm",
        expr("sample_hits * 1000000 div sample_size"))
      .filter(col("containment_est_ppm") >= minContainmentPpm)
      .select("doc_a", "doc_b", "sample_hits", "sample_size",
        "containment_est_ppm")
  }

  /** Containment-based keep rule — "drop the quote, keep the article":
    * a document is dropped iff it is ≥ `minContainmentPpm` contained in a
    * DOMINATING partner (strictly larger shingle set, or equal set size
    * and smaller id — so exact duplicates, which are mutually contained
    * at 1e6 ppm, deterministically keep the minimum id and every
    * containment chain keeps its maximal element). Output is one row per
    * input document with its verdict, the shape a curation pipeline
    * filters on.
    *
    * Cost = [[containmentPairs]] restricted to DOMINATING candidates
    * (`dominanceOnly` — the keep rule never reads a non-dominating pair,
    * so they are pruned inside the candidate join, before the distinct
    * and the full-set verify) + one semi-join of the (small) dropped-id
    * set back onto the corpus — the pair tier dominates.
    */
  def containmentKeep(
      docs: DataFrame,
      id: Column,
      text: Column,
      n: Int = 3,
      minContainmentPpm: Long = 700000L): DataFrame = {
    val pairs = containmentPairsSized(docs, id, text, n, minContainmentPpm,
      dominanceOnly = true)
    val dropped = pairs
      .filter(col("nb") > col("na") ||
        (col("nb") === col("na") && col("doc_b") < col("doc_a")))
      .select(col("doc_a").as("doc_id")).distinct()
      .withColumn("_drop", lit(true))
    docs.select(id.as("doc_id"))
      .join(dropped, Seq("doc_id"), "left")
      .select(col("doc_id"), col("_drop").isNull.as("keep"))
  }

  /** Per-document duplicate-substring coverage against EARLIER documents —
    * the RefinedWeb/Gopher-style "how much of this page is copied text"
    * signal, asymmetric where Jaccard ([[ngramJaccardPairs]]) is
    * symmetric: a short page fully contained in a long one scores ~1e6 ppm
    * here but a low Jaccard. Each shingle's *owner* is the minimum doc id
    * containing it; a doc's `dup_ppm` is the fraction (integer ppm) of its
    * shingles owned by an earlier doc, and `keep` = dup_ppm ≤ threshold.
    *
    * Shape: inverted index without the pair join — per-shingle owners
    * come from a two-stage hash aggregation (map-side partial `min`
    * collapses a stop-shingle's postings before the shuffle) joined back
    * to the postings, so the whole operator is two linear shuffles plus
    * one aggregation on the doc id; cost is linear in posting-list size
    * with no f² candidate blowup (this is what makes it the scale-safe
    * complement of the pairwise operators). A hot shingle is a join-side
    * skew AQE can split — deliberately NOT a window over the shingle key,
    * which would serialize the hot posting list into one partition. Docs
    * shorter than `n` tokens keep an empty shingle set (explode_outer)
    * and score 0.
    */
  def substringCoverage(
      docs: DataFrame,
      id: Column,
      text: Column,
      n: Int = 3,
      dupPpmThreshold: Long = 600000L): DataFrame = {
    val sh = cached(docs.select(id.as("doc_id"),
      explode_outer(shingles(tokens(text), n)).as("s")))
    val owners = sh.filter(col("s").isNotNull)
      .groupBy("s").agg(min(col("doc_id")).as("owner"))
    // left join: the null-s rows (shingle-less docs) keep owner = null and
    // are excluded from _nd by the isNotNull guard, as before
    val owned = sh.join(owners, Seq("s"), "left")
    owned.groupBy("doc_id")
      .agg(
        count(col("s")).as("n_shingles"), // count() skips the null-s rows
        sum(when(col("s").isNotNull && col("owner") < col("doc_id"), 1L)
          .otherwise(0L)).as("_nd"))
      .select(col("doc_id"), col("n_shingles"),
        when(col("n_shingles") === 0, 0L)
          .otherwise(expr("(_nd * 1000000) div n_shingles")).as("dup_ppm"))
      .withColumn("keep", (col("dup_ppm") <= dupPpmThreshold).cast("long"))
  }

  /** ExactSubstr-style duplicated-span extraction (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499 §4.1): find, per document, the maximal contiguous
    * token ranges covered by duplicated length-`k` windows (windows
    * occurring ≥ `minCount` times corpus-wide) — the "this text appears
    * elsewhere" spans used to CUT duplicated passages out of documents
    * rather than drop whole near-dup docs (the doc-level operators'
    * job). Every token in a span lies inside at least one duplicated
    * window, and the union of the spans is exactly the token set the
    * paper's pipeline removes. Output is one row per span:
    * `(doc_id, span_start, span_end, n_tokens)`, token indices 1-based
    * inclusive.
    *
    * The paper builds a corpus suffix array — inherently sequential and
    * single-machine. The distributed equivalent here is the k-gram
    * anchor formulation the web-scale pipelines use: any duplicated
    * substring of length ≥ k contains a duplicated k-gram at every
    * window, so positional k-grams + a corpus-wide gram count + a
    * per-doc coverage merge (a break opens where consecutive duplicated
    * window starts sit more than k apart — the first uncovered token)
    * reconstructs the removable regions at ≥ k tokens; shorter
    * duplicates are invisible — k IS the paper's minimum-match-length
    * threshold.
    *
    * Scale shape: one narrow positional-gram explode (O(total tokens)),
    * gram counts via two-stage map-side-combinable `groupBy` (never a
    * window over the gram key), a join-back that AQE can skew-split, and
    * the span merge as a per-DOCUMENT window — partitioned on doc_id,
    * bounded by document length, never corpus-global. All-integer,
    * oracle-replayable.
    */
  def duplicateSpans(
      docs: DataFrame,
      id: Column,
      text: Column,
      k: Int = 8,
      minCount: Long = 2L): DataFrame = {
    require(minCount >= 2L, s"minCount must be >= 2, got $minCount")
    // cached: the gram table feeds BOTH the corpus count and the
    // position join-back — without the persist each branch would re-run
    // the tokenize + k-slice-concat explode (the query's dominant CPU),
    // the d2b lesson
    val grams = cached(gramRows(docs, id, text, k))
    // corpus-wide occurrence count per gram (total occurrences, not
    // distinct docs: a passage repeated inside ONE document is duplicated
    // text all the same — the paper's self-repetition case)
    val cnt = grams.groupBy("g").agg(count(lit(1)).as("c"))
    val dupPos = grams
      .join(cnt.filter(col("c") >= minCount).select("g"), Seq("g"))
      .select(col("doc_id"), col("pos"))
    mergeSpans(dupPos, k)
  }

  /** Merge flagged window-start positions `(doc_id, pos)` into maximal
    * covered token ranges: gram at pos covers tokens [pos, pos+k-1], so a
    * gap begins when pos jumps by more than k (the first uncovered
    * token). Per-DOC window only — partitioned on doc_id, bounded by
    * document length. Public because it is also the batch-side reducer
    * for [[graft.streaming.DocStreams.contaminationHitsStream]]'s hit
    * rows (windows cannot run inside a stateless stream; consumers merge
    * per sink batch or downstream).
    */
  def mergeSpans(dupPos: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    dupPos
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) > k, 1L).otherwise(0L))
      .withColumn("span_id", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("n_tokens"))
  }

  /** Corpus boilerplate report: the top-`topN` length-`k` token grams by
    * total occurrence count, with how many distinct documents carry each —
    * the audit that tells a curation team WHAT the duplicated text is
    * (navigation chrome, license headers, templated footers) before they
    * pick blocklist entries or a [[duplicateSpans]] cut threshold. Rank is
    * deterministic: occurrences desc, then gram asc.
    *
    * Scale shape: one positional-gram explode + ONE map-side-combinable
    * aggregation carrying both counts (`count(*)` + distinct docs via a
    * two-stage (g, doc) pre-collapse), then a corpus-size-independent
    * TakeOrdered top-N — no window over the gram key, no full sort.
    */
  def boilerplateReport(
      docs: DataFrame,
      id: Column,
      text: Column,
      k: Int = 8,
      topN: Int = 20): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val grams = gramRows(docs, id, text, k).select(col("doc_id"), col("g"))
    // (g, doc) pre-collapse first: the distinct-doc count then rides a
    // plain count, and a stop-gram's postings combine map-side twice
    // rather than feeding a count(DISTINCT) expand
    val perDoc = grams.groupBy(col("g"), col("doc_id"))
      .agg(count(lit(1)).as("n_in_doc"))
    val ranked = perDoc.groupBy(col("g"))
      .agg(sum(col("n_in_doc")).as("n_occurrences"),
        count(lit(1)).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("g").asc)
      .limit(topN)
    // rank assigned AFTER the top-N cut: the window sees topN rows, never
    // the gram table
    ranked.withColumn("rank",
      row_number().over(
        Window.orderBy(col("n_occurrences").desc, col("g").asc)).cast("long"))
      .select(col("rank"), col("g").as("gram"), col("n_occurrences"), col("n_docs"))
  }

  /** GPT-3-style n-gram-overlap decontamination SPANS (Brown et al. 2020,
    * arXiv:2005.14165 appendix C: training text overlapping an eval set
    * on a length-k token gram is contaminated): per TRAIN document, the
    * maximal token ranges covered by k-grams that also occur anywhere in
    * the BENCHMARK corpus. The doc-level gates (`c5`/`c11`) answer "is
    * this doc contaminated"; this answers "which exact passage leaked",
    * the shape needed to surgically cut eval text out of a training doc
    * ([[cutSpans]]' filter applies verbatim) or to audit leak severity by
    * span length.
    *
    * Scale shape: train-side positional-gram explode (O(train tokens)),
    * benchmark grams reduced to a DISTINCT gram set (O(bench tokens), the
    * small side — typically a few eval suites vs a 100 TB corpus, so the
    * semi-join broadcasts under AQE), then the same per-doc coverage
    * merge as [[duplicateSpans]]. No pair join, no corpus-global window.
    */
  def contaminationSpans(
      train: DataFrame,
      bench: DataFrame,
      id: Column,
      text: Column,
      k: Int = 8): DataFrame = {
    mergeSpans(gramRows(train, id, text, k)
      .join(benchGramSet(bench, text, k), Seq("g"), "left_semi")
      .select(col("doc_id"), col("pos")), k)
  }

  /** [[contaminationSpans]] with a Bloom-filter prefilter on the train
    * side — the shape the gate takes when the benchmark gram set is too
    * large to ship to every train partition as an exact structure. The
    * DISTINCT benchmark grams condense into one serialized Bloom sketch
    * ([[BloomJoin.prefilter]] — sized by `expectedGrams`/`fpp`, ~1.2 MB
    * per million grams at 1%, NEVER corpus-bounded), every train gram
    * probes it IN THE SCAN STAGE, and only probable hits flow into the
    * exact semi-join. Bloom
    * filters have no false negatives, so no true overlap is ever lost;
    * false positives are killed by the exact semi-join that follows —
    * the output is bit-identical to [[contaminationSpans]] (they share
    * one oracle), only the plan differs: the train-side shuffle into the
    * semi-join shrinks from every gram to `true-hit rate + fpp`, which at
    * decontamination's typical sub-percent hit rates is the entire cost
    * of the gate. This is Spark's own runtime row-level join filtering
    * (`InjectRuntimeFilter`) stated explicitly, where it can also be
    * persisted and reused across queries/batches — the streaming gate
    * can probe the same serialized filter.
    */
  def contaminationSpansBloom(
      train: DataFrame,
      bench: DataFrame,
      id: Column,
      text: Column,
      k: Int = 8,
      expectedGrams: Long = 1L << 20,
      fpp: Double = 0.01): DataFrame = {
    require(expectedGrams > 0, s"expectedGrams must be positive: $expectedGrams")
    val bg = cached(benchGramSet(bench, text, k))
    contaminationSpansBloom(train, id, text, bg,
      BloomJoin.sketchBytes(bg, "g", expectedGrams, fpp), k)
  }

  /** The DISTINCT k-gram set of a benchmark corpus — the persistable
    * build side of the contamination gates. Write it once (parquet) next
    * to its [[BloomJoin.sketchBytes]] sketch and feed both to the
    * byte-accepting [[contaminationSpansBloom]] /
    * [[graft.streaming.DocStreams.contaminationHitsStream]] overloads:
    * later batches and stream cold-starts then never re-scan the
    * benchmark text. Output: `(g)`.
    */
  def benchGramSet(bench: DataFrame, text: Column, k: Int = 8): DataFrame =
    gramRows(bench, lit(null), text, k) // no doc id: only the grams are kept
      .select(col("g")).distinct()

  /** Positional k-grams `(doc_id, pos, g)` of every document's token
    * stream (`pos` 1-based) — the one gram source of the span family.
    */
  private def gramRows(docs: DataFrame, id: Column, text: Column,
      k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    docs.select(id.as("doc_id"), explode(posGrams(tokens(text), k)).as("pg"))
      .select(col("doc_id"), col("pg.pos").as("pos"), col("pg.g").as("g"))
  }

  /** [[contaminationSpansBloom]] against a PRE-BUILT benchmark: the
    * `(g)` gram set (from [[benchGramSet]], typically read back from
    * parquet) plus its serialized sketch (from [[BloomJoin.sketchBytes]])
    * — no benchmark scan at all in this call. Survivor set is
    * byte-identical to the one-shot form: the bloom bits and probe
    * expression are the same, and the exact semi-join kills the same
    * false positives.
    */
  def contaminationSpansBloom(
      train: DataFrame,
      id: Column,
      text: Column,
      benchGrams: DataFrame,
      benchSketch: Array[Byte],
      k: Int): DataFrame = {
    val tg = gramRows(train, id, text, k)
    // BloomJoin owns the sketch build + codegen'd probe (one
    // implementation for the fact-join and gram-gate tiers); an EMPTY
    // benchmark short-circuits to `filter(false)` inside prefilter
    // (zero survivors — the correct prefilter answer) — no null-filter
    // special case here
    val hits = BloomJoin.prefilter(tg, "g", benchSketch)
      .join(benchGrams.select(col("g")), Seq("g"), "left_semi")
    mergeSpans(hits.select(col("doc_id"), col("pos")), k)
  }

  /** Apply [[duplicateSpans]]: per document, the TOKEN-SPACE text with
    * every duplicated span cut out — the action the ExactSubstr pipeline
    * actually performs on the corpus (Lee et al. 2022 remove the
    * duplicated substring and keep the remainder). Output:
    * `(doc_id, clean_text, n_tokens_kept, n_tokens_cut)`; `clean_text`
    * is the kept tokens joined by single spaces (the paper operates on
    * tokenized text — original whitespace/punctuation is not
    * reconstructed, by design, matching every other token-space operator
    * here).
    *
    * Scale shape: the span tier's cost plus one `groupBy(doc_id)` of the
    * (small) span set and a join back onto the corpus; the cut itself is
    * a narrow per-row higher-order filter (spans per doc are few), no
    * extra shuffle beyond the span aggregation.
    */
  def cutSpans(
      docs: DataFrame,
      id: Column,
      text: Column,
      k: Int = 8,
      minCount: Long = 2L): DataFrame = {
    val spanArr = duplicateSpans(docs, id, text, k, minCount)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("_spans"))
    docs.select(id.as("doc_id"), tokens(text).as("_toks"))
      .join(spanArr, Seq("doc_id"), "left")
      .withColumn("_spans", coalesce(col("_spans"),
        array().cast("array<struct<span_start:bigint,span_end:bigint>>")))
      .withColumn("_kept", filter(
        transform(col("_toks"),
          (tok, i) => struct((i + 1).cast("long").as("pos"), tok.as("tok"))),
        x => !exists(col("_spans"),
          s => x("pos") >= s("span_start") && x("pos") <= s("span_end"))))
      .select(col("doc_id"),
        concat_ws(" ", transform(col("_kept"), x => x("tok"))).as("clean_text"),
        size(col("_kept")).cast("long").as("n_tokens_kept"),
        (size(col("_toks")) - size(col("_kept"))).cast("long").as("n_tokens_cut"))
  }

  /** MinHash + LSH near-dup pairs: k-hash signature per doc → `bands` bands
    * of k/bands rows → shuffle-join docs sharing any band → verify
    * candidates with exact n-gram Jaccard. The band join touches only
    * colliding docs, so the cost tracks true-duplicate density instead of
    * N² — the standard web-scale dedup shape (the verify join stays small
    * because candidates are rare).
    */
  def minhashLshPairs(
      docs: DataFrame,
      id: Column,
      text: Column,
      n: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      minJaccard: Double = 0.5): DataFrame = {
    requireBands(numHashes, bands) // fail before anything is cached
    // read by the signature build and twice by the verify join
    val sets = shingleSets(docs, id, text, n)
    // Signature via explode + k min-aggregates: each shingle is hashed
    // exactly ONCE and the k affine permutations are plain codegen'd
    // column arithmetic with map-side partial aggregation — the nested
    // array-lambda formulation recomputes the rolling hash k times per
    // shingle and resists whole-stage codegen.
    val sig = sigFromHashed(
      postings(sets).select(col("doc_id"), polyHash(col("s")).as("h")),
      numHashes)
    // Persisted: the band self-join would otherwise run the whole
    // explode+hash+k-min signature pipeline once per join side.
    val bandedC = cached(bandSlices(sig, numHashes, bands).drop("sig"))
    val candidates = bandedC.as("a")
      .join(bandedC.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // verify candidates with exact Jaccard on the shingle sets
    jaccardAtLeast(overlap(candidates, sets), Math.round(minJaccard * 1e6))
  }

  /** Duplicate-cluster assignment from near-dup pairs: connected
    * components via iterative hash-min label propagation — each vertex
    * repeatedly adopts the minimum label among itself and its neighbors
    * until fixpoint. The step is a join + aggregation (both
    * shuffle-partitioned on the vertex id), iterations ≈ component
    * diameter, and duplicate clusters are shallow in practice — this is
    * the standard "pairs → canonical representative" step after any LSH
    * dedup. Deterministic: the representative is the minimum doc id of
    * the component.
    *
    * @param pairs edges as (`doc_a`, `doc_b`); output is
    *              (`doc_id`, `cluster_rep`) for every vertex in `pairs`.
    */
  def clusterPairs(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    // both directions via ONE explode — a union of two pair-selects would
    // evaluate the (potentially expensive) upstream pair pipeline twice
    // while materializing. localCheckpoint (not persist): it TRUNCATES
    // lineage, so every loop iteration's plan references a flat
    // LogicalRDD — with a plain persist the upstream pair pipeline's
    // logical plan is re-embedded (and re-canonicalized for cache lookup)
    // once per iteration, and that driver-side cost grows with the loop
    // while the actual data stays tiny. Blocks are executor-local; on a
    // lossy cluster use a reliable checkpoint dir instead.
    val edges =
      pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        // serialized: the edge set is the loop's big static block (2×
        // pairs rows, re-read every iteration) — deserialized row objects
        // for a 26M-pair graph were d18's measured sf10 heap floor
        // (BASELINE §16e); the labels below stay deserialized (vertex-
        // sized, rewritten each pass)
        .transform(Intermediates.checkpoint("dedup", serialized = true))
    // seed each vertex with its 1-hop minimum (self included): the same
    // one-aggregation cost as a bare `distinct()` init, but it folds the
    // first propagation round into the seed — duplicate clusters are
    // near-cliques in practice, so the loop typically confirms
    // convergence in ONE iteration instead of two. Hash-min CC reaches
    // the same fixpoint from any seed that is ≥ the component minimum
    // and only ever decreases.
    var labels = edges.groupBy(col("src").as("v"))
      .agg(min(col("dst")).as("_nmin"))
      .select(col("v"), least(col("v"), col("_nmin")).as("l"))
      .transform(Intermediates.checkpoint("dedup"))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // one join + ONE aggregation per iteration: neighbor label
      // contributions (keyed by dst) union each vertex's own label row,
      // and a single groupBy(v) takes both the propagated minimum and —
      // via min(when(own)) — the old label for the convergence check.
      // The equivalent neighborMin-then-left-join formulation costs a
      // second shuffle and a second join stage every iteration, which at
      // cluster scale doubles the stage-barrier count of the whole loop.
      val contrib = edges
        .join(labels, edges("src") === labels("v"))
        .select(col("dst").as("cv"), col("l"), lit(false).as("own"))
        .union(labels.select(col("v").as("cv"), col("l"), lit(true).as("own")))
      // eager localCheckpoint doubles as the per-iteration materializer
      // (what persist+count did) while keeping the next iteration's plan
      // flat — see the edges comment above
      val next = contrib.groupBy(col("cv").as("v"))
        .agg(min(col("l")).as("l"), min(when(col("own"), col("l"))).as("ol"))
        .transform(Intermediates.checkpoint("dedup"))
      val changed = next.filter(col("l") =!= col("ol")).count()
      // the count above materialized `next`, so the PREVIOUS iteration's
      // label blocks are dead — retire them now instead of accumulating
      // one executor-storage copy per iteration until the family release
      Intermediates.drop(labels)
      labels = next
      converged = changed == 0
      iter += 1
    }
    // silent truncation would emit multiple "clusters" for one component
    // and keepCanonical would then retain duplicates — fail loudly instead
    if (!converged)
      throw new IllegalStateException(
        s"clusterPairs did not converge within $maxIters iterations — " +
          "a component's diameter exceeds the budget; raise maxIters")
    labels.select(col("v").as("doc_id"), col("l").as("cluster_rep"))
  }

  /** Soft dedup: down-WEIGHT duplicated documents instead of deleting
    * them (SoftDeDup, He et al. 2024, arXiv:2407.06654 — reweighting
    * preserves the corpus while equalizing the effective sampling mass of
    * each near-dup family). Every document gets its near-dup cluster
    * ([[clusterPairs]] over the `pairs` edge set; docs in no pair are
    * their own singleton cluster) and a sampling weight
    * `weight_ppm = ⌊1e6 / cluster_size⌋` — a cluster's members together
    * carry one document's worth of sampling mass, so a 3-copy family
    * trains like one copy instead of three, and unique documents keep
    * weight 1e6. Exact integer arithmetic end to end.
    *
    * Scale shape: the cluster assignment is the usual hash-min loop over
    * the (sparse) pair set, sizes are one count per cluster rep, and the
    * full-corpus left joins are id-keyed equi-joins — cost tracks corpus
    * + pairs, never N².
    *
    * Output: `(doc_id, cluster_rep, cluster_size, weight_ppm)`, one row
    * per document of `docs`.
    */
  def softDedupWeights(
      docs: DataFrame,
      id: Column,
      pairs: DataFrame): DataFrame = {
    val clusters = clusterPairs(pairs)
    val sizes = clusters.groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("cluster_size"))
    docs.select(id.cast("long").as("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster_rep", coalesce(col("cluster_rep"), col("doc_id")))
      .join(sizes, Seq("cluster_rep"), "left")
      .withColumn("cluster_size", coalesce(col("cluster_size"), lit(1L)))
      .select(col("doc_id"), col("cluster_rep"), col("cluster_size"),
        expr("1000000 div cluster_size").as("weight_ppm"))
  }

  /** The keep/drop decision that completes the dedup story: every doc
    * survives except non-representative members of duplicate clusters.
    * A broadcast anti-join — the cluster table is tiny relative to the
    * corpus (it only contains docs that HAVE duplicates).
    */
  def keepCanonical(docs: DataFrame, id: Column, clusters: DataFrame): DataFrame = {
    // no broadcast hint: the drop set scales with the duplicate count, so
    // let Catalyst/AQE pick broadcast only when it actually fits
    val drop = clusters.filter(col("doc_id") =!= col("cluster_rep"))
      .select(col("doc_id").as("_drop_id"))
    docs.join(drop, id === col("_drop_id"), "left_anti")
  }

  /** Quality-weighted variant of [[keepCanonical]]: instead of the
    * min-id representative, each duplicate cluster keeps its member with
    * the highest `score` (ties broken on ascending id) — "of the N copies
    * of this page, keep the cleanest one", the keep rule real curation
    * pipelines use. `score` is evaluated against `docs`' columns; cluster
    * members are ranked with a window partitioned by the cluster rep —
    * clusters are small by construction, so the window adds one shuffle of
    * the (tiny) member set only, and the final anti-join leaves the corpus
    * unshuffled.
    */
  def keepBest(docs: DataFrame, id: Column, clusters: DataFrame, score: Column): DataFrame = {
    // restrict to cluster members BEFORE evaluating the score: clusters only
    // contain docs that have duplicates, so the (possibly expensive) score
    // expression runs over the tiny member set, not the whole corpus
    val members = docs
      .join(clusters.select(col("doc_id").as("_c_id"), col("cluster_rep")),
        id === col("_c_id"))
      .select(id.as("_m_id"), score.as("_m_score"), col("cluster_rep"))
    val w = Window.partitionBy(col("cluster_rep"))
      .orderBy(col("_m_score").desc, col("_m_id").asc)
    val drop = members.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") > 1)
      .select(col("_m_id").as("_drop_id"))
    docs.join(drop, id === col("_drop_id"), "left_anti")
  }

  /** Preference-pair mining from duplicate clusters: for every near-dup
    * family, emit the best-scored member as `chosen_id` and the
    * worst-scored as `rejected_id` — naturally-occurring quality
    * contrasts over near-identical content, the construction DPO-style
    * preference tuning consumes (Rafailov et al. 2023, arXiv:2305.18290
    * defines the objective; the mining step pairs variants of the same
    * underlying document so the contrast isolates QUALITY, not topic).
    * Deterministic: chosen = max score breaking ties to the LOWEST id,
    * rejected = min score breaking ties to the HIGHEST id — an
    * all-equal-scores family still yields a valid (distinct) pair, and
    * single-member "clusters" cannot occur ([[clusterPairs]] only emits
    * docs that have a duplicate partner).
    *
    * Scale shape: the score expression runs over cluster MEMBERS only
    * (the tiny duplicate subset, as in [[keepBest]]); one grouped
    * aggregation on `cluster_rep` — two struct min/max aggregates, no
    * window, no pair join.
    *
    * Output: `(cluster_rep, chosen_id, rejected_id, chosen_score,
    * rejected_score, n_members)`.
    */
  def preferencePairs(
      docs: DataFrame,
      id: Column,
      clusters: DataFrame,
      score: Column): DataFrame = {
    val members = docs
      .join(clusters.select(col("doc_id").as("_c_id"), col("cluster_rep")),
        id === col("_c_id"))
      .select(col("cluster_rep"), id.cast("long").as("_m_id"),
        score.cast("long").as("_m_score"))
    // struct ordering does the argmax/argmin with the tiebreak baked in:
    // max (score, -id) = best score then lowest id; min (score, -id) =
    // worst score then highest id
    members
      .groupBy(col("cluster_rep"))
      .agg(
        max(struct(col("_m_score"), (-col("_m_id")).as("_n"))).as("_best"),
        min(struct(col("_m_score"), (-col("_m_id")).as("_n"))).as("_worst"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_rep"),
        (-col("_best._n")).as("chosen_id"),
        (-col("_worst._n")).as("rejected_id"),
        col("_best._m_score").as("chosen_score"),
        col("_worst._m_score").as("rejected_score"),
        col("n_members"))
  }

  /** k-min signature from `(doc_id, h)` shingle-hash rows — the single
    * home of the affine permutation coefficients, which must stay in
    * lockstep with the d3/d6 DuckDB oracles.
    */
  private def sigFromHashed(hashed: DataFrame, numHashes: Int): DataFrame = {
    requireHashes(numHashes)
    val minAggs = (0 until numHashes).map { i =>
      min((col("h") * (i * 2 + 1) + (i * i * 31 + 7)) % graft.functions.TextFunctions.HashP)
        .as(s"m$i")
    }
    hashed.groupBy("doc_id").agg(minAggs.head, minAggs.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  private def requireHashes(numHashes: Int): Unit =
    require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")

  /** The one validation of a MinHash band geometry, run by every band
    * entry point before it builds a plan: `numHashes` and `bands` ≥ 1,
    * and `bands` divides `numHashes`.
    */
  private[graft] def requireBands(numHashes: Int, bands: Int): Unit = {
    requireHashes(numHashes)
    require(bands >= 1, s"bands must be >= 1, got $bands")
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must divide into bands ($bands)")
  }

  /** One row per (doc, band) of a `(doc_id, sig)` frame:
    * `(doc_id, sig, band, bsig)`, band b = sig[b·rows, (b+1)·rows).
    */
  private def bandSlices(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    requireBands(numHashes, bands)
    val rows = numHashes / bands
    sig.select(col("doc_id"), col("sig"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"), slice(col("sig"), b * rows + 1, lit(rows)).as("bsig"))))
        .as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.band").as("band"), col("bb.bsig").as("bsig"))
  }

  /** 32-bit SimHash per document: each token votes ±1 on every bit position
    * of its polynomial hash; bit j of the fingerprint is 1 iff the vote sum
    * is positive. Computed in one explode + one aggregation (token count
    * shuffles once on doc id — linear, no skew beyond document length).
    */
  def simhash(docs: DataFrame, id: Column, text: Column): DataFrame = {
    // polyHash values are < 2^30, which would leave bits 30-31 constant;
    // a Knuth multiplicative mix mod 2^32 spreads tokens over all 32 bits
    val toks = docs.select(id.as("doc_id"), explode(tokens(text)).as("t"))
      .withColumn("h", (polyHash(col("t")) * 2654435761L) % 4294967296L)
    val bitSums = (0 until 32).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
        .as(s"b$j")
    }
    toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 32).map(j =>
          when(col(s"b$j") > 0, lit(1L << j)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ `maxHamming`. The
    * fingerprint is cut into `maxHamming + 1` byte-bands; by pigeonhole any
    * pair within the distance budget agrees on at least one whole band, so
    * the band equi-join loses NOTHING — this is exact, not approximate,
    * while still avoiding the N² comparison (the oracle brute-forces the
    * same answer with bit_count(xor)).
    */
  def simhashPairs(docs: DataFrame, id: Column, text: Column, maxHamming: Int = 3): DataFrame = {
    val bands = maxHamming + 1
    val width = 32 / bands
    // the fingerprint table feeds both sides of the band join — persist so
    // the token explode + 32 vote sums run once
    val fp = cached(simhash(docs, id, text))
    // one row per (doc, band), via a single generate (shiftright takes a
    // literal shift amount, so the band structs are built per-band)
    val bandRows = fp.select(
      col("doc_id"), col("simhash"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * width).bitwiseAND(lit((1L << width) - 1)).as("bsig"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band").as("band"), col("bb.bsig").as("bsig"))
    bandRows.as("a")
      .join(bandRows.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact embedding near-dup pairs: cosine ≥ `minCosine`, all pairs.
    * Quadratic by nature (it is the *baseline*; the LSH variant in
    * [[Similarity]] is the scale path), so the physical shape matters:
    * **block-tiled** pair generation. Rows hash into `numBlocks` blocks by
    * id; every row is replicated to the `numBlocks` tiles (bi ≤ bj) its
    * block participates in; ONE shuffle groups each tile's two block-sides;
    * a JIT while-loop kernel scores the tile's cross product. This is the
    * classic distributed block-nested-loop: no driver-side collect, no
    * whole-corpus broadcast, per-task memory bounded by two blocks
    * (size `numBlocks` so a block fits an executor), replication factor
    * exactly `numBlocks`. A Catalyst self-join with higher-order-function
    * dot products is ~50× slower because every pair re-folds both norms
    * through interpreted array lambdas.
    *
    * Pair membership AND the emitted `cos_ud` score both live on the
    * exact integer unit-grid dot ([[graft.functions.UnitMicros]]): the
    * score a row was admitted on is the score it ships, so output rows
    * always satisfy `cos_ud ≥ cosineMicros2(minCosine)` and the output
    * carries no float column at all (tile orientation cannot change a
    * pair's value — integer multiplication commutes).
    */
  def embeddingNearDupPairs(
      emb: DataFrame,
      id: Column,
      vec: Column,
      minCosine: Double = 0.4,
      numBlocks: Int = 8): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    require(numBlocks > 0, s"numBlocks must be positive, got $numBlocks")
    val b = numBlocks
    val row = struct(id.cast("long").as("_1"), vec.cast("array<float>").as("_2"))
    val tiles = emb
      .select(pmod(id.cast("long"), lit(b)).cast("int").as("blk"), row.as("r"),
        explode(sequence(lit(0), lit(b - 1))).as("p"))
      .groupBy(
        least(col("blk"), col("p")).as("_1"),
        greatest(col("blk"), col("p")).as("_2"))
      // a row is the tile's 'a' side iff its block is the tile's low block
      // (for the diagonal tile both sides coincide and 'b' stays empty).
      // No sort: the emitted pair SET and each pair's rounded cosine are
      // independent of kernel iteration order, and output ids normalize to
      // (min, max)
      .agg(
        collect_list(when(col("blk") <= col("p"), col("r"))).as("_3"),
        collect_list(when(col("blk") > col("p"), col("r"))).as("_4"))
      .as[(Int, Int, Array[(Long, Array[Float])], Array[(Long, Array[Float])])]
    // pair MEMBERSHIP decides on the exact integer unit-grid dot
    // (the s26 convention — [[graft.functions.UnitMicros.project]], the
    // same formula the Catalyst expression runs, shared so the kernel
    // can't drift); the emitted `cos_ud` IS that integer score — the
    // output never carries a float column
    val minUDot = Similarity.cosineMicros2(minCosine)
    tiles.flatMap { case (ba, bb, ra, rb) =>
      def prep(rows: Array[(Long, Array[Float])])
          : Array[(Long, Array[Long])] =
        rows.map { case (i, v) =>
          val d = v.map(_.toDouble)
          var n = 0.0; var j = 0
          while (j < d.length) { n += d(j) * d(j); j += 1 }
          // fail loudly on zero/NaN/Inf norms: cosine is undefined (or the
          // grid projection is NULL) and the comparison failures would
          // otherwise silently drop the vector's pairs (corrupt embeddings
          // must surface)
          if (n == 0.0 || n.isNaN || n.isInfinite)
            throw new IllegalArgumentException(
              s"embedding id=$i has ${if (n == 0.0) "zero" else "non-finite"} " +
                "norm — cosine undefined")
          (i, graft.functions.UnitMicros.project(d))
        }
      val pa = prep(ra)
      val diagonal = ba == bb
      val pb = if (diagonal) pa else prep(rb)
      val out = Iterator.range(0, pa.length).flatMap { x =>
        val (ia, ua) = pa(x)
        Iterator.range(if (diagonal) x + 1 else 0, pb.length).flatMap { y =>
          val (ib, ub) = pb(y)
          var udot = 0L; var k = 0
          while (k < ua.length) { udot += ua(k) * ub(k); k += 1 }
          if (udot >= minUDot) {
            Some(if (ia < ib) (ia, ib, udot) else (ib, ia, udot))
          } else None
        }
      }
      out
    }.toDF("vec_a", "vec_b", "cos_ud")
  }

  /** Persistable MinHash signature store `(doc_id, sig)` — what a
    * continuous-ingestion deployment writes after admitting a batch, so
    * the next batch's dedup ([[incrementalDedup]]) costs the INCREMENT,
    * not the corpus; also the per-doc input of group-level sketches via
    * [[graft.functions.MinHashUnion]] (signatures union by elementwise
    * min, so they can be maintained across batches). Same hash-once
    * explode + k min-aggs pipeline (and the same affine coefficients) as
    * [[minhashLshPairs]], so a store built here is band-compatible with
    * the batch path and the DuckDB oracle. Shingle-less docs carry no
    * signature and are absent (they can never match anything).
    */
  def minhashStore(
      docs: DataFrame,
      id: Column,
      text: Column,
      n: Int = 3,
      numHashes: Int = 16): DataFrame =
    sigFromHashed(
      docs.select(id.as("doc_id"), text.as("text"))
        .withColumn("sh", shingles(tokens(col("text")), n))
        // explode_OUTER, not explode: for a plain explode Catalyst's
        // InferFiltersFromGenerate adds `size(sh) > 0` below the Generate
        // and pushes it — whole shingle pipeline inlined — below the
        // rebalance into the (single-split) scan, where it evaluates
        // serially per row (§8.2's trap; measured 7.3 s vs 1.4 s for this
        // frame at sf0.1). The outer variant infers no such constraint;
        // the null rows it emits for shingle-less docs are dropped by a
        // filter on the GENERATED column, which cannot be pushed down.
        .select(col("doc_id"), explode_outer(col("sh")).as("s"))
        .filter(col("s").isNotNull)
        .select(col("doc_id"), polyHash(col("s")).as("h")),
      numHashes)

  /** Pick the (bands, rowsPerBand) factorization of `numHashes` whose LSH
    * S-curve best matches a target Jaccard `threshold` — the config-time
    * companion to [[minhashLshPairs]] (same criterion as the standard
    * MinHashLSH `optimal_param`: minimize weighted false-positive +
    * false-negative probability mass, where candidate probability at
    * similarity s is `1 − (1 − s^rows)^bands`). Deterministic fixed-step
    * midpoint integration; driver-side config math, never in a query
    * plan.
    *
    * @return (bands, rowsPerBand) with bands · rowsPerBand = numHashes
    */
  def lshParams(
      threshold: Double,
      numHashes: Int,
      fpWeight: Double = 0.5,
      fnWeight: Double = 0.5): (Int, Int) = {
    require(threshold > 0 && threshold < 1, s"threshold in (0,1), got $threshold")
    require(numHashes >= 2, s"numHashes must be >= 2, got $numHashes")
    require(fpWeight >= 0 && fnWeight >= 0 && fpWeight + fnWeight > 0,
      "weights must be non-negative and not both zero")
    val steps = 1000
    def candidateP(s: Double, b: Int, r: Int): Double =
      1.0 - math.pow(1.0 - math.pow(s, r), b)
    def error(b: Int, r: Int): Double = {
      var fp = 0.0; var fn = 0.0
      var i = 0
      while (i < steps) {
        val s = (i + 0.5) / steps
        if (s < threshold) fp += candidateP(s, b, r)
        else fn += 1.0 - candidateP(s, b, r)
        i += 1
      }
      (fpWeight * fp + fnWeight * fn) / steps
    }
    val factorizations =
      (1 to numHashes).filter(numHashes % _ == 0).map(b => (b, numHashes / b))
    factorizations.minBy { case (b, r) => error(b, r) }
  }

  /** [[minhashLshPairs]] with the band geometry picked by [[lshParams]]
    * from the knob users actually hold — the target Jaccard `threshold`.
    * `threshold` drives BOTH the S-curve band factorization and the exact-
    * Jaccard verify cut, so the candidate generator and the verifier agree
    * by construction. The (16-hash, 0.5) default reproduces
    * [[minhashLshPairs]]'s hand-set 4×4 geometry exactly.
    */
  def minhashLshPairsTuned(
      docs: DataFrame,
      id: Column,
      text: Column,
      n: Int = 3,
      numHashes: Int = 16,
      threshold: Double = 0.5,
      fpWeight: Double = 0.5,
      fnWeight: Double = 0.5): DataFrame = {
    val (bands, _) = lshParams(threshold, numHashes, fpWeight, fnWeight)
    minhashLshPairs(docs, id, text, n, numHashes, bands, minJaccard = threshold)
  }

  /** Banded signature table from a [[minhashStore]] frame: one row per
    * (doc, band) carrying the band slice, the FULL signature, and a
    * derived `band_key` (xxhash64 of the band id + slice) — the single
    * LONG routing column the bucketed store layout hashes on.
    *
    * `band_key` is pure routing, never semantics: the band join still
    * matches on the exact `(band, bsig)` pair, so an xxhash collision
    * only co-locates an extra comparison (discarded by the equality),
    * and the DuckDB oracle — which has no xxhash64 — replays the
    * decision identically. Bucketing on the scalar key instead of the
    * array slice keeps the table writable by any engine's bucket layout.
    */
  def bandSignatures(sig: DataFrame, numHashes: Int, bands: Int): DataFrame =
    bandSlices(sig, numHashes, bands)
      .withColumn("band_key", xxhash64(col("band"), col("bsig")))

  /** Write a [[bandSignatures]] table bucketed on `band_key` — the
    * persisted index a continuous-ingestion deployment keeps between
    * batches. Because the band probe joins on `band_key` (plus the exact
    * band columns), every subsequent [[incrementalDedupBanded]] batch
    * reads the store with ZERO exchange on the store side: the store's
    * write-time bucketing IS the join's hash partitioning, and only the
    * (small) increment shuffles — per-batch cost finally tracks the
    * increment, not the corpus.
    */
  def writeBandStore(
      sig: DataFrame, table: String, numHashes: Int, bands: Int,
      buckets: Int): Unit =
    Layout.writeBucketed(
      bandSignatures(sig, numHashes, bands), table,
      keys = Seq("band_key"), buckets = buckets)

  /** Incremental dedup decision for a NEW batch against an existing
    * [[minhashStore]]: output one row per increment doc —
    * `(doc_id, dup_of)` where `dup_of` is the smallest matching partner
    * (any store doc, or an earlier-id doc of the same increment) and
    * NULL means keep.
    *
    * The continuous-ingestion contract: per batch, signatures are
    * computed for the increment ONLY; the store contributes its (already
    * persisted) signatures to the band join, so cost tracks increment
    * size + matched candidates — at 100 TB the store band table is a
    * bucketed/bloom-prunable index, never recomputed. Verification uses
    * the signature-agreement estimate (matching components ≥ `minAgree`
    * of `numHashes` — the unbiased MinHash Jaccard estimator) because an
    * incremental system does not retain old shingle sets; the batch path
    * ([[minhashLshPairs]]) keeps its exact-Jaccard verify. All integer
    * arithmetic, oracle-replayable.
    *
    * Increment and store ids must be disjoint (the caller's id
    * discipline, same as every keep operator here).
    *
    * @param withinBatch when true (default, the ingestion semantics),
    *   earlier-id docs of the same increment also count as partners; set
    *   false for pure batch-vs-store matching — cross-corpus
    *   decontamination, where increment-internal duplicates are the
    *   dedup pass's business, not the contamination gate's.
    */
  def incrementalDedup(
      increment: DataFrame,
      store: DataFrame,
      id: Column,
      text: Column,
      n: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      minAgree: Int = 8,
      withinBatch: Boolean = true): DataFrame =
    incrementalDedupBanded(increment, bandSignatures(store, numHashes, bands),
      id, text, n, numHashes, bands, minAgree, withinBatch)

  /** [[incrementalDedup]] against a PRE-BANDED store (a [[bandSignatures]]
    * frame — typically `spark.table` over a [[writeBandStore]] bucketed
    * table, which makes the store side of the band probe exchange-free).
    */
  def incrementalDedupBanded(
      increment: DataFrame,
      storeBands: DataFrame,
      id: Column,
      text: Column,
      n: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      minAgree: Int = 8,
      withinBatch: Boolean = true): DataFrame = {
    requireBands(numHashes, bands) // fail before anything is cached
    require(minAgree >= 1 && minAgree <= numHashes,
      s"minAgree must be in [1, $numHashes], got $minAgree")
    val incSig = cached(minhashStore(increment, id, text, n, numHashes))
    // the band table carries the FULL signature beside each band slice, so
    // the verify step below reads it straight off the band-join output —
    // the store is traversed exactly ONCE (band probe), never re-joined
    // for signatures. That is the at-scale contract: one pass over the
    // persisted index per batch. The ~numHashes ints of extra shuffle
    // width per band row is the price, and it is bounded by the
    // increment's candidate fan-out, not the store size.
    val incBands = bandSignatures(incSig, numHashes, bands)
    // store partners always count; within-increment only earlier ids do.
    // The =!= guard is a no-op under the documented disjoint-id contract,
    // but makes a REPLAYED batch idempotent (streaming retry: survivors
    // are already in the store under their own ids and must not count as
    // their own duplicates)
    //
    // band_key is the ONLY equi-join key: against a band_key-bucketed
    // store the scan's HashPartitioning(band_key) then satisfies the
    // join's full clustering and only the increment side exchanges.
    // The exact (band, bsig) match stays as an order-pair RESIDUAL
    // (a<=b && a>=b) rather than two more equalities — Catalyst extracts
    // every equality into the equi-key set, which would widen the
    // required clustering past the store's bucket column and the planner
    // would disable the bucketed scan ("requireAllClusterKeysForCoPartition").
    // Semantics are identical: an xxhash64 collision pair differs in
    // (band, bsig) and the residual rejects it before the verify.
    val storeCands = incBands.as("a")
      .join(storeBands.as("s"),
        col("a.band_key") === col("s.band_key") &&
          col("a.band") <= col("s.band") && col("a.band") >= col("s.band") &&
          col("a.bsig") <= col("s.bsig") && col("a.bsig") >= col("s.bsig") &&
          col("a.doc_id") =!= col("s.doc_id"))
      .select(col("a.doc_id").as("doc_id"), col("s.doc_id").as("partner"),
        col("a.sig").as("_sa"), col("s.sig").as("_sb"))
    val candidates = (if (!withinBatch) storeCands
      else storeCands.union(incBands.as("a")
        .join(incBands.as("b"),
          col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
            col("b.doc_id") < col("a.doc_id"))
        .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("partner"),
          col("a.sig").as("_sa"), col("b.sig").as("_sb"))))
      .distinct() // (doc_id, partner) determine the sigs; no extra rows
    // verify on signature agreement; candidate-bounded, so the array
    // lambda stays off the corpus-sized hot path
    val dup = candidates
      .filter(size(filter(zip_with(col("_sa"), col("_sb"), _ === _),
        x => x)) >= minAgree)
      .groupBy(col("doc_id")).agg(min(col("partner")).as("dup_of"))
    increment.select(id.as("doc_id"))
      .join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster embeddings by nearest coarse centroid, then prune *within*
    * each cluster — a row is dropped iff some earlier-id member of its
    * cluster is semantically close (rounded cosine ≥ `minCosine`). Returns
    * the kept rows as `(vec_id, c_id)`.
    *
    * This is the scale path [[embeddingNearDupPairs]] (exact all-pairs
    * baseline) deliberately is not: candidate pairs are confined to
    * clusters, so with centroid count ∝ N the pair count stays ~N ×
    * avg-cluster-size — linear in corpus size with the cluster size as
    * the knob (`centroidStride`, avg cluster size ≈ stride) — and the
    * within-cluster self-join shuffles on `c_id`, never a cross product.
    * Cross-cluster near-dups are invisible by construction; that recall
    * trade IS SemDeDup, priced against the exact baseline the same way
    * LSH is priced against brute force.
    *
    * Centroids are the deterministic `id % centroidStride == 0` rows
    * ([[Similarity.ivfAssign]] — same contract as the IVF index, same
    * oracle replay), so the kept set is bit-stable. Per-pair cosine is the
    * native codegen'd [[Similarity.cosine]], rounded to 6 digits before
    * the threshold so both engines agree at the boundary. Drop rule keeps
    * the LOWEST id of each close pair (transitivity-free: x survives iff
    * NO earlier close neighbor exists — an EXISTS, not a union-find; the
    * connected-component treatment stays [[clusterPairs]]' job).
    *
    * Guard: the stride contract makes centroid count ∝ N, so the FLAT
    * nearest-centroid assignment is rows × centroids ≈ N²/stride — the
    * exact quadratic the 100× scale check measured surfacing (115× wall
    * for 100× data). Past `maxFlatCentroids` stride-picked centroids the
    * operator refuses to run rather than default into it: supply TRAINED
    * fixed-k centroids ([[Similarity.kmeansTrain]] →
    * [[Similarity.kmeansCentroids]], the paper's actual k-means — pick
    * k ≈ √N to balance assignment against the within-cluster prune), or
    * raise the bound deliberately for a corpus you have measured.
    */
  def semanticKeep(
      emb: DataFrame,
      id: Column,
      vec: Column,
      minCosine: Double = 0.4,
      centroidStride: Int = 50,
      centroids: Option[DataFrame] = None,
      maxFlatCentroids: Int = 4096): DataFrame = {
    // Eager centroid pick (one collect of at most maxFlatCentroids + 1
    // stride rows, only on the stride path): fail loudly when the stride
    // matches NO id — the empty centroid set would otherwise flow through
    // the inner assignment join and silently return an empty keep-set, a
    // dedup operator deleting 100% of the corpus — and fail loudly PAST
    // the flat-assignment bound (see scaladoc; the only
    // scale-killer-by-default this operator had). The same collect is the
    // centroid model of the assignment. A trained centroid table
    // (Similarity.kmeansCentroids — the paper's actual k-means
    // clustering) bypasses the stride contract entirely.
    val b = emb.select(id.as("vec_id"), vec.as("v"))
    val (cents, model) = centroids.fold {
      val (picked, cm) = Similarity.pickCentroids(b, centroidStride,
        if (maxFlatCentroids == Int.MaxValue) Int.MaxValue
        else maxFlatCentroids + 1)
      // only a picked set without a model (a boundary tie, a NULL
      // vector, a cap above the inline bound) is counted
      val nCents = cm.fold(picked.count())(_.ids.length.toLong)
      require(nCents <= maxFlatCentroids,
        s"semanticKeep: centroidStride=$centroidStride picks more than " +
          s"maxFlatCentroids=$maxFlatCentroids centroids — past it the flat " +
          "nearest-centroid assignment is rows × centroids ≈ N²/stride " +
          "(quadratic in the corpus). Supply trained fixed-k centroids " +
          "(Similarity.kmeansTrain → kmeansCentroids; pick k ≈ √N to " +
          "balance assignment against the within-cluster prune, and train " +
          "on an id-stride sample at scale — the d12b/d12c routes, measured " +
          "in BASELINE.md §9) or raise maxFlatCentroids deliberately")
      (picked, cm)
    }(c => (c.select(col("c_id"), col("cv")), None))
    // three consumers (both join sides + the anti-join probe): persist the
    // centroid assignment or each branch re-runs the broadcast-rank pass.
    // The centroid set is deliberately UNCAPPED here, unlike the ANN
    // tiers: SemDeDup's pair cost is Σ cluster_size² and the stride
    // contract (cluster size ≈ stride, centroid count ∝ N) is what bounds
    // it — capping the centroids would grow clusters with the corpus and
    // quadratic-ize the within-cluster prune instead. The price is the
    // flat assignment's rows × centroids cosines — which is why the
    // maxFlatCentroids guard above refuses the stride path past the
    // bound; at true 100 TB scale supply TRAINED centroids (fixed k via
    // `centroids`, the paper's k-means) or route the assignment through
    // an ANN index over the centroid set — the knob exists precisely
    // because no flat SemDeDup avoids an N² term on one side or the other.
    semanticKeepAssigned(
      Similarity.ivfAssignTo(cents, b, "v", "vec_id", 1, model), minCosine)
  }

  /** SemDeDup's within-cluster prune over a CALLER-SUPPLIED centroid
    * assignment `(c_id, vec_id, v)` — the separable second half of
    * [[semanticKeep]], exposed so the assignment strategy is pluggable:
    * the flat broadcast-rank pass ([[graft.operators.Similarity
    * .ivfAssign]], what [[semanticKeep]] feeds it), or the two-level
    * [[graft.operators.Similarity.ivfAssignHierarchical]] when the
    * centroid count makes the flat rows × k pass the dominant term (the
    * d12d route). Keep/drop semantics are identical regardless of the
    * assignment's provenance: within each cluster, every row cosine-≥
    * `minCosine` to a LOWER-id row is dropped.
    */
  def semanticKeepAssigned(assignment: DataFrame, minCosine: Double): DataFrame = {
    // three consumers (both join sides + the anti-join probe): persist
    // the assignment or each branch re-runs the upstream pass
    val assigned = cached(assignment)
    // the drop decision runs on the exact integer unit-micros dot grid
    // ([[graft.operators.Similarity.unitDot]] — the s26 convention): a
    // float cosine at the minCosine bar decides row MEMBERSHIP, the one
    // comparison that must never hang on an engine's summation order.
    // Each row's unit vector is computed once, before the pair join.
    val m = assigned.select(col("c_id"), col("vec_id"), col("v"))
      .withColumn("_vu", Similarity.unitMicros(col("v")))
    val dropped = m.as("x")
      .join(m.as("y"),
        col("x.c_id") === col("y.c_id") && col("y.vec_id") < col("x.vec_id"))
      .filter(Similarity.unitDot(col("x._vu"), col("y._vu")) >=
        Similarity.cosineMicros2(minCosine))
      .select(col("x.vec_id").as("vec_id")).distinct()
    assigned.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("c_id"))
  }

  /** C4-style duplicated-segment removal (reference scope: the corpus
    * curation layer; the reference library itself stops at row joins —
    * this is the training-data extension the engine adds on top).
    *
    * Split every document on the literal `sep`, count for each non-empty
    * segment how many DISTINCT documents contain it, mark segments whose
    * document frequency is at least `dfPpmThreshold` parts-per-million of
    * the corpus as boilerplate, drop every occurrence corpus-wide, and
    * reassemble the survivors in original order. At web scale `sep` is
    * "\n" (C4 drops lines repeated across pages); the synthetic corpus is
    * single-line, so its queries exercise the operator at word
    * granularity — same plan, shorter segments.
    *
    * Output: `doc_id, clean_text, n_kept, n_dropped` — one row per input
    * document (a fully-boilerplate document survives with empty text, so
    * downstream length filters see it rather than silently losing rows).
    *
    * Scale shape: explode → per-(doc, segment) distinct → one hash
    * aggregation per segment (map-side partial combine collapses the
    * heavy hitters early — the exact skew that motivates the operator);
    * the corpus row count joins in as a single broadcast scalar; the
    * offender set is small by construction (only segments crossing the
    * threshold) so AQE broadcasts the flag join; one final per-document
    * aggregation rebuilds the text. Two linear shuffles of the exploded
    * segments, no cross product, nothing on the driver.
    */
  def segmentDedup(
      docs: DataFrame,
      id: Column,
      text: Column,
      sep: String = "\n",
      dfPpmThreshold: Long = 500000L): DataFrame = {
    require(sep.nonEmpty, "segmentDedup: separator must be non-empty")
    require(dfPpmThreshold > 0,
      "segmentDedup: dfPpmThreshold must be positive (0 would drop every segment)")
    val segs = docs.select(
      id.as("doc_id"),
      posexplode(split(text, java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "s")))
    val tot = docs.agg(count(lit(1)).as("_n"))
    val off = segs.filter(length(col("s")) > 0)
      .select(col("doc_id"), col("s")).distinct()
      .groupBy(col("s")).agg(count(lit(1)).as("_nd"))
      .crossJoin(tot)
      .filter(col("_nd") * 1000000L >= lit(dfPpmThreshold) * col("_n"))
      .select(col("s"), lit(true).as("_dup"))
    segs.join(off, Seq("s"), "left")
      .groupBy(col("doc_id"))
      .agg(
        concat_ws(sep, transform(
          array_sort(collect_list(
            when(col("_dup").isNull, struct(col("pos"), col("s"))))),
          x => x.getField("s"))).as("clean_text"),
        sum(when(col("_dup").isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("_dup").isNotNull, 1L).otherwise(0L)).as("n_dropped"))
  }
}
