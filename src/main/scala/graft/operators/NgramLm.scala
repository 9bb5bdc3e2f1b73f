package graft.operators

import graft.functions.TextFunctions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** N-gram language-model document scoring — the CCNet-style "perplexity
  * filter" tier of a pretraining pipeline: score every document by how
  * well a reference corpus's bigram statistics predict it, then gate or
  * bucket on the score (Wenzek et al., "CCNet", LREC 2020 filter shape;
  * reference repo has no text tier at all — this extends the surface).
  *
  * Everything is exact integer arithmetic on the established ppm scale so
  * any engine replays it bit-for-bit — no floating log-space perplexity
  * (libm log() differs across engines in the last bits; a monotone
  * integer surrogate gates identically):
  *
  *  - the model is the reference corpus's bigram and unigram counts over
  *    [[TextFunctions.tokens]] (the corpus-wide token normalization);
  *  - a document pair (w1, w2) scores the add-one-smoothed conditional
  *    `ppm = (c(w1,w2) + 1) · 10⁶ div (c(w1) + V)` — V the reference
  *    vocabulary size, unseen words fall back to the uniform prior;
  *  - the document score is the integer mean `Σppm div n_pairs` — the
  *    higher, the more LM-natural; documents with < 2 tokens surface with
  *    `n_pairs = 0` and a NULL score (no silent drop).
  *
  * Scale shape: the model tables are corpus-bounded (vocab + distinct
  * bigrams), NOT corpus-sized. The bigram probe joins on (w1, w2) —
  * well-spread keys. The unigram probe joins on w1, which IS stopword-
  * skewed: at 100 TB broadcast the unigram table when the vocab fits
  * (tens of MB for a 10⁶-word vocab) or let AQE's skew-join split the hot
  * keys; both joins carry one row per document PAIR, never per
  * (pair × model row). V rides along as a broadcast scalar.
  */
object NgramLm {

  /** Adjacent-token pairs of a token-array column as
    * `struct(w1, w2)` — empty for arrays shorter than 2.
    */
  private def bigrams(tk: Column): Column = {
    val n1 = greatest(size(tk) - 1, lit(0))
    zip_with(slice(tk, lit(1), n1), slice(tk, lit(2), n1),
      (a, b) => struct(a.as("w1"), b.as("w2")))
  }

  /** The persistable model artifact: one table `(w1, w2, cnt)` holding
    * BOTH count families — bigram rows (`w2` non-null) and unigram rows
    * (`w2` NULL); the vocabulary size is the unigram row count, so the
    * table is self-contained (write it to parquet once, score any number
    * of batches/streams against it — the same build-once-probe-many
    * contract as the MinHash signature store).
    */
  def bigramModel(lmDocs: DataFrame, lmText: Column): DataFrame = {
    // explode_OUTER + filter on the GENERATED column throughout: a plain
    // explode lets InferFiltersFromGenerate push `size(zip_with(split(…)))
    // > 0` — the whole tokenizer inlined — into the scan-side filter
    // (§8.2's trap, swept by PlanSpec)
    val lmTk = lmDocs.select(TextFunctions.tokens(lmText).as("tk"))
    val lmBi = lmTk.select(explode_outer(bigrams(col("tk"))).as("p"))
      .filter(col("p").isNotNull)
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("cnt"))
    val lmUni = lmTk.select(explode_outer(col("tk")).as("uw"))
      .filter(col("uw").isNotNull)
      .groupBy(col("uw").as("w1")).agg(count(lit(1)).as("cnt"))
      .select(col("w1"), lit(null).cast("string").as("w2"), col("cnt"))
    lmBi.select(col("w1"), col("w2"), col("cnt")).unionByName(lmUni)
  }

  /** Score `docs` against a prebuilt [[bigramModel]] table: output
    * `(doc_id, n_pairs, lm_ppm)`.
    */
  def scoreWith(
      model: DataFrame,
      docs: DataFrame,
      id: Column,
      text: Column): DataFrame =
    scoreParts(
      model.filter(col("w2").isNull)
        .select(col("w1").as("uw"), col("cnt").as("cu")),
      model.filter(col("w2").isNotNull)
        .select(col("w1").as("bw1"), col("w2").as("bw2"), col("cnt").as("cb")),
      model, docs, id, text)

  /** Shared probe body over the two model parts. The unigram table is
    * consumed twice (the vocabulary count V and the broadcast probe
    * side); it is vocab-BOUNDED but its UPSTREAM is reference-corpus
    * work, so it is cached only when `gateOn` (the model source) is big
    * by plan stats: up to [[ModelCacheBytes]] both consumers
    * re-evaluate the aggregation — at bench scale the two evaluations run
    * concurrently as broadcast builds and a cache fill is a measured
    * pure barrier (t10 1.16x) — while a big reference pays the
    * vocab-sized cache once instead of tokenizing + aggregating the
    * reference twice (r18 OPT, guide §5). Results identical either way.
    */
  private def scoreParts(
      lmUni0: DataFrame,
      lmBi: DataFrame,
      gateOn: DataFrame,
      docs: DataFrame,
      id: Column,
      text: Column): DataFrame = {
    val lmUni =
      if (gateOn.queryExecution.optimizedPlan.stats.sizeInBytes > ModelCacheBytes)
        Corpus.cached(lmUni0)
      else lmUni0
    val vocab = lmUni.agg(count(lit(1)).as("v"))
    val pairs = docs.select(id.as("doc_id"), TextFunctions.tokens(text).as("tk"))
      .select(col("doc_id"), explode_outer(bigrams(col("tk"))).as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.w2"))
    pairs
      .join(lmBi, col("w1") === col("bw1") && col("w2") === col("bw2"), "left")
      .join(lmUni, col("w1") === col("uw"), "left")
      .crossJoin(broadcast(vocab))
      // an empty VOCABULARY (V = 0) means every conditional divides by
      // zero; raise a named error instead of an anonymous ANSI one. The
      // filter wrapper keeps the check un-prunable and evaluates BEFORE
      // the projection's division (assert_true returns NULL when it
      // passes, so every surviving row is kept).
      .filter(assert_true(col("v") > 0,
        lit("scoreWith: the reference model has no tokens — every " +
          "conditional would divide by V = 0; supply a non-empty reference"))
        .isNull)
      .select(col("doc_id"), col("w1"),
        expr("(coalesce(cb, 0) + 1) * 1000000 div (coalesce(cu, 0) + v)").as("ppm"))
      .groupBy(col("doc_id"))
      // count(w1), not count(*): the explode_outer row of a <2-token doc
      // must not count as a pair
      .agg(count(col("w1")).as("n_pairs"), sum(col("ppm")).as("_s"))
      .select(col("doc_id"), col("n_pairs"),
        expr("CASE WHEN n_pairs > 0 THEN _s div n_pairs END").as("lm_ppm"))
  }

  /** [[scoreParts]]' model-source bound: the bench-scale reference
    * corpora sit far below it, where the cache fill measured a pure
    * barrier (t10 1.16×).
    */
  private val ModelCacheBytes = BigInt(64L * 1024 * 1024)

  /** Per-document bigram-LM score of `docs` against the reference corpus
    * `lmDocs`: output `(doc_id, n_pairs, lm_ppm)` — [[bigramModel]]'s two
    * count families built directly and probed via the shared body, WITHOUT
    * the union + re-filter round trip `scoreWith` pays on a persisted
    * model table: filtering the union back apart made every consumer
    * (bigram probe, unigram probe, vocabulary count) re-evaluate both
    * reference aggregations — 5 tokenize passes and 6 aggregations of the
    * reference corpus in c23's measured plan, vs 3 passes / 3 aggregations
    * here with the cache gate off (2 / 2 once a big model trips the gate)
    * (r18 OPT, guide §5). Row-for-row identical to the
    * `scoreWith(bigramModel(...), ...)` composition: the parts below are
    * [[bigramModel]]'s two union branches verbatim.
    */
  def bigramScore(
      docs: DataFrame,
      id: Column,
      text: Column,
      lmDocs: DataFrame,
      lmText: Column): DataFrame = {
    val lmTk = lmDocs.select(TextFunctions.tokens(lmText).as("tk"))
    val lmBi = lmTk.select(explode_outer(bigrams(col("tk"))).as("p"))
      .filter(col("p").isNotNull)
      .groupBy(col("p.w1").as("bw1"), col("p.w2").as("bw2"))
      .agg(count(lit(1)).as("cb"))
    val lmUni = lmTk.select(explode_outer(col("tk")).as("uw"))
      .filter(col("uw").isNotNull)
      .groupBy(col("uw")).agg(count(lit(1)).as("cu"))
    scoreParts(lmUni, lmBi, lmDocs, docs, id, text)
  }
}
