package graft.streaming

import graft.functions.TextFunctions._
import graft.io.LocalFs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Structured-Streaming operators over a DOCUMENT stream — the continuous-
  * ingestion half of the corpus pipeline, probing the same persisted
  * artifacts the batch tier writes. Every entry point registers
  * [[graft.io.LocalFs]] on its input's session, as `EventStreams` does.
  */
object DocStreams {

  /** Streaming contamination gate: each micro-batch of documents probed
    * against the STATIC banded MinHash store
    * ([[graft.operators.Dedup.writeBandStore]]'s layout) — the streaming
    * deployment of [[graft.operators.Dedup.incrementalDedupBanded]] as a
    * stream-static join with ZERO streaming state:
    *
    *  - the signature is a narrow per-row higher-order map
    *    ([[minhashSignature]] — the same affine coefficients as the batch
    *    tier's explode + k-min-agg pipeline, so a store built by either
    *    path is band-compatible with both);
    *  - bands explode per row and the band probe + signature-agreement
    *    verify ride ONE stream-static join per micro-batch; against a
    *    `writeBandStore` bucketed table the store side reads
    *    exchange-free (same key shape: `band_key` equi + order-pair
    *    residual), so per-batch cost tracks the micro-batch, not the
    *    corpus;
    *  - no watermark, no keyed state, Append mode throughout.
    *
    * Emission is at-least-once per (doc, partner): a pair agreeing in
    * several bands emits one row per agreeing band (the `band` column
    * says which) — downstream consumers key idempotently on
    * `(doc_id, partner)`; the batch reducer stays the exactly-once tier
    * and the parity spec pins set-equality between the two.
    */
  def contaminationStream(
      docs: DataFrame,
      storeBands: DataFrame,
      id: Column,
      text: Column,
      n: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      minAgree: Int = 8): DataFrame = {
    graft.operators.Dedup.requireBands(numHashes, bands)
    require(minAgree >= 1 && minAgree <= numHashes,
      s"minAgree must be in [1, $numHashes], got $minAgree")
    LocalFs.register(docs.sparkSession)
    val sig = docs
      .select(id.as("doc_id"),
        minhashSignature(shingles(tokens(text), n), numHashes).as("sig"))
      .filter(col("sig").isNotNull) // shingle-less docs cannot match
    // the ONE banding implementation, shared with the batch tier — band
    // shape or band_key derivation can never drift between the store
    // writer, the batch prober, and this stream (plain stateless column
    // ops, so it lifts to a streaming frame unchanged)
    val banded = graft.operators.Dedup.bandSignatures(sig, numHashes, bands)
    // same join shape as the batch tier: band_key is the only equi key
    // (bucketed-store co-partitioning), exact (band, bsig) equality as an
    // order-pair residual, and the minAgree verify rides the SAME join as
    // one more residual — no second pass over the store
    banded.as("a")
      .join(storeBands.as("s"),
        col("a.band_key") === col("s.band_key") &&
          col("a.band") <= col("s.band") && col("a.band") >= col("s.band") &&
          col("a.bsig") <= col("s.bsig") && col("a.bsig") >= col("s.bsig") &&
          col("a.doc_id") =!= col("s.doc_id") &&
          size(filter(zip_with(col("a.sig"), col("s.sig"), _ === _),
            x => x)) >= minAgree)
      .select(col("a.doc_id").as("doc_id"), col("s.doc_id").as("partner"),
        col("a.band").as("band"))
  }

  /** Streaming GRAM-level contamination gate — the continuous-ingestion
    * deployment of [[graft.operators.Dedup.contaminationSpansBloom]]:
    * each micro-batch's documents explode to positional k-grams, probe
    * the STATIC benchmark's Bloom sketch inside the scan stage
    * ([[graft.operators.BloomJoin.prefilter]] builds it once from the
    * static side at stream construction), and only probable hits pay the
    * exact stream-static semi-join. Zero streaming state: no watermark,
    * no keyed state, Append mode.
    *
    * Emits HIT rows `(doc_id, pos)` — one per contaminated window start.
    * The span merge is a per-document ordering window, which a stateless
    * stream cannot run; consumers reduce hits to spans per sink batch
    * with [[graft.operators.Dedup.mergeSpans]] (the parity spec pins
    * that mergeSpans over the streamed hits equals the batch gate's
    * spans exactly).
    */
  def contaminationHitsStream(
      docs: DataFrame,
      benchGrams: DataFrame,
      id: Column,
      text: Column,
      k: Int = 8,
      expectedGrams: Long = 1L << 20,
      fpp: Double = 0.01): DataFrame = {
    // ONE pass over the benchmark gram pipeline: persist it, build the
    // sketch from the persisted frame, and let every micro-batch's
    // stream-static semi-join re-read the cached blocks instead of
    // recomputing the gram explode (the static side of a stream-static
    // join is re-evaluated per batch). Registered with Dedup's
    // intermediates, so `Dedup.unpersistIntermediates()` after the
    // stream stops is the release handle.
    val bg = graft.operators.Dedup.cached(benchGrams.select(col("g")))
    contaminationHitsStream(docs, bg,
      graft.operators.BloomJoin.sketchBytes(bg, "g", expectedGrams, fpp),
      id, text, k)
  }

  /** [[contaminationHitsStream]] against a PRE-BUILT benchmark — the
    * cold-start form: the `(g)` gram set (read back from parquet, see
    * [[graft.operators.Dedup.benchGramSet]]) plus its serialized sketch
    * ([[graft.operators.BloomJoin.sketchBytes]], e.g. loaded from the
    * checkpoint dir). The stream starts without scanning the benchmark
    * text at all; hit rows are byte-identical to the one-shot form.
    */
  def contaminationHitsStream(
      docs: DataFrame,
      benchGrams: DataFrame,
      benchSketch: Array[Byte],
      id: Column,
      text: Column,
      k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    LocalFs.register(docs.sparkSession)
    val tg = docs
      .select(id.as("doc_id"),
        explode(graft.functions.TextFunctions.posGrams(tokens(text), k)).as("pg"))
      .select(col("doc_id"), col("pg.pos").as("pos"), col("pg.g").as("g"))
    graft.operators.BloomJoin
      .prefilter(tg, "g", benchSketch)
      .join(benchGrams.select(col("g")), Seq("g"), "left_semi")
      .select(col("doc_id"), col("pos"))
  }
}
