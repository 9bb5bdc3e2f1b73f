package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for LLM-training-data pipelines, all pure
  * Catalyst `Column` expressions (higher-order functions — `transform` /
  * `filter` / `aggregate`) so they stay inside whole-stage codegen and
  * distribute trivially: no UDFs, no driver-side loops, no state.
  *
  * Every function is deterministic and uses arithmetic that ANSI SQL (and
  * DuckDB's list lambdas) can reproduce exactly — the driver's oracle gate
  * hash-compares results, so e.g. the rolling hash is a plain polynomial
  * fold rather than xxhash64 (whose seed/implementation DuckDB doesn't
  * share).
  *
  * Scale note: everything here is a narrow per-row map — no shuffle, no
  * skew sensitivity; it scales linearly to 100 TB and pushes the parquet
  * scan down to exactly the referenced columns.
  */
object TextFunctions {

  /** Modulus for all polynomial hashes (large prime < 2^30, so
    * `acc * 31 + c` stays far below 2^63 — no overflow in either engine).
    */
  val HashP = 1000000007L

  /** Lowercased alphanumeric tokens (whitespace/punctuation split). */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword proxy count: runs of letters, runs of digits, and
    * individual non-alnum non-space symbols each count as one token —
    * a cheap stand-in for a real BPE tokenizer's piece count.
    */
  def bpeishCount(text: Column): Column =
    regexp_count(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))

  /** Polynomial rolling hash over the characters of `s`:
    * fold(c: acc*31 + code(c) mod HashP), empty string → 0.
    *
    * DuckDB-equivalent (oracle):
    * {{{
    * CASE WHEN length(s) = 0 THEN 0 ELSE
    *   list_reduce(list_transform(range(1, length(s)+1),
    *                              i -> ascii(substr(s, i, 1))::BIGINT),
    *               (x, y) -> (x*31 + y) % 1000000007) END
    * }}}
    * (list_reduce seeds with the first element; our fold seeds with 0, and
    * (0*31 + c1) = c1, so the two agree.)
    */
  def polyHash(s: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(PolyHash(ColumnBridge.expression(s)))
  }

  /** The declarative (higher-order-function) formulation of [[polyHash]] —
    * semantically identical; kept as the cross-check for the native
    * expression (see TextFunctionsSpec) and as the reference for the
    * DuckDB oracle text above.
    */
  def polyHashHof(s: Column): Column =
    when(length(s) === 0, lit(0L)).otherwise(
      aggregate(
        transform(sequence(lit(1), length(s)), i => ascii(s.substr(i, lit(1))).cast("long")),
        lit(0L),
        (acc, c) => (acc * 31 + c) % HashP))

  /** Distinct-token fraction in integer ppm (1e6 = every token unique);
    * 0 for empty docs. The complement of Gopher's repeated-token filter.
    */
  def distinctTokenPpm(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, lit(0L)).otherwise(
      floor(size(array_distinct(toks)).cast("long") * 1000000L / size(toks))
        .cast("long"))
  }

  /** Non-alphanumeric, non-space character fraction in integer ppm — the
    * symbol-noise signal (markup, code litter, mojibake); 0 for the empty
    * string.
    */
  def symbolPpm(text: Column): Column =
    when(length(text) === 0, lit(0L)).otherwise(
      floor(regexp_count(text, lit("[^a-zA-Z0-9 ]")).cast("long") * 1000000L /
        length(text)).cast("long"))

  /** Positional (non-distinct) word n-grams: one `struct(pos, g)` per
    * window start, `pos` 1-based — [[shingles]] deduplicates (right for
    * Jaccard), this keeps every occurrence and where it sits, which span
    * extraction ([[graft.operators.Dedup.duplicateSpans]]) needs.
    */
  def posGrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => struct(i.cast("long").as("pos"),
          concat_ws(" ", slice(toks, i, lit(n))).as("g"))))
      .otherwise(array().cast("array<struct<pos:bigint,g:string>>"))

  /** Distinct word n-gram shingles joined by single spaces. */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n))))))
      .otherwise(array().cast("array<string>"))

  /** MinHash signature of a shingle set: k permutation-approximating hash
    * functions h_i(s) = ((2i+1)·H(s) + (31i²+7)) mod HashP, signature[i] =
    * min over shingles. Deterministic coefficients so the oracle can
    * recompute them. Empty shingle sets yield a null signature — filter
    * degenerate docs before calling.
    */
  def minhashSignature(sh: Column, k: Int): Column =
    when(size(sh) > 0,
      transform(sequence(lit(0), lit(k - 1)), i =>
        array_min(transform(sh, s =>
          (polyHash(s) * (i * 2 + 1) + (i * i * 31 + 7)) % HashP))))

  /** Number of tokens that appear in `words` (stopword hit count). */
  def hitCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(w => w: Any): _*)))

  // Small stopword lists for the language-ID heuristic. Shared with the
  // DuckDB oracle — keep in sync with PipelineQueries.
  val EnStop = Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")
  val DeStop = Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "den", "mit")
  val FrStop = Seq("le", "les", "et", "est", "une", "dans", "que", "pour", "des", "du")
  val EsStop = Seq("el", "los", "y", "es", "una", "en", "que", "por", "las", "con")

  /** n-gram/stopword language-ID heuristic: CJK script wins outright, then
    * the language with the most stopword hits (ties broken en>de>fr>es),
    * `unknown` when nothing matches.
    */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val en = hitCount(toks, EnStop)
    val de = hitCount(toks, DeStop)
    val fr = hitCount(toks, FrStop)
    val es = hitCount(toks, EsStop)
    when(text.rlike("[\\u4e00-\\u9fff]"), lit("zh"))
      .when(en >= de && en >= fr && en >= es && en > 0, lit("en"))
      .when(de >= fr && de >= es && de > 0, lit("de"))
      .when(fr >= es && fr > 0, lit("fr"))
      .when(es > 0, lit("es"))
      .otherwise(lit("unknown"))
  }

  /** Number of matches of `pattern` in `text` — the detection half of the
    * scrub/redaction pair. `pattern` is a Java regex; keep it inside the
    * RE2-compatible subset (no backreferences/lookaround) so the DuckDB
    * oracle evaluates the identical automaton. Typical instances: PII
    * shapes (emails `[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}`,
    * IPv4 `\\b\\d{1,3}(\\.\\d{1,3}){3}\\b`) or a `\\b(word|word)\\b`
    * denylist.
    */
  def scrubCount(text: Column, pattern: String): Column =
    regexp_count(text, lit(pattern)).cast("long")

  /** `text` with every match of `pattern` replaced by `replacement` — a
    * narrow codegen'd per-row map (no shuffle), the redaction half of the
    * scrub pair. `replacement` is taken literally; avoid `$`/`\\` which
    * Java's replacement syntax interprets.
    */
  def scrub(text: Column, pattern: String, replacement: String): Column =
    regexp_replace(text, pattern, replacement)

  /** Ratio of alphanumeric characters (lowercased) to total characters;
    * 0 for the empty string (ANSI mode would otherwise raise on 0/0).
    */
  def alnumRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      round(
        length(regexp_replace(lower(text), "[^a-z0-9]", "")).cast("double") /
          length(text),
        6))

  /** English stopword ratio over the token count. */
  def stopwordRatio(text: Column): Column = {
    val toks = tokens(text)
    round(when(size(toks) > 0,
      hitCount(toks, EnStop).cast("double") / size(toks)).otherwise(0.0), 6)
  }

  /** Mean token length. */
  def avgTokenLen(text: Column): Column = {
    val toks = tokens(text)
    round(when(size(toks) > 0,
      aggregate(transform(toks, t => length(t).cast("long")), lit(0L), _ + _)
        .cast("double") / size(toks)).otherwise(0.0), 6)
  }

  /** Composite quality score in [0, 1]: length saturation + stopword
    * presence + character cleanliness, the classic cheap pre-filter for
    * web-scraped training text.
    *
    * Computed entirely in integer micropoints (ppm) so every engine gets
    * the bit-identical result — a double-weighted sum rounds differently
    * across engines exactly at .5 ulp boundaries. Magnitudes stay ≤ ~1e12,
    * far inside double's exact-integer range, so `floor(a/b)` IS integer
    * division here.
    */
  def qualityScore(text: Column): Column =
    (qualityScorePpm(text).cast("double") / 1000000.0).as("quality")

  /** [[qualityScore]] as the raw integer micropoints — the form to use
    * when the score feeds further exact arithmetic (thresholds,
    * percentile gates): the double form does not round-trip back to the
    * integer ppm exactly.
    */
  def qualityScorePpm(text: Column): Column = {
    val toks = tokens(text)
    val nTok = size(toks).cast("long")
    def intDiv(a: Column, b: Column): Column = floor(a / b).cast("long")
    val stopPpm = when(nTok > 0,
      intDiv(hitCount(toks, EnStop).cast("long") * 1000000L, nTok)).otherwise(0L)
    val alnumPpm = when(length(text) === 0, lit(0L)).otherwise(intDiv(
      length(regexp_replace(lower(text), "[^a-z0-9]", "")).cast("long") * 1000000L,
      length(text).cast("long")))
    val lenPpm = least(lit(1000000L), nTok * 10000L)
    intDiv(lenPpm * 5 + stopPpm * 3 + alnumPpm * 2, lit(10L))
  }
}
