package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`), five tiers (plus [[quantizedTopK]] and [[pqTopK]]
  * below):
  *
  *  1. [[bruteForceTopK]] — exact cosine top-k, the correctness baseline.
  *     One broadcast of the (small) query set, zero shuffles of the base
  *     table beyond the final per-query top-k aggregation.
  *  2. [[lshTopK]] — random-hyperplane LSH: base vectors land in sign
  *     buckets across several hash tables; a query only scores vectors
  *     sharing a bucket. Cost per query drops from O(N) to O(N / 2^bits ×
  *     tables); recall is tunable with tables/bits.
  *  3. [[ivfTopK]] — IVF-style coarse quantization: partition the base
  *     table by nearest centroid, probe only the closest `nProbe` lists —
  *     the layout that maps to partitioned parquet at 100 TB (partition
  *     pruning skips the other lists entirely).
  *
  * All dot products are native codegen'd Catalyst expressions
  * ([[graft.functions.CosineSim]] / [[graft.functions.VectorDot]]) — one
  * fused Java loop per candidate pair in double precision, left-to-right
  * IEEE order, inside whole-stage codegen (the `zip_with`+`aggregate`
  * formulation they replace is `CodegenFallback`: interpreted, with a
  * materialized product array per pair — measured ~20× slower at the
  * scale where the pair count dominates: 4M pairs × 64 dims on local[32],
  * 92 s interpreted vs 4.5 s fused; the driver testdata's ~10⁴ pairs hide
  * this entirely). The hyperplanes and centroids are deterministic so
  * results are stable and oracle-checkable.
  */
object Similarity {
  import org.apache.spark.sql.graft.ColumnBridge

  /** Cosine similarity of two float-array columns, computed in double —
    * one fused pass for all three accumulators (see
    * [[graft.functions.CosineSim]] for the bit-for-bit contract).
    */
  def cosine(a: Column, b: Column): Column =
    ColumnBridge.column(graft.functions.CosineSim(
      ColumnBridge.expression(a.cast("array<double>")),
      ColumnBridge.expression(b.cast("array<double>"))))

  /** Native codegen'd dot product (element type double or long). */
  private def dotNative(x: Column, y: Column): Column =
    ColumnBridge.column(graft.functions.VectorDot(
      ColumnBridge.expression(x), ColumnBridge.expression(y)))

  /** Exact unit-grid projection of a float-vector column
    * ([[graft.functions.UnitMicros]]): integer 2²⁰-grid units (the
    * power-of-two entry multiply is EXACT), exact long `Σ m²`, exact
    * integer `isqrt(nsq)`, then `sign(m)·((|m|·2²⁰) div isqrt)` per
    * component — integer end to end. The dot of two unit-grid
    * vectors is a 2⁴⁰-scaled cosine computed in PURE INTEGER
    * arithmetic — the grid every assignment-deciding comparison in this
    * module ranks on, so no engine-dependent floating summation (or
    * float op-ordering freedom at all) can ever flip an argmax (the
    * round-6 boundary class that made the s26 fidelity eval's hash
    * fragile across DuckDB builds; see the expression's scaladoc for
    * the measured failure surface).
    */
  def unitMicros(v: Column): Column =
    ColumnBridge.column(graft.functions.UnitMicros(
      ColumnBridge.expression(v.cast("array<double>"))))

  /** The 2⁴⁰-scaled integer cosine of two [[unitMicros]] columns — the
    * RANK/THRESHOLD score every result-deciding comparison in this module
    * (and [[VectorIndex]]/[[Dedup.semanticKeepAssigned]]) runs on, AND
    * (as of r15) the score the output SHIPS: the emitted `cos_ud` BIGINT
    * columns are this fold, so no float ever reaches an ORDER BY, a
    * WHERE, or the driver's value hash. A float cosine is an
    * order-sensitive sum that lands within an ulp of a rounding boundary
    * on different sides across engines (the s26 lesson, measured) — the
    * earlier convention kept `round(cosine, 6)` doubles as display
    * columns, but the driver hashes EVERY output column, so "display
    * only" was not hash-exempt; this fold is exact long arithmetic on
    * engine-reproducible integer vectors end to end.
    */
  private[operators] def unitDot(au: Column, bu: Column): Column =
    dotNative(au, bu)

  /** A cosine threshold on the unit-grid dot: `cos ≥ c` becomes
    * `unitDot ≥ cosineMicros2(c)` at the `2⁴⁰` dot scale
    * ([[graft.functions.UnitMicros.UnitScale2]]). Half-up at the grid²
    * (irrelevant in practice — callers pass 6-dp-scale constants).
    */
  private[operators] def cosineMicros2(c: Double): Long =
    Math.round(c * graft.functions.UnitMicros.UnitScale2.toDouble)

  /** Exact top-k by cosine for each query vector. Queries are broadcast
    * (they're small by construction); rank is deterministic: the order
    * runs on the exact integer [[unitDot]] (each side's unit-grid
    * vector computed ONCE before the join) with ties on ascending base
    * id, so Spark and the oracle agree bit-for-bit; `cos_ud` is that
    * same integer score emitted (`/2⁴⁰ ≈ cosine`) — every output column
    * is an integer, so the driver's value hash can never sit on a float
    * formatting/summation boundary.
    */
  def bruteForceTopK(
      base: DataFrame,
      queries: DataFrame,
      id: Column,
      vec: Column,
      k: Int = 10): DataFrame = {
    val b = base.select(id.as("vec_id"), vec.as("v"), unitMicros(vec).as("_vu"))
    val q = queries.select(id.as("q_id"), vec.as("qv"), unitMicros(vec).as("_qu"))
    topK(b.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        unitDot(col("_qu"), col("_vu")).as("cos_ud")), k)
  }

  /** MMR-diversified top-k (Carbonell & Goldstein): re-rank each query's
    * exact candidate pool so results balance relevance against redundancy
    * — retrieval-side dedup, the selection a training-data retriever runs
    * so its k results aren't k near-copies.
    *
    * Greedy step: pick argmax of
    * `λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s)` (ties → min vec_id).
    * The selection arithmetic is EXACT on the unit grid: both
    * similarity terms are the integer [[unitDot]] (2⁴⁰-scaled cosine,
    * computed by the SAME scalar formula as the Catalyst expression —
    * [[graft.functions.UnitMicros.project]]) and the score comparison is
    * pure long (`lambdaPpm·udot − (1e6−λppm)·maxUdot`, |score| ≤ 10¹⁸ —
    * no overflow, no float anywhere), so the DuckDB oracle replays the
    * k greedy steps as chained CTEs bit-for-bit with no rounded-cosine
    * boundary class.
    *
    * Scale shape: the pool (`poolSize` rows per query) comes from
    * [[bruteForceTopK]] and is broadcast onto the base scan to attach
    * candidate vectors; the greedy loop runs per query inside ONE
    * `flatMapGroups` pass — O(poolSize²·k) local work on
    * poolSize-bounded groups, never a driver loop, never a cross join.
    * Vectors must share one dimension (zero vectors score 0).
    */
  def mmrTopK(
      base: DataFrame,
      queries: DataFrame,
      id: Column,
      vec: Column,
      k: Int = 5,
      poolSize: Int = 10,
      lambdaPpm: Long = 700000L): DataFrame = {
    require(k >= 1 && poolSize >= k, s"need poolSize >= k >= 1, got k=$k pool=$poolSize")
    require(lambdaPpm >= 0L && lambdaPpm <= 1000000L, s"lambdaPpm out of [0,1e6]: $lambdaPpm")
    val spark = base.sparkSession
    import spark.implicits._
    val pool = bruteForceTopK(base, queries, id, vec, poolSize)
      .select(col("q_id"), col("vec_id"))
    val withVec = base.select(id.as("bv_id"), vec.cast("array<double>").as("bv"))
      .join(broadcast(pool), col("bv_id") === col("vec_id"))
      .join(broadcast(
        queries.select(id.as("q_id"), vec.cast("array<double>").as("qvv"))),
        Seq("q_id"))
      .select(col("q_id"), col("vec_id"), col("bv"), col("qvv"))
    val lam = lambdaPpm
    val mu = 1000000L - lambdaPpm
    val kk = k
    withVec.as[(Long, Long, Array[Double], Array[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (q: Long, it: Iterator[(Long, Long, Array[Double], Array[Double])]) =>
        val cand = it.toArray.sortBy(_._2) // vec_id asc → first-wins tiebreak
        val n = cand.length
        // the shared exact scalar form of the Catalyst expression; a
        // degenerate (NaN) vector projects to zeros and scores 0, like
        // the zero vector
        def unit(x: Array[Double]): Array[Long] =
          Option(graft.functions.UnitMicros.project(x))
            .getOrElse(new Array[Long](x.length))
        def udotL(a: Array[Long], b: Array[Long]): Long = {
          var s = 0L; var i = 0
          val m = math.min(a.length, b.length)
          while (i < m) { s += a(i) * b(i); i += 1 }
          s
        }
        val uq = if (n == 0) Array.empty[Long] else unit(cand(0)._4)
        val ub = cand.map(c => unit(c._3))
        // relevance and redundancy on the SAME integer grid as every
        // other rank in this module
        val cm = ub.map(u => udotL(uq, u))
        val pair = Array.tabulate(n, n) { (i, j) =>
          if (i == j) 0L else udotL(ub(i), ub(j))
        }
        val used = new Array[Boolean](n)
        val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        var step = 1
        while (step <= math.min(kk, n)) {
          var best = -1
          var bestScore = Long.MinValue
          var i = 0
          while (i < n) {
            if (!used(i)) {
              val pen = if (selected.isEmpty) 0L
                        else selected.iterator.map(s => pair(i)(s)).max
              val score = lam * cm(i) - mu * pen
              if (score > bestScore) { best = i; bestScore = score }
            }
            i += 1
          }
          used(best) = true
          selected += best
          out += ((q, cand(best)._2, step.toLong))
          step += 1
        }
        out.iterator
      }
      .toDF("q_id", "vec_id", "mmr_rank")
  }

  /** Deterministic pseudo-random hyperplane weight for (table t, bit h,
    * dim d): an integer in [-32768, 32767] from a multiplicative hash —
    * reproducible anywhere (the DuckDB oracle recomputes the identical
    * formula), no RNG state.
    */
  private def planeWeight(t: Int, h: Int, d: Int): Double =
    (((t * 7919 + h * 104729 + 1).toLong * (d + 1) * 2654435761L) % 65536L - 32768L).toDouble

  /** All `tables × bits` hyperplanes as literal weight arrays, dims
    * 0 until `maxDim` (vectors longer than maxDim are rejected loudly by
    * the expression). Row `t*bits + h` is plane (t, h).
    */
  private def planes(tables: Int, bits: Int, maxDim: Int): Array[Array[Double]] =
    Array.tabulate(tables * bits) { th =>
      val (t, h) = (th / bits, th % bits)
      Array.tabulate(maxDim)(d => planeWeight(t, h, d))
    }

  /** Sign-bucket ids of a float-vector column for all `tables` hash tables
    * at once — one codegen'd pass per row (see [[HyperplaneBuckets]]).
    */
  private def bucketIds(v: Column, tables: Int, bits: Int, maxDim: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.HyperplaneBuckets(
      ColumnBridge.expression(v.cast("array<double>")), planes(tables, bits, maxDim), bits))
  }

  /** LSH ANN: `tables` independent hash tables of `bits` hyperplanes each.
    * Candidates = base vectors sharing a bucket with the query in ANY
    * table; exact cosine re-ranks the candidates. Approximate — recall
    * rises with `tables`, per-query cost falls with `bits`.
    *
    * Plan shape (the 100 TB story): bucket ids for ALL tables are computed
    * in ONE codegen'd pass over the base (a per-table union would rescan
    * and re-hash `tables` times), then exploded to (tbl, bucket) rows; the
    * query side is broadcast, so the candidate join shuffles NOTHING, and
    * cosine is scored AT the join so only (q_id, vec_id, cos) doubles ever
    * shuffle. A pair colliding in several tables yields identical copies;
    * instead of a dedicated dedup shuffle, the top-k window dedups in
    * place — `dense_rank` over (cos, vec_id) is exactly the rank among
    * DISTINCT pairs and a same-window `lag` drops the duplicate copies, so
    * the whole query costs ONE shuffle, the same as the brute-force scan.
    *
    * Default (tables=24, bits=4) is gated at mean recall@10 ≥ 0.9 against
    * the exact top-k on the driver testdata (SimilaritySpec); raise `bits`
    * for denser corpora, `tables` for higher recall.
    */
  def lshTopK(
      base: DataFrame,
      queries: DataFrame,
      id: Column,
      vec: Column,
      k: Int = 10,
      tables: Int = 24,
      bits: Int = 4,
      maxDim: Int = 1024): DataFrame =
    lshCandidateTopK(base, queries, id, vec, k, tables, bits, maxDim,
      flips = false)

  /** Multi-probe LSH ANN: like [[lshTopK]], but each query probes its own
    * sign bucket PLUS every bucket at Hamming distance 1 (one hyperplane's
    * sign flipped) in each table — the vectors most likely to be near
    * misses land exactly there, because a near neighbor that missed the
    * bucket usually disagreed on a single borderline hyperplane.
    *
    * Why this matters at 100 TB: recall in plain LSH is bought with MORE
    * TABLES, and the bucketed base index is `tables ×` the corpus — the
    * dominant storage/shuffle cost. Multi-probe moves that cost to the
    * query side instead (`bits+1` probe rows per query per table, still a
    * broadcast of a few hundred rows), so a quarter of the tables reaches
    * comparable recall with a quarter of the index. Probing is a pure
    * query-side explode: the base is bucketed ONCE in the same codegen'd
    * pass as [[lshTopK]], nothing about the stored index changes, and the
    * candidate join still shuffles only (q_id, vec_id, cos).
    *
    * Output schema matches [[lshTopK]] (`q_id, vec_id, cos, rn`); the
    * recall floor vs exact top-k at equal index size is gated in
    * `SimilaritySpec`.
    */
  def lshMultiProbeTopK(
      base: DataFrame,
      queries: DataFrame,
      id: Column,
      vec: Column,
      k: Int = 10,
      tables: Int = 6,
      bits: Int = 4,
      maxDim: Int = 1024): DataFrame =
    lshCandidateTopK(base, queries, id, vec, k, tables, bits, maxDim,
      flips = true)

  /** The candidate body of [[lshTopK]] (`flips = false`: each query
    * probes its own bucket per table) and [[lshMultiProbeTopK]] (`flips =
    * true`: its own bucket plus the `bits` Hamming-1 flips — queries ×
    * tables × (bits+1) rows, still broadcast-sized). The base is bucketed
    * once for every table; the query side is broadcast, so the candidate
    * join shuffles nothing, and the top-k window dedups the copies of a
    * pair in place.
    */
  private def lshCandidateTopK(base: DataFrame, queries: DataFrame,
      id: Column, vec: Column, k: Int, tables: Int, bits: Int, maxDim: Int,
      flips: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the unit vector is materialized in a select BELOW the explode: a
    // select-sibling of posexplode lands in the Project ABOVE the
    // Generate and re-evaluates once per OUTPUT row — `tables`× the
    // per-component work (the §7-lesson-14 generator trap)
    def bucketed(df: DataFrame, idName: String, vName: String, uName: String) =
      df.select(col(idName), col(vName), unitMicros(col(vName)).as(uName))
        .select(col(idName), col(vName), col(uName),
          posexplode(bucketIds(col(vName), tables, bits, maxDim)).as(Seq("tbl", "bucket")))
    val bb = bucketed(base.select(id.as("vec_id"), vec.as("v")), "vec_id", "v", "_vu")
    val own = bucketed(queries.select(id.as("q_id"), vec.as("qv")), "q_id", "qv", "_qu")
    val qb =
      if (!flips) own
      else own.select(col("q_id"), col("qv"), col("_qu"), col("tbl"),
        explode(array(col("bucket") +: (0 until bits).map(j =>
          col("bucket").bitwiseXOR(lit(1L << j))): _*)).as("bucket"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_ud").desc, col("vec_id").asc)
    bb.as("a")
      .join(qb.hint("broadcast").as("qq"),
        col("a.tbl") === col("qq.tbl") && col("a.bucket") === col("qq.bucket") &&
          col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        unitDot(col("_qu"), col("_vu")).as("cos_ud"))
      // duplicate copies of a pair (one per colliding table or probe hit)
      // are identical and adjacent under the window order; dense_rank =
      // rank among distinct pairs, lag keeps only each pair's first copy —
      // both run in the SAME WindowExec, so dedup costs no extra shuffle
      .withColumn("rn", dense_rank().over(w).cast("long"))
      .withColumn("_dup", lag(col("vec_id"), 1).over(w) === col("vec_id"))
      .filter(col("rn") <= k && !coalesce(col("_dup"), lit(false)))
      .drop("_dup")
  }

  /** L2 norm of a float-array column, in double (left-to-right
    * accumulation — the oracle replays the identical IEEE sequence).
    */
  private def l2norm(v: Column): Column = {
    val vd = v.cast("array<double>")
    sqrt(dotNative(vd, vd))
  }

  /** Symmetric int8 quantization of a float vector: after L2
    * normalization, each component maps to `floor(x/‖v‖·127 + 0.5)` ∈
    * [-127, 127] (half-up via floor, because `round()` half-up/half-even
    * conventions differ across engines while `floor` never does). Zero
    * vectors quantize to zeros. `norm` must be [[l2norm]] of `v`, passed
    * separately so the fold isn't re-evaluated per component.
    */
  private def quantizeWith(v: Column, norm: Column): Column =
    when(norm === 0.0, transform(v, _ => lit(0L)))
      .otherwise(transform(v,
        x => floor(x.cast("double") / norm * 127.0 + 0.5).cast("long")))

  /** The stored int8 index `(vec_id, q: array<tinyint>)` — this is what a
    * 100 TB deployment writes to parquet: one signed byte per dimension
    * instead of a 4-byte float, so the candidate-ranking scan reads ~¼ the
    * bytes (SimilaritySpec measures the on-disk shrink and proves the
    * stored index re-ranks identically to the in-flight computation).
    * [[quantizedTopK]] computes the same quantization in-flight; consumers
    * with a persisted index join queries against this table instead.
    */
  def quantizedIndex(base: DataFrame, id: Column, vec: Column): DataFrame =
    base.select(id.as("vec_id"), l2norm(vec).as("_n"), vec.as("_v"))
      .select(col("vec_id"),
        quantizeWith(col("_v"), col("_n")).cast("array<tinyint>").as("q"))

  /** Quantized ANN with exact rescoring — the memory-bound tier for
    * 100 TB-scale indexes: base and query vectors are int8-quantized
    * ([[quantizeWith]]), candidates rank by the *integer* dot product
    * (4× less data scanned than float32, exact integer arithmetic, so the
    * ranking is bit-reproducible in any engine), and only the k survivors
    * are joined back to the full-precision vectors for an exact cosine —
    * the standard quantize-then-rescore pattern (IVF-PQ's scalar cousin).
    *
    * Plan shape: one codegen-friendly map over the base to quantize, a
    * broadcast of the (tiny) quantized query set, per-query top-k window,
    * then a join of the k·|queries| survivors back to the base — the
    * full-precision vectors are touched only for candidates, never
    * shuffled through the ranking.
    *
    * Output `(q_id, vec_id, qdot, cos_ud, rn)`: rank is by quantized dot
    * (ties ascending id); `cos_ud` is the exact integer [[unitDot]]
    * rescore of the survivors (`/2⁴⁰ ≈ cosine`) — all-integer output.
    */
  def quantizedTopK(
      base: DataFrame,
      queries: DataFrame,
      id: Column,
      vec: Column,
      k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def quantized(df: DataFrame, idName: String, q: String) =
      df.select(id.as(idName), l2norm(vec).as("_n"), vec.as("_v"))
        .select(col(idName), quantizeWith(col("_v"), col("_n")).as(q))
    val qb = quantized(base, "vec_id", "qb")
    val qq = quantized(queries, "q_id", "qq")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("qdot").desc, col("vec_id").asc)
    val top = qb.join(broadcast(qq), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        dotNative(col("qq").cast("array<long>"), col("qb").cast("array<long>")).as("qdot"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
    // the survivor set is k·|queries| rows by construction — broadcast it
    // against the base so the rescore never shuffles the full vectors
    broadcast(top)
      .join(base.select(id.as("vec_id"), vec.as("v")), "vec_id")
      .join(broadcast(queries.select(id.as("q_id"), vec.as("qv"))), "q_id")
      .select(col("q_id"), col("vec_id"), col("qdot"),
        unitDot(unitMicros(col("qv")), unitMicros(col("v"))).as("cos_ud"),
        col("rn"))
  }

  /** Deterministic signed integer weight for (component j, dimension d)
    * of the Johnson–Lindenstrauss projection — same multiplicative-hash
    * family as [[planeWeight]] but with the constants swapped so the two
    * plane sets never coincide; the DuckDB oracle recomputes the identical
    * formula.
    */
  private def rpWeight(j: Int, d: Int): Double =
    (((j * 104729 + 7919).toLong * (d + 1) * 2654435761L) % 65536L - 32768L).toDouble

  /** The `targetDim` JL projection of a `dim`-dimensional float-vector
    * column: component j is the codegen'd dot of the vector with literal
    * plane j ([[rpWeight]] weights — deterministic, no RNG state). Cosine
    * is scale-invariant, so the raw integer-weight dots need no 1/√k
    * normalization. A vector whose length ≠ `dim` projects to an
    * all-null array (the dot's mismatch contract) and ranks last.
    */
  def randomProject(v: Column, targetDim: Int, dim: Int): Column = {
    val vd = v.cast("array<double>")
    array((0 until targetDim).map(j =>
      dotNative(vd, lit(Array.tabulate(dim)(d => rpWeight(j, d))))): _*)
  }

  /** [[unitMicros]] of an UNNORMALIZED projected vector whose components
    * reach ~dim·2¹⁵ (a raw [[randomProject]] output — micros of that
    * would overflow the Σm² long): an EXACT power-of-two pre-scale
    * (÷2²², a pure exponent shift, NO rounding — the scaled doubles are
    * bit-identical functions of the inputs in any engine) brings
    * components under the grid's headroom before the expression's single
    * rounded entry op. Cosine is scale-invariant and the grid
    * normalizes, so the ranking is the projected-space cosine up to
    * quantization.
    */
  private def unitMicrosScaled(v: Column): Column =
    unitMicros(transform(v, x => x / lit(4194304.0d)))

  /** Random-projection ANN (Johnson–Lindenstrauss): base and queries are
    * projected to `targetDim` dims ([[randomProject]] — one narrow
    * codegen'd map, no shuffle), candidates rank by projected cosine, and
    * the top `pool` survivors per query get an exact full-dimension
    * rescore. Approximate — JL preserves angles in expectation; `pool`
    * (and `targetDim`) is the recall/cost knob, gated in SimilaritySpec.
    * On near-isotropic corpora (like the driver testdata — the regime
    * where IVF's coarse quantizer also can't beat the scanned fraction)
    * recall tracks pool/N; on real embedding corpora with angular
    * structure JL concentrates much faster.
    *
    * The 100 TB story: the stored projected index is `targetDim/dim` the
    * bytes of the raw vectors (64→16 dims = 4×), so the O(N·|queries|)
    * ranking pass reads and multiplies ~4× less than brute force — the
    * dimensionality analogue of [[quantizedTopK]]'s precision shrink and
    * [[pqTopK]]'s code shrink, and it composes with both (project, then
    * quantize the projection). Full-precision vectors are touched only
    * for `pool·|queries|` survivor rows, never shuffled through the
    * ranking.
    *
    * Output `(q_id, vec_id, pcos_ud, cos_ud, rn)`: the pool cut ranks on
    * the projected-space [[unitDot]] (via [[unitMicrosScaled]]) and the
    * final rank on the full-dimension [[unitDot]] (ties ascending id);
    * `pcos_ud` and `cos_ud` ARE those two integer scores (`/2⁴⁰ ≈` the
    * cosine of each space) — all-integer output, nothing for a float
    * hash boundary to flip.
    */
  def rpTopK(
      base: DataFrame,
      queries: DataFrame,
      id: Column,
      vec: Column,
      k: Int = 10,
      targetDim: Int = 16,
      dim: Int = 64,
      pool: Int = 150): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def projected(df: DataFrame, idName: String, p: String, u: String) =
      df.select(id.as(idName), randomProject(vec, targetDim, dim).as(p))
        .withColumn(u, unitMicrosScaled(col(p)))
    val pb = projected(base, "vec_id", "pv", "_pvu")
    val pq = projected(queries, "q_id", "pq", "_pqu")
    val wEst = Window.partitionBy(col("q_id"))
      .orderBy(col("pcos_ud").desc, col("vec_id").asc)
    val top = pb.join(broadcast(pq), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        unitDot(col("_pqu"), col("_pvu")).as("pcos_ud"))
      .withColumn("ern", row_number().over(wEst))
      .filter(col("ern") <= pool)
    // pool·|queries| survivors by construction — broadcast them against
    // the base so the exact rescore never shuffles the full vectors
    topK(broadcast(top)
      .join(base.select(id.as("vec_id"), vec.as("v"), unitMicros(vec).as("_vu")),
        "vec_id")
      .join(broadcast(
        queries.select(id.as("q_id"), vec.as("qv"), unitMicros(vec).as("_qu"))),
        "q_id")
      .select(col("q_id"), col("vec_id"), col("pcos_ud"),
        unitDot(col("_qu"), col("_vu")).as("cos_ud")), k)
  }

  /** Stride-picked coarse centroids, CAPPED at `maxCentroids` (the first
    * `maxCentroids` qualifying ids in id order — so offset or sparse id
    * spaces still yield a full centroid set). The cap is what keeps the
    * flat assignment linear at scale: rows × centroids is the assignment
    * cost, and an UNCAPPED stride grows the centroid count with the
    * corpus — N²/stride, a quadratic measured directly (s3 at a 100×
    * corpus ran 114× its 1× wall before the cap; 256 fixed lists restore
    * ~linear). Real IVF deployments fix the list count the same way
    * (nProbe/lists is the scanned fraction regardless of N). Fails loudly
    * when the stride matches NO id at all: an empty centroid set would
    * flow through the inner assignment join and every probe would
    * silently return zero rows.
    *
    * HOW the cap is applied matters as much as that it exists: ONE
    * boundary id (the `maxCentroids`-th smallest qualifying id — a
    * single long, O(1) driver memory at ANY cap) is collected once, and
    * what reaches every consumer plan is the plain
    * `id % stride = 0 AND id <= maxWinningId` conjunct, which predicate
    * pushdown carries into the scan. The r9 alternative — leaving an
    * `orderBy(id).limit(maxCentroids)` INSIDE the returned frame — was
    * re-planned as a global TakeOrdered by every consumer (both IVF
    * assignment sides, the PQ rescore) and demolished the pushed-filter
    * scan shape: s3/s14 ran 26×/15× slower at a 100× corpus
    * (BASELINE.md §9). The one-time id collect is also the empty-stride
    * probe, so no separate eager check runs on the capped path.
    */
  private[operators] def ivfCentroids(
      b: DataFrame, centroidStride: Int, maxCentroids: Int): DataFrame = {
    val qualifying = b.filter(col("vec_id") % centroidStride === 0)
    if (maxCentroids == Int.MaxValue) {
      // caller manages the bound (SemDeDup's stride contract) — no cap,
      // and the limit(1) probe stops at the first qualifying row
      require(!qualifying.limit(1).isEmpty, noStrideIds(centroidStride))
      qualifying.select(col("vec_id").as("c_id"), col("v").as("cv"))
    } else {
      // only the BOUNDARY id (the maxCentroids-th smallest) comes back to
      // the driver — the limit materializes on executors, the agg reduces
      // it to one row, so driver memory stays O(1) even for a huge cap
      val boundaryRow = qualifying
        .select(col("vec_id").cast("long").as("vec_id"))
        .orderBy(col("vec_id")).limit(maxCentroids)
        .agg(max(col("vec_id")).as("max_id"))
        .collect().head
      require(!boundaryRow.isNullAt(0), noStrideIds(centroidStride))
      strideUpTo(b, centroidStride, boundaryRow.getLong(0))
    }
  }

  private def noStrideIds(centroidStride: Int): String =
    s"no id is a multiple of centroidStride=$centroidStride — the " +
      "centroid set is empty and no row would be assigned a list; pick a " +
      "stride that selects some ids or supply trained centroids"

  /** The stride-picked `(c_id, cv)` rows with id ≤ `boundary`. */
  private def strideUpTo(b: DataFrame, centroidStride: Int,
      boundary: Long): DataFrame =
    b.filter(col("vec_id") % centroidStride === 0 && col("vec_id") <= boundary)
      .select(col("vec_id").as("c_id"), col("v").as("cv"))

  /** [[ivfCentroids]]' picked set and its [[CentModel]] from ONE collect:
    * the first `min(maxCentroids, MaxInlineCentroids) + 1` qualifying rows
    * in id order, unit vectors included, answer both the boundary and the
    * model, so a store build runs neither a separate boundary collect nor
    * a model collect over `b`. The picked set stays {qualifying rows with
    * id ≤ the `maxCentroids`-th smallest id}; with a model it is returned
    * as a local relation of the collected rows. A duplicate id at the
    * boundary (the set reaches past the collected rows), a model
    * [[collectCentModel]] would refuse (duplicate ids, a NULL or ragged
    * unit vector) or a non-integral id type keeps the boundary-filter
    * frame with no model — the exchange fallback; a set above
    * [[MaxInlineCentroids]] also takes [[ivfCentroids]]' boundary collect.
    */
  private[operators] def pickCentroids(b: DataFrame, centroidStride: Int,
      maxCentroids: Int): (DataFrame, Option[CentModel]) =
    if (!integralId(b.schema("vec_id").dataType))
      (ivfCentroids(b, centroidStride, maxCentroids), None)
    else {
      val cap = math.min(maxCentroids, MaxInlineCentroids)
      val projected = modelColumns(b.filter(col("vec_id") % centroidStride === 0)
        .select(col("vec_id").as("c_id"), col("v").as("cv")))
      val rows = projected.orderBy(col("_cl")).limit(cap + 1).collect()
      // a cap of 0 picks nothing, which ivfCentroids reports the same way
      require(rows.nonEmpty && cap > 0, noStrideIds(centroidStride))
      if (rows.length > cap && cap < maxCentroids)
        (ivfCentroids(b, centroidStride, maxCentroids), None)
      else {
        val picked = rows.take(cap)
        val boundary = picked.last.getLong(2)
        val tie = rows.length > cap && rows(cap).getLong(2) == boundary
        val cm = if (tie) None else modelOf(picked, projected.schema)
        (cm.fold(strideUpTo(b, centroidStride, boundary))(
          _.localCents(b.sparkSession)), cm)
      }
    }

  /** Nearest-`keep` centroid assignment of each row in `df` (whose vector
    * column is `v` and row id is `idc`) — broadcast centroids, window rank.
    * The rank runs on the EXACT integer unit-grid dot ([[unitMicros]] +
    * one long [[graft.functions.VectorDot]] fold per pair — ties on
    * ascending centroid id), so which list a row lands in is a
    * deterministic function of the stored bytes in ANY engine: no
    * rounded-double comparison decides membership. Each side's unit
    * vector is computed ONCE per input row (before the broadcast join),
    * so the per-pair cost is one fused integer loop — cheaper than the
    * three-accumulator rounded cosine it replaces.
    */
  private[operators] def ivfAssignTo(
      cents: DataFrame, df: DataFrame, v: String, idc: String, keep: Int,
      model: Option[CentModel] = None): DataFrame =
    model.orElse(collectCentModel(cents)) match {
      case Some(cm) =>
        // r18 OPT (guide §2.4): zero-exchange per-row top-keep — see
        // [[graft.functions.TopDotIds]]; bit-identical selection,
        // spec-pinned against the window formulation below
        val sel = df.columns.toIndexedSeq.map(col) :+
          explode(topDotCol(col(v), emptyCand, keep, cm)).as("_td_cid")
        df.select(sel: _*)
          .withColumn("c_id", col("_td_cid").cast(cm.idType))
          .drop("_td_cid")
      case None => ivfAssignToExchange(cents, df, v, idc, keep)
    }

  /** The exchange formulation of [[ivfAssignTo]] — the fallback when the
    * centroid set is not config-sized (> [[MaxInlineCentroids]]) or holds
    * a NULL/ragged unit vector; kept bit-identical to the fast path
    * (spec-pinned).
    */
  private[operators] def ivfAssignToExchange(
      cents: DataFrame, df: DataFrame, v: String, idc: String, keep: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idc))
      .orderBy(col("c_dot").desc, col("c_id").asc)
    df.withColumn("_vu", unitMicros(col(v)))
      .crossJoin(broadcast(cents.withColumn("_cu", unitMicros(col("cv")))))
      .select(df.columns.toIndexedSeq.map(col) :+ col("c_id") :+
        dotNative(col("_vu"), col("_cu")).as("c_dot"): _*)
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") <= keep)
      .drop("c_dot", "crn")
  }

  /** Centroid sets past this size stay on the exchange path: the model
    * rides the plan as a task-broadcast reference object (ids + flattened
    * unit matrix, 16 B × dim per centroid — 4 MB at 8192 × 64), and a
    * SemDeDup-scale √N centroid set must keep the broadcast-join shape
    * instead of a fat serialized task binary.
    */
  private val MaxInlineCentroids = 8192

  /** The collected centroid model behind the zero-exchange assignment
    * fast path: original `(c_id, cv)` rows in the frame's own order (so
    * callers can rebuild a LOCAL centroid relation that writes the same
    * bytes, and never recompute a trained-quantizer subtree), ids sorted
    * ascending with their unit-grid vectors flattened beside them.
    * `None` when the set is empty, larger than [[MaxInlineCentroids]],
    * holds NULL ids / NULL or ragged unit vectors, or duplicate ids —
    * callers fall back to the exchange formulation, which owns those
    * edge semantics.
    *
    * The collect is config-sized by the `maxCentroids` contract — the
    * same model-artifact pattern as the PQ codebook ([[pqCodebook]]).
    */
  private[operators] final case class CentModel(
      rows: Array[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType,
      ids: Array[Long],
      units: Array[Long],
      idType: org.apache.spark.sql.types.DataType) {
    def dim: Int = units.length / math.max(ids.length, 1)

    /** The collected rows as a LOCAL relation — bit-identical `(c_id,
      * cv)` content with no recompute of the (possibly trained) centroid
      * subtree on each downstream use.
      */
    def localCents(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.toSeq.asJava, schema)
    }
  }

  private[operators] def collectCentModel(cents: DataFrame): Option[CentModel] =
    // only integral id types: the model sorts by the long-cast id, which
    // must agree with the exchange path's native `col(idc).asc` ordering
    if (!integralId(cents.schema("c_id").dataType)) None
    else {
      val projected = modelColumns(cents)
      modelOf(projected.collect(), projected.schema)
    }

  private def integralId(t: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
    Set[org.apache.spark.sql.types.DataType](ByteType, ShortType, IntegerType,
      LongType).contains(t)
  }

  /** `(c_id, cv)` plus what a [[CentModel]] is built from: the long id
    * `_cl` and the unit vector `_cu`.
    */
  private def modelColumns(cents: DataFrame): DataFrame =
    cents.select(col("c_id"), col("cv"), col("c_id").cast("long").as("_cl"),
      unitMicros(col("cv")).as("_cu"))

  /** The [[CentModel]] of collected [[modelColumns]] rows, or `None` where
    * [[CentModel]] says the exchange formulation must run.
    */
  private def modelOf(all: Array[org.apache.spark.sql.Row],
      projected: org.apache.spark.sql.types.StructType): Option[CentModel] =
    if (all.isEmpty || all.length > MaxInlineCentroids ||
        all.exists(r => r.isNullAt(2) || r.isNullAt(3)))
      None
    else {
      val sorted = all.map(r =>
        (r.getLong(2), r.getSeq[Long](3).toArray)).sortBy(_._1)
      val dim = sorted.head._2.length
      val dup = sorted.iterator.sliding(2).exists {
        case Seq(a, b) => a._1 == b._1
        case _ => false
      }
      if (dim == 0 || dup || sorted.exists(_._2.length != dim)) None
      else {
        val schema = org.apache.spark.sql.types.StructType(projected.take(2))
        val rows = all.map(r => org.apache.spark.sql.Row(r.get(0), r.get(1)))
        Some(CentModel(rows, schema, sorted.map(_._1),
          sorted.flatMap(_._2), projected("c_id").dataType))
      }
    }

  /** `array<long>` empty literal — [[graft.functions.TopDotIds]]' "all
    * model centroids" candidate sentinel.
    */
  private def emptyCand: Column = typedLit(Array.empty[Long])

  /** [[graft.functions.TopDotIds]] as a Column over a raw vector column:
    * NULL/corrupt vectors arrive as the empty array (dimension mismatch =
    * the all-NULL-dots case of the window plan — same ranking).
    */
  private def topDotCol(
      v: Column, cand: Column, keep: Int, cm: CentModel): Column =
    ColumnBridge.column(graft.functions.TopDotIds(
      ColumnBridge.expression(coalesce(unitMicros(v), emptyCand)),
      ColumnBridge.expression(cand), keep, cm.ids, cm.units))

  /** Driver-side re-derivation of the hierarchical filing from a collected
    * [[CentModel]] — the model behind [[ivfAssignHierarchical]]'s
    * zero-exchange fast path. Reproduces [[hierSupers]] (every
    * `superStride`-th centroid by ascending id rank — `cm.ids` is already
    * sorted, integral types only, so rank order is the window's) and
    * [[hierC2s]] (self-preference primary, then exact integer unit-grid
    * dot desc, tie on ascending super id — `Math.addExact`/`multiplyExact`,
    * the same fold as [[graft.functions.VectorDot]]) from the SAME
    * collected integer unit vectors, so list membership is bit-identical
    * to the exchange formulation (spec-pinned). k × k/superStride dots on
    * config-sized arrays — driver-scale by the `maxCentroids` contract.
    *
    * Returns (super ids ascending, their flattened unit vectors, each
    * super's member centroid-id list).
    */
  private[operators] def hierModel(cm: CentModel, superStride: Int)
      : (Array[Long], Array[Long], Array[Array[Long]]) = {
    val n = cm.ids.length
    val dim = cm.dim
    val supIdx = (0 until n by superStride).toArray
    val nS = supIdx.length
    val sIds = supIdx.map(cm.ids)
    val sUnits = new Array[Long](nS * dim)
    var j = 0
    while (j < nS) {
      System.arraycopy(cm.units, supIdx(j) * dim, sUnits, j * dim, dim)
      j += 1
    }
    val members = Array.fill(nS)(scala.collection.mutable.ArrayBuffer.empty[Long])
    var i = 0
    while (i < n) {
      val cid = cm.ids(i)
      var self = -1
      var best = -1
      var bestDot = 0L
      var s = 0
      while (s < nS) {
        if (sIds(s) == cid) self = s
        var dot = 0L
        var d = 0
        while (d < dim) {
          dot = Math.addExact(dot,
            Math.multiplyExact(cm.units(i * dim + d), sUnits(s * dim + d)))
          d += 1
        }
        // sIds ascend, so strict improvement gives dot-ties to the
        // smallest s_id — the window's (s_dot desc, s_id asc)
        if (best < 0 || dot > bestDot) { best = s; bestDot = dot }
        s += 1
      }
      members(if (self >= 0) self else best) += cid
      i += 1
    }
    (sIds, sUnits, members.map(_.toArray))
  }

  /** The IVF inverted-list table `(vec_id, v, c_id)` — every base vector
    * labeled with its nearest centroid. This IS the stored index: at scale,
    * write it `partitionBy("c_id")` and probing becomes partition pruning —
    * a query's `nProbe` lists are the only partitions the scan touches
    * (proved by `SimilaritySpec`'s partitioned-parquet test). [[ivfTopK]]
    * is exactly this table joined to the probed queries.
    */
  def ivfAssign(
      base: DataFrame,
      id: Column,
      vec: Column,
      centroidStride: Int = 50,
      centroids: Option[DataFrame] = None,
      maxCentroids: Int = 256): DataFrame = {
    val b = base.select(id.as("vec_id"), vec.as("v"))
    val cents = centroids.map(_.select(col("c_id"), col("cv")))
      .getOrElse(ivfCentroids(b, centroidStride, maxCentroids))
    ivfAssignTo(cents, b, "v", "vec_id", 1)
  }

  /** Super-centroids: every `superStride`-th centroid by c_id rank — the
    * centroid table is config-sized, so the single-partition window is a
    * driver-scale sort, not a data-scale one.
    */
  private[operators] def hierSupers(cents: DataFrame, superStride: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    cents
      .withColumn("crk", row_number().over(Window.orderBy(col("c_id"))) - 1)
      .filter(col("crk") % superStride === 0)
      .select(col("c_id").as("s_id"), col("cv").as("sv"))
  }

  /** Each centroid filed under its nearest super (k × k/superStride,
    * config × config — broadcast both ways, exact integer-dot argmax).
    * The self-preference term is the PRIMARY sort key: a super-centroid
    * ALWAYS files under itself, unconditionally. Under rounded cosines
    * this was a tie-break (cosine(c,c) = 1.0 was the un-beatable
    * maximum, so self always won anyway); under quantized unit-grid
    * dots a near-identical other super with a hair-larger quantized norm
    * could in principle out-dot the self-dot, so the guarantee is made
    * structural rather than numeric — same semantics, now invariant to
    * the grid. Why it matters: a captured super-centroid would leave its
    * own list empty, and rows probing only empty lists would vanish from
    * the inner assignment join (silent row loss inside a dedup operator
    * when consumed by semanticKeepAssigned). With every super list
    * guaranteed ≥ its own centroid, every probed row gets ≥ 1 candidate
    * — no row can be lost (SimilaritySpec pins the construction).
    */
  private[operators] def hierC2s(cents: DataFrame, supers: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wC = Window.partitionBy(col("c_id"))
      .orderBy((col("s_id") === col("c_id")).desc, col("s_dot").desc,
        col("s_id").asc)
    cents.withColumn("_cu", unitMicros(col("cv")))
      .crossJoin(broadcast(supers.withColumn("_su", unitMicros(col("sv")))))
      .select(col("c_id"), col("cv"), col("s_id"),
        dotNative(col("_cu"), col("_su")).as("s_dot"))
      .withColumn("srn", row_number().over(wC)).filter(col("srn") === 1)
      .select(col("s_id"), col("c_id"), col("cv"))
  }

  /** Each row's `sProbe` nearest super-lists, with the probe rank kept as
    * `srn` so one pass can serve several sProbe values ([[assignmentAgreement]]).
    */
  private[operators] def hierR2s(
      b: DataFrame, supers: DataFrame, sProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wR = Window.partitionBy(col("vec_id"))
      .orderBy(col("s_dot").desc, col("s_id").asc)
    b.withColumn("_vu", unitMicros(col("v")))
      .crossJoin(broadcast(supers.withColumn("_su", unitMicros(col("sv")))))
      .select(col("vec_id"), col("v"), col("s_id"),
        dotNative(col("_vu"), col("_su")).as("s_dot"))
      .withColumn("srn", row_number().over(wR)).filter(col("srn") <= sProbe)
      .select(col("vec_id"), col("v"), col("s_id"), col("srn"))
  }

  /** TWO-LEVEL centroid assignment — [[ivfAssign]]'s scale path when the
    * centroid count itself grows with the corpus (SemDeDup's k ≈ √N
    * contract): instead of ranking every row against all k centroids
    * (rows × k cosines — the N^1.5 term that dominates the d12c route,
    * BASELINE.md §9), the centroids are grouped under every
    * `superStride`-th centroid BY RANK (k/superStride super-centroids;
    * rank-picked, so any id space works), each row probes its `sProbe`
    * nearest super-lists, and the exact argmax runs only over the
    * centroids IN those lists: rows × (k/superStride + sProbe·superStride)
    * cosines, minimized at superStride ≈ √k — N·k^½ total, N^1.25 when
    * k ≈ √N. This is faiss's IVF-on-the-quantizer trick re-expressed as
    * three broadcast-rank passes; everything stays deterministic
    * (EXACT integer unit-grid dots — see [[unitMicros]] — ties on
    * ascending id), so an external engine replays the identical
    * assignment from the stored bytes alone, with no floating-summation
    * boundary class.
    *
    * APPROXIMATE by design: a row whose true nearest centroid sits in an
    * unprobed super-list lands in its best PROBED list instead — the
    * standard IVF recall trade, moved one level up. `sProbe` ≥ the
    * super-centroid count degenerates to the exact flat argmax
    * (spec-pinned), which is the knob's contract: raise `sProbe` to buy
    * assignment fidelity with assignment cost. NEVER lossy on rows: every
    * super list is guaranteed non-empty (a super-centroid always files
    * under itself — see the c2s tie-break below), so every input row
    * reaches the argmax with ≥ 1 candidate and appears in the output
    * (spec-pinned on a rounded-tie corpus built to trigger the
    * displacement that would otherwise empty a list).
    *
    * Output: `(c_id, vec_id, v)` — the [[ivfAssign]] shape, accepted by
    * [[graft.operators.Dedup.semanticKeepAssigned]].
    */
  def ivfAssignHierarchical(
      base: DataFrame,
      id: Column,
      vec: Column,
      centroids: DataFrame,
      superStride: Int,
      sProbe: Int = 2,
      keep: Int = 1,
      model: Option[CentModel] = None): DataFrame = {
    require(superStride > 0, s"superStride must be positive, got $superStride")
    require(sProbe > 0, s"sProbe must be positive, got $sProbe")
    require(keep > 0, s"keep must be positive, got $keep")
    val b = base.select(id.as("vec_id"), vec.as("v"))
    val cents = centroids.select(col("c_id"), col("cv"))
    model.orElse(collectCentModel(cents)) match {
      case Some(cm) =>
        ivfAssignHierFast(b, cm, superStride, sProbe, keep)
      case None =>
        ivfAssignHierExchange(b, cents, superStride, sProbe, keep)
    }
  }

  /** The zero-exchange formulation of [[ivfAssignHierarchical]] (guide
    * §2.4): the two-level argmax as ONE projection — top-sProbe supers,
    * c2s expansion, top-keep leaves — replacing two corpus-wide window
    * exchanges (hierR2s + the final argmax). Filing (hierSupers rank
    * pick, hierC2s self-preference argmax) is re-derived on the driver
    * from the SAME collected integer unit vectors ([[hierModel]]), so
    * list membership is bit-identical (spec-pinned against the exchange
    * path).
    */
  private[operators] def ivfAssignHierFast(
      b: DataFrame, cm: CentModel, superStride: Int, sProbe: Int,
      keep: Int): DataFrame = {
    val (sIds, sUnits, members) = hierModel(cm, superStride)
    val sups = ColumnBridge.column(graft.functions.TopDotIds(
      ColumnBridge.expression(col("_td_vu")),
      ColumnBridge.expression(emptyCand), sProbe, sIds, sUnits))
    val cand = ColumnBridge.column(graft.functions.ExpandIds(
      ColumnBridge.expression(sups), sIds, members))
    val cids = ColumnBridge.column(graft.functions.TopDotIds(
      ColumnBridge.expression(col("_td_vu")),
      ColumnBridge.expression(cand), keep, cm.ids, cm.units))
    b.withColumn("_td_vu", coalesce(unitMicros(col("v")), emptyCand))
      .select(explode(cids).as("_td_cid"), col("vec_id"), col("v"))
      .select(col("_td_cid").cast(cm.idType).as("c_id"),
        col("vec_id"), col("v"))
  }

  /** The exchange formulation of [[ivfAssignHierarchical]] — the fallback
    * when the centroid set is not model-collectable (see
    * [[collectCentModel]]); kept bit-identical to the fast path.
    */
  private[operators] def ivfAssignHierExchange(
      b: DataFrame, cents: DataFrame, superStride: Int, sProbe: Int,
      keep: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val supers = hierSupers(cents, superStride)
    val c2s = hierC2s(cents, supers)
    // rows probe their sProbe nearest super-lists (rows × k/superStride)
    val r2s = hierR2s(b, supers, sProbe).drop("srn")
    // exact integer-dot argmax over the probed lists' centroids only —
    // each centroid lives in exactly one super-list, so (vec_id, c_id)
    // pairs are unique. The row's unit vector is recomputed once per
    // surviving (row × sProbe) r2s row rather than carried through the
    // r2s window shuffle (512 B/row of shuffle width for a cheap
    // per-row recompute).
    val wA = Window.partitionBy(col("vec_id"))
      .orderBy(col("c_dot").desc, col("c_id").asc)
    r2s.withColumn("_vu", unitMicros(col("v")))
      .join(broadcast(c2s.withColumn("_cu", unitMicros(col("cv")))), Seq("s_id"))
      .select(col("vec_id"), col("v"), col("c_id"),
        dotNative(col("_vu"), col("_cu")).as("c_dot"))
      .withColumn("crn", row_number().over(wA)).filter(col("crn") <= keep)
      .select(col("c_id"), col("vec_id"), col("v"))
  }

  /** Flat product-quantization ANN (Jégou et al., "Product quantization
    * for nearest neighbor search", TPAMI 2011): base vectors are PQ-coded
    * (`numSubspaces` sub-vectors, each snapped to its nearest codebook
    * entry — [[graft.functions.PqEncode]], one fused codegen pass),
    * queries carry an asymmetric-distance lookup table
    * ([[graft.functions.PqLut]]), candidates rank by the ADC estimate
    * `Σ_s lut[s·codes + code_s]` (a codegen'd 8-term sum over two array
    * reads — no vector arithmetic per pair at all), and the top `pool`
    * survivors get an exact cosine rescore.
    *
    * The 100 TB story: the stored index is `numSubspaces` SMALL ints per
    * vector (m=8, k=16 → 8 nibbles vs 256 float bytes, 32×), so candidate
    * ranking reads almost nothing and full-precision vectors are touched
    * only for `pool·|queries|` rows — the same quantize-then-rescore
    * shape as [[quantizedTopK]] with a far coarser, cheaper first pass.
    * Composes with [[ivfAssign]]'s partition pruning for IVF-PQ (coarse
    * list = partition key, PQ codes inside each list).
    *
    * Codebook: code `j` of subspace `s` is the `s`-th slice of the base
    * vector with id `j·codeStride` — deterministic, training-free. The
    * production path supplies a TRAINED matrix via `codebook`
    * ([[pqTrainCodebook]] — per-subspace Lloyd k-means); plan shape is
    * identical either way. Config-scale only (m×k×subDim doubles), so
    * collecting it to the driver is loading a model artifact, not a data
    * collect; the operator fails loudly if any code id is missing.
    */
  def pqTopK(
      base: DataFrame,
      queries: DataFrame,
      id: Column,
      vec: Column,
      k: Int = 10,
      numSubspaces: Int = 8,
      numCodes: Int = 16,
      codeStride: Int = 16,
      pool: Int = 50,
      codebookFrom: Option[DataFrame] = None,
      codebook: Option[Array[Array[Array[Double]]]] = None,
      poolPpm: Option[Long] = None): DataFrame = {
    // IVF-PQ composition: when `base` is a probed (partition-pruned)
    // subset, the codebook must still come from the full corpus — pass it
    // via codebookFrom, exactly as a trained-codebook deployment would
    val cb: Array[Array[Array[Double]]] = codebook.getOrElse(
      pqCodebook(codebookFrom.getOrElse(base), id, vec,
        numSubspaces, numCodes, codeStride))
    require(cb.length == numSubspaces && cb.forall(_.length == numCodes),
      s"pqTopK: codebook shape ${cb.length}×${cb.headOption.fold(0)(_.length)} " +
        s"must be numSubspaces×numCodes = $numSubspaces×$numCodes")
    val b = base.select(id.as("vec_id"), vec.as("v"), pqEncode(vec, cb).as("codes"))
    val q = queries.select(id.as("q_id"), vec.as("qv"), pqLut(vec, cb).as("lut"))
    // no list floor here; under poolPpm every query's candidate count is
    // corpus−1 (the rule matters when a caller pre-prunes `base`)
    val cut = pqPool(b.join(broadcast(q), col("q_id") =!= col("vec_id")),
      Seq("v", "qv"), numSubspaces, numCodes, k, pool, 0, poolPpm)
    topK(cut.select(col("q_id"), col("vec_id"),
      unitDot(unitMicros(col("qv")), unitMicros(col("v"))).as("cos_ud")), k)
  }

  /** Deterministic stride-picked PQ codebook from `src`: code `j` of
    * subspace `s` is the `s`-th slice of the vector with id
    * `j·codeStride`. Config-scale (m×k×subDim doubles) — collecting it is
    * loading a model artifact, not a data collect; fails loudly if any
    * code id is missing. [[pqTrainCodebook]] is the trained alternative.
    */
  def pqCodebook(
      src: DataFrame,
      id: Column,
      vec: Column,
      numSubspaces: Int,
      numCodes: Int,
      codeStride: Int): Array[Array[Array[Double]]] = {
    val cbRows = src
      .select(id.cast("long").as("cid"), vec.cast("array<double>").as("cv"))
      .filter(col("cid") % codeStride === 0 && col("cid") / codeStride < numCodes)
      .collect()
      .map(r => r.getLong(0) / codeStride -> r.getSeq[Double](1).toArray).toMap
    require(cbRows.size == numCodes,
      s"pq codebook: needs ids {0, $codeStride, …, ${(numCodes - 1) * codeStride}} " +
        s"in the source table; found ${cbRows.size} of $numCodes")
    val dim = cbRows(0L).length
    require(dim % numSubspaces == 0,
      s"pq codebook: dim $dim not divisible by numSubspaces=$numSubspaces")
    val subDim = dim / numSubspaces
    Array.tabulate(numSubspaces) { s =>
      Array.tabulate(numCodes)(j => cbRows(j.toLong).slice(s * subDim, (s + 1) * subDim))
    }
  }

  /** IVF×PQ — the billion-scale composition (Jégou et al. 2011's IVFADC):
    * the coarse quantizer prunes candidates to the lists `probe` selects
    * ([[ivfTopK]]'s join on the list key ≡ partition pruning of the
    * stored index), the PQ ADC estimate ranks ONLY those candidates from
    * `numSubspaces` small ints per vector, and the top `pool` survivors
    * get an exact cosine rescore. Per query the full-precision vectors
    * touched are `pool` rows; everything between is the broadcast
    * centroid rank plus one join keyed on the list id. `hier` swaps the
    * flat rows × centroids assignment for the two-level one (the s19
    * trade — the PQ machinery is independent of how list membership was
    * decided).
    *
    * The codebook deliberately comes from the FULL base corpus (not the
    * probed subset) — the stored codes must be probe-independent, exactly
    * as a deployed index would persist them. Deterministic end to end
    * (stride centroids and codebook, exact integer-dot list assignment,
    * ADC/rescore ties broken on ascending id), so the DuckDB oracle
    * replays it bit-for-bit.
    *
    * The effective fixed pool is `max(pool, floor)`, the floor being
    * `k·nProbe` under [[Nearest]] and `k` under a mass budget: raising
    * `nProbe` alone can never construct the measured dip configuration
    * (see [[Nearest]]), and the benched configs (k=10 · nProbe=2 = 20 ≤
    * 50) are unchanged. Spec-pinned: a deliberately tiny `pool` still
    * yields full-k result sets.
    *
    * RESIDUAL CONTRACT (r17, measured on the adversarial
    * clustered/anisotropic corpus — BASELINE §16c): raw-vector ADC
    * (faiss's `by_residual=false` shape, this operator's default) holds
    * 0.94–0.96 recall on near-uniform data but COLLAPSES on a clustered
    * corpus (0.04 at the benched config) — within a probed list every
    * candidate shares the cluster offset, so a 16-cell codebook trained
    * or sampled on RAW vectors spends its resolution re-separating
    * clusters the coarse quantizer already separated (measured: trained
    * raw codebook 0.02, pool 500 only 0.22, unitizing 0.06).
    * `residual = true` is Jégou's actual IVFADC: codes and LUT are
    * computed on `v − centroid(list)`, so the cells resolve
    * within-list variation. Default stays false — the pinned oracle rows
    * replay the raw-space formulation.
    *
    * ADAPTIVE POOL (r18 — the other half of §16c's finding; [[Mass]]
    * fixes the probe, this fixes the pool): `poolPpm` replaces the fixed
    * `pool` with a cut that SCALES with each query's probed candidate
    * volume: candidate survives the ADC rank iff `ern ≤ k` (the floor —
    * a full result set always reaches the rescore) or
    * `ern·1e6 ≤ poolPpm·cand_n` where `cand_n` is that query's probed
    * candidate count. §16c measured the failure this rule removes: on a
    * clustered corpus a heavy-cluster query's probed set is 100× a
    * light one's, so any FIXED pool is simultaneously too small for one
    * and wasteful for the other (recall 0.04 at pool=50, and even 500
    * only bought 0.38); with the pool a constant FRACTION of what was
    * probed, P(true-k ⊂ pool) stops depending on which cluster the
    * query landed in. All-integer, replayed bit-for-bit by the oracle;
    * its measured recall with a [[Mass]] probe is on [[Mass]].
    */
  def ivfPqTopK(
      base: DataFrame,
      queries: DataFrame,
      id: Column,
      vec: Column,
      k: Int = 10,
      centroidStride: Int = 50,
      probe: Probe = Nearest(2),
      numSubspaces: Int = 8,
      numCodes: Int = 16,
      codeStride: Int = 16,
      pool: Int = 50,
      maxCentroids: Int = 256,
      hier: Option[Hier] = None,
      codebook: Option[Array[Array[Array[Double]]]] = None,
      residual: Boolean = false,
      poolPpm: Option[Long] = None): DataFrame = {
    val b = base.select(id.as("vec_id"), vec.as("v"))
    val cents = ivfCentroids(b, centroidStride, maxCentroids)
    // the stored index rows: list id + PQ codes (+ the full vector, read
    // again only by the pool-bounded rescore)
    val listed = assignLists(base, id, vec, cents, hier)
    val probed = probeLists(queries, id, vec, cents, sizesOf(listed),
      b.count(), probe, hier)
    val cb = codebook.getOrElse(listCodebook(base, id, vec, listed, cents,
      residual, numSubspaces, numCodes, codeStride))
    require(cb.length == numSubspaces && cb.forall(_.length == numCodes),
      s"ivfPqTopK: codebook shape ${cb.length}×${cb.headOption.fold(0)(_.length)} " +
        s"does not match numSubspaces=$numSubspaces numCodes=$numCodes")
    // each base row lives in exactly ONE list, so a (query, candidate)
    // pair appears at most once — no dedup needed before the pool rank
    val cut = pqPool(withCodes(listed, cents, cb, residual)
        .join(withLut(probed, cents, cb, residual), Seq("c_id"))
        .filter(col("q_id") =!= col("vec_id")),
      Seq("v", "qv"), numSubspaces, numCodes, k, pool, probe.poolFloor(k),
      poolPpm)
    topK(cut.select(col("q_id"), col("vec_id"),
      unitDot(unitMicros(col("qv")), unitMicros(col("v"))).as("cos_ud")), k)
  }

  /** How an IVF top-k or store probe picks each query's lists: one value
    * where a probe count and an optional mass budget used to sit side by
    * side. Each case checks its argument when it is built and names it
    * when it throws; [[probeLists]] is the one interpreter.
    */
  sealed trait Probe {
    /** The fixed-pool floor of the PQ candidate cut ([[pqPool]]). */
    private[operators] def poolFloor(k: Int): Int = k
  }

  /** Each query probes its `nProbe` nearest lists, ranked in the
    * assignment geometry (flat, or two-level under a [[Hier]]).
    *
    * Recall contract at the capped list count: `nProbe / lists` is the
    * scanned fraction, so at `maxCentroids = 256` `Nearest(2)` scans
    * 2/256 of the corpus — MEASURED at the 100× copy (200k rows, 256
    * stride lists, r11 probe, BASELINE.md §9): recall@10 = 0.94 at
    * nProbe 2, 0.98 at 8, 1.00 at 32, with near-flat wall (the flat
    * assignment dominates; the scanned slice is secondary). Raise
    * `nProbe` with the list count if you cap tighter — recall tracks the
    * scanned fraction, not the corpus size. On (near-)isotropic data —
    * like the driver testdata, whose intra-label cosine ≈ inter-label —
    * no coarse quantizer beats the scanned fraction (Lloyd-trained
    * centroids leave recall unchanged there; SimilaritySpec measures
    * ~0.48 → ~0.84 going 2 → 6 probes of ~10 lists). On IMBALANCED lists
    * a fixed count fails: 0.62 at nProbe 2 on a Zipf-clustered corpus
    * (BASELINE §16c), since a heavy cluster's mass spans dozens of lists
    * while a light one fits in one — see [[Mass]].
    *
    * Under [[ivfPqTopK]]'s fixed pool the floor is `k·nProbe`: the 100×
    * copy measured recall@10 = 0.94 / 0.98 / 0.96 at nProbe 2 / 8 / 32
    * with `pool = 50`, the dip at 32 being the pool cut binding once
    * more candidates compete for its slots (ADC estimate error evicts
    * true neighbors), so the pool must scale with `nProbe`.
    */
  final case class Nearest(nProbe: Int) extends Probe {
    requirePositive("nProbe", nProbe)
    override private[operators] def poolFloor(k: Int): Int = k * nProbe
  }

  /** MASS-ADAPTIVE probing (r17, BASELINE §16c/§16h): each query ranks
    * ALL lists flat by centroid cosine and probes them in that order
    * until the mass probed BEFORE a list already covers `massPpm` of the
    * corpus (rank 1 always survives). Heavy-cluster queries fan out,
    * light-cluster ones stop at once, and the EXPECTED probed volume is
    * ~massPpm·N regardless of skew — the budget is explicit instead of
    * emergent. All-integer decision (`cum_before · 1e6 < massPpm · N`),
    * oracle-replayable. In memory the list masses come from the same
    * assignment that files the rows (one corpus count fixes N); in a
    * store they come from its manifest, and the selected set IS the
    * partition filter, so `massPpm` bounds the BYTES each query's pruned
    * scan touches — a skew-proof I/O budget where a fixed count's cost
    * silently varies with list imbalance. Under a [[Hier]] geometry only
    * the stored rows are filed two-level; the query side still ranks
    * every list.
    *
    * Measured (BASELINE §17a, 200k-vector corpora) with [[ivfPqTopK]]'s
    * `residual` codes and `poolPpm`: 15% mass + 50% pool reads 0.92 on
    * the adversarial corpus where every fixed config in the §16c ladder
    * sat ≤ 0.38 (and 1.00 on uniform sf10), at a wall flat across the
    * whole fraction sweep (23–30 s — the fixed-knob band). On the
    * adversarial shape recall is ~linear in the fraction (within-cluster
    * ADC margins are sub-resolution), so the fraction IS the recall
    * dial, priced in rescore reads, not wall. A fixed pool's floor under
    * a budget is `k`, the `poolPpm` rule's own floor.
    */
  final case class Mass(massPpm: Long) extends Probe {
    requirePpm("massPpm", massPpm)
  }

  /** [[Mass]]'s budget at BOTH levels of a [[Hier]] geometry (which it
    * requires — a flat geometry has no super filing to probe). A fixed
    * `sProbe` carries §16c's failure one level up: a heavy cluster's mass
    * spans several SUPER-lists, so a fixed sProbe silently caps the leaf
    * lists a query can even see. Here supers are probed in super-dot
    * order while the PRECEDING super mass (leaf sizes rolled up through
    * the filing) is under the budget, then the probed supers' leaf
    * centroids are ranked ACROSS their union per query under the same
    * gate — satisfiable by the first level, so the leaf stage never
    * starves. Rank 1 survives at both levels, so every query gets ≥ 1
    * list. Per-query dots drop from `lists` to `lists/superStride +
    * probed supers' centroids`; the stored filing is the build geometry,
    * unchanged.
    *
    * When to pick it over [[Mass]] — MEASURED (BASELINE §17f, 200k
    * corpus, 256 lists, 2000-query batch, store-served): 1.12× faster at
    * the pinned 15% budget, SLOWER at 1% (9.5 vs 7.0 s — the extra gate
    * costs more than the dots it saves), and a recall plateau of
    * 0.96–0.98 vs the flat rank's 1.00 (§17d). So at list counts like
    * the default 256 prefer [[Mass]]; the two-level saving only outgrows
    * its overhead at 10³–10⁵ lists, where the flat per-query rank over
    * ALL lists stops being config-sized.
    */
  final case class HierMass(massPpm: Long) extends Probe {
    requirePpm("massPpm", massPpm)
  }

  /** A two-level assignment geometry ([[ivfAssignHierarchical]]): lists
    * grouped under every `superStride`-th centroid, each row filed
    * within its `sProbe` nearest super-lists — the shape for a capped
    * index whose flat assignment dominates the wall (s3's sf10 profile:
    * 19.8 of 20.7 s was the rows × 256 pass, BASELINE.md §9). Under a
    * [[Nearest]] probe the queries take the same two-level rank, so
    * membership AND list choice carry the super-probe trade; recall
    * rides [[recallAtK]] like every other tier.
    */
  final case class Hier(superStride: Int, sProbe: Int) {
    requirePositive("superStride", superStride)
    requirePositive("sProbe", sProbe)
  }

  /** IVF ANN: every base vector is filed under its nearest coarse
    * centroid (the "inverted list" — flat, or two-level under `hier`), a
    * query probes the lists `probe` selects, and the candidates get an
    * exact integer-dot rescore and top-k. Centroids are the base vectors
    * whose id ≡ 0 (mod `centroidStride`), capped at `maxCentroids` —
    * deterministic, no k-means dependency — or a trained `(c_id, cv)`
    * quantizer via `centroids` (e.g. [[kmeansCentroids]] of
    * [[kmeansTrain]]); same plan either way, centroids are config-scale
    * and broadcast. At scale the lists become partition keys of the
    * stored table and probing = partition pruning ([[VectorIndex]]).
    * LSH ([[lshTopK]]) stays accurate on isotropic data because its
    * `tables` independent partitions multiply coverage. The recall
    * contracts are on the [[Probe]] cases; [[recallAtK]] is the eval
    * that produced them — re-run it after any index-shape change.
    */
  def ivfTopK(
      base: DataFrame,
      queries: DataFrame,
      id: Column,
      vec: Column,
      k: Int = 10,
      centroidStride: Int = 50,
      probe: Probe = Nearest(2),
      hier: Option[Hier] = None,
      centroids: Option[DataFrame] = None,
      maxCentroids: Int = 256): DataFrame = {
    val b = base.select(id.as("vec_id"), vec.as("v"))
    val cents = centroids.map(_.select(col("c_id"), col("cv")))
      .getOrElse(ivfCentroids(b, centroidStride, maxCentroids))
    val listed = assignLists(base, id, vec, cents, hier)
    topK(rescore(listed, probeLists(queries, id, vec, cents, sizesOf(listed),
      b.count(), probe, hier)), k)
  }

  // ------------------------------------------------------------------
  // The IVF probe core: list selection, the PQ candidate cut and the
  // rescore + top-k tail — one copy of each rule, shared by the in-memory
  // tiers above and [[VectorIndex]]'s store probes.
  // ------------------------------------------------------------------

  private def requirePpm(name: String, ppm: Long): Unit =
    require(ppm > 0 && ppm <= 1000000L, s"$name out of (0, 1e6]: $ppm")

  private def requirePositive(name: String, n: Int): Unit =
    require(n > 0, s"$name must be positive, got $n")

  /** `(c_id, vec_id, v)`: `input` filed under its `keep` nearest lists —
    * the flat argmax, or the two-level [[ivfAssignHierarchical]] under
    * `hier`. `model` is the already-collected centroid model of `cents`,
    * if any.
    */
  private[operators] def assignLists(
      input: DataFrame, id: Column, vec: Column, cents: DataFrame,
      hier: Option[Hier], keep: Int = 1,
      model: Option[CentModel] = None): DataFrame = hier match {
    case Some(Hier(superStride, sProbe)) => ivfAssignHierarchical(input, id,
      vec, cents, superStride, sProbe, keep, model)
    case None => ivfAssignTo(cents, input.select(id.as("vec_id"), vec.as("v")),
      "v", "vec_id", keep, model)
  }

  /** The per-list row counts `(c_id, n_list)` of a listed assignment. */
  private def sizesOf(listed: DataFrame): DataFrame =
    listed.groupBy("c_id").agg(count(lit(1)).as("n_list"))

  /** Each query's probed lists `(c_id, q_id, qv)` under `probe`, in the
    * `hier` geometry the lists were filed in: [[Nearest]]'s rank, or
    * [[massProbed]] / [[hierMassProbed]] over the list masses `sizes`
    * `(c_id, n_list)` of a corpus of `n` rows (read only by a budget).
    * `dropEmpty` is [[massProbed]]'s filtered-mass rule; `model` is the
    * already-collected centroid model of `cents`, if any.
    */
  private[operators] def probeLists(
      queries: DataFrame, id: Column, vec: Column, cents: DataFrame,
      sizes: => DataFrame, n: => Long, probe: Probe, hier: Option[Hier],
      dropEmpty: Boolean = false, model: Option[CentModel] = None): DataFrame = {
    def qs = queries.select(id.as("q_id"), vec.as("qv"))
    probe match {
      case Nearest(nProbe) =>
        assignLists(queries, id, vec, cents, hier, nProbe, model)
          .select(col("c_id"), col("vec_id").as("q_id"), col("v").as("qv"))
      case Mass(massPpm) =>
        massProbed(qs, cents, sizes, n, massPpm, dropEmpty)
          .select(col("c_id"), col("q_id"), col("qv"))
      case HierMass(massPpm) =>
        val h = hier.getOrElse(throw new IllegalArgumentException(
          "HierMass probes a two-level geometry, but hier is None (a flat " +
            "store or tier has no super filing) — probe it with Mass"))
        hierMassProbed(qs, cents, sizes, n, h.superStride, massPpm)
    }
  }

  /** The all-integer mass-budget gate: per query, `ranked` lists
    * `(q_id, c_id, c_dot, …)` in `(c_dot desc, c_id asc)` order survive
    * while the mass probed BEFORE them is under `massPpm` of `n`
    * (`cum_before · 1e6 < massPpm · n`; rank 1 always survives). `sizes`
    * `(c_id, n_list)` joins left (a missing list weighs 0) or, with
    * `dropEmpty`, inner (see [[massProbed]]).
    */
  private def massGate(ranked: DataFrame, sizes: DataFrame, n: Long,
      massPpm: Long, dropEmpty: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("c_dot").desc, col("c_id").asc)
    ranked.join(broadcast(sizes), Seq("c_id"), if (dropEmpty) "inner" else "left")
      .withColumn("_m", coalesce(col("n_list"), lit(0L)))
      .withColumn("cum_before", coalesce(sum(col("_m")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("cum_before") * 1000000L < lit(massPpm) * n)
  }

  /** [[Mass]]'s list selection, in memory and (over the persisted
    * sizes) in every store probe: per (query, centroid) the
    * flat unit-grid dot ranks ALL centroids, a window cumsum carries the
    * mass probed BEFORE each list, and a list survives while that
    * preceding mass is still under `massPpm` of `n` (rank 1 always
    * survives — its preceding mass is 0). Left join: a centroid whose
    * list is empty (identical-vector centroids deduped by the assign
    * tiebreak) contributes zero mass, not a dropped rank. All-integer
    * decision (`cum_before · 1e6 < massPpm · n`), oracle-replayable.
    *
    * `dropEmpty = true` (r18, the FILTERED-mass variant) instead joins
    * `sizes` INNER, so a centroid with no `sizes` row is excluded from
    * the rank outright — the right rule when `sizes` carries MATCHING
    * counts under a payload predicate ([[VectorIndex
    * .probeIvfIndexFiltered]]): a zero-match list can contribute no
    * candidate, but under the left-join rule it would still be SELECTED
    * (zero mass never advances the cumsum), and every zero-match list
    * ranked ahead of the budget's exhaustion would be scanned for
    * nothing. Dropping them keeps the scan's byte bound proportional to
    * where matching rows actually live. Ranking among surviving lists
    * is unchanged (a window ORDER over a subset preserves relative
    * order), so the left-join replays stay byte-identical.
    *
    * `queries` must be `(q_id, qv)`; `sizes` is `(c_id, n_list)`; output
    * `(c_id, q_id, qv, _qu)` — one row per surviving (query, list).
    */
  private[operators] def massProbed(
      queries: DataFrame,
      cents: DataFrame,
      sizes: DataFrame,
      n: Long,
      massPpm: Long,
      dropEmpty: Boolean = false): DataFrame =
    massGate(queries
      .withColumn("_qu", unitMicros(col("qv")))
      .crossJoin(broadcast(cents.withColumn("_cu", unitMicros(col("cv")))))
      .select(col("q_id"), col("qv"), col("_qu"), col("c_id"),
        dotNative(col("_qu"), col("_cu")).as("c_dot")),
      sizes, n, massPpm, dropEmpty)
      .select(col("c_id"), col("q_id"), col("qv"), col("_qu"))

  /** [[HierMass]]'s TWO-LEVEL list selection: the super geometry is
    * derived from `cents` ([[hierSupers]]/[[hierC2s]] at `superStride` —
    * deterministic in the centroids, so a store needs no extra artifact),
    * leaf `sizes` `(c_id, n_list)` roll up through the filing to super
    * masses, [[massProbed]] picks supers, and the probed supers' leaf
    * centroids rank ACROSS their union per query under the same gate.
    * Output `(c_id, q_id, qv)`.
    */
  private[operators] def hierMassProbed(
      queries: DataFrame,
      cents: DataFrame,
      sizes: DataFrame,
      n: Long,
      superStride: Int,
      massPpm: Long): DataFrame = {
    val supers = hierSupers(cents, superStride)
    val c2s = hierC2s(cents, supers)
    // super masses: every centroid files under exactly one super, so the
    // rollup partitions the leaf masses (Σ n_super = N); left join keeps
    // a super whose every leaf list is empty at mass 0, not dropped
    val superSizes = c2s.select(col("s_id"), col("c_id"))
      .join(sizes, Seq("c_id"), "left")
      .groupBy("s_id")
      .agg(sum(coalesce(col("n_list"), lit(0L))).as("n_list"))
    // LEVEL 1: the flat gate verbatim, over the supers (renamed to the
    // (c_id, cv)/(c_id, n_list) shapes massProbed contracts on)
    val qsup = massProbed(queries,
      supers.select(col("s_id").as("c_id"), col("sv").as("cv")),
      superSizes.select(col("s_id").as("c_id"), col("n_list")),
      n, massPpm)
      .select(col("c_id").as("s_id"), col("q_id"), col("qv"), col("_qu"))
    // LEVEL 2: the probed supers' centroids compete in ONE dot-ranked
    // window per query (not per super — a heavy super's 3rd-best leaf
    // must outrank a light super's 1st when the dots say so)
    massGate(qsup
      .join(broadcast(c2s.select(col("s_id"), col("c_id"), col("cv"))
        .withColumn("_cu", unitMicros(col("cv")))), Seq("s_id"))
      .select(col("q_id"), col("qv"), col("c_id"),
        dotNative(col("_qu"), col("_cu")).as("c_dot")),
      sizes, n, massPpm, dropEmpty = false)
      .select(col("c_id"), col("q_id"), col("qv"))
  }

  /** The exact rescore of every list probe: candidate `lists`
    * `(c_id, vec_id, v)` joined to the probed query assignment
    * `(c_id, q_id, qv)` on `c_id`, self-matches dropped, scored on the
    * exact integer unit-grid dot (each side's unit vector computed once).
    * The emitted `cos_ud` IS that integer score (`/2⁴⁰ ≈ cosine`) — no
    * float column enters the output hash. The join strategy is the
    * caller's: the in-memory tiers leave it to the planner (a library
    * caller may pass a corpus-sized query set), a store probe with a
    * collected assignment takes the [[rescoreLookup]] form.
    */
  private[operators] def rescore(lists: DataFrame, probed: DataFrame): DataFrame =
    scored(lists.withColumn("_vu", unitMicros(col("v")))
      .join(probed.select(col("c_id"), col("q_id"),
          unitMicros(col("qv")).as("_qu")),
        Seq("c_id")))

  /** [[rescore]] against a query assignment the driver holds: `probing`
    * gives each list row the `array<struct<q_id, _qu>>` of the queries that
    * probe its list (`_qu` the query's unit vector), and the row meets each
    * of them in a generator — the same pairs and scores as the join, with
    * no join and so no exchange or job for the query side.
    */
  private[operators] def rescoreLookup(lists: DataFrame,
      probing: Column): DataFrame =
    scored(lists.withColumn("_vu", unitMicros(col("v")))
      .select(col("*"), inline(probing)))

  private def scored(pairs: DataFrame): DataFrame =
    pairs.filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        unitDot(col("_qu"), col("_vu")).as("cos_ud"))

  /** Each query's `k` best `cos_ud` rows (`rn` 1..k, ties on ascending
    * `vec_id`) — the one `k·|queries|`-bounded rank exchange of a top-k
    * tier or probe.
    */
  private[operators] def topK(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    requirePositive("k", k)
    scored.withColumn("rn", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("cos_ud").desc, col("vec_id").asc)).cast("long"))
      .filter(col("rn") <= k)
  }

  private def pqEncode(v: Column, cb: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(graft.functions.PqEncode(
      ColumnBridge.expression(v.cast("array<double>")), cb))

  private def pqLut(v: Column, cb: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(graft.functions.PqLut(
      ColumnBridge.expression(v.cast("array<double>")), cb))

  /** `v − cv` against a joined list centroid `cv` — the residual space of
    * residual PQ (Jégou's IVFADC): the codebook's cells resolve WITHIN-list
    * variation instead of re-separating the lists the coarse quantizer
    * already separated, and the ADC estimate
    * ||(q−c) − quant(v−c)||² ≈ ||q − v||² loses the cluster offset.
    */
  private def residualOf(v: Column): Column =
    zip_with(v.cast("array<double>"), col("cv"), (a, c) => a - c)

  /** `rows` joined to their list's centroid `cv` (broadcast — the
    * centroid table is config-sized).
    */
  private def withCentroid(rows: DataFrame, cents: DataFrame): DataFrame =
    rows.join(broadcast(cents.select(col("c_id"), col("cv"))), Seq("c_id"))

  /** The codebook a listed PQ index encodes with: stride-picked from the
    * full `base` ([[pqCodebook]]), or — for `residual` codes — from the
    * `listed` rows' residuals against `cents`.
    */
  private[operators] def listCodebook(
      base: DataFrame, id: Column, vec: Column, listed: DataFrame,
      cents: DataFrame, residual: Boolean, numSubspaces: Int, numCodes: Int,
      codeStride: Int): Array[Array[Array[Double]]] =
    if (residual) pqCodebook(withCentroid(listed, cents), col("vec_id"),
      residualOf(col("v")), numSubspaces, numCodes, codeStride)
    else pqCodebook(base, id, vec, numSubspaces, numCodes, codeStride)

  /** `listed` `(c_id, vec_id, v, …)` plus its PQ `codes` under `cb` — in
    * residual space against `cents` when `residual`, so probe-time LUTs
    * ([[withLut]]) and appended rows use the same space.
    */
  private[operators] def withCodes(listed: DataFrame, cents: DataFrame,
      cb: Array[Array[Array[Double]]], residual: Boolean): DataFrame =
    if (!residual) listed.withColumn("codes", pqEncode(col("v"), cb))
    else withCentroid(listed, cents)
      .withColumn("codes", pqEncode(residualOf(col("v")), cb)).drop("cv")

  /** The probed query assignment `(c_id, q_id, qv, …)` plus its ADC
    * lookup table `lut` — per (query, probed list) over `qv − cv` when
    * `residual` (`cents` is read only then).
    */
  private[operators] def withLut(probed: DataFrame, cents: => DataFrame,
      cb: Array[Array[Array[Double]]], residual: Boolean): DataFrame =
    if (!residual) probed.withColumn("lut", pqLut(col("qv"), cb))
    else withCentroid(probed, cents)
      .withColumn("lut", pqLut(residualOf(col("qv")), cb)).drop("cv")

  /** The PQ candidate cut of every PQ tier and probe. `pairs` holds one
    * row per (query, candidate) with the query's `lut` and the
    * candidate's `codes`; the ADC estimate `Σ_s lut[s·numCodes + code_s]`
    * is summed in subspace order (a left-to-right fold — the oracle
    * replays the identical sequence via list_reduce over ORDER BY s) and
    * ranks each query's candidates `(est asc, vec_id asc)`. Survivors:
    * the first `max(pool, floor)` (`floor` is the probe's
    * [[Probe.poolFloor]] for the IVF tiers), or under `poolPpm` the ADAPTIVE rule
    * `ern ≤ k || ern·1e6 ≤ poolPpm·cand_n` with `cand_n` the query's
    * candidate count (an order-insensitive whole-partition count over the
    * same `q_id` partitioning — no extra exchange). Output
    * `(q_id, vec_id, carry…)`.
    */
  private[operators] def pqPool(
      pairs: DataFrame, carry: Seq[String], numSubspaces: Int, numCodes: Int,
      k: Int, pool: Int, floor: Int, poolPpm: Option[Long]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    requirePositive("pool", pool)
    poolPpm.foreach(requirePpm("poolPpm", _))
    val est = (0 until numSubspaces)
      .map(s => element_at(col("lut"),
        element_at(col("codes"), s + 1) + s * numCodes + 1))
      .reduce(_ + _)
    val kept = (Seq("q_id", "vec_id") ++ carry).map(col)
    val ranked = pairs.select(kept :+ est.as("est"): _*)
      .withColumn("ern", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("est").asc, col("vec_id").asc)))
    (poolPpm match {
      case Some(pp) => ranked
        .withColumn("cand_n",
          count(lit(1)).over(Window.partitionBy(col("q_id"))))
        .filter(col("ern") <= k ||
          col("ern") * 1000000L <= lit(pp) * col("cand_n"))
      case None => ranked.filter(col("ern") <= math.max(pool, floor))
    }).select(kept: _*)
  }

  /** Recall@k of an approximate ranking against the exact one — the eval
    * harness that gates an index swap ("measure, don't guess" as a
    * library operator, not a test-only assertion). Both inputs are
    * rankings in this module's output shape (`q_id`, `vec_id`, `rn`);
    * output is one row per query in the EXACT ranking —
    * `(q_id, hits, k, recall_ppm)` with all-integer ppm so any engine
    * replays it bit-for-bit. Queries the approximate index missed
    * entirely still appear, with 0 hits.
    *
    * Scale shape: both sides are pre-truncated to rank ≤ k, so the join
    * carries k·|queries| rows regardless of corpus size — the eval costs
    * the rankings, never a corpus pass of its own.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val e = exact.filter(col("rn") <= k).select(col("q_id"), col("vec_id"))
    val a = approx.filter(col("rn") <= k)
      .select(col("q_id").as("_aq"), col("vec_id").as("_av"))
    e.join(a, col("q_id") === col("_aq") && col("vec_id") === col("_av"), "left")
      .groupBy(col("q_id"))
      .agg(count(col("_av")).as("hits"))
      .select(col("q_id"), col("hits"), lit(k.toLong).as("k"),
        expr(s"(hits * 1000000) div $k").as("recall_ppm"))
  }

  /** The stride-picked capped coarse-centroid set `(c_id, cv)` as a public
    * frame — the model every IVF tier derives internally, exposed so
    * composing operators ([[assignmentAgreement]], a [[VectorIndex]]
    * build over a custom subset) can hold the SAME set the tiers use.
    */
  def coarseCentroids(
      base: DataFrame,
      id: Column,
      vec: Column,
      centroidStride: Int = 50,
      maxCentroids: Int = 256): DataFrame =
    ivfCentroids(base.select(id.as("vec_id"), vec.as("v")),
      centroidStride, maxCentroids)

  /** Assignment-fidelity eval for [[ivfAssignHierarchical]]: for each
    * requested `sProbe`, the fraction of rows whose two-level centroid
    * equals the exact flat argmax — the measured curve behind the sProbe
    * knob, the way [[recallAtK]] is the curve behind nProbe. Output one
    * row per sProbe: `(s_probe, n_rows, n_agree, agree_ppm)`, all-integer
    * ppm so any engine replays it bit-for-bit.
    *
    * Scale shape: the flat ground-truth assignment runs ONCE (rows × k —
    * the eval's declared dominant term, same cost class as the s3 tier it
    * grades), and ONE rows × supers pass serves every sProbe value: the
    * per-row super ranks are computed to `max(sProbes)` and each sProbe
    * re-cuts them with a broadcast `srn <= s_probe` theta-join — no
    * per-sProbe corpus passes, no cross product wider than
    * rows × max(sProbes) · superStride.
    */
  def assignmentAgreement(
      base: DataFrame,
      id: Column,
      vec: Column,
      centroids: DataFrame,
      superStride: Int = 16,
      sProbes: Seq[Int] = Seq(1, 2, 4)): DataFrame = {
    require(sProbes.nonEmpty && sProbes.forall(_ > 0),
      s"sProbes must be positive, got $sProbes")
    val b = base.select(id.as("vec_id"), vec.as("v"))
    val cents = centroids.select(col("c_id"), col("cv"))
    val flat = ivfAssignTo(cents, b, "v", "vec_id", 1)
      .select(col("vec_id"), col("c_id").as("flat_c"))
    val hier = hierPick(b, cents, superStride, sProbes)
    hier.join(flat, Seq("vec_id"))
      .groupBy(col("s_probe"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("c_id") === col("flat_c"), 1L).otherwise(0L)).as("n_agree"))
      .select(col("s_probe"), col("n_rows"), col("n_agree"),
        expr("(n_agree * 1000000) div n_rows").as("agree_ppm"))
  }

  /** The two-level pick for EVERY requested sProbe in one pass — the
    * shared core of [[assignmentAgreement]] and
    * [[hierAssignFingerprint]]: per-row super ranks computed once to
    * `max(sProbes)`, each sProbe re-cuts them with a broadcast
    * `srn <= s_probe` theta-join, exact integer-dot argmax within.
    * Output `(s_probe, vec_id, c_id)`.
    */
  private[operators] def hierPick(
      b: DataFrame,
      cents: DataFrame,
      superStride: Int,
      sProbes: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = b.sparkSession
    import spark.implicits._
    val supers = hierSupers(cents, superStride)
    val c2s = hierC2s(cents, supers)
    val r2s = hierR2s(b, supers, sProbes.max)
    val spx = sProbes.distinct.sorted.toDF("s_probe")
    val wA = Window.partitionBy(col("s_probe"), col("vec_id"))
      .orderBy(col("c_dot").desc, col("c_id").asc)
    // _vu BEFORE the sProbe fan-out: the join duplicates the computed
    // unit vector instead of recomputing the per-component projection
    // once per (row × qualifying s_probe) pair
    r2s
      .withColumn("_vu", unitMicros(col("v")))
      .join(broadcast(spx), col("srn") <= col("s_probe"))
      .join(broadcast(c2s.withColumn("_cu", unitMicros(col("cv")))), Seq("s_id"))
      .select(col("s_probe"), col("vec_id"), col("c_id"),
        dotNative(col("_vu"), col("_cu")).as("c_dot"))
      .withColumn("crn", row_number().over(wA)).filter(col("crn") === 1)
      .select(col("s_probe"), col("vec_id"), col("c_id"))
  }

  // ------------------------------------------------------------------
  // s26 stage fingerprints — the driver-observable bisection harness
  // ------------------------------------------------------------------
  //
  // assignmentAgreement (the s26 eval) has disagreed with the DRIVER's
  // DuckDB for three rounds while Spark, a local DuckDB 1.0.0, and an
  // independent exact-integer replay all agree bit-for-bit at every SF —
  // the divergence lives in an environment we cannot inspect. These five
  // operators each emit ONE config-sized integer checksum of ONE stage of
  // the s26 pipeline over the full corpus, so the driver's own per-key
  // green/red in CORRECTNESS names the first diverging stage. Every
  // checksum is an order-independent SUM of bounded integer products
  // (longs throughout — no hash function an engine could implement
  // differently, no float anywhere), so the keys add no new fragility.
  //
  // Weight + overflow design. Ids enter every checksum through
  // `wId(x) = (x mod 999983) + 1 ≤ 10⁶` (prime modulus, so distinct
  // ids rarely alias), never raw — a scaled corpus with 10⁹-range ids
  // (the ScaleUp key offsets — this fired loudly under ANSI at the
  // sf10 gate) must not overflow a diagnostic. Sums are TWO-LEVEL:
  // a first aggregate over `id mod 4096` groups bounds each partial
  // (term ≤ 10¹² · rows-per-group), each partial is reduced
  // `mod 1000000007`, and the final fold sums ≤ 4096 reduced partials
  // (< 4·10¹²) — exact long arithmetic end to end through ~10¹⁰ rows,
  // far past any eval corpus. A row's array fold is position-weighted
  // (Σ (1-based index)·x_i, grid-bounded ≤ ~2·10⁹) and row-weighted by
  // (id mod 97 + 1): compensating flips would need to cancel exactly
  // under two coprime weightings simultaneously. Both aggregation
  // levels are order-independent integer sums — nothing for an
  // engine's evaluation order to vary.

  /** `(x mod 999983) + 1` — the bounded id weight every checksum uses. */
  private def wId(x: Column): Column = pmod(x, lit(999983L)) + 1L

  /** The shared two-level mod-reduced fold: per `gid mod 4096` group,
    * partial Σ of each bounded `term`, partials reduced mod 1000000007,
    * reduced partials summed. Output `(n_rows, <name>…)` one row.
    */
  private def modChecksum(
      df: DataFrame, gid: Column, terms: (String, Column)*): DataFrame = {
    val partials = df.groupBy(pmod(gid, lit(4096L)).as("_g"))
      .agg(count(lit(1)).as("_n"),
        terms.map { case (n, t) => sum(t).as(s"_p_$n") }: _*)
    partials.agg(sum(col("_n")).as("n_rows"),
      terms.map { case (n, _) =>
        sum(pmod(col(s"_p_$n"), lit(1000000007L))).as(n) }: _*)
  }

  /** Stage-1 checksum: the grid entry (`mv = floor(x·2²⁰+0.5)`) and the
    * unit projection (`u` — [[unitMicros]]) of every corpus vector.
    * One row: `(n_rows, mv_fp, u_fp)`.
    */
  def gridFingerprint(base: DataFrame, id: Column, vec: Column): DataFrame = {
    val mv = transform(vec.cast("array<double>"),
      x => floor(x * lit(1048576.0) + lit(0.5)).cast("long"))
    def foldIdx(arr: Column): Column =
      aggregate(zip_with(arr, sequence(lit(1L), size(arr).cast("long")),
        (x, i) => x * i), lit(0L), (acc, t) => acc + t)
    val rows = base.select(id.as("vec_id"), mv.as("mv"), unitMicros(vec).as("u"))
      .select(col("vec_id"),
        (pmod(col("vec_id"), lit(97L)) + 1L).as("w"),
        foldIdx(col("mv")).as("mvf"), foldIdx(col("u")).as("uf"))
    modChecksum(rows, col("vec_id"),
      "mv_fp" -> (col("w") * col("mvf")),
      "u_fp" -> (col("w") * col("uf")))
  }

  /** Stage-2 checksum: the flat exact argmax (what `flat_c` is in the
    * s26 eval). One row: `(n_rows, fp, c_sum)` with
    * `fp = Σ wId(vec_id)·wId(flat_c)` (two-level mod fold).
    */
  def flatAssignFingerprint(
      base: DataFrame, id: Column, vec: Column,
      centroids: DataFrame): DataFrame = {
    val b = base.select(id.as("vec_id"), vec.as("v"))
    modChecksum(
      ivfAssignTo(centroids.select(col("c_id"), col("cv")), b, "v", "vec_id", 1),
      col("vec_id"),
      "fp" -> (wId(col("vec_id")) * wId(col("c_id"))),
      "c_sum" -> wId(col("c_id")))
  }

  /** Stage-3 checksum: each row's NEAREST super-list (`srn = 1` of the
    * super probe). One row: `(n_rows, fp)` with
    * `fp = Σ wId(vec_id)·wId(s_id)` (two-level mod fold).
    */
  def superProbeFingerprint(
      base: DataFrame, id: Column, vec: Column,
      centroids: DataFrame, superStride: Int = 16): DataFrame = {
    val b = base.select(id.as("vec_id"), vec.as("v"))
    val supers = hierSupers(centroids.select(col("c_id"), col("cv")), superStride)
    modChecksum(hierR2s(b, supers, 1), col("vec_id"),
      "fp" -> (wId(col("vec_id")) * wId(col("s_id"))))
  }

  /** Stage-4 checksum: the centroid→super filing (config × config).
    * One row: `(n_cents, fp)` with `fp = Σ wId(c_id)·wId(s_id)`
    * (two-level mod fold; the count column is named `n_cents`).
    */
  def c2sFingerprint(
      centroids: DataFrame, superStride: Int = 16): DataFrame = {
    val cents = centroids.select(col("c_id"), col("cv"))
    modChecksum(hierC2s(cents, hierSupers(cents, superStride)), col("c_id"),
      "fp" -> (wId(col("c_id")) * wId(col("s_id"))))
      .withColumnRenamed("n_rows", "n_cents")
  }

  /** Stage-5 checksum: the two-level pick itself, per sProbe — the last
    * stage before the s26 aggregate. One row per sProbe:
    * `(s_probe, n_rows, fp)` with `fp = Σ wId(vec_id)·wId(c_id)`
    * (two-level mod fold within each sProbe).
    */
  def hierAssignFingerprint(
      base: DataFrame, id: Column, vec: Column,
      centroids: DataFrame,
      superStride: Int = 16,
      sProbes: Seq[Int] = Seq(1, 2, 4)): DataFrame = {
    require(sProbes.nonEmpty && sProbes.forall(_ > 0),
      s"sProbes must be positive, got $sProbes")
    val b = base.select(id.as("vec_id"), vec.as("v"))
    hierPick(b, centroids.select(col("c_id"), col("cv")), superStride, sProbes)
      .groupBy(col("s_probe"), pmod(col("vec_id"), lit(4096L)).as("_g"))
      .agg(count(lit(1)).as("_n"),
        sum(wId(col("vec_id")) * wId(col("c_id"))).as("_p"))
      .groupBy(col("s_probe"))
      .agg(sum(col("_n")).as("n_rows"),
        sum(pmod(col("_p"), lit(1000000007L))).as("fp"))
  }

  /** Integer-grid projection of a float-vector column:
    * `floor(x·2²⁰ + 0.5)` per component (half-up via floor; the
    * power-of-two scale makes the multiply an exact exponent shift —
    * see [[graft.functions.UnitMicros]]).
    */
  private def microsOf(vec: Column): Column =
    transform(vec.cast("array<double>"),
      x => floor(x * lit(1048576.0) + lit(0.5)).cast("long"))

  /** [[lloydLoop]]'s point-table bound for the TopDot assignment (see
    * the measurements there).
    */
  private val TopDotMinBytes = BigInt(4L * 1024 * 1024)

  /** The shared driver-iterated Lloyd loop over GROUPED point sets —
    * `pts` is `(grp, pid, mv)` and every group trains its own centroid
    * set simultaneously, so ONE job per iteration covers all groups
    * ([[kmeansTrain]] is the single-group instance; [[pqTrainCodebook]]
    * trains all `numSubspaces` codebooks in the same passes). Centroid
    * keys are `(grp, c_id)`; the update/empty-cluster/convergence rules
    * are documented on [[kmeansTrain]].
    */
  private def lloydLoop(
      pts: DataFrame,
      seeds: Array[((Int, Long), Array[Long])],
      iters: Int,
      convergeTol: Option[Long]): Array[((Int, Long), Array[Long])] = {
    val spark = pts.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.graft.ColumnBridge
    // r18 OPT (guide §2.4): the assignment is a per-row argmin the map
    // side can do alone — the broadcast-join formulation exploded every
    // point × |centroids| and shuffled a corpus-sized (pid, best-struct-
    // with-vector) aggregation just to pick each row's argmin. Fast path:
    // argmin_c ‖x−c‖² = argmax_c (2·x·c − ‖c‖²) = one exact integer dot
    // against the AUGMENTED model ([x,1]·[2c,−‖c‖²]) — [[TopDotIds]]
    // reused verbatim (dot desc, id asc ≡ dist asc, id asc; Math.*Exact
    // overflow semantics), centroids are already driver-side arrays, so
    // the per-iteration job becomes projection → component aggregation
    // with a model-sized exchange. SIZE-GATED on the point table's plan
    // stats ([[TopDotMinBytes]]): below the threshold the tiny
    // per-iteration shuffle is free and the projection's per-row array
    // allocations measured NET SLOWER (trained family 12.6 → 13.3 s at
    // sf0.1), above it the removed corpus-sized exchange wins (d12b
    // 4.18 → 3.65 s at sf1, and the gap is the corpus:model size ratio at
    // 100 TB). Fallback (ragged or oversized seed sets): the join
    // formulation verbatim below. Results identical on every path (the
    // oracle corpus sits below the gate, so KmeansPropertiesSpec pins the
    // fast path's bit-identity, taking each arm by the input's provenance).
    val dims = seeds.map(_._2.length).distinct
    val useTopDot = seeds.nonEmpty && seeds.length <= MaxInlineCentroids &&
      dims.length == 1 &&
      pts.queryExecution.optimizedPlan.stats.sizeInBytes >= TopDotMinBytes
    val groups = seeds.map(_._1._1).distinct.sorted
    val cidStride = if (seeds.isEmpty) 1L else seeds.map(_._1._2).max + 1
    val dim = dims.headOption.getOrElse(0)
    // exchange-formulation input (only the fallback pays the n2 column)
    lazy val b = pts.withColumn("n2", dotNative(col("mv"), col("mv")))
    // fast-path input: the exchange path raises on a ragged/NULL vector
    // (its dist dots to NULL); the same contract as an explicit dimension
    // assert. The group filter reproduces the inner join's "unknown grp
    // rows vanish" semantics (unreachable for both callers, kept exact).
    lazy val ptsChecked = {
      val checked = pts.filter(assert_true(
        coalesce(size(col("mv")) === lit(dim), lit(false)),
        lit("kmeansTrain: ragged vector — its dimension does not match " +
          "the centroids'; fix or filter the corpus")).isNull)
      if (groups.length == 1) checked
      else checked.filter(col("grp").isin(groups: _*))
    }
    var cents = seeds
    var converged = false
    (1 to iters).foreach { _ => if (!converged) {
      val sums: Map[(Int, Long, Int), Long] = if (useTopDot) {
        val sortedC = cents.sortBy { case ((g, cid), _) =>
          g.toLong * cidStride + cid }
        val gids = sortedC.map { case ((g, cid), _) =>
          g.toLong * cidStride + cid }
        val units = sortedC.flatMap { case (_, cv) =>
          val cn2 = cv.foldLeft(0L)((a, x) =>
            Math.addExact(a, Math.multiplyExact(x, x)))
          cv.map(x => Math.multiplyExact(x, 2L)) :+ Math.negateExact(cn2)
        }
        val cand =
          if (groups.length == 1) emptyCand
          else ColumnBridge.column(graft.functions.ExpandIds(
            ColumnBridge.expression(array(col("grp").cast("long"))),
            groups.map(_.toLong),
            groups.map(g => sortedC.collect {
              case ((gg, cid), _) if gg == g => gg.toLong * cidStride + cid
            })))
        val td = ColumnBridge.column(graft.functions.TopDotIds(
          ColumnBridge.expression(concat(col("mv"), array(lit(1L)))),
          ColumnBridge.expression(cand), 1, gids, units))
        ptsChecked
          .select(col("grp"),
            (element_at(td, 1) - col("grp").cast("long") * cidStride)
              .as("c_id"),
            col("mv"))
          .select(col("grp"), col("c_id"),
            posexplode_outer(col("mv")).as(Seq("p0", "val")))
          .filter(col("val").isNotNull)
          .groupBy(col("grp"), col("c_id"), col("p0"))
          .agg(sum(col("val")).as("s"), count(lit(1)).as("n"))
          .select(col("grp"), col("c_id"), col("p0"),
            floor(col("s").cast("double") / col("n")).cast("long").as("uval"))
          .as[(Int, Long, Int, Long)].collect()
          .map { case (g, cid, p0, uval) => (g, cid, p0) -> uval }.toMap
      } else {
      val c = cents.toSeq.map { case ((g, cid), cv) => (g, cid, cv) }
        .toDF("cgrp", "c_id", "cv")
        .withColumn("cn2", dotNative(col("cv"), col("cv")))
      val scored = b.join(broadcast(c), col("grp") === col("cgrp"))
        .select(col("grp"), col("pid"), col("c_id"), col("mv"),
          (col("n2") + col("cn2") - lit(2L) * dotNative(col("mv"), col("cv")))
            .as("dist"))
        // a ragged vector (dim ≠ centroid dim) dots to NULL, and NULL
        // sorts FIRST in the argmin struct — it would silently win the
        // assignment and pollute a centroid. Raise instead; the filter
        // wrapper keeps the check un-prunable (assert_true returns NULL
        // when it passes, so the filter keeps every surviving row).
        .filter(assert_true(col("dist").isNotNull,
          lit("kmeansTrain: ragged vector — its dimension does not match " +
            "the centroids'; fix or filter the corpus")).isNull)
      // min over (dist, c_id, mv): (dist, c_id) is unique per point, so
      // mv never participates in the comparison — it just rides along,
      // avoiding both a re-join against the base and a non-deterministic
      // first(). posexplode_OUTER + a generated-column filter keeps
      // InferFiltersFromGenerate from pushing `size(transform(...)) > 0`
      // — micros conversion inlined — into a scan-side filter (§8.2's
      // trap, swept by PlanSpec).
      scored.groupBy(col("grp"), col("pid"))
        .agg(min(struct(col("dist"), col("c_id"), col("mv"))).as("best"))
        .select(col("grp"), col("best.c_id").as("c_id"), col("best.mv").as("mv"))
        .select(col("grp"), col("c_id"),
          posexplode_outer(col("mv")).as(Seq("p0", "val")))
        .filter(col("val").isNotNull)
        .groupBy(col("grp"), col("c_id"), col("p0"))
        .agg(sum(col("val")).as("s"), count(lit(1)).as("n"))
        .select(col("grp"), col("c_id"), col("p0"),
          floor(col("s").cast("double") / col("n")).cast("long").as("uval"))
        .as[(Int, Long, Int, Long)].collect()
        .map { case (g, cid, p0, uval) => (g, cid, p0) -> uval }.toMap
      }
      // empty-cluster rule: a centroid that captured nothing keeps its
      // previous position (sums has no rows for it)
      val next = cents.map { case (key @ (g, cid), cv) =>
        key -> cv.zipWithIndex.map { case (pval, p0) =>
          sums.getOrElse((g, cid, p0), pval)
        }
      }
      converged = convergeTol.exists { tol =>
        cents.zip(next).forall { case ((_, a), (_, b)) =>
          a.zip(b).forall { case (x, y) => math.abs(x - y) <= tol }
        }
      }
      cents = next
    }}
    cents
  }

  /** Deterministic distributed Lloyd k-means over a float-vector column —
    * the trainer that produces REAL coarse centroids for [[ivfTopK]] and
    * codebooks for [[pqTopK]] (both default to stride-picked rows with the
    * identical plan shape; this closes the "production would train"
    * loop). Reference has no ANN tier at all — this extends the surface.
    *
    * Everything is exact integer arithmetic so any engine replays it
    * bit-for-bit (the established micros pattern):
    *  - vectors land in integer micros: `floor(x·10⁶ + 0.5)` per component
    *    (half-up via floor — `round()` half-up/half-even conventions
    *    differ across engines, floor never does);
    *  - assignment is exact squared-L2 over longs, computed as
    *    `‖a‖² + ‖c‖² − 2·a·c` with three codegen'd [[VectorDot]] folds —
    *    no per-pair difference array is ever materialized; ties break on
    *    ascending centroid id;
    *  - the update is the floored integer mean per component
    *    (`floor(Σ/n)`, exact: |Σ| < 2⁵³ through any realistic corpus ×
    *    micros range);
    *  - a cluster that captures no vectors keeps its previous centroid
    *    (the standard empty-cluster rule, and the deterministic one).
    *
    * Seeds are the `k` stride-picked base vectors (id ≡ 0 mod
    * `seedStride`, id/seedStride < k) — deterministic init, no RNG state.
    *
    * Iteration shape (the MLlib-standard loop): centroids live on the
    * DRIVER between iterations — k·dim longs, a model artifact exactly
    * like [[pqTopK]]'s codebook, never a data collect. Each iteration is
    * ONE job: the literal centroid table broadcasts into the scored join
    * (narrow); the argmin is a `groupBy` on the vector id —
    * `min(struct(dist, c_id, mv))` — so map-side partial aggregation
    * collapses the k scored copies of each vector before the exchange (a
    * window would shuffle all N·k rows); the component sums explode to
    * (c_id, pos) AFTER the argmin and partial-aggregate map-side to
    * ≤ k·dim rows per task, so the update exchange is config-sized
    * regardless of corpus size, and only k·dim partials return to the
    * driver. Iterations therefore compose LINEARLY — a fully-lazy
    * unrolled chain would re-reference iteration i's subtree from both
    * consumers of iteration i+1 and re-evaluate it 2^(iters−i) times.
    *
    * Output: the trained centroids EXPLODED to scalars
    * `(c_id, pos (1-based), val)` in micros — config-scale, directly
    * comparable across engines (no array-format ambiguity), and
    * reassembled by [[kmeansCentroids]] for consumption by the ANN tiers.
    *
    * `convergeTol`: optional early stop — end the loop once no centroid
    * component moved by more than this many micros in an iteration
    * (`Some(0L)` = exact fixed point). Converged iterations are no-ops,
    * so stopping early returns the identical model while skipping whole
    * corpus passes; leave `None` when a FIXED iteration count must be
    * replayed (the oracle contract of s9/s10).
    *
    * `rankSeeds = false` (the s9/s10 replay contract): seeds are the ids
    * {0, seedStride, …, (k−1)·seedStride} and `c_id = id div seedStride`
    * — an ABSOLUTE bound, which on an offset/sparse id space selects
    * fewer than k seeds and fails the length check (by design: loud).
    * `rankSeeds = true`: seeds are the first k stride-qualifying ids BY
    * RANK with `c_id = 0…k−1` — the §8.42/BASELINE §9 lesson applied to
    * seeding, so k can track the corpus (k ≈ √N, the d12b route) on any
    * id space. Either way the pick is a one-time config-sized driver
    * collect (the model-artifact init), never a plan-side limit.
    */
  def kmeansTrain(
      base: DataFrame,
      id: Column,
      vec: Column,
      k: Int = 8,
      iters: Int = 2,
      seedStride: Int = 50,
      convergeTol: Option[Long] = None,
      rankSeeds: Boolean = false): DataFrame = {
    require(k > 0 && iters > 0, s"k and iters must be positive, got k=$k iters=$iters")
    val spark = base.sparkSession
    import spark.implicits._
    val pts = base.select(lit(0).as("grp"), id.as("pid"), microsOf(vec).as("mv"))
    // seeds: one config-sized collect (the init of the model artifact)
    val seeds: Array[((Int, Long), Array[Long])] =
      if (rankSeeds) {
        val picked = pts
          .filter(col("pid") % seedStride === 0)
          .select(col("pid"), col("mv"))
          .orderBy(col("pid")).limit(k)
          .as[(Long, Array[Long])].collect().sortBy(_._1)
        require(picked.length == k,
          s"kmeansTrain: rankSeeds needs >= $k ids divisible by " +
            s"seedStride=$seedStride in the base table; found ${picked.length}")
        picked.zipWithIndex.map { case ((_, cv), i) => (0, i.toLong) -> cv }
      } else {
        val s0 = pts
          .filter(col("pid") % seedStride === 0 &&
            expr(s"pid div $seedStride") < k)
          .select(expr(s"pid div $seedStride").as("c_id"), col("mv").as("cv"))
          .as[(Long, Array[Long])].collect().sortBy(_._1)
          .map { case (cid, cv) => (0, cid) -> cv }
        require(s0.length == k,
          s"kmeansTrain: seeds need ids {0, $seedStride, …, ${(k - 1) * seedStride}} " +
            s"in the base table; found ${s0.length} of $k (offset/sparse id " +
            "space? use rankSeeds = true)")
        s0
      }
    lloydLoop(pts, seeds, iters, convergeTol).toSeq
      .flatMap { case ((_, cid), cv) =>
        cv.zipWithIndex.map { case (v, p0) => (cid, (p0 + 1).toLong, v) }
      }
      .toDF("c_id", "pos", "val")
  }

  /** Reassemble [[kmeansTrain]]'s exploded micros output into the
    * `(c_id, cv: array<double>)` shape the ANN tiers consume (components
    * back on the float scale). Pass the result to [[ivfTopK]]'s
    * `centroids` to swap the stride-picked coarse quantizer for the
    * trained one — the index layout, probing, and plan are unchanged.
    */
  def kmeansCentroids(trained: DataFrame): DataFrame =
    trained
      .groupBy(col("c_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("val")))).as("pv"))
      .select(col("c_id"),
        transform(col("pv"), p => p.getField("val").cast("double") / lit(1048576.0)).as("cv"))

  /** Trained PQ codebook: per-subspace Lloyd k-means — the
    * `numSubspaces × numCodes × subDim` matrix [[pqTopK]] consumes via
    * its `codebook` parameter, replacing the stride-sliced default
    * exactly as Jégou et al. train theirs. All subspaces train in the
    * SAME [[lloydLoop]] passes (each vector explodes to `numSubspaces`
    * grouped slice-points), so the whole codebook costs one corpus scan
    * per iteration — not `numSubspaces` of them. Components land on the
    * 2²⁰ grid (~1e-6), which is where the ADC estimates live anyway.
    */
  def pqTrainCodebook(
      base: DataFrame,
      id: Column,
      vec: Column,
      numSubspaces: Int = 8,
      numCodes: Int = 16,
      iters: Int = 2,
      seedStride: Int = 16,
      convergeTol: Option[Long] = None): Array[Array[Array[Double]]] = {
    val spark = base.sparkSession
    import spark.implicits._
    val dim = base.select(vec.cast("array<double>").as("v"))
      .head().getSeq[Double](0).length
    require(dim % numSubspaces == 0,
      s"pqTrainCodebook: dim $dim not divisible by numSubspaces=$numSubspaces")
    val subDim = dim / numSubspaces
    val slices = array((0 until numSubspaces)
      .map(s => slice(microsOf(vec), s * subDim + 1, subDim)): _*)
    val pts = base.select(id.as("pid"),
        posexplode_outer(slices).as(Seq("grp", "mv")))
      .filter(col("mv").isNotNull)
      .select(col("grp"), col("pid"), col("mv"))
    val seeds: Array[((Int, Long), Array[Long])] = pts
      .filter(col("pid") % seedStride === 0 &&
        expr(s"pid div $seedStride") < numCodes)
      .select(col("grp"), expr(s"pid div $seedStride").as("c_id"), col("mv"))
      .as[(Int, Long, Array[Long])].collect()
      .sortBy(r => (r._1, r._2))
      .map { case (g, cid, cv) => (g, cid) -> cv }
    require(seeds.length == numSubspaces * numCodes,
      s"pqTrainCodebook: seeds need ids {0, $seedStride, …, " +
        s"${(numCodes - 1) * seedStride}} in the base table; found " +
        s"${seeds.length} of ${numSubspaces * numCodes} (subspace, code) seeds")
    val cents = lloydLoop(pts, seeds, iters, convergeTol).toMap
    Array.tabulate(numSubspaces)(s =>
      Array.tabulate(numCodes)(j => cents((s, j.toLong)).map(_ / 1048576.0)))
  }
}
