package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev utility: materialize an N×-scaled copy of a driver testdata dir so
  * the WHOLE query suite can run at 10× (the SURVEY §8 full-suite scaling
  * gate).
  *
  * Scaling model = TPC-H's: fact tables replicate with disjoint keys,
  * fixed dimensions (region/nation) stay fixed. Each replica k offsets
  * every entity key by k·10⁷, so intra-replica referential integrity is
  * exact (orders.o_custkey still hits customer.c_custkey, lineitem still
  * folds onto its orders) and cross-replica keys never collide. Content
  * columns are perturbed replica-locally where identical copies would
  * distort an operator's combinatorics instead of scaling them:
  *  - documents.text gets a per-replica suffix on EVERY word, so each
  *    replica keeps the base corpus's shingle/dup density with no
  *    cross-replica near-dups (10 identical corpora would grow the pair
  *    graph ~replicas², which is a different workload, not a scale-up);
  *  - embeddings get a per-replica sign-flip pattern (replicas don't rank
  *    identically but norms/distributions are preserved);
  *  - events keep their timestamps (per-user session density constant,
  *    user cardinality ×N — how a real event stream scales).
  *
  * Usage: runMain graft.ScaleUp [inDir] [outDir] [factor] [tables] [mode]
  * `tables` (comma-separated, default all) writes only the named tables —
  * a per-tier scale gate (e.g. the vector-store decades) doesn't pay for
  * a factor-1000 lineitem it never reads.
  *
  * `mode=adv` (round-16, VERDICT r15 task 1) swaps the DOCUMENTS plan for
  * an ADVERSARIAL corpus — the shape §14c's caveat says the PPJoin
  * length/positional filters exist for, which the standard scale-up
  * deliberately lacks (near-uniform doc lengths; per-replica suffixing
  * kills cross-replica candidates):
  *  - heavy-tailed lengths: each doc's body is resized to
  *    `clamp(round(n · lognormal(σ=1)), 64, 2048)` tokens (Irwin-Hall
  *    4-uniform normal from the doc id hash — deterministic, no RNG
  *    state). Extension blocks get a per-block token suffix so a long
  *    doc's shingle SET grows with its length instead of collapsing
  *    back onto the base set;
  *  - boilerplate families: 40% of docs append one of 20 fixed 24-token
  *    blocks VERBATIM — no replica suffix, no doc suffix — so each
  *    boilerplate shingle lands in ~2% of the corpus (the stop-shingle
  *    posting lists the containment tier's index side explodes).
  *    Block size vs the 64-token body floor keeps boilerplate-only
  *    overlap BELOW both thresholds (J ≈ 22/(22+124) ≈ 0.15 < 0.5;
  *    containment ≈ (22+bg)/84 < 0.7 at background body overlap), so
  *    candidates explode but true pairs stay workload-shaped — a filter
  *    stress test, not an output-size blowup.
  *  Other tables keep their standard scaling (customer's r-suffix etc.),
  *  so fuzzy-join numbers stay comparable with the r15 sf10 A/B.
  *
  * `mode=advemb` (round-17, VERDICT r16 task 2) swaps the EMBEDDINGS plan
  * for an ADVERSARIAL vector corpus — the lesson-53 doctrine applied to
  * the ANN recall contracts, whose every standing number is measured on
  * the stride-synthetic near-uniform testdata. Real embedding spaces are
  * CLUSTERED and ANISOTROPIC, exactly where IVF recall degrades
  * (imbalanced lists, probe misses at cluster boundaries):
  *  - Gaussian mixture, 32 components, Zipf-skewed masses (p_c ∝ 1/(c+1):
  *    the largest cluster holds ~24% of vectors, the smallest ~0.7% —
  *    imbalanced IVF lists by construction);
  *  - anisotropic spreads: per-cluster σ cycles 0.05–0.50, so tight
  *    clusters sit inside the overlap zone of diffuse ones (flat-argmax
  *    boundary cases, the two-level assignment's hard case);
  *  - varying norms: per-cluster lognormal norm scale × per-vector
  *    lognormal jitter (cosine tiers must be norm-invariant; dot-product
  *    shortcuts would rank differently — a contract stressor);
  *  - fully deterministic in vec_id (splitmix64 driver-side centers,
  *    xxhash64 Irwin-Hall per-dimension noise — the advDocs pattern), so
  *    re-generation is reproducible and clusters are corpus-global
  *    (masses GROW with the factor — list imbalance scales with N).
  *  Documents and the other tables keep their standard scaling.
  */
object ScaleUp {
  private val Off = 10000000L

  /** Adversarial embeddings transform (mode=advemb). Expects `vec_id`
    * already replica-offset; deterministic in vec_id alone (replicas
    * share the mixture — cluster mass scales with corpus size).
    */
  private[graft] def advEmbeddings(d: DataFrame, spark: SparkSession,
      dim: Int = 64, nClusters: Int = 32): DataFrame = {
    // driver-side deterministic center/σ/norm table (32 rows, broadcast)
    def mix(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    def unif(s: Long): Double = (mix(s) >>> 11).toDouble / (1L << 53).toDouble
    def normal(s: Long): Double =
      ((0 to 3).map(j => unif(s * 4 + j)).sum - 2.0) * math.sqrt(3.0)
    import spark.implicits._
    val centers = (0 until nClusters).map { c =>
      val ctr = (0 until dim).map(i => normal((c * dim + i).toLong))
      val sigma = 0.05 + 0.45 * (c % 8) / 7.0          // anisotropy
      val nscale = math.exp((c % 5 - 2) * 0.3)         // per-cluster norms
      (c, ctr, sigma, nscale)
    }.toDF("c", "ctr", "sigma", "nscale")
    // Zipf-skewed assignment via inverse CDF over a cumulative-mass array
    // literal: cluster = #{cum ≤ u} − 1 (cum(0) = 0, so always ≥ 1)
    val mass = (0 until nClusters).map(c => 1.0 / (c + 1))
    val h = mass.sum
    val cum = mass.scanLeft(0.0)(_ + _).dropRight(1).map(_ / h)
    def u(salt: Int) =
      (pmod(xxhash64(col("vec_id"), lit(salt)), lit(1000000L))
        .cast("double") + 0.5) / 1000000.0
    val cumArr = array(cum.map(lit): _*)
    val assigned = d.withColumn("c",
      size(filter(cumArr, x => x <= u(101))) - 1)
    // per-dimension Irwin-Hall(4) noise, per-vector lognormal norm jitter
    def z(iCol: Column, salt: Int) =
      ((pmod(xxhash64(col("vec_id"), iCol, lit(salt)), lit(1000000L))
        .cast("double") + 0.5) / 1000000.0)
    def zn(iCol: Column) =
      (z(iCol, 1) + z(iCol, 2) + z(iCol, 3) + z(iCol, 4) - 2.0) *
        math.sqrt(3.0)
    val jitter = exp((u(202) + u(203) + u(204) + u(205) - 2.0) *
      lit(math.sqrt(3.0) * 0.3))
    assigned.join(broadcast(centers), Seq("c"))
      .withColumn("embedding",
        transform(sequence(lit(0), lit(dim - 1)), i =>
          ((element_at(col("ctr"), i + 1) + col("sigma") * zn(i)) *
            col("nscale") * jitter).cast("float")))
      .drop("c", "ctr", "sigma", "nscale")
  }

  /** Adversarial per-replica documents transform (mode=adv). Expects
    * `doc_id` already replica-offset; deterministic in (doc_id, k).
    */
  private[graft] def advDocs(d: DataFrame, k: Int): DataFrame = {
    // body words carry the standard per-replica suffix (cross-replica
    // bodies stay non-near-dup; only the boilerplate is corpus-global)
    val toks = split(regexp_replace(col("text"), "(\\S+)", s"$$1r$k"), " ")
    val n = size(toks)
    def u(salt: Int) =
      (pmod(xxhash64(col("doc_id"), lit(salt)), lit(1000000L))
        .cast("double") + 0.5) / 1000000.0
    // Irwin-Hall(4): sum of 4 uniforms, mean 2, var 1/3 → approx N(0,1)
    val z = (u(1) + u(2) + u(3) + u(4) - 2.0) * math.sqrt(3.0)
    val target = least(greatest(round(n * exp(z)).cast("int"), lit(64)),
      lit(2048))
    val nblocks = ceil(target.cast("double") / n).cast("int")
    // block 0 is the original body; block b>0 suffixes every token with
    // the block index so repeated blocks contribute NEW shingles (a
    // plain repeat would collapse into the base set and the "long" doc
    // would not actually have a large set)
    val rep = flatten(transform(sequence(lit(0), nblocks - 1), b =>
      when(b === 0, toks)
        .otherwise(transform(toks, t => concat(t, lit("b"), b)))))
    val body = slice(rep, lit(1), target)
    val famId = pmod(xxhash64(col("doc_id"), lit(7)), lit(20))
    val block = transform(sequence(lit(0), lit(23)), i =>
      concat(lit("bp"), famId, lit("w"), i))
    val full = when(pmod(xxhash64(col("doc_id"), lit(13)), lit(100)) < 40,
      concat(body, block)).otherwise(body)
    d.withColumn("text", array_join(full, " "))
      .withColumn("n_chars", length(col("text")))
  }

  def main(args: Array[String]): Unit = {
    val inDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = if (args.length > 1) args(1) else "tmp/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val only: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).filter(_.nonEmpty).toSet
      else Set.empty
    val mode = if (args.length > 4) args(4) else "std"
    require(mode == "std" || mode == "adv" || mode == "advemb",
      s"unknown mode: $mode")
    val spark = Mains.session(defaultCpus = 32, logLevel = "ERROR")

    def read(t: String): DataFrame = spark.read.parquet(s"$inDir/$t.parquet")

    /** Replicate with key columns offset per replica; other columns mapped. */
    def replicate(df: DataFrame, keyCols: Seq[String],
        perReplica: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until factor).map { k =>
        val shifted = keyCols.foldLeft(df)((d, c) =>
          d.withColumn(c, col(c) + lit(k * Off)))
        perReplica(shifted, k)
      }.reduce(_ unionByName _)

    // thunked: a filtered run must not pay plan construction (1000-way
    // unionByName analyses) for tables it never writes
    val plans: Seq[(String, () => DataFrame)] = Seq(
      "region" -> (() => read("region")),
      "nation" -> (() => read("nation")),
      // c_name gets the same per-replica suffix treatment as documents.text:
      // identical names across replicas would grow the fuzzy-join pair
      // graph ~replicas² (every replica of "Customer#42" matches every
      // other), which is a different workload, not a scale-up. The replica
      // digit is doubled ("r00" vs "r11") so any two replicas differ by ≥2
      // edits — a single-digit suffix left cross-replica copies at edit
      // distance 1, still inside the fuzzy join's neighborhood
      "customer" -> (() => replicate(read("customer"), Seq("c_custkey"), (d, k) =>
        d.withColumn("c_name", concat(col("c_name"), lit(s"r$k$k"))))),
      "supplier" -> (() => replicate(read("supplier"), Seq("s_suppkey"))),
      "part" -> (() => replicate(read("part"), Seq("p_partkey"))),
      "orders" -> (() => replicate(read("orders"), Seq("o_orderkey", "o_custkey"))),
      "lineitem" -> (() => replicate(read("lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey"))),
      "events" -> (() => replicate(read("events"), Seq("event_id", "user_id"))),
      "documents" -> (() => replicate(read("documents"), Seq("doc_id"), (d, k) =>
        if (mode == "adv") advDocs(d, k)
        else d.withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1r$k"))
          .withColumn("n_chars", length(col("text"))))),
      // advemb applies ONCE over the unioned replicas (deterministic in
      // the offset vec_id), not per replica — one 32-row broadcast join
      // in the plan instead of `factor` of them
      "embeddings" -> (() =>
        if (mode == "advemb")
          advEmbeddings(replicate(read("embeddings"), Seq("vec_id")), spark)
        else replicate(read("embeddings"), Seq("vec_id"), (d, k) =>
          d.withColumn("embedding", transform(col("embedding"),
            (x, i) => when(i % 10 === k % 10, -x).otherwise(x))))))

    val unknown = only -- plans.map(_._1).toSet
    require(unknown.isEmpty, s"unknown tables: ${unknown.mkString(", ")}")
    plans.filter(p => only.isEmpty || only(p._1)).foreach { case (t, mk) =>
      val t0 = System.nanoTime()
      mk().repartition(if (t == "region" || t == "nation") 1 else 8)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(f"$t: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    spark.stop()
  }
}
