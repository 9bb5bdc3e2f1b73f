package graft.queries

import graft.TestSpark

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Window-order TOTALITY as a standing spec (round-15 lesson 51, VERDICT
  * r15 task 3): a benched window whose ORDER BY is not a total order over
  * the real data emits legally order-divergent rows — the w2/w3 bug that
  * sf0.01 passed by luck and sf0.1 exposed (84 `(l_shipdate, l_orderkey,
  * l_linenumber)` tie-groups with DIFFERING `l_quantity` → 350 of 600k
  * rows nondeterministic). That round's repo-wide audit was manual; this
  * spec is the audit, re-run on every build, against BOTH driver testdata
  * scales.
  *
  * The determinism contract, per window: the emitted multiset must be
  * invariant under any permutation of rows WITHIN a tie group of the
  * (partition ++ order-key) tuple. Sufficient conditions, one per entry
  * kind below:
  *
  *  - UNIQUE: tie groups are singletons because the order key ends in a
  *    unique id. Every rank/lag/lead window in the repo closes with such
  *    a tiebreak (o_orderkey, event_id, doc_id, vec_id, c_id, s_id,
  *    file_id, grouped keys…), so the load-bearing fact is the UNIQUENESS
  *    of those columns in the data — asserted here table by table.
  *  - TIE-IDENTICAL: ties may exist, but every column the window function
  *    CONSUMES or the query EMITS outside the key must be value-identical
  *    within a tie group (the w2/w3 fix's contract: `l_quantity` joined
  *    the ORDER BY, making the running multiset order-invariant). The
  *    runtime check — `countDistinct(struct(reads)) == 1` per key group —
  *    is exactly the query that would have caught the original bug had
  *    `reads` not been folded into the key.
  *  - ORDER-INSENSITIVE: the window function ignores intra-partition
  *    order entirely (whole-partition max/count/sum frames: w5's
  *    `max(dense_rank)` emulation, Layout's bin aggregates). Documented
  *    in the registry, nothing to assert.
  *
  * A window with NO partition key runs in one task over its whole input,
  * so that input must be bounded by something other than the corpus. The
  * UNPARTITIONED registry names each such site's bound; its guard counts
  * the sites per file, and the limit-bounded ones are checked in the
  * plan.
  *
  * COMPLETENESS GUARD: the per-file `.over(` call-site counts in
  * src/main are pinned below. Adding (or removing) a window anywhere
  * fails this spec until the new site is classified into the registry —
  * that is the point: totality is an invariant someone must CLAIM, not a
  * property anyone may silently assume.
  */
class WindowOrderTotalitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // both driver scales: sf0.01 is the driver's correctness gate, sf0.1
  // its bench scale — the w2/w3 bug was invisible at the former and real
  // at the latter, so both must hold
  private val sfDirs =
    Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
      .filter(d => new java.io.File(d).isDirectory)

  private def read(dir: String, table: String): DataFrame =
    spark.read.parquet(s"$dir/$table.parquet")

  /** UNIQUE entries: (table, key columns) that must have no duplicate
    * tuples. Each line lists the windows whose totality rests on it.
    */
  private val uniqueKeys: Seq[(String, Seq[String], String)] = Seq(
    // w1_rank, w4_lag_lead: Window.partitionBy(o_custkey)
    //   .orderBy(o_orderdate, o_orderkey); topk_orders / q10's
    //   deterministic sort-limit tiebreaks
    ("orders", Seq("o_orderkey"), "w1/w4/topk_orders/q10"),
    // e2_sessionize: Window.partitionBy(user_id).orderBy(ts, event_id);
    // e5/e10/e11 as-of and interval tiebreaks
    ("events", Seq("event_id"), "e2 sessionize + as-of/interval ties"),
    // every doc-keyed rank: Dedup rarest-first rk (doc-partitioned over
    // distinct shingles), d9 keepBest (_m_score desc, _m_id asc), Corpus
    // quota/weighted/Gumbel samples (_ord, _id), c19/c20/c4/c7 pack and
    // order ranks (…, doc_id), Search keywordTopK (score desc, doc_id)
    ("documents", Seq("doc_id"), "Dedup/Corpus/Search doc-id tiebreaks"),
    // every Similarity/VectorIndex rank: (cos_ud desc, vec_id asc) and
    // friends; centroid ids c_id/s_id derive from vec_id stride picks.
    // The IVF probe core in Similarity holds every IVF window once, for
    // the in-memory tiers and VectorIndex's store probes alike
    // (VectorIndex has no window of its own): `topK`, the one result rank
    // ((cos_ud desc, vec_id asc), UNIQUE via vec_id — also the
    // brute-force and RP tails); `massGate`, the one probe-mass cumsum of
    // the Mass and HierMass probes ((c_dot desc, c_id asc), UNIQUE: each
    // centroid appears once per query — the flat, super and leaf gates,
    // and the filtered probe's inner-join variant); and `pqPool`, the one
    // ADC rank ((est asc, vec_id asc), UNIQUE via vec_id) with its
    // adaptive-pool cand_n count (whole-q_id-partition count —
    // ORDER-INSENSITIVE).
    ("embeddings", Seq("vec_id"), "Similarity/VectorIndex rank tiebreaks"),
    ("customer", Seq("c_custkey"), "fuzzy-join id tiebreaks"),
    ("part", Seq("p_partkey"), "join/agg determinism"),
    ("supplier", Seq("s_suppkey"), "join/agg determinism"))

  for (dir <- sfDirs; (table, key, why) <- uniqueKeys)
    test(s"UNIQUE $table(${key.mkString(",")}) at $dir — $why") {
      val dups = read(dir, table).groupBy(key.map(col): _*)
        .agg(count(lit(1)).as("_n")).filter(col("_n") > 1)
      val sample = dups.take(3).toSeq
      assert(sample.isEmpty,
        s"duplicate key tuples in $table at $dir: ${sample.mkString("; ")}")
    }

  /** TIE-IDENTICAL entries: (label, table, full window key =
    * partition ++ ORDER BY, reads = columns consumed by the window
    * function or emitted outside the key). The check asserts every key
    * tie group is value-identical on `reads`; with `reads` folded into
    * the key (the w2/w3 fix) it passes by construction TODAY, and it is
    * the query that fails the moment either side drifts — a regenerated
    * testdata set, a new read column, or a trimmed ORDER BY.
    */
  private val tieIdentical: Seq[(String, String, Seq[String], Seq[String])] =
    Seq(
      ("w2_running_sum/w3_moving_avg", "lineitem",
        Seq("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber",
          "l_quantity"),
        Seq("l_quantity")))
  // ORDER-INSENSITIVE (nothing to assert, classified for the guard):
  //  - w5_window_distinct: max(dense_rank) over the WHOLE partition —
  //    invariant; dense_rank itself gives tied rows equal rank.
  //  - Layout.compactionPlan bin aggregates (count/sum over the whole
  //    (group, bin) frame); running offset orders by unique file_id.
  //  - Corpus.countedTierMap: window over groupBy-distinct score rows.
  //  - Corpus pack/batch frames: whole-(shard,pack) sums; position ranks
  //    order by (n_tokens, doc_id) — unique via doc_id (claimed above).
  //  - e1/e12/e13 windowed counts: frame is the (window_start,
  //    event_type) groupBy result — unique by construction; e12's rank
  //    breaks count ties on event_type (in the key), e13 lags over
  //    window_start (in the key).

  for (dir <- sfDirs; (label, table, key, reads) <- tieIdentical)
    test(s"TIE-IDENTICAL $label at $dir") {
      val bad = read(dir, table).groupBy(key.map(col): _*)
        .agg(countDistinct(struct(reads.map(col): _*)).as("_nv"))
        .filter(col("_nv") > 1)
      val sample = bad.take(3).toSeq
      assert(sample.isEmpty,
        s"$label: tie groups with divergent reads at $dir: " +
          sample.mkString("; "))
    }

  // ------------------------------------------------------------------
  // Guards: fail when the window inventory or the fixed orders change
  // without this registry being revisited.
  // ------------------------------------------------------------------

  private def src(path: String): String = {
    val s = scala.io.Source.fromFile(path, "UTF-8")
    try s.mkString finally s.close()
  }

  /** Every Scala source under src/main as (path below `graft/`, text). */
  private def mainSources(): Seq[(String, String)] = {
    val root = new java.io.File("src/main/scala/graft")
    assume(root.isDirectory, "spec must run from the repo root")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(root).map(f =>
      f.getPath.stripPrefix("src/main/scala/graft/") -> src(f.getPath))
  }

  test("completeness guard: per-file .over( call-site counts are pinned") {
    // Counts as of round 16. On mismatch: classify the new/changed
    // window into this spec's registry (UNIQUE / TIE-IDENTICAL /
    // ORDER-INSENSITIVE), then update the pin.
    val pinned = Map(
      "operators/AsOfJoin.scala" -> 1,
      "operators/Corpus.scala" -> 7,
      "operators/Dedup.scala" -> 7,
      "operators/Layout.scala" -> 3,
      "operators/Search.scala" -> 3,
      "operators/Similarity.scala" -> 14,
      "operators/SkewAgg.scala" -> 1,
      "queries/AnalyticsQueries.scala" -> 9,
      "queries/PipelineQueries.scala" -> 9)
    val actual = mainSources().map { case (f, text) =>
      f -> text.sliding(".over(".length).count(_ == ".over(")
    }.filter(_._2 > 0).toMap
    assert(actual == pinned,
      s"window call-site inventory changed — classify the new sites in " +
        s"WindowOrderTotalitySpec, then re-pin.\n  added/changed: " +
        s"${(actual.toSet -- pinned.toSet).toSeq.sorted}\n  removed: " +
        s"${(pinned.toSet -- actual.toSet).toSeq.sorted}")
  }

  /** UNPARTITIONED windows per file: (site count, what bounds each
    * site's input). A site is a `Window.orderBy(` with no partitionBy,
    * an empty `.over()`, or a Spark SQL `over (order by` in an `expr`.
    */
  private val unpartitioned: Map[String, (Int, String)] = Map(
    "operators/SkewAgg.scala" -> (2, "skewReport's rank and its SQL " +
      "`sum(n) over (order by …)` cumulative share: the limit(topN) rows"),
    "operators/Dedup.scala" -> (1, "boilerplateReport's rank: the " +
      "limit(topN) rows"),
    "operators/Similarity.scala" -> (1, "hierSupers' centroid rank: the " +
      "centroid set (config-sized)"),
    "operators/Corpus.scala" -> (1, "countedTierMap's cumulative count: " +
      "the distinct score values"),
    "queries/AnalyticsQueries.scala" -> (1, "q23's year-over-year lag: " +
      "the month series"),
    "queries/PipelineQueries.scala" -> (1, "s16's lexical rank: " +
      "keywordTopK's k = 20 rows"))

  test("unpartitioned guard: every window without a partition key has a named bound") {
    // comment lines and the oracle's stripMargin SQL (`|`-prefixed DuckDB
    // text, never planned by Spark) are not Spark windows
    val site = ("Window\\s*\\.orderBy\\(|\\.over\\(\\s*\\)|" +
      "(?i:over\\s*\\(\\s*order\\s+by)").r
    val actual = mainSources().map { case (f, text) =>
      val code = text.split("\n").filterNot { l =>
        val t = l.trim
        t.startsWith("//") || t.startsWith("*") || t.startsWith("/**") ||
          t.startsWith("|")
      }.mkString("\n")
      f -> site.findAllIn(code).size
    }.filter(_._2 > 0).toMap
    assert(actual == unpartitioned.map { case (f, (n, _)) => f -> n },
      s"unpartitioned windows changed — name each new site's bound here." +
        s"\n  now: ${actual.toSeq.sorted}")
  }

  test("plan: the limit-bounded unpartitioned windows sit above their limit") {
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Window}
    import spark.implicits._
    val topN = 3
    val keys = (1 to 40).map(i => (i.toLong % 7, i.toLong)).toDF("k", "v")
    val docs = (1 to 12).map(i => (i.toLong,
      s"the quick brown fox jumps over the lazy dog number ${i % 4} again"))
      .toDF("doc_id", "text")
    Seq(
      "SkewAgg.skewReport" ->
        graft.operators.SkewAgg.skewReport(keys, col("k"), topN),
      "Dedup.boilerplateReport" -> graft.operators.Dedup.boilerplateReport(
        docs, col("doc_id"), col("text"), k = 3, topN = topN)
    ).foreach { case (op, df) =>
      val windows = df.queryExecution.optimizedPlan.collect {
        case w: Window if w.partitionSpec.isEmpty => w
      }
      assert(windows.nonEmpty, s"$op: no unpartitioned window in the plan")
      windows.foreach { w =>
        val limits = w.child.collect {
          case l: GlobalLimit => l.limitExpr.eval().asInstanceOf[Int]
        }
        assert(limits == Seq(topN),
          s"$op: the window's input is not bounded by limit($topN): $limits")
      }
      assert(df.count() == topN, op)
    }
  }

  test("source guard: the lineitem running windows keep l_quantity in ORDER BY") {
    // the exact regression class of lesson 51: w2/w3's ORDER BY must end
    // in the read column that makes ties value-identical
    val text = src("src/main/scala/graft/queries/AnalyticsQueries.scala")
    val hits = "col\\(\"l_quantity\"\\).asc".r.findAllIn(text).size
    assert(hits >= 2,
      "expected both w2 and w3 lineitem windows to order by l_quantity " +
        s"(found $hits of 2 occurrences) — removing it reintroduces the " +
        "non-total order fixed in round 15 (commit b2b801d)")
  }
}
