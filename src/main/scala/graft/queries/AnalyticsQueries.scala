package graft.queries

import graft.sources.Sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Analytics extensions beyond the reference surface (SURVEY.md §2 lists
  * these as NOT implemented there; the north star asks for them as
  * first-class scope): aggregation, distinct, window functions, sorts,
  * top-k, set operations, semi/anti joins. All plain DataFrame API —
  * Catalyst plans partial aggregation (map-side combine) and broadcasts
  * small dimensions without any hand-scheduling.
  *
  * Determinism note: every money aggregate is computed in exact DECIMAL
  * (associative, order-independent) and cast back to DOUBLE at the end —
  * raw double sums differ in final bits between Spark's shuffle order and
  * DuckDB's sequential scan, which would break the driver's hash compare.
  */
object AnalyticsQueries {

  private type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Sources.parquet(s, s"$dir/$name.parquet")

  /** exact-decimal revenue term: extendedprice * (1 - discount) */
  private val revenueTerm =
    expr("CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))")
  private val revenueTermSql =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))"

  // TPC-H Q1-style pricing summary: groupBy + partial-agg-friendly sums
  private val q1: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double").as("sum_base_price"),
        sum(revenueTerm).cast("double").as("sum_disc_price"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        count(lit(1)).as("count_order"))

  // Q3-style: selective dimension filter + join + grouped revenue
  private val q3: Q = (s, dir) => {
    val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val orders = t(s, dir, "orders")
    val li = t(s, dir, "lineitem")
    // customer is the small filtered side — broadcast it so the
    // orders⋈customer join is shuffle-free; orders⋈lineitem shuffles on
    // the natural key once.
    orders
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(sum(revenueTerm).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  // Q5-style: five-way join, revenue per nation (dimensions broadcast)
  private val q5: Q = (s, dir) => {
    val region = t(s, dir, "region").filter(col("r_name") === "ASIA")
    val nation = t(s, dir, "nation")
    val supplier = t(s, dir, "supplier")
    val customer = t(s, dir, "customer")
    val li = t(s, dir, "lineitem")
    li.join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .join(customer,
        col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(revenueTerm).cast("double").as("revenue"))
  }

  // TPC-H Q4-style: correlated EXISTS subquery through the spark.sql
  // entry path (decorrelated by Catalyst into a semi-join)
  private val q4: Q = (s, dir) => {
    t(s, dir, "orders").createOrReplaceTempView("orders_v")
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
    s.sql(
      """SELECT o_orderpriority, count(*) AS n
        |FROM orders_v
        |WHERE EXISTS (SELECT 1 FROM lineitem_v
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45.0)
        |GROUP BY o_orderpriority""".stripMargin)
  }

  // scalar correlated subquery — the OTHER decorrelation path (q4 covers
  // EXISTS → semi-join; a correlated scalar aggregate decorrelates into a
  // grouped aggregate + equi-join). Each customer's maximum-price orders.
  private val q6: Q = (s, dir) => {
    t(s, dir, "orders").createOrReplaceTempView("orders_v")
    s.sql(
      """SELECT o_custkey, o_orderkey, o_totalprice
        |FROM orders_v o
        |WHERE o_totalprice = (SELECT max(o2.o_totalprice) FROM orders_v o2
        |                      WHERE o2.o_custkey = o.o_custkey)""".stripMargin)
  }

  // TPC-H Q7-style: nation-pair trade flow — the same dimension table
  // (nation) joined twice under different aliases, supplier side and
  // customer side, both broadcast; the fact table shuffles once for the
  // final (supp_nation, cust_nation) aggregation
  private val q7: Q = (s, dir) => {
    val nation = t(s, dir, "nation")
    val n1 = nation.select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = nation.select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "supplier").select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(t(s, dir, "customer").select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .filter(col("supp_nation") =!= col("cust_nation")) // cross-border only
      .groupBy(col("supp_nation"), col("cust_nation"))
      .agg(sum(revenueTerm).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  // pivot: grouped counts rotated into columns. Explicit pivot values →
  // Catalyst plans ONE aggregation (no values-discovery job, the trap of
  // the value-less overload); empty cells coalesced to 0 to match SQL
  // conditional-count semantics
  private val q11: Q = (s, dir) =>
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))

  // TPC-H Q12-style conditional aggregation over a join: one pass over the
  // joined rows computes both branch counts (no per-branch scans); the
  // fact table shuffles once on the join key, partial aggs combine
  // map-side
  private val q12: Q = (s, dir) =>
    t(s, dir, "lineitem").select("l_orderkey", "l_returnflag")
      .join(t(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))

  // TPC-H Q14-style conditional-aggregate ratio (promo revenue share):
  // numerator and denominator in the SAME grouped pass — the naive
  // two-query formulation would scan the join twice. Exact decimal sums;
  // the final division is double-on-identical-operands, rounded to 6
  private val q14: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part").select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        round(lit(100.0) * sum(when(col("p_type") === "PROMO", revenueTerm))
          .cast("double") / sum(revenueTerm).cast("double"), 6).as("promo_pct"),
        count(lit(1)).as("n_items"))

  // TPC-H Q18-style: aggregate-as-join-input with HAVING — the grouped
  // sum runs BEFORE the joins, so only qualifying orderkeys (a tiny set)
  // reach the join; AQE sees the post-filter size and broadcasts it
  private val q18: Q = (s, dir) => {
    val big = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("decimal(12,2)")).as("sum_qty"))
      .filter(col("sum_qty") > 300)
    t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(t(s, dir, "customer").select("c_custkey", "c_name"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_totalprice"), col("sum_qty").cast("double").as("sum_qty"))
  }

  // TPC-H Q19-style disjunctive join predicate: OR-of-ANDs mixing both
  // sides. Catalyst extracts the common p_partkey equi-join and pushes
  // the CNF-convertible per-side conjuncts into each scan, so the OR
  // does not force a nested-loop join
  private val q19: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part").select("p_partkey", "p_brand", "p_size")),
        col("l_partkey") === col("p_partkey") && (
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30))))
      .agg(sum(revenueTerm).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))

  // TPC-H Q22-style: uncorrelated scalar-average subquery + correlated
  // NOT EXISTS in one query — Catalyst plans the scalar as a one-row
  // broadcast and the NOT EXISTS as an anti-join. The average is
  // exact-decimal sum / count (identical double in both engines), never
  // a shuffle-order-dependent double avg
  private val q22: Q = (s, dir) => {
    t(s, dir, "customer").createOrReplaceTempView("customer_v")
    t(s, dir, "orders").createOrReplaceTempView("orders_v")
    s.sql(
      """SELECT c_mktsegment, count(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
        |FROM customer_v
        |WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
        |                          / COUNT(*)
        |                   FROM customer_v WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders_v
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment""".stripMargin)
  }

  // window: lag/lead navigation (the offset shape w1-w3's rank/frame
  // windows don't cover) — previous order's price and next order's key
  // per customer, deterministic via the unique-key tiebreak
  private val w4: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
      .withColumn("next_orderkey", lead(col("o_orderkey"), 1).over(w))
      .select(col("o_custkey"), col("o_orderkey"),
        col("prev_price"), col("next_orderkey"))
  }

  // arbitrary GROUPING SETS — the shapes rollup/cube can't express
  // ((flag), (status): two independent groupings, NO combined or grand
  // total) — one Expand pass, grouping_id() disambiguates the set;
  // spark.sql is the entry (the DataFrame API has no grouping-sets verb)
  private val gs: Q = (s, dir) => {
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
    s.sql(
      """SELECT l_returnflag, l_linestatus, grouping__id AS gid,
        |  count(*) AS n
        |FROM lineitem_v
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin)
  }

  // windowed distinct count — COUNT(DISTINCT) OVER is unsupported in
  // Spark; the standard emulation attaches max(dense_rank) over the same
  // partition, which equals the distinct count, without collapsing rows
  private val w5: Q = (s, dir) => {
    val byPart = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_partkey").asc)
    val whole = Window.partitionBy(col("l_suppkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, dir, "lineitem")
      .withColumn("_dr", dense_rank().over(byPart))
      .withColumn("n_distinct_parts", max(col("_dr")).over(whole).cast("long"))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("n_distinct_parts"))
  }

  // bloom-prefiltered dimension join: the filtered part slice's key SET
  // rides to the fact scan as a few KB of codegen'd bloom bits, so
  // lineitem is cut to ~matching rows BEFORE the join shuffle; the exact
  // join then kills the bloom's false positives, making the result
  // identical to the plain join the oracle runs
  private val q8: Q = (s, dir) => {
    val dim = t(s, dir, "part")
      .filter(col("p_size") <= 5)
      .select("p_partkey", "p_brand")
    graft.operators.BloomJoin.innerJoin(
        t(s, dir, "lineitem"), "l_partkey", dim, "p_partkey",
        expectedItems = 200000)
      .groupBy(col("p_brand"))
      .agg(sum(revenueTerm).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  // TPC-H Q10-style: returned-items revenue per customer, top 20 — an
  // aggregate-then-top-k pipeline (grouped agg, deterministic
  // double-sort with unique tiebreak, limit)
  private val q10: Q = (s, dir) =>
    t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .agg(sum(revenueTerm).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)

  // window: bounded-frame moving sum/average (3 preceding .. current) —
  // the frame variant w2's unbounded prefix sum doesn't cover. The sum
  // is exact decimal; the average divides two exactly-equal operands in
  // both engines, rounded to 6 digits for the hash compare.
  private val w3: Q = (s, dir) => {
    // same tie hazard as w2 — quantity completes the order
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate").asc, col("l_orderkey").asc,
        col("l_linenumber").asc, col("l_quantity").asc)
      .rowsBetween(-3, Window.currentRow)
    t(s, dir, "lineitem")
      .withColumn("msum",
        sum(col("l_quantity").cast("decimal(12,2)")).over(w).cast("double"))
      .withColumn("mavg", round(col("msum") / count(lit(1)).over(w), 6))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("msum"), col("mavg"))
  }

  // exact interpolated percentiles (Spark `percentile` ≡ DuckDB
  // quantile_cont, verified bit-identical on this data)
  private val a1: Q = (s, dir) =>
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(expr("percentile(o_totalprice, 0.5)").as("median_price"),
        expr("percentile(o_totalprice, 0.9)").as("p90_price"),
        count(lit(1)).as("n"))

  // quantiles over a deterministic bottom-k-by-hash row sample — the
  // bounded-state scale path beside a1's exact percentile, whose
  // per-group buffer holds every distinct value (unbounded at 100 TB).
  // Sample and interpolation replay exactly in the oracle (k rows with
  // the smallest id hashes; explicit quantile_cont formula on both sides)
  private val a4: Q = (s, dir) => {
    import graft.functions.{KmvSketch, QuantileSample}
    val k = 256
    val qs = udaf(new QuantileSample(k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Long, Double)]())
    t(s, dir, "orders")
      .select(col("o_orderpriority"),
        KmvSketch.hash(col("o_orderkey")).as("h"),
        col("o_orderkey").as("id"), col("o_totalprice").as("v"))
      .groupBy(col("o_orderpriority"))
      .agg(qs(col("h"), col("id"), col("v")).as("sample"),
        count(lit(1)).as("n"))
      .select(col("o_orderpriority"),
        round(QuantileSample.quantileCont(col("sample"), 0.5), 6).as("median_est"),
        round(QuantileSample.quantileCont(col("sample"), 0.9), 6).as("p90_est"),
        size(col("sample")).cast("long").as("sample_n"),
        col("n"))
  }

  // one-pass table profile across the four column types (int, double,
  // string, timestamp) — the pre-ingest data-quality sweep. The scan is
  // rebalanced first: the testdata file is one row group = one task, and
  // the ×(cols+1) Expand + dedup aggregate is the per-row-heavy stage
  // that must not run on a single core (SURVEY §8.1)
  private val a2: Q = (s, dir) =>
    graft.operators.Profile.profile(
      PipelineQueries.rebalance(s, t(s, dir, "orders")),
      Seq("o_orderkey", "o_totalprice", "o_orderstatus", "o_orderdate"))

  // sketch-tier profile: one pass, NO Expand — per-column null counts +
  // KMV approximate distincts (32 longs of mergeable state per column);
  // a2's exact-distinct companion for the 100 TB pre-ingest sweep
  private val a5: Q = (s, dir) =>
    graft.operators.Profile.profileSketch(
      PipelineQueries.rebalance(s, t(s, dir, "documents")),
      Seq("doc_id", "lang", "source", "n_chars"), k = 32)

  // equi-width price histogram with zero-filled empty buckets — the
  // distribution half of the profiling tier (a2 is the summary half)
  private val a3: Q = (s, dir) =>
    graft.operators.Profile.histogram(t(s, dir, "orders"),
      col("o_totalprice"), lo = 0.0, hi = 600000.0, buckets = 20)

  // exact distinct aggregation
  private val aggDistinct: Q = (s, dir) =>
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("n_cust"),
        count(lit(1)).as("n_orders"))

  // window: rank each customer's orders (unique tiebreak → deterministic)
  private val w1: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("rn"))
  }

  // window: running per-supplier quantity (ordered prefix sum, exact decimal)
  private val w2: Q = (s, dir) => {
    // (l_orderkey, l_linenumber) is NOT unique in the generated data
    // (measured: 8 same-key tie-groups with DIFFERING quantity at sf0.01,
    // 84 at sf0.1), so l_quantity joins the ORDER BY: ties are then
    // value-identical and the emitted running multiset is order-invariant
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate").asc, col("l_orderkey").asc,
        col("l_linenumber").asc, col("l_quantity").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "lineitem")
      .withColumn("running_qty",
        sum(col("l_quantity").cast("decimal(12,2)")).over(w).cast("double"))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("running_qty"))
  }

  // set operations (distinct semantics, like SQL UNION/INTERSECT/EXCEPT)
  private val setUnion: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      .union(c.filter(col("c_acctbal") > 9000.0).select(col("c_custkey")))
      .distinct()
  }
  private val setIntersect: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      .intersect(c.filter(col("c_acctbal") > 0.0).select(col("c_custkey")))
  }
  // customers minus customers holding a >400k order (non-empty at all SFs)
  private val setExcept: Q = (s, dir) => {
    val c = t(s, dir, "customer").select(col("c_custkey"))
    val bigOrderCusts = t(s, dir, "orders")
      .filter(col("o_totalprice") > 400000.0)
      .select(col("o_custkey").as("c_custkey"))
    c.except(bigOrderCusts)
  }

  // semi / anti joins (EXISTS / NOT EXISTS)
  // salted equi-join on a 3-value (maximally skewed) key: the declarative
  // skew knob, value-verified here — the oracle is the PLAIN join, since
  // salting must leave row-level semantics bit-identical
  private val jSalted: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val dim = li.groupBy(col("l_returnflag").as("flag"))
      .agg(count(lit(1)).as("n_flag"))
    graft.operators.SkewJoin.salted(
      li.select("l_orderkey", "l_linenumber", "l_returnflag"),
      col("l_returnflag"),
      col("l_orderkey") * 10 + col("l_linenumber"), // scatter key (need not be unique)
      dim, col("flag"), saltFactor = 8)
      .select("l_orderkey", "l_linenumber", "l_returnflag", "n_flag")
  }

  private val jSemi: Q = (s, dir) =>
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
  // NOT EXISTS over a filtered build side (non-empty at all SFs)
  private val jAnti: Q = (s, dir) =>
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_totalprice") > 400000.0),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))

  // deterministic top-k (unique tiebreak)
  private val topK: Q = (s, dir) =>
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
      .select(col("o_orderkey"), col("o_totalprice"))

  // rollup grouping sets (counts only — no float accumulation)
  private val rollupQ: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"))

  // full cube — all 2^2 grouping sets in one pass (Spark plans one Expand
  // + one aggregation, not four scans); exact decimal for the measure
  private val cubeQ: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"))

  // TPC-H Q13-style customer distribution: LEFT join with a predicate ON
  // the preserved side's partner (zero-order customers survive with
  // c_count = 0), then a second aggregation over the first's output —
  // the two-level agg never re-shuffles the fact table, only the
  // per-customer counts
  private val q13: Q = (s, dir) =>
    t(s, dir, "customer").select("c_custkey")
      .join(t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderpriority"),
        col("c_custkey") === col("o_custkey") &&
          col("o_orderpriority") =!= "5-LOW", "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))

  // TPC-H Q15-style top supplier: revenue-per-supplier aggregate, then
  // keep rows equal to the aggregate's own max — the scalar max is a
  // one-row broadcast over the (already tiny) agg output, so the fact
  // table is scanned exactly once. Ties all survive, like the spec.
  private val q15: Q = (s, dir) => {
    val rev = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(revenueTerm).cast("double").as("total_revenue"))
    rev.join(broadcast(rev.agg(max(col("total_revenue")).as("_mx"))),
        col("total_revenue") === col("_mx"))
      .join(t(s, dir, "supplier").select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
  }

  // TPC-H Q16-style supplier count with a NOT IN exclusion — Spark plans
  // the NOT IN as a null-aware anti-join (the semantics a plain anti-join
  // gets wrong when the subquery could yield nulls), then a distinct
  // count per (brand, size)
  private val q16: Q = (s, dir) => {
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
    t(s, dir, "part").createOrReplaceTempView("part_v")
    t(s, dir, "supplier").createOrReplaceTempView("supplier_v")
    s.sql(
      """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem_v JOIN part_v ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#12' AND p_size IN (1, 5, 9, 13, 17)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier_v
        |                        WHERE s_acctbal < 2000.0)
        |GROUP BY p_brand, p_size""".stripMargin)
  }

  // TPC-H Q17-style small-quantity revenue: a scalar subquery correlated
  // through the JOIN's other side (per-part average quantity) —
  // decorrelates into a grouped aggregate re-joined on p_partkey, so
  // lineitem is scanned twice but never nested-looped. The average is
  // exact-decimal sum / count (identical double both engines)
  private val q17: Q = (s, dir) => {
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
    t(s, dir, "part").createOrReplaceTempView("part_v")
    s.sql(
      """SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |             / 7.0, 6) AS avg_yearly,
        |  count(*) AS n_items
        |FROM lineitem_v JOIN part_v ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#13' AND p_type = 'ECONOMY'
        |  AND l_quantity < (
        |    SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(12,2))) AS DOUBLE)
        |                  / COUNT(*))
        |    FROM lineitem_v l2 WHERE l2.l_partkey = p_partkey)""".stripMargin)
  }

  // TPC-H Q20-style nested IN chain: suppliers who moved > 100 units of
  // any bolt part — the inner IN prunes parts first, the HAVING aggregate
  // runs on the pruned slice only, and both INs plan as semi-joins (no
  // distinct materialization of the subquery results)
  private val q20: Q = (s, dir) => {
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
    t(s, dir, "part").createOrReplaceTempView("part_v")
    t(s, dir, "supplier").createOrReplaceTempView("supplier_v")
    s.sql(
      """SELECT s_suppkey, s_name
        |FROM supplier_v
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem_v
        |  WHERE l_partkey IN (SELECT p_partkey FROM part_v
        |                      WHERE p_name LIKE '%bolt%')
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 100)""".stripMargin)
  }

  // TPC-H Q21-style waiting-supplier chain: one EXISTS and one NOT EXISTS
  // both correlated to the same outer lineitem on (orderkey, suppkey,
  // shipdate) — Catalyst decorrelates to a semi-join plus an anti-join on
  // l_orderkey with residual comparisons; the supplier who shipped LAST
  // in a multi-supplier finished order takes the blame
  private val q21: Q = (s, dir) => {
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
    t(s, dir, "orders").createOrReplaceTempView("orders_v")
    t(s, dir, "supplier").createOrReplaceTempView("supplier_v")
    s.sql(
      """SELECT s_name, count(*) AS numwait
        |FROM supplier_v
        |JOIN lineitem_v l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders_v ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem_v l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem_v l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > l1.l_shipdate)
        |GROUP BY s_name""".stripMargin)
  }

  // TPC-H Q9-style profit by nation and order year: five-way join where
  // every dimension (part slice, supplier, nation) broadcasts and the
  // fact shuffles once for the (nation, year) aggregation; the LIKE
  // filter prunes part BEFORE its broadcast
  private val q9: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part").filter(col("p_name").like("%bolt%"))
        .select("p_partkey")), col("l_partkey") === col("p_partkey"))
      .join(broadcast(t(s, dir, "supplier").select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation").select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .join(t(s, dir, "orders").select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(revenueTerm).cast("double").as("profit"))

  // robust per-source outlier profile: median + MAD (median absolute
  // deviation) of document length, and the count of docs beyond 3 MADs —
  // the outlier gate that, unlike mean/stddev, a handful of giant docs
  // cannot drag. Two exact interpolated-percentile reduces, each a tiny
  // per-source row broadcast back over the corpus; the only shuffles are
  // three per-source aggs. Inputs are BIGINT so every interpolated value
  // is an exact binary fraction (x.0/x.5) and the DuckDB quantile_cont
  // replay is bit-exact (cf. a1).
  private val a6: Q = (s, dir) => {
    val docs = t(s, dir, "documents").select(col("source"), col("n_chars"))
    val med = docs.groupBy("source")
      .agg(percentile(col("n_chars"), lit(0.5)).as("med_chars"))
    val dev = docs.join(broadcast(med), "source")
      .select(col("source"), col("med_chars"),
        abs(col("n_chars") - col("med_chars")).as("_ad"))
    val mad = dev.groupBy("source")
      .agg(percentile(col("_ad"), lit(0.5)).as("mad_chars"))
    dev.join(broadcast(mad), "source")
      .groupBy(col("source"), col("med_chars"), col("mad_chars"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("_ad") > lit(3.0) * col("mad_chars"), 1L).otherwise(0L))
          .as("n_outliers"))
  }

  // monthly revenue with year-over-year delta: the fact joins/aggregates
  // down to ~one row per month FIRST, so the unpartitioned lag window
  // runs on a config-sized frame (never the corpus); deltas computed in
  // exact decimal before the final double cast. Row-lag 12 ≡ month-lag
  // when every month has sales (true of this data; both engines use the
  // identical row-lag semantics either way).
  private val q23: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders").select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"))
      .agg(sum(revenueTerm).as("_rev"))
      .select(col("yr"), col("mo"), col("_rev").cast("double").as("revenue"),
        (col("_rev") - lag(col("_rev"), 12)
          .over(Window.orderBy(col("yr"), col("mo"))))
          .cast("double").as("yoy_delta"))
  }

  // RFM segmentation: recency (days since last order, against the global
  // max date — one single-row reduce broadcast back), frequency, monetary
  // (exact decimal). One grouped pass over orders; order dates are
  // midnight-aligned so the day diff is exact in both engines.
  private val q24: Q = (s, dir) => {
    val o = t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
    val maxd = o.agg(max(col("o_orderdate")).as("_maxd"))
    o.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("_lastd"), count(lit(1)).as("frequency"),
        sum(col("o_totalprice").cast("decimal(14,2)")).as("_m"))
      .crossJoin(broadcast(maxd))
      .select(col("o_custkey"),
        datediff(col("_maxd"), col("_lastd")).cast("long").as("recency_days"),
        col("frequency"), col("_m").cast("double").as("monetary"))
  }

  // winsorization: clip each doc's length to its source's [p05, p95] band
  // — outlier taming that keeps rows (unlike a filter gate). Two exact
  // interpolated percentiles per source (a tiny frame) broadcast back;
  // same bit-exact quantile_cont parity as a1/a6.
  private val a8: Q = (s, dir) => {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars"))
    val pct = docs.groupBy("source").agg(
      percentile(col("n_chars"), lit(0.05)).as("p05"),
      percentile(col("n_chars"), lit(0.95)).as("p95"))
    docs.join(broadcast(pct), "source")
      .select(col("doc_id"), col("source"), col("n_chars"),
        greatest(col("p05"), least(col("p95"), col("n_chars").cast("double")))
          .as("clipped"))
  }

  // pre-flight System-R join cardinality estimate: one tiny agg per side,
  // DECIMAL(38,0) product + integral divide — the broadcast/reducer-count
  // decision BEFORE paying for the join
  private val a7: Q = (s, dir) =>
    graft.operators.Profile.joinCardinalityEstimate(
      t(s, dir, "orders"), col("o_orderkey"),
      t(s, dir, "lineitem"), col("l_orderkey"))

  // TPC-H Q8-style national market share: ECONOMY parts sold to EUROPE
  // customers in 1996–97; NATION_7's share of supplier revenue per order
  // year. Numerator and denominator are exact-decimal sums sharing ONE
  // grouped pass (a CASE branch, not a second scan); every dimension —
  // part slice, supplier, both nation aliases, region — broadcasts, and
  // the only fact shuffle is lineitem⋈orders on the order key.
  private val q8m: Q = (s, dir) => {
    val eurCust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      .join(broadcast(t(s, dir, "nation").select("n_nationkey", "n_regionkey")
          .join(t(s, dir, "region").filter(col("r_name") === "EUROPE"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey")
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
      .join(eurCust, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "o_orderdate")
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part").filter(col("p_type") === "ECONOMY")
          .select("p_partkey")), col("l_partkey") === col("p_partkey"))
      .join(broadcast(t(s, dir, "supplier").select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(round(
        sum(when(col("supp_nation") === "NATION_7", revenueTerm)).cast("double")
          / sum(revenueTerm).cast("double"), 6).as("mkt_share"))
  }

  // Z-order (Morton) clustering key over two pruning dimensions — the
  // multi-dim layout key Layout.writeZordered sorts by; pure integer bit
  // cascade, replayed bit-for-bit by the oracle. Dim 2 buckets the price
  // to integer resolution (zone pruning is file-granular anyway).
  private val z1: Q = (s, dir) =>
    t(s, dir, "orders")
      .select(col("o_orderkey"),
        graft.operators.Layout.zorderKey(
          col("o_custkey"), floor(col("o_totalprice") / 100.0).cast("long"))
          .as("zkey"))

  // join-key skew profile on the orders→customer key: the pre-join
  // diagnostic that sizes salting/AQE skew handling
  private val a9: Q = (s, dir) =>
    graft.operators.SkewAgg.skewReport(t(s, dir, "orders"), col("o_custkey"), topN = 20)

  // sketch-tier join cardinality: a7's System-R formula with KMV distinct
  // estimates (k longs of state per side) instead of count(DISTINCT) —
  // the pre-join planning probe that never shuffles raw keys
  private val a11: Q = (s, dir) =>
    graft.operators.Profile.joinCardinalitySketch(
      t(s, dir, "orders"), col("o_custkey"),
      t(s, dir, "customer"), col("c_custkey"), k = 64)

  // TPC-H Q6: the canonical pushdown showcase — every predicate reaches
  // the parquet scan (PushedFilters on shipdate/discount/quantity), the
  // scan reads exactly the four referenced columns, and the whole query
  // is one partial-agg reduce with no shuffle of raw rows
  private val q6f: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(
        sum(expr("CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))"))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))

  // grouped correlation/regression moments in ONE algebraic pass: exact
  // integer second moments (quantity units, price cents) so the slope is
  // bit-reproducible, DECIMAL(38,0) sums so a 100 TB group cannot
  // overflow (Σ cents² at 6e9 rows ≈ 6e23 > BIGINT). Everything is
  // map-side-combinable — the shuffle carries one partial row per
  // (partition, flag), never raw rows; corr/variance/slope are all
  // derivable downstream from these six sufficient statistics without
  // another data pass.
  private val a10: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .select(col("l_returnflag"),
        col("l_quantity").cast("long").as("q"),
        round(col("l_extendedprice") * 100).cast("long").as("pc"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("q").cast("decimal(38,0)")).as("sum_q"),
        sum(col("pc").cast("decimal(38,0)")).as("sum_pc"),
        sum((col("q") * col("q")).cast("decimal(38,0)")).as("sum_qq"),
        sum((col("q") * col("pc")).cast("decimal(38,0)")).as("sum_qpc"),
        // pc² ≤ 1e14 fits a LONG — multiply in long (codegen'd primitive),
        // cast only the product for the overflow-safe decimal SUM; a
        // per-row BigDecimal multiply here costs ~6× the whole query
        sum((col("pc") * col("pc")).cast("decimal(38,0)")).as("sum_pcpc"))
      // regression slope as an exact rational (num/den), NOT a rounded
      // quotient: decimal division rounds at an engine-chosen scale before
      // any floor, so the quotient is the one derived stat that could
      // diverge between engines at a boundary — the exact pair cannot
      .withColumn("slope_num",
        (col("n") * col("sum_qpc") - col("sum_q") * col("sum_pc"))
          .cast("decimal(38,0)"))
      .withColumn("slope_den",
        (col("n") * col("sum_qq") - col("sum_q") * col("sum_q"))
          .cast("decimal(38,0)"))
      // compare-safe surface: the driver hashes TEXT, and DuckDB's .df()
      // canonicalizes DECIMAL to float64 (9 sig digits) while Spark keeps
      // exact Decimal — so any >9-digit sum textually mismatches despite
      // equal values. Both sides therefore emit the exact digit strings;
      // double would be lossy (sum_pcpc ≈ 7.4e18 > 2^53).
      .select(
        col("l_returnflag"), col("n"),
        col("sum_q").cast("string").as("sum_q"),
        col("sum_pc").cast("string").as("sum_pc"),
        col("sum_qq").cast("string").as("sum_qq"),
        col("sum_qpc").cast("string").as("sum_qpc"),
        col("sum_pcpc").cast("string").as("sum_pcpc"),
        col("slope_num").cast("string").as("slope_num"),
        col("slope_den").cast("string").as("slope_den"))

  // compaction plan over a per-source file manifest (each doc plays a
  // small file; bytes = n_chars): the OPTIMIZE-style metadata pass that
  // bins drizzle-sized files into ~targetBytes rewrite groups
  private val z2: Q = (s, dir) =>
    graft.operators.Layout.compactionPlan(
      t(s, dir, "documents"),
      group = col("source"), fileId = col("doc_id"), bytes = col("n_chars"),
      targetBytes = 4096L)

  val queries: Map[String, Q] = Map(
    "a9_key_skew" -> a9,
    "q6_forecast" -> q6f,
    "a11_join_card_sketch" -> a11,
    "a10_corr_moments" -> a10,
    "z2_compaction" -> z2,
    "q1_agg" -> q1,
    "q3_revenue" -> q3,
    "q4_exists_sql" -> q4,
    "q6_scalar_subquery" -> q6,
    "q5_nation_revenue" -> q5,
    "q7_nation_flow" -> q7,
    "q8_bloom_join" -> q8,
    "q10_returned_top" -> q10,
    "q11_pivot" -> q11,
    "q12_priority_mix" -> q12,
    "q14_promo_ratio" -> q14,
    "q18_large_orders" -> q18,
    "q19_disjunctive" -> q19,
    "q22_idle_rich" -> q22,
    "w4_lag_lead" -> w4,
    "w5_window_distinct" -> w5,
    "gs_agg" -> gs,
    "a1_percentiles" -> a1,
    "a4_quantile_sketch" -> a4,
    "a2_profile" -> a2,
    "a6_mad_outliers" -> a6,
    "a7_join_card_est" -> a7,
    "a8_winsorize" -> a8,
    "q23_yoy_trend" -> q23,
    "q24_rfm" -> q24,
    "a5_profile_sketch" -> a5,
    "a3_histogram" -> a3,
    "agg_distinct" -> aggDistinct,
    "w1_rank" -> w1,
    "w2_running_sum" -> w2,
    "w3_moving_avg" -> w3,
    "set_union" -> setUnion,
    "set_intersect" -> setIntersect,
    "set_except" -> setExcept,
    "j_semi" -> jSemi,
    "j_salted" -> jSalted,
    "j_anti" -> jAnti,
    "topk_orders" -> topK,
    "rollup_counts" -> rollupQ,
    "cube_agg" -> cubeQ,
    "q13_custdist" -> q13,
    "q15_top_supplier" -> q15,
    "q16_supplier_cnt" -> q16,
    "q17_small_qty" -> q17,
    "q20_nested_in" -> q20,
    "q21_wait_chain" -> q21,
    "q9_profit_year" -> q9,
    "q8_market_share" -> q8m,
    "z1_zorder_key" -> z1)

  /** One column block of the a5 oracle — the KMV replay must match
    * KmvSketch.{hash,estimate} and KeyedHash.idHash exactly: distinct
    * 32-bit hashes of the non-null keys, kth smallest as the threshold,
    * exact count below k, (k-1)·2^32 integer-div threshold above.
    */
  private def sqlSketchCol(name: String, key: String): String =
    s"""SELECT '$name' AS col_name,
       |  (SELECT count(*) FROM documents) AS n,
       |  (SELECT count(*) - count($name) FROM documents) AS n_null,
       |  kth AS kth_hash,
       |  CASE WHEN nd < 32 THEN nd ELSE (31 * 4294967296) // kth END AS est_distinct
       |FROM (
       |  SELECT max(h) FILTER (rn <= 32) AS kth, coalesce(max(nd), 0) AS nd
       |  FROM (
       |    SELECT h, row_number() OVER (ORDER BY h) AS rn,
       |           count(*) OVER () AS nd
       |    FROM (SELECT DISTINCT ((($key) % 2147483648) * 2654435761 + 104729) % 4294967296 AS h
       |          FROM documents WHERE $name IS NOT NULL)))""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "a11_join_card_sketch" ->
      """WITH ha AS (
        |  SELECT DISTINCT ((o_custkey % 2147483648) * 2654435761 + 104729)
        |         % 4294967296 AS h FROM orders WHERE o_custkey IS NOT NULL),
        |ra AS (SELECT h, row_number() OVER (ORDER BY h ASC) AS rn,
        |              count(*) OVER () AS nd FROM ha),
        |ea AS (SELECT CAST(CASE WHEN max(nd) < 64 THEN max(nd)
        |         ELSE (63 * 4294967296) // max(CASE WHEN rn = 64 THEN h END)
        |       END AS BIGINT) AS nd_a FROM ra),
        |hb AS (
        |  SELECT DISTINCT ((c_custkey % 2147483648) * 2654435761 + 104729)
        |         % 4294967296 AS h FROM customer WHERE c_custkey IS NOT NULL),
        |rb AS (SELECT h, row_number() OVER (ORDER BY h ASC) AS rn,
        |              count(*) OVER () AS nd FROM hb),
        |eb AS (SELECT CAST(CASE WHEN max(nd) < 64 THEN max(nd)
        |         ELSE (63 * 4294967296) // max(CASE WHEN rn = 64 THEN h END)
        |       END AS BIGINT) AS nd_b FROM rb),
        |na AS (SELECT count(o_custkey) AS n_a FROM orders),
        |nb AS (SELECT count(c_custkey) AS n_b FROM customer)
        |SELECT n_a, nd_a, n_b, nd_b,
        |  CAST(CASE WHEN greatest(nd_a, nd_b) = 0 THEN 0
        |       ELSE (CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT))
        |            // greatest(nd_a, nd_b) END AS BIGINT) AS est_rows
        |FROM na, ea, nb, eb""".stripMargin,
    "q6_forecast" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "a10_corr_moments" ->
      """WITH b AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
        |  FROM lineitem)
        |SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(CAST(SUM(q) AS DECIMAL(38,0)) AS VARCHAR) AS sum_q,
        |  CAST(CAST(SUM(pc) AS DECIMAL(38,0)) AS VARCHAR) AS sum_pc,
        |  CAST(CAST(SUM(q * q) AS DECIMAL(38,0)) AS VARCHAR) AS sum_qq,
        |  CAST(CAST(SUM(q * pc) AS DECIMAL(38,0)) AS VARCHAR) AS sum_qpc,
        |  CAST(CAST(SUM(CAST(pc AS HUGEINT) * pc) AS DECIMAL(38,0)) AS VARCHAR) AS sum_pcpc,
        |  CAST(CAST(COUNT(*) * SUM(q * pc) - SUM(q) * SUM(pc) AS DECIMAL(38,0)) AS VARCHAR) AS slope_num,
        |  CAST(CAST(COUNT(*) * SUM(q * q) - SUM(q) * SUM(q) AS DECIMAL(38,0)) AS VARCHAR) AS slope_den
        |FROM b GROUP BY l_returnflag""".stripMargin,
    "z2_compaction" ->
      """WITH f AS (
        |  SELECT source AS "group", doc_id AS file_id,
        |         CAST(n_chars AS BIGINT) AS bytes
        |  FROM documents),
        |p AS (
        |  SELECT *,
        |    CAST((CAST(SUM(bytes) OVER (PARTITION BY "group" ORDER BY file_id) AS BIGINT)
        |          - bytes) // 4096 AS BIGINT) AS bin
        |  FROM f)
        |SELECT "group", file_id, bytes, bin,
        |  COUNT(*) OVER (PARTITION BY "group", bin) AS bin_files,
        |  CAST(SUM(bytes) OVER (PARTITION BY "group", bin) AS BIGINT) AS bin_bytes
        |FROM p""".stripMargin,
    "a9_key_skew" ->
      """WITH c AS (SELECT o_custkey AS key, count(*) AS n FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS n_keys FROM c),
        |top AS (SELECT key, n FROM c ORDER BY n DESC, key ASC LIMIT 20)
        |SELECT ROW_NUMBER() OVER (ORDER BY n DESC, key ASC) AS rank,
        |  key, n,
        |  CAST(n * 1000000 // total AS BIGINT) AS share_ppm,
        |  CAST(CAST(SUM(n) OVER (ORDER BY n DESC, key ASC) AS BIGINT) * 1000000
        |       // total AS BIGINT) AS cum_share_ppm,
        |  n_keys
        |FROM top, t""".stripMargin,
    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
         |  CAST(SUM($revenueTermSql) AS DOUBLE) AS sum_disc_price,
         |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
         |  COUNT(*) AS count_order
         |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_revenue" ->
      s"""SELECT o_orderkey,
         |  CAST(SUM($revenueTermSql) AS DOUBLE) AS revenue,
         |  COUNT(*) AS n_items
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |GROUP BY o_orderkey""".stripMargin,
    "q4_exists_sql" ->
      """SELECT o_orderpriority, count(*) AS n
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45.0)
        |GROUP BY o_orderpriority""".stripMargin,
    "q6_scalar_subquery" ->
      """SELECT o_custkey, o_orderkey, o_totalprice
        |FROM orders o
        |WHERE o_totalprice = (SELECT max(o2.o_totalprice) FROM orders o2
        |                      WHERE o2.o_custkey = o.o_custkey)""".stripMargin,
    "q5_nation_revenue" ->
      s"""SELECT n_name, CAST(SUM($revenueTermSql) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |GROUP BY n_name""".stripMargin,
    "q7_nation_flow" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |  CAST(SUM($revenueTermSql) AS DOUBLE) AS revenue,
         |  COUNT(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE n1.n_name <> n2.n_name
         |GROUP BY n1.n_name, n2.n_name""".stripMargin,
    // the bloom prefilter is result-invisible (false positives die in the
    // exact join), so the oracle is the plain join
    "q8_bloom_join" ->
      s"""SELECT p_brand,
         |  CAST(SUM($revenueTermSql) AS DOUBLE) AS revenue,
         |  COUNT(*) AS n_items
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |WHERE p_size <= 5
         |GROUP BY p_brand""".stripMargin,
    "q10_returned_top" ->
      s"""SELECT c_custkey, c_name, c_acctbal,
         |  CAST(SUM($revenueTermSql) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE l_returnflag = 'R'
         |GROUP BY c_custkey, c_name, c_acctbal
         |ORDER BY revenue DESC, c_custkey ASC
         |LIMIT 20""".stripMargin,
    "q11_pivot" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "q12_priority_mix" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |           THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_returnflag""".stripMargin,
    "q14_promo_ratio" ->
      s"""SELECT l_returnflag,
         |  round(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
         |                               THEN $revenueTermSql END) AS DOUBLE)
         |        / CAST(SUM($revenueTermSql) AS DOUBLE), 6) AS promo_pct,
         |  COUNT(*) AS n_items
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY l_returnflag""".stripMargin,
    "q18_large_orders" ->
      """SELECT c_custkey, c_name, o_orderkey, o_totalprice,
        |  CAST(sum_qty AS DOUBLE) AS sum_qty
        |FROM orders
        |JOIN (SELECT l_orderkey,
        |        SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty
        |      FROM lineitem GROUP BY l_orderkey
        |      HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 300)
        |  ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "q19_disjunctive" ->
      s"""SELECT CAST(SUM($revenueTermSql) AS DOUBLE) AS revenue,
         |  COUNT(*) AS n_items
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
         |       AND l_quantity BETWEEN 1 AND 11)
         |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
         |       AND l_quantity BETWEEN 10 AND 20)
         |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
         |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q22_idle_rich" ->
      """SELECT c_mktsegment, count(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
        |FROM customer
        |WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
        |                          / COUNT(*)
        |                   FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment""".stripMargin,
    "w4_lag_lead" ->
      """SELECT o_custkey, o_orderkey,
        |  LAG(o_totalprice, 1) OVER w AS prev_price,
        |  LEAD(o_orderkey, 1) OVER w AS next_orderkey
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_orderdate ASC, o_orderkey ASC)""".stripMargin,
    "gs_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  GROUPING(l_returnflag, l_linestatus) AS gid, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin,
    "w5_window_distinct" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  COUNT(DISTINCT l_partkey) OVER (PARTITION BY l_suppkey)
        |    AS n_distinct_parts
        |FROM lineitem""".stripMargin,
    "w3_moving_avg" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) OVER w AS DOUBLE) AS msum,
        |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) OVER w AS DOUBLE)
        |        / (COUNT(*) OVER w), 6) AS mavg
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_suppkey
        |             ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC, l_quantity ASC
        |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin,
    "a1_percentiles" ->
      """SELECT o_orderpriority,
        |  quantile_cont(o_totalprice, 0.5) AS median_price,
        |  quantile_cont(o_totalprice, 0.9) AS p90_price,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    // identical bottom-k sample (hash formula in lockstep with
    // KmvSketch.hash) and the identical spelled-out interpolation — NOT
    // the builtin quantile_cont, whose interpolation algebra could differ
    // in the last bit
    "a4_quantile_sketch" ->
      """WITH hashed AS (
        |  SELECT o_orderpriority, o_totalprice AS v, o_orderkey AS id,
        |    ((o_orderkey % 2147483648) * 2654435761 + 104729) % 4294967296 AS h
        |  FROM orders),
        |sampled AS (
        |  SELECT o_orderpriority, v,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY h, id) AS rn
        |  FROM hashed),
        |grp AS (
        |  SELECT o_orderpriority,
        |    list(v ORDER BY v ASC) FILTER (WHERE rn <= 256) AS sample,
        |    count(*) AS n
        |  FROM sampled GROUP BY o_orderpriority)
        |SELECT o_orderpriority,
        |  round(sample[flo5 + 1] +
        |    (pos5 - flo5) * (sample[least(flo5 + 2, sn)] - sample[flo5 + 1]), 6)
        |    AS median_est,
        |  round(sample[flo9 + 1] +
        |    (pos9 - flo9) * (sample[least(flo9 + 2, sn)] - sample[flo9 + 1]), 6)
        |    AS p90_est,
        |  sn::BIGINT AS sample_n, n
        |FROM (
        |  SELECT *, len(sample) AS sn,
        |    0.5::DOUBLE * (len(sample) - 1)::DOUBLE AS pos5,
        |    floor(0.5::DOUBLE * (len(sample) - 1)::DOUBLE)::INT AS flo5,
        |    0.9::DOUBLE * (len(sample) - 1)::DOUBLE AS pos9,
        |    floor(0.9::DOUBLE * (len(sample) - 1)::DOUBLE)::INT AS flo9
        |  FROM grp)""".stripMargin,
    "a5_profile_sketch" ->
      Seq(
        sqlSketchCol("doc_id", "doc_id"),
        sqlSketchCol("lang", PipelineQueries.sqlPolyHash("lang")),
        sqlSketchCol("source", PipelineQueries.sqlPolyHash("source")),
        sqlSketchCol("n_chars", "n_chars"))
        .mkString("\nUNION ALL\n"),
    "a2_profile" ->
      """SELECT 'o_orderkey' AS col_name, count(*) AS n,
        |  count(*) - count(o_orderkey) AS n_null,
        |  count(DISTINCT o_orderkey) AS n_distinct,
        |  CAST(min(o_orderkey) AS DOUBLE) AS min_num,
        |  CAST(max(o_orderkey) AS DOUBLE) AS max_num,
        |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        |FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
        |  count(DISTINCT o_totalprice),
        |  min(o_totalprice), max(o_totalprice), NULL, NULL
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
        |  count(DISTINCT o_orderstatus), NULL, NULL,
        |  min(o_orderstatus), max(o_orderstatus)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
        |  count(DISTINCT o_orderdate),
        |  CAST(epoch_us(min(o_orderdate)) AS DOUBLE),
        |  CAST(epoch_us(max(o_orderdate)) AS DOUBLE), NULL, NULL
        |FROM orders""".stripMargin,
    "a3_histogram" ->
      """WITH b AS (SELECT CAST(unnest(range(20)) AS BIGINT) AS bucket),
        |c AS (
        |  SELECT CAST(LEAST(19, floor((o_totalprice - 0.0) / 30000.0)) AS BIGINT) AS bucket,
        |         count(*) AS n
        |  FROM orders
        |  WHERE o_totalprice IS NOT NULL
        |    AND o_totalprice >= 0.0 AND o_totalprice <= 600000.0
        |  GROUP BY 1)
        |SELECT b.bucket, 0.0 + b.bucket * 30000.0 AS bucket_lo,
        |       coalesce(c.n, 0) AS n
        |FROM b LEFT JOIN c USING (bucket)""".stripMargin,
    "agg_distinct" ->
      """SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_cust,
        |       COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "w1_rank" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,
    "w2_running_sum" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC, l_quantity ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_qty
        |FROM lineitem""".stripMargin,
    "set_union" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION
        |SELECT c_custkey FROM customer WHERE c_acctbal > 9000.0""".stripMargin,
    "set_intersect" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT c_custkey FROM customer WHERE c_acctbal > 0.0""".stripMargin,
    "set_except" ->
      """SELECT c_custkey FROM customer
        |EXCEPT
        |SELECT o_custkey AS c_custkey FROM orders
        |WHERE o_totalprice > 400000.0""".stripMargin,
    "j_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    // the PLAIN join — salting must be bit-identical to it
    "j_salted" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, n_flag
        |FROM lineitem
        |JOIN (SELECT l_returnflag AS flag, count(*) AS n_flag
        |      FROM lineitem GROUP BY l_returnflag) d
        |  ON l_returnflag = d.flag""".stripMargin,
    "j_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_totalprice > 400000.0)""".stripMargin,
    "topk_orders" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin,
    "rollup_counts" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "cube_agg" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "q13_custdist" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |  GROUP BY c_custkey)
        |GROUP BY c_count""".stripMargin,
    "q15_top_supplier" ->
      s"""WITH revenue AS (
         |  SELECT l_suppkey, CAST(SUM($revenueTermSql) AS DOUBLE) AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |    AND l_shipdate < TIMESTAMP '1997-01-01'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, total_revenue
         |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
         |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)""".stripMargin,
    "q16_supplier_cnt" ->
      """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#12' AND p_size IN (1, 5, 9, 13, 17)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 2000.0)
        |GROUP BY p_brand, p_size""".stripMargin,
    "q17_small_qty" ->
      """SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |             / 7.0, 6) AS avg_yearly,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#13' AND p_type = 'ECONOMY'
        |  AND l_quantity < (
        |    SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(12,2))) AS DOUBLE)
        |                  / COUNT(*))
        |    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin,
    "q20_nested_in" ->
      """SELECT s_suppkey, s_name
        |FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part
        |                      WHERE p_name LIKE '%bolt%')
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 100)""".stripMargin,
    "q21_wait_chain" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > l1.l_shipdate)
        |GROUP BY s_name""".stripMargin,
    "q9_profit_year" ->
      s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |  CAST(SUM($revenueTermSql) AS DOUBLE) AS profit
         |FROM lineitem
         |JOIN part ON p_partkey = l_partkey
         |JOIN supplier ON s_suppkey = l_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN orders ON o_orderkey = l_orderkey
         |WHERE p_name LIKE '%bolt%'
         |GROUP BY n_name, year(o_orderdate)""".stripMargin,
    "a7_join_card_est" ->
      """SELECT n_a, d_a, n_b, d_b,
        |  CAST(CASE WHEN greatest(d_a, d_b) = 0 THEN 0
        |       ELSE (CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT))
        |            // greatest(d_a, d_b) END AS BIGINT) AS est_rows
        |FROM (SELECT count(o_orderkey) AS n_a,
        |             count(DISTINCT o_orderkey) AS d_a FROM orders),
        |     (SELECT count(l_orderkey) AS n_b,
        |             count(DISTINCT l_orderkey) AS d_b FROM lineitem)""".stripMargin,
    "q24_rfm" ->
      """WITH mx AS (SELECT max(o_orderdate) AS maxd FROM orders)
        |SELECT o_custkey,
        |  date_diff('day', CAST(max(o_orderdate) AS DATE),
        |            CAST((SELECT maxd FROM mx) AS DATE))::BIGINT AS recency_days,
        |  count(*) AS frequency,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS monetary
        |FROM orders GROUP BY o_custkey""".stripMargin,
    "q23_yoy_trend" ->
      s"""WITH m AS (
         |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
         |    CAST(month(o_orderdate) AS BIGINT) AS mo,
         |    SUM($revenueTermSql) AS rev
         |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
         |  GROUP BY 1, 2)
         |SELECT yr, mo, CAST(rev AS DOUBLE) AS revenue,
         |  CAST(rev - lag(rev, 12) OVER (ORDER BY yr, mo) AS DOUBLE) AS yoy_delta
         |FROM m""".stripMargin,
    "a8_winsorize" ->
      """WITH p AS (
        |  SELECT source, quantile_cont(n_chars, 0.05) AS p05,
        |         quantile_cont(n_chars, 0.95) AS p95
        |  FROM documents GROUP BY source)
        |SELECT doc_id, d.source, n_chars,
        |  greatest(p05, least(p95, n_chars::DOUBLE)) AS clipped
        |FROM documents d JOIN p ON d.source = p.source""".stripMargin,
    "a6_mad_outliers" ->
      """WITH med AS (
        |  SELECT source, quantile_cont(n_chars, 0.5) AS med_chars
        |  FROM documents GROUP BY source),
        |dev AS (
        |  SELECT d.source, m.med_chars, abs(d.n_chars - m.med_chars) AS ad
        |  FROM documents d JOIN med m ON d.source = m.source),
        |mad AS (
        |  SELECT source, quantile_cont(ad, 0.5) AS mad_chars
        |  FROM dev GROUP BY source)
        |SELECT v.source, v.med_chars, a.mad_chars, count(*) AS n_docs,
        |  CAST(SUM(CASE WHEN v.ad > 3.0 * a.mad_chars THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers
        |FROM dev v JOIN mad a ON v.source = a.source
        |GROUP BY v.source, v.med_chars, a.mad_chars""".stripMargin,
    "q8_market_share" ->
      s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |  round(CAST(SUM(CASE WHEN n2.n_name = 'NATION_7'
         |                      THEN $revenueTermSql END) AS DOUBLE)
         |        / CAST(SUM($revenueTermSql) AS DOUBLE), 6) AS mkt_share
         |FROM lineitem
         |JOIN part ON p_partkey = l_partkey
         |JOIN supplier ON s_suppkey = l_suppkey
         |JOIN nation n2 ON n2.n_nationkey = s_nationkey
         |JOIN orders ON o_orderkey = l_orderkey
         |JOIN customer ON c_custkey = o_custkey
         |JOIN nation n1 ON n1.n_nationkey = c_nationkey
         |JOIN region ON r_regionkey = n1.n_regionkey
         |WHERE p_type = 'ECONOMY' AND r_name = 'EUROPE'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY year(o_orderdate)""".stripMargin,
    // the identical mask-shift cascade as Layout.spread16 / zorderKey
    "z1_zorder_key" -> {
      def spread(e: String): String = {
        val s1 = s"((($e) | (($e) << 8)) & 16711935)"
        val s2 = s"(($s1 | ($s1 << 4)) & 252645135)"
        val s3 = s"(($s2 | ($s2 << 2)) & 858993459)"
        s"(($s3 | ($s3 << 1)) & 1431655765)"
      }
      val cx = "least(greatest(o_custkey, 0), 65535)"
      val cy = "least(greatest(CAST(floor(o_totalprice / 100.0) AS BIGINT), 0), 65535)"
      s"""SELECT o_orderkey,
         |  ${spread(cx)} | (${spread(cy)} << 1) AS zkey
         |FROM orders""".stripMargin
    })
}
