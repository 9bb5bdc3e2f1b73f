package graft.queries

import graft.core.{Condition, TableInfo}
import graft.operators.{HashJoinExecutor, NestedJoinExecutor}
import graft.sources.{ParquetResolver, Sources}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-parity queries: one per operator row of SURVEY.md §2, each
  * driven through the `JoinExecutor` facade (so the driver's correctness
  * gate exercises the library, not ad-hoc DataFrame code) with a DuckDB
  * oracle. Output columns are unqualified + aliased identically on both
  * sides because the driver hash-compares by sorted column name.
  *
  * Coverage notes (SURVEY.md §2):
  *  - S1 scan, S3 catalog, F2 pushdown, J5 grace join, J7 block-nested
  *    spill, J9 direct join, X1 distribution are Spark built-ins; they are
  *    exercised implicitly by every query here (j5_grace_shuffle pins the
  *    sort-merge/shuffle path explicitly).
  *  - S4 JSONL sink + S5 print are covered by JsonlSinkSpec (not
  *    SQL-expressible as a query).
  */
object ParityQueries {

  private type Q = (SparkSession, String) => DataFrame

  private def hash(s: SparkSession, dir: String) =
    new HashJoinExecutor(s, new ParquetResolver(dir))
  private def nested(s: SparkSession, dir: String) =
    new NestedJoinExecutor(s, new ParquetResolver(dir))

  // J1: inner hash equi-join + F3 residual filter
  private val j1: Q = (s, dir) =>
    hash(s, dir)
      .join(TableInfo("customer", "c_custkey"), TableInfo("orders", "o_custkey"))
      .filterBy(Condition("orders.o_totalprice", ">", 100000.0))
      .execute()
      .select(
        col("customer__c_custkey").as("c_custkey"),
        col("customer__c_name").as("c_name"),
        col("orders__o_orderkey").as("o_orderkey"),
        col("orders__o_totalprice").as("o_totalprice"))

  // J2: left outer — customers without orders survive null-extended
  private val j2: Q = (s, dir) =>
    hash(s, dir)
      .leftJoin(TableInfo("customer", "c_custkey"), TableInfo("orders", "o_custkey"))
      .execute()
      .select(
        col("customer__c_custkey").as("c_custkey"),
        col("customer__c_acctbal").as("c_acctbal"),
        col("orders__o_orderkey").as("o_orderkey"),
        col("orders__o_totalprice").as("o_totalprice"))

  // J3: right outer (mirror of J2)
  private val j3: Q = (s, dir) =>
    hash(s, dir)
      .rightJoin(TableInfo("orders", "o_custkey"), TableInfo("customer", "c_custkey"))
      .execute()
      .select(
        col("orders__o_orderkey").as("o_orderkey"),
        col("orders__o_totalprice").as("o_totalprice"),
        col("customer__c_custkey").as("c_custkey"),
        col("customer__c_name").as("c_name"))

  // J4: full outer
  private val j4: Q = (s, dir) =>
    hash(s, dir)
      .fullOuterJoin(TableInfo("customer", "c_custkey"), TableInfo("orders", "o_custkey"))
      .execute()
      .select(
        col("customer__c_custkey").as("c_custkey"),
        col("customer__c_acctbal").as("c_acctbal"),
        col("orders__o_orderkey").as("o_orderkey"),
        col("orders__o_totalprice").as("o_totalprice"))

  // J5: grace/partitioned hash join analog — pin the shuffle sort-merge
  // path (Spark's spill-partition-both-sides strategy) via hint.
  private val j5: Q = (s, dir) =>
    hash(s, dir)
      .withJoinHint("merge")
      .join(TableInfo("orders", "o_orderkey"), TableInfo("lineitem", "l_orderkey"))
      .filterBy(Condition("lineitem.l_discount", ">=", 0.05))
      .execute()
      .select(
        col("orders__o_orderkey").as("o_orderkey"),
        col("lineitem__l_linenumber").as("l_linenumber"),
        col("lineitem__l_quantity").as("l_quantity"),
        col("lineitem__l_discount").as("l_discount"))

  // J6: nested-loop theta join, ordering operator
  private val j6lt: Q = (s, dir) =>
    nested(s, dir)
      .join(TableInfo("supplier", "s_acctbal"), TableInfo("nation", "n_nationkey"), "<")
      .execute()
      .select(
        col("supplier__s_suppkey").as("s_suppkey"),
        col("supplier__s_acctbal").as("s_acctbal"),
        col("nation__n_nationkey").as("n_nationkey"),
        col("nation__n_name").as("n_name"))

  // J6: theta `!=` (nested path only — SURVEY.md §2 quirk 11)
  private val j6neq: Q = (s, dir) =>
    nested(s, dir)
      .join(TableInfo("nation", "n_regionkey"), TableInfo("region", "r_regionkey"), "!=")
      .execute()
      .select(
        col("nation__n_nationkey").as("n_nationkey"),
        col("nation__n_name").as("n_name"),
        col("region__r_regionkey").as("r_regionkey"),
        col("region__r_name").as("r_name"))

  // J8: left-deep multi-way chain + F1 IN predicate + residual conjunction
  private val j8: Q = (s, dir) =>
    hash(s, dir)
      .join(TableInfo("customer", "c_custkey"), TableInfo("orders", "o_custkey"))
      .join(TableInfo("orders", "o_orderkey"), TableInfo("lineitem", "l_orderkey"))
      .filterBy(
        Condition("orders.o_orderpriority", "IN", Seq("1-URGENT", "2-HIGH")) &
          Condition("lineitem.l_quantity", ">", 25.0))
      .execute()
      .select(
        col("customer__c_custkey").as("c_custkey"),
        col("orders__o_orderkey").as("o_orderkey"),
        col("orders__o_orderpriority").as("o_orderpriority"),
        col("lineitem__l_linenumber").as("l_linenumber"),
        col("lineitem__l_quantity").as("l_quantity"))

  // F1: full predicate algebra — OR / NOT / comparisons
  private val f1: Q = (s, dir) =>
    hash(s, dir)
      .join(TableInfo("customer", "c_nationkey"), TableInfo("nation", "n_nationkey"))
      .filterBy(
        (Condition("customer.c_acctbal", ">", 5000.0) |
          Condition("customer.c_mktsegment", "=", "BUILDING")) &
          !Condition("nation.n_name", "=", "NATION_3"))
      .execute()
      .select(
        col("customer__c_custkey").as("c_custkey"),
        col("customer__c_mktsegment").as("c_mktsegment"),
        col("customer__c_acctbal").as("c_acctbal"),
        col("nation__n_name").as("n_name"))

  // F1/CONTAINS: collection-membership predicate through the facade
  // (reference: commands.py:73-74 `raw_rhs in raw_lhs`). The testdata has
  // no native array columns, so the per-order part list is derived first —
  // which also exercises the resolver seam with a non-parquet table.
  private val f2contains: Q = (s, dir) => {
    import graft.sources.InMemoryResolver
    val orders = Sources.parquet(s, s"$dir/orders.parquet")
    // testdata parquet is single-row-group → a bare scan is ONE task, and
    // the collect_list partial aggregation would run on one core; rebalance
    // first (same rationale as PipelineQueries.t)
    val parts = PipelineQueries.rebalance(s,
        Sources.parquet(s, s"$dir/lineitem.parquet"))
      .groupBy(col("l_orderkey")).agg(collect_list(col("l_partkey")).as("parts"))
    new HashJoinExecutor(s, new InMemoryResolver(Map(
      "orders" -> orders, "order_parts" -> parts)))
      .join(TableInfo("orders", "o_orderkey"), TableInfo("order_parts", "l_orderkey"))
      .filterBy(Condition("order_parts.parts", "CONTAINS", 42L))
      .execute()
      .select(
        col("orders__o_orderkey").as("o_orderkey"),
        col("orders__o_totalprice").as("o_totalprice"))
  }

  // P1: per-table projection through select() (join keys validated present)
  private val p1: Q = (s, dir) =>
    hash(s, dir)
      .select("customer", Seq("c_custkey", "c_name"))
      .select("orders", Seq("o_custkey", "o_orderkey"))
      .join(TableInfo("customer", "c_custkey"), TableInfo("orders", "o_custkey"))
      .execute()
      .select(
        col("customer__c_custkey").as("c_custkey"),
        col("customer__c_name").as("c_name"),
        col("orders__o_custkey").as("o_custkey"),
        col("orders__o_orderkey").as("o_orderkey"))

  // Composite (tuple) join key + self-join via alias
  private val jComposite: Q = (s, dir) =>
    hash(s, dir)
      .join(
        TableInfo("lineitem", Seq("l_orderkey", "l_linenumber")),
        TableInfo("lineitem", Seq("l_orderkey", "l_linenumber"), Some("li2")))
      .execute()
      .select(
        col("lineitem__l_orderkey").as("l_orderkey"),
        col("lineitem__l_linenumber").as("l_linenumber"),
        col("lineitem__l_quantity").as("l_quantity"),
        col("li2__l_quantity").as("q2"))

  val queries: Map[String, Q] = Map(
    "j1_inner_hash" -> j1,
    "j2_left_outer" -> j2,
    "j3_right_outer" -> j3,
    "j4_full_outer" -> j4,
    "j5_grace_shuffle" -> j5,
    "j6_theta_lt" -> j6lt,
    "j6_theta_neq" -> j6neq,
    "j8_chain_multiway" -> j8,
    "f1_filter_algebra" -> f1,
    "f2_contains" -> f2contains,
    "p1_projection" -> p1,
    "j1_composite_selfjoin" -> jComposite)

  val oracleSql: Map[String, String] = Map(
    "j1_inner_hash" ->
      """SELECT c_custkey, c_name, o_orderkey, o_totalprice
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |WHERE o_totalprice > 100000.0""".stripMargin,
    "j2_left_outer" ->
      """SELECT c_custkey, c_acctbal, o_orderkey, o_totalprice
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey""".stripMargin,
    "j3_right_outer" ->
      """SELECT o_orderkey, o_totalprice, c_custkey, c_name
        |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "j4_full_outer" ->
      """SELECT c_custkey, c_acctbal, o_orderkey, o_totalprice
        |FROM customer FULL OUTER JOIN orders ON c_custkey = o_custkey""".stripMargin,
    "j5_grace_shuffle" ->
      """SELECT o_orderkey, l_linenumber, l_quantity, l_discount
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_discount >= 0.05""".stripMargin,
    "j6_theta_lt" ->
      """SELECT s_suppkey, s_acctbal, n_nationkey, n_name
        |FROM supplier JOIN nation ON s_acctbal < n_nationkey""".stripMargin,
    "j6_theta_neq" ->
      """SELECT n_nationkey, n_name, r_regionkey, r_name
        |FROM nation JOIN region ON n_regionkey != r_regionkey""".stripMargin,
    "j8_chain_multiway" ->
      """SELECT c_custkey, o_orderkey, o_orderpriority, l_linenumber, l_quantity
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') AND l_quantity > 25.0""".stripMargin,
    "f1_filter_algebra" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal, n_name
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE (c_acctbal > 5000.0 OR c_mktsegment = 'BUILDING')
        |  AND NOT (n_name = 'NATION_3')""".stripMargin,
    "f2_contains" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_partkey = 42)""".stripMargin,
    "p1_projection" ->
      """SELECT c_custkey, c_name, o_custkey, o_orderkey
        |FROM customer JOIN orders ON c_custkey = o_custkey""".stripMargin,
    "j1_composite_selfjoin" ->
      """SELECT a.l_orderkey AS l_orderkey, a.l_linenumber AS l_linenumber,
        |       a.l_quantity AS l_quantity, b.l_quantity AS q2
        |FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_linenumber = b.l_linenumber""".stripMargin)
}
