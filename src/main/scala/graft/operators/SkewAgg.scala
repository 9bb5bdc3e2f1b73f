package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-aware aggregation over heavy-hitter keys.
  *
  * Algebraic aggregates (sum/count/min/max) do NOT need manual skew
  * handling: Spark's map-side partial aggregation emits at most one
  * partial row per (input partition, key), so a hot key's reducer sees
  * ≤ numPartitions tiny rows no matter how many raw rows it has.
  *
  * The genuinely skew-prone shape is *distinct-style* aggregation: a
  * single-pass `count(DISTINCT v)` must co-locate every (hot key, v)
  * occurrence. The fix is the explicit two-stage shape below — stage 1
  * dedups on the COMPOSITE (key, value) key, so the hot key's values hash
  * across all reducers; stage 2 counts the (already unique, already small)
  * pairs per key. The same decomposition is what lets multiple distincts
  * and distinct-plus-algebraic mixes scale.
  */
object SkewAgg {

  /** Join-key skew profile: the `topN` heaviest keys with each key's row
    * count, share of all rows, and cumulative share (exact integer ppm),
    * plus the table's distinct-key count — the diagnostic that decides
    * whether a join needs salting / AQE skew handling and what salt fan-out
    * to pick (a key at 300k ppm of a 100 TB table is a 30 TB reducer).
    *
    * Scale shape: one partial-agg shuffle to per-key counts, then a
    * DISTRIBUTED top-N (`orderBy.limit` plans as per-partition TakeOrdered
    * + single merge of N×partitions rows — never a global sort), and the
    * rank/cumulative window runs on those ≤ `topN` survivors broadcast-
    * joined to the two-scalar totals row. Nothing driver-side scales with
    * the key cardinality.
    */
  def skewReport(df: DataFrame, key: Column, topN: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topN > 0, s"topN must be positive, got $topN")
    val counts = df.groupBy(key.as("key")).agg(count(lit(1)).as("n"))
    val totals = counts.agg(sum(col("n")).as("_total"),
      count(lit(1)).as("n_keys"))
    val top = counts.orderBy(col("n").desc, col("key").asc).limit(topN)
    val w = Window.orderBy(col("n").desc, col("key").asc)
    top.crossJoin(broadcast(totals))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("share_ppm", expr("n * 1000000 div _total"))
      .withColumn("cum_share_ppm",
        expr("sum(n) over (order by n desc, key asc) * 1000000 div _total"))
      .select("rank", "key", "n", "share_ppm", "cum_share_ppm", "n_keys")
  }

  /** Per-key totals and exact distinct-value counts, two-stage:
    * output (key, n, sum_value, n_distinct).
    *
    * NULL semantics match SQL `COUNT(DISTINCT v) ... GROUP BY key` on both
    * axes: null VALUES are excluded before the stage-1 dedup (a bare
    * `distinct()` would keep one null row per key and over-count by 1); a
    * key whose values are ALL null still appears with n_distinct = 0 via
    * the left join + coalesce; and a null KEY is a real SQL group, so the
    * join is null-safe (`<=>`) — a plain equi-join would never match the
    * null-key group and silently zero its distinct count.
    */
  def distinctAndTotals(df: DataFrame, key: Column, value: Column, distinctOn: Column): DataFrame = {
    val totals = df.groupBy(key.as("key"))
      .agg(count(lit(1)).as("n"),
        sum(value.cast("decimal(18,2)")).as("_s"))
    val distincts = df.select(key.as("dkey"), distinctOn.as("v"))
      .filter(col("v").isNotNull).distinct()
      .groupBy("dkey").agg(count(lit(1)).as("n_distinct"))
    totals.join(distincts, col("key") <=> col("dkey"), "left")
      .select(col("key"), col("n"), col("_s").cast("double").as("sum_value"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"))
  }
}
