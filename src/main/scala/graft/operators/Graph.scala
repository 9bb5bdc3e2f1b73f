package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph algorithms over pair tables, in the Pregel-on-DataFrames
  * shape: per iteration ONE equi-join of the score table against the edge
  * list (both hash-partitioned on the source key — the persisted edge table
  * keeps its shuffle output, so every iteration reuses the exchange) and
  * ONE aggregation on the destination key. No driver-side state beyond the
  * loop counter; at 100 TB each iteration is two bounded shuffles of the
  * (nodes + edges)-sized frames, never a collect.
  *
  * The reference has no graph surface (SURVEY.md §2 "NOT implemented");
  * this extends the dedup-cluster machinery (`Dedup.clusterPairs`,
  * reference quirk: hash-min label propagation) with an authority score —
  * the standard corpus-curation signal for weighting near-duplicate
  * neighborhoods and host graphs.
  */
object Graph {

  /** Release the lineage-truncating checkpoints [[pageRank]] registered
    * (edge/node tables and periodic score snapshots). A truncated plan
    * cannot recompute once its blocks are gone, so call this only AFTER
    * the terminal action on the returned scores — Verify/Bench call it
    * between queries alongside the other families' release handles.
    */
  def unpersistIntermediates(blocking: Boolean = false): Int =
    Intermediates.release("graph", blocking)

  /** Fixed-point PageRank over the undirected graph induced by a
    * canonical (a < b) pair table. Output `(v, score)` — one row per
    * node that has at least one edge.
    *
    * Determinism contract (the DuckDB-oracle hash-compare): all
    * arithmetic is BIGINT fixed-point at `scale` (default 1e12), so the
    * per-destination contribution sum is an associative integer sum —
    * bit-identical under any shuffle order, unlike a double sum. Each
    * iteration computes
    *
    *   score'(v) = (scale * (den-num))/den  +  (num * Σ_{u→v} score(u) div outdeg(u)) div den
    *
    * with `num/den` the damping factor (85/100). Every node in the pair
    * graph has outdeg ≥ 1 by construction, so there is no dangling-mass
    * term. Overflow headroom: num * Σ contribs ≤ 85 · N · scale, safe in
    * BIGINT up to N ≈ 10^5 at the default scale; shrink `scale` for
    * larger graphs (the oracle replays whatever is passed).
    *
    * @param weight optional positive integer edge weight (e.g. Jaccard in
    *   micro-units): a neighbor's contribution becomes
    *   `score·w div Σw(src)` instead of the uniform `score div outdeg`.
    *   OVERFLOW contract: `max_score · max_w` must fit in BIGINT — with
    *   weights up to 1e6 pass a smaller `scale` (1e6 keeps the product
    *   under ~N·1e12 · 1e6); the default 1e12 scale is for the unweighted
    *   form. `None` ≡ weight 1, bit-identical to uniform division.
    */
  def pageRank(pairs: DataFrame, aCol: Column, bCol: Column,
               iterations: Int = 5, scale: Long = 1000000000000L,
               dampNum: Long = 85, dampDen: Long = 100,
               weight: Option[Column] = None): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    // both directions; canonical input pairs mean no duplicate edges
    val w = weight.getOrElse(lit(1L))
    val fwd = pairs.select(aCol.cast("long").as("src"), bCol.cast("long").as("dst"),
      w.cast("long").as("w"))
    val edges = fwd.union(
      fwd.select(col("dst").as("src"), col("src").as("dst"), col("w")))
    // out-degree rides along with each edge so the per-iteration join is
    // score ⋈ edges only, pre-partitioned on src, the join key.
    // localCheckpoint (not persist): it TRUNCATES lineage, so the
    // iterated plan references a flat LogicalRDD instead of re-embedding
    // the (potentially huge) upstream pair pipeline once per loop level —
    // without it, driver-side plan canonicalization and cache lookup grow
    // with every iteration and dominate wall-clock long before the data
    // does. (On a multi-node cluster prefer a reliable checkpoint dir if
    // executor loss matters; blocks here are executor-local.)
    val outEdges =
      edges.join(edges.groupBy("src").agg(sum(col("w")).as("sw")), "src")
        .repartition(col("src"))
        // serialized: the same big-static-edge-set rationale as
        // Dedup.clusterPairs (BASELINE §16e) — the per-iteration score
        // snapshots below stay deserialized (vertex-sized)
        .transform(Intermediates.checkpoint("graph", serialized = true))
    val nodes = outEdges.select(col("src").as("v")).distinct().transform(Intermediates.checkpoint("graph"))

    // Enforce the overflow contract instead of documenting it: total mass
    // is conserved (Σ score ≤ N·scale), so every product the iteration
    // computes is bounded by N·scale·max(w, dampNum). Non-ANSI BIGINT
    // arithmetic would WRAP silently past that — fail loudly up front.
    // One bounded aggregation over the already-checkpointed edge table,
    // weighted path only (the uniform path has w = 1 and the documented
    // N ≈ 1e5 headroom at the default scale).
    weight.foreach { _ =>
      val r = outEdges
        .agg(min(col("w")).as("mn"), max(col("w")).as("mx"),
          countDistinct(col("src")).as("n")).head()
      if (!r.isNullAt(0)) {
        val (minW, maxW, n) = (r.getLong(0), r.getLong(1), r.getLong(2))
        require(minW >= 1L,
          s"pageRank: edge weights must be positive integers, found $minW")
        val factor = math.max(maxW, dampNum)
        require(scale <= Long.MaxValue / factor / math.max(n, 1L),
          s"pageRank: scale=$scale with max weight $maxW over $n nodes can " +
            s"overflow BIGINT (need scale <= ${Long.MaxValue / factor / math.max(n, 1L)}); " +
            "pass a smaller scale or rescale the weights")
      }
    }

    val base = lit(scale / dampDen * (dampDen - dampNum)).as("base")
    var scores = nodes.select(col("v"), lit(scale).as("score"))
    (1 to iterations).foreach { i =>
      val contribs = outEdges
        .join(scores, outEdges("src") === scores("v"))
        .select(col("dst"), expr("score * w div sw").as("contrib"))
        .groupBy("dst").agg(sum(col("contrib")).as("contrib_sum"))
      // no join back onto `nodes`: the graph is undirected by construction
      // (edges = fwd ∪ reversed), so every node in `nodes` is the dst of
      // at least one edge and `contribs` covers the node set exactly —
      // the previous per-iteration `nodes LEFT JOIN contribs` (and its
      // coalesce(contrib_sum, 0)) was row-for-row the identity (r18 OPT,
      // guide §2.1: one join + its exchange removed per iteration)
      scores = contribs.select(col("dst").as("v"),
        (base + expr(s"$dampNum * contrib_sum div $dampDen")).as("score"))
      // bound the un-truncated join depth for long runs
      if (i % 8 == 0 && i < iterations) scores = scores.transform(Intermediates.checkpoint("graph"))
    }
    scores
  }

  /** Per-vertex degree of an undirected pair table (each `(a, b)` pair
    * counts once toward both endpoints) — the cheapest structural profile
    * of a dup/link graph: the degree distribution says whether clusters
    * are near-cliques (safe for hash-min CC) or hubs-and-spokes (salt the
    * hub side), and the max degree IS the join-skew bound of every
    * pair-consuming operator downstream. One explode + one partial-agg
    * aggregation; nothing quadratic, nothing driver-side.
    */
  def degrees(pairs: DataFrame,
      aCol: Column = col("doc_a"), bCol: Column = col("doc_b")): DataFrame =
    pairs
      .select(explode(array(aCol.as("v"), bCol.as("v"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("degree"))
}
