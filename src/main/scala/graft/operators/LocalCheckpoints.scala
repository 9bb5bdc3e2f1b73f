package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Lineage-truncating checkpoint with explicit, per-family release.
  *
  * Iterative operators (`Dedup.clusterPairs`, `Graph.pageRank`) must cut
  * their logical plans per iteration — a plain persist keeps the full
  * upstream plan embedded in every loop level, and the driver-side
  * canonicalization + cache-lookup cost grows with the iteration count
  * even when the data is tiny. `Dataset.localCheckpoint` does the
  * truncation but parks its blocks in an executor-cached RDD that
  * `Dataset.unpersist` cannot reach (only GC frees it); this wrapper
  * records the backing RDD so `release()` can drop the blocks
  * deterministically — Bench/Verify call it between queries via the
  * operators' `unpersistIntermediates`.
  *
  * Registrations are TAGGED with the owning operator family and
  * `release(family)` drops only that family's blocks: unlike a persist,
  * a truncated plan CANNOT recompute once its blocks are gone (the
  * upstream lineage no longer exists), so one family's
  * `unpersistIntermediates` must never evict a checkpoint backing
  * another family's still-unconsumed lazy result. The corollary for
  * callers: consume (collect/write) a checkpoint-backed result BEFORE
  * releasing its own family.
  */
private[graft] object LocalCheckpoints {

  private val rdds = new java.util.concurrent.ConcurrentLinkedQueue[
    (String, org.apache.spark.rdd.RDD[_])]

  /** Eagerly localCheckpoint `df` and register the backing RDD under
    * `family` (the operator object that will release it).
    *
    * `serialized = true` parks the blocks MEMORY_AND_DISK_SER instead of
    * the deserialized default — for the LARGE STATIC sets an iterative
    * loop re-reads every pass (a 26M-pair fuzzy graph at sf10 is 52.5M
    * directed rows; deserialized row objects held the bulk of d18's
    * measured 16 GB heap floor, BASELINE §16e). Serialized blocks cost a
    * per-pass decode, which the loop's shuffle dwarfs; per-iteration
    * label snapshots stay deserialized (they are vertex-sized, not
    * edge-sized).
    */
  def apply(family: String, serialized: Boolean = false)
      (df: DataFrame): DataFrame = {
    val cp =
      if (serialized) df.localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      else df.localCheckpoint()
    cp.queryExecution.analyzed.foreach {
      case l: LogicalRDD => rdds.add((family, l.rdd))
      case _ => ()
    }
    cp
  }

  /** Unpersist the checkpoint blocks backing `df` and deregister them —
    * for iterative loops that retire the PREVIOUS iteration's checkpoint
    * as soon as the next one is materialized, instead of accumulating one
    * copy per iteration until the family-wide release.
    */
  def drop(df: DataFrame, blocking: Boolean = false): Unit = {
    val backing: Set[org.apache.spark.rdd.RDD[_]] =
      df.queryExecution.analyzed.collect {
        case l: LogicalRDD => l.rdd
      }.toSet
    val it = rdds.iterator()
    while (it.hasNext) if (backing.contains(it.next()._2)) it.remove()
    backing.foreach(_.unpersist(blocking))
  }

  /** Unpersist every checkpoint registered under `family` since the last
    * call for that family; other families' blocks stay live.
    */
  def release(family: String, blocking: Boolean = false): Int = {
    var n = 0
    val it = rdds.iterator()
    while (it.hasNext) {
      val (f, rdd) = it.next()
      if (f == family) { it.remove(); rdd.unpersist(blocking); n += 1 }
    }
    n
  }
}
