package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The operators' one registry of intermediates they cannot release
  * themselves: persisted frames and lineage-truncating checkpoints, each
  * tagged with the owning operator family ("dedup", "corpus", "graph").
  *
  * Operators return lazy frames, so a persisted intermediate must outlive
  * the operator call until the CALLER's terminal action; the family's
  * `unpersistIntermediates` (a one-line delegate to [[release]]) is the
  * release handle — Bench/Verify call them between queries.
  *
  * Iterative operators (`Dedup.clusterPairs`, `Graph.pageRank`) must cut
  * their logical plans per iteration — a plain persist keeps the full
  * upstream plan embedded in every loop level, and the driver-side
  * canonicalization + cache-lookup cost grows with the iteration count
  * even when the data is tiny. `Dataset.localCheckpoint` does the
  * truncation but parks its blocks in an executor-cached RDD that
  * `Dataset.unpersist` cannot reach (only GC frees it); [[checkpoint]]
  * records the backing RDD so [[release]] can drop the blocks
  * deterministically.
  *
  * `release(family)` drops only that family's entries: unlike a persist,
  * a truncated plan CANNOT recompute once its blocks are gone (the
  * upstream lineage no longer exists), so one family's release must never
  * evict a checkpoint backing another family's still-unconsumed lazy
  * result. The corollary for callers: consume (collect/write) a
  * checkpoint-backed result BEFORE releasing its own family.
  */
private[graft] object Intermediates {

  // a persisted frame (Left) or a checkpoint's backing RDD (Right)
  private val entries =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Either[DataFrame, RDD[_]])]

  /** Persist `df` MEMORY_AND_DISK (deserialized: Dataset caches are
    * columnar batches either way, and the serialized level measured 1.30×
    * slower on d3 at sf10) and register it under `family`.
    */
  def persist(family: String)(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    entries.add((family, Left(p)))
    p
  }

  /** Eagerly localCheckpoint `df` and register the backing RDD under
    * `family`.
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
  def checkpoint(family: String, serialized: Boolean = false)
      (df: DataFrame): DataFrame = {
    val cp =
      if (serialized) df.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
      else df.localCheckpoint()
    cp.queryExecution.analyzed.foreach {
      case l: LogicalRDD => entries.add((family, Right(l.rdd)))
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
    val backing: Set[RDD[_]] =
      df.queryExecution.analyzed.collect {
        case l: LogicalRDD => l.rdd
      }.toSet
    val it = entries.iterator()
    while (it.hasNext) if (it.next()._2.exists(backing.contains)) it.remove()
    backing.foreach(_.unpersist(blocking))
  }

  /** Unpersist every frame and checkpoint registered under `family` since
    * the last call for that family; other families' entries stay live.
    * Returns the number released.
    */
  def release(family: String, blocking: Boolean = false): Int = {
    var n = 0
    val it = entries.iterator()
    while (it.hasNext) {
      val (f, e) = it.next()
      if (f == family) {
        it.remove()
        e.fold(_.unpersist(blocking), _.unpersist(blocking))
        n += 1
      }
    }
    n
  }
}
