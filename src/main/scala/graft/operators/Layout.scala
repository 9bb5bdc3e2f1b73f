package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton) clustering.
  *
  * A table sorted on one column prunes file-level min/max zones for THAT
  * column only — a predicate on any other column still scans every file.
  * Interleaving the bits of two columns into one Morton key gives a
  * linear order in which files stay tight in BOTH dimensions, so either
  * predicate (or both) skips most files via ordinary parquet row-group
  * statistics. This is the layout trick behind Delta/Iceberg `ZORDER BY`,
  * expressed here as a plain column expression plus a bounded-file-count
  * writer — nothing below Spark's public API.
  *
  * Reference scope note: the reference engine has no layout control at
  * all (its scans are whole-table CQL pages, `hash_join.py:354-592`);
  * this extends the surface for the 100 TB parquet deployment, where
  * clustering is the difference between reading 100 TB and reading one
  * partition's worth of zones.
  *
  * Everything is exact integer bit arithmetic (`shiftleft`/`&`/`|` on
  * longs) — any engine replays the key bit-for-bit, so the layout is
  * oracle-checkable like every other operator here.
  */
object Layout {

  /** Spread the low 16 bits of `v` so bit i lands at position 2i — the
    * standard mask-shift cascade, on longs throughout.
    */
  private def spread16(v: Column): Column = {
    val s1 = bitwise_and(v.bitwiseOR(shiftleft(v, 8)), lit(0x00FF00FFL))
    val s2 = bitwise_and(s1.bitwiseOR(shiftleft(s1, 4)), lit(0x0F0F0F0FL))
    val s3 = bitwise_and(s2.bitwiseOR(shiftleft(s2, 2)), lit(0x33333333L))
    bitwise_and(s3.bitwiseOR(shiftleft(s3, 1)), lit(0x55555555L))
  }

  private def bitwise_and(a: Column, b: Column): Column = a.bitwiseAND(b)

  /** Z-order key of two integer columns, each clamped to `bitsPer` bits
    * (`bitsPer` ≤ 16; negative inputs clamp to 0, oversized to the max —
    * clamping keeps the key total-ordered at the range edges instead of
    * wrapping). `x` owns the even bit positions, `y` the odd ones.
    *
    * Callers with non-integer dimensions first bucket them to integers
    * (e.g. `floor(price / step)`) — resolution inside a bucket doesn't
    * matter because zone pruning works at file/row-group granularity.
    */
  def zorderKey(x: Column, y: Column, bitsPer: Int = 16): Column = {
    require(bitsPer > 0 && bitsPer <= 16, s"bitsPer must be in [1,16], got $bitsPer")
    val hi = (1L << bitsPer) - 1L
    def clamp(c: Column): Column =
      least(greatest(c.cast("long"), lit(0L)), lit(hi))
    spread16(clamp(x)).bitwiseOR(shiftleft(spread16(clamp(y)), 1))
  }

  /** Write `df` as `files` parquet files Z-ordered on (`x`, `y`): range
    * partition by the Morton key (one shuffle, contiguous key ranges per
    * file), sort within each partition, drop the key. File count is
    * bounded by construction — at 100 TB, size `files` so one file ≈ one
    * row-group-friendly block; predicates on either dimension then prune
    * via parquet min/max stats (proved by `LayoutSpec`, which measures
    * the per-file envelope shrink on both dimensions against a
    * single-column sort).
    */
  def writeZordered(
      df: DataFrame,
      outDir: String,
      x: Column,
      y: Column,
      files: Int,
      bitsPer: Int = 16): Unit = {
    require(files > 0, s"files must be positive, got $files")
    df.withColumn("_zkey", zorderKey(x, y, bitsPer))
      .repartitionByRange(files, col("_zkey"))
      .sortWithinPartitions("_zkey")
      .drop("_zkey")
      .write.mode("overwrite").parquet(outDir)
  }

  /** Small-file compaction plan — the metadata-level operator behind
    * every table-maintenance `OPTIMIZE`: given a file manifest, assign
    * each file to a target-sized output bin so a rewrite job can merge
    * thousands of drizzle-sized files (streaming sinks, per-partition
    * appends) into row-group-friendly blocks. At 100 TB the manifest is
    * millions of rows where the DATA is billions — planning on the
    * manifest instead of the data is the point.
    *
    * Bin rule (exact, SQL-replayable): within each `group` (a partition /
    * source directory — compaction never merges across partitions), files
    * are taken in `fileId` order and `bin = start_offset div targetBytes`
    * where `start_offset` is the running byte total BEFORE the file —
    * next-fit by offset, the same batching rule Spark's own
    * `maxPartitionBytes` file-slicing applies. A bin can overflow by at
    * most one file's bytes (a file always lands in the bin its offset
    * opens), which is the right trade for a planner: deterministic,
    * one-pass, no driver-side state.
    *
    * Scale shape: ONE window per group partition ordered by file id —
    * manifest-sized work; group cardinality (table partitions) bounds the
    * skew, and a group's manifest slice is at most its file count.
    * [[nextFitBins]] is the same rule on the driver, for one group.
    *
    * @return one row per file: (`group`, `file_id`, `bytes`, `bin`,
    *         `bin_files`, `bin_bytes`) — `bin_*` aggregates let the
    *         rewrite job size its tasks without a second pass
    */
  def compactionPlan(
      files: DataFrame,
      group: Column,
      fileId: Column,
      bytes: Column,
      targetBytes: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val w = Window.partitionBy(col("group")).orderBy(col("file_id"))
    val planned = files
      .select(group.as("group"), fileId.as("file_id"),
        bytes.cast("long").as("bytes"))
      .withColumn("start_off", sum(col("bytes")).over(w) - col("bytes"))
      .withColumn("bin", expr(s"start_off div $targetBytes"))
      .drop("start_off")
    val wb = Window.partitionBy(col("group"), col("bin"))
    planned
      .withColumn("bin_files", count(lit(1)).over(wb))
      .withColumn("bin_bytes", sum(col("bytes")).over(wb))
  }

  /** One file of a [[nextFitBins]] plan — a [[compactionPlan]] row
    * without its group.
    */
  final case class BinnedFile[K](fileId: K, bytes: Long, bin: Long,
      binFiles: Long, binBytes: Long)

  /** [[compactionPlan]]'s bin rule for ONE group's files, on the driver:
    * files in `fileId` order, `bin = start_offset div targetBytes`, plus
    * each bin's file count and bytes. For a manifest the driver already
    * holds (a store's file listing), this answers without a Spark job;
    * `LayoutSpec` pins it equal to [[compactionPlan]] on random
    * manifests. File ids must be unique within the group, and `ord` must
    * be the engine's order on them (for strings: ASCII names, where
    * UTF-16 and Spark's byte order agree).
    *
    * @return one entry per file, in `fileId` order
    */
  def nextFitBins[K](files: Seq[(K, Long)], targetBytes: Long)(
      implicit ord: Ordering[K]): Seq[BinnedFile[K]] = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val sorted = files.sortBy(_._1)
    // each file's start offset is the running byte total before it
    val binned = sorted.zip(sorted.scanLeft(0L)(_ + _._2).map(_ / targetBytes))
    val totals = binned.groupMapReduce(_._2)(f => (1L, f._1._2)) {
      case ((n1, b1), (n2, b2)) => (n1 + n2, b1 + b2)
    }
    binned.map { case ((id, bytes), bin) =>
      BinnedFile(id, bytes, bin, totals(bin)._1, totals(bin)._2)
    }
  }

  /** Write `df` as a bucketed (+ per-bucket sorted) parquet table in the
    * session catalog. Two tables bucketed on their JOIN KEY with the SAME
    * bucket count join with ZERO exchanges — each task reads bucket i of
    * both sides, because identical bucketing IS a shared hash
    * partitioning. At 100 TB this is the difference between re-shuffling
    * both fact tables on every join and shuffling each exactly once at
    * write time, amortized over every subsequent join/aggregation on the
    * key (`LayoutSpec` pins the no-Exchange plan).
    *
    * `buckets` sizes the parallelism of every downstream join — pick it
    * like a shuffle partition count for the TABLE's full size (e.g. 2⁴ᐨ¹⁶
    * × executors), not the test fixture's.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      keys: Seq[String],
      buckets: Int): Unit = {
    require(keys.nonEmpty, "need at least one bucket key")
    require(buckets > 0, s"buckets must be positive, got $buckets")
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)
  }
}
