package graft.operators

import graft.TestSpark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

class LayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("zorderKey interleaves bits: x even positions, y odd") {
    val got = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65535L, 65535L))
      .toDF("x", "y")
      .select(Layout.zorderKey(col("x"), col("y")))
      .as[Long].collect().toSeq
    // (3,5): x bits {0,1} → {0,2} = 5; y bits {0,2} → {1,5} = 34 → 39
    assert(got == Seq(0L, 1L, 2L, 39L, (1L << 32) - 1))
  }

  test("zorderKey clamps out-of-range inputs instead of wrapping") {
    val got = Seq((-7L, 999999L)).toDF("x", "y")
      .select(Layout.zorderKey(col("x"), col("y")))
      .as[Long].collect().head
    // x → 0, y → 65535: key = spread(65535) << 1 = 0x55555555 << 1
    assert(got == 0x55555555L << 1)
  }

  test("zorderKey is monotone in each dimension holding the other fixed") {
    val xs = (0L until 64L).toDF("x")
    val keys = xs.select(Layout.zorderKey(col("x"), lit(37L))).as[Long].collect()
    assert(keys.toSeq == keys.sorted.toSeq)
    val keysY = xs.select(Layout.zorderKey(lit(37L), col("x"))).as[Long].collect()
    assert(keysY.toSeq == keysY.sorted.toSeq)
  }

  /** Per-file [min,max] envelopes of a column, one row per output file. */
  private def envelopes(path: String, c: String): Seq[(Long, Long)] =
    spark.read.parquet(path)
      .groupBy(input_file_name())
      .agg(min(col(c)).as("lo"), max(col(c)).as("hi"))
      .select("lo", "hi").as[(Long, Long)].collect().toSeq

  private def overlapping(env: Seq[(Long, Long)], lo: Long, hi: Long): Int =
    env.count { case (l, h) => h >= lo && l <= hi }

  test("Z-ordered files prune range predicates on BOTH dims; a sort prunes only its own") {
    // two independent dimensions, 64 values each, all 4096 combinations
    val df = spark.range(4096)
      .select((col("id") % 64).as("x"), expr("id div 64").as("y"))
    val zDir = s"/tmp/graft_layout_z_${System.nanoTime()}"
    val sDir = s"/tmp/graft_layout_s_${System.nanoTime()}"
    Layout.writeZordered(df, zDir, col("x"), col("y"), files = 16, bitsPer = 6)
    df.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(sDir)

    // an 8-of-64 range predicate (1/8 of either dimension's domain)
    val zx = overlapping(envelopes(zDir, "x"), 24, 31)
    val zy = overlapping(envelopes(zDir, "y"), 24, 31)
    val sx = overlapping(envelopes(sDir, "x"), 24, 31)
    val sy = overlapping(envelopes(sDir, "y"), 24, 31)
    info(s"files admitting the range: zorder x=$zx y=$zy of 16; sort-by-x x=$sx y=$sy of 16")
    // the x-sort is perfect on x but hopeless on y; z-order prunes both
    assert(sy == 16, s"x-sorted layout should not prune y, admitted $sy/16")
    assert(zx <= 8 && zy <= 8,
      s"z-order must prune both dims to ≤half the files, got x=$zx y=$zy")

    // layout is a reordering, never a row change
    assert(spark.read.parquet(zDir).count() == 4096)
    val back = spark.read.parquet(zDir).select("x", "y").as[(Long, Long)]
      .collect().toSet
    assert(back == df.select("x", "y").as[(Long, Long)].collect().toSet)
  }

  test("compactionPlan bins files by start offset within each group") {
    val manifest = Seq(
      ("g1", 1L, 100L), ("g1", 2L, 100L), ("g1", 3L, 100L),
      ("g1", 4L, 100L), ("g1", 5L, 100L),
      ("g2", 1L, 600L), ("g2", 2L, 100L)).toDF("src", "fid", "sz")
    val got = Layout.compactionPlan(manifest,
      col("src"), col("fid"), col("sz"), targetBytes = 250L)
      .select("group", "file_id", "bin", "bin_files", "bin_bytes")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      // g1 offsets 0,100,200 → bin 0 (overflows by ≤ one file); 300,400 → bin 1
      ("g1", 1L, 0L, 3L, 300L), ("g1", 2L, 0L, 3L, 300L), ("g1", 3L, 0L, 3L, 300L),
      ("g1", 4L, 1L, 2L, 200L), ("g1", 5L, 1L, 2L, 200L),
      // g2: an over-target file owns bin 0 alone; the next file's offset
      // (600) opens bin 2 — bin ids are offset-derived, not dense
      ("g2", 1L, 0L, 1L, 600L), ("g2", 2L, 2L, 1L, 100L)))
  }

  test("compactionPlan never merges across groups and rejects a non-positive target") {
    val manifest = Seq(("a", 1L, 10L), ("b", 1L, 10L)).toDF("src", "fid", "sz")
    val bins = Layout.compactionPlan(manifest, col("src"), col("fid"), col("sz"), 1000L)
      .select("group", "bin").as[(String, Long)].collect().toSet
    assert(bins == Set(("a", 0L), ("b", 0L)))
    intercept[IllegalArgumentException] {
      Layout.compactionPlan(manifest, col("src"), col("fid"), col("sz"), 0L)
    }
  }

  test("nextFitBins (the driver's bin rule) equals compactionPlan on seeded random manifests") {
    val target = 1000L
    // sizes mix drizzle, quarter-target steps (offsets that land exactly
    // on a multiple of the target) and files up to 3× the target; file
    // ids are distinct ASCII names listed out of order
    val size = Gen.frequency(
      3 -> Gen.choose(1L, target / 3),
      2 -> Gen.choose(1L, 4L).map(_ * target / 4),
      1 -> Gen.choose(target + 1, 3 * target))
    val group = Gen.choose(1, 12).flatMap(n => Gen.pick(n, 0 until 100))
      .flatMap(ids => Gen.listOfN(ids.size, size)
        .map(ids.map(i => f"part-$i%05d").zip(_).toList))
    val fixed = Seq(
      // offsets 0, 500, 1000, 2000: bins 0, 0, 1, 2
      "exact" -> List("a" -> 500L, "b" -> 500L, "c" -> 1000L, "d" -> 1L),
      // one oversized file alone in its bin — the split case
      "oversized" -> List("a" -> 5 * target),
      // every bin holds one file — nothing to merge
      "healthy" -> List("c" -> target, "a" -> target, "b" -> target))
    def driver(groups: Seq[(String, List[(String, Long)])]) =
      groups.flatMap { case (g, files) =>
        Layout.nextFitBins(files, target)
          .map(b => (g, b.fileId, b.bytes, b.bin, b.binFiles, b.binBytes))
      }
    for (seed <- 1L to 5L) {
      val groups = (0 until 20).map(g => s"g$g" ->
        group.pureApply(Gen.Parameters.default, Seed(seed * 100 + g))) ++ fixed
      val manifest = groups.flatMap { case (g, fs) =>
        fs.map { case (f, b) => (g, f, b) } }.toDF("src", "fid", "sz")
      val sql = Layout.compactionPlan(manifest, col("src"), col("fid"),
          col("sz"), target)
        .select("group", "file_id", "bytes", "bin", "bin_files", "bin_bytes")
        .as[(String, String, Long, Long, Long, Long)].collect().toSeq
      val got = driver(groups)
      assert(got.size == sql.size && got.toSet == sql.toSet, s"seed $seed")
    }
    val pinned = driver(fixed).map(r => (r._1, r._2) -> (r._4, r._5)).toMap
    assert(Seq("a", "b", "c", "d").map(f => pinned(("exact", f))) ==
      Seq((0L, 2L), (0L, 2L), (1L, 1L), (2L, 1L)))
    assert(pinned(("oversized", "a")) == ((0L, 1L)))
    assert(Seq("a", "b", "c").map(f => pinned(("healthy", f))) ==
      Seq((0L, 1L), (1L, 1L), (2L, 1L)))
    intercept[IllegalArgumentException](Layout.nextFitBins(Seq("a" -> 1L), 0L))
  }

  test("co-bucketed tables join with zero exchanges and match the plain join") {
    val facts = spark.range(10000).select(col("id").as("k"),
      (col("id") % 97).as("v"))
    val dims = spark.range(0, 10000, 3).select(col("id").as("k"),
      concat(lit("d"), col("id")).as("name"))
    Layout.writeBucketed(facts, "graft_bkt_facts", Seq("k"), buckets = 8)
    Layout.writeBucketed(dims, "graft_bkt_dims", Seq("k"), buckets = 8)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the non-broadcast path: the claim under test is that the
      // SHUFFLE disappears, not that the dimension fits in memory
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_bkt_facts")
        .join(spark.table("graft_bkt_dims"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"co-bucketed join must not shuffle:\n${plan.take(800)}")
      assert(plan.contains("SortMergeJoin"), plan.take(400))
      assert(plan.contains("SelectedBucketsCount"), "scan should be bucket-aware")
      val expect = facts.join(dims, "k")
      assert(joined.exceptAll(expect).isEmpty && expect.exceptAll(joined).isEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS graft_bkt_facts")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_dims")
    }
  }

  test("writeBucketed validates keys and bucket count") {
    val df = spark.range(5).toDF("k")
    assertThrows[IllegalArgumentException](Layout.writeBucketed(df, "t", Nil, 4))
    assertThrows[IllegalArgumentException](Layout.writeBucketed(df, "t", Seq("k"), 0))
  }
}
