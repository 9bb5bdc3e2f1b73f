package graft.operators

import graft.TestSpark
import graft.TestSpark.{jobsOf, writeStageTasksOf}
import graft.operators.Similarity.{Hier, HierMass, Mass, Nearest}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted IVF / IVF×PQ store: parity with the in-flight tiers,
  * partition pruning of the probe (the store must NOT be scanned in
  * full), append semantics, and the loud failure modes.
  */
class VectorIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  /** The store's completeness marker, which holds its manifest. */
  private val Marker = "_GRAFT_IVF_STORE_OK"
  private def emb: DataFrame = spark.read.parquet(s"$sfDir/embeddings.parquet")
  private def queries: DataFrame = emb.filter(col("vec_id") < 5)

  private def tmpStore(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    d.toString + "/store"
  }

  private def ranking(df: DataFrame): Seq[(Long, Long, Long)] =
    df.select("q_id", "vec_id", "rn").as[(Long, Long, Long)]
      .collect().sortBy(r => (r._1, r._3)).toSeq

  /** Run `body` with AQE off: the executed plan then exposes its
    * FileSourceScanExec leaves to `collect` directly (under AQE they hide
    * inside query stages). The pruning being pinned is STATIC — AQE
    * neither creates nor removes it.
    */
  private def withoutAqe[A](body: => A): A = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("probe of a written hierarchical store is bit-identical to the in-flight s19 tier") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val path = tmpStore("ivfstore")
    VectorIndex.writeIvfIndex(emb, col("vec_id"), col("embedding"), path,
      centroidStride = 50, maxCentroids = 256, hier = Some(Hier(16, 2)))
    assert(VectorIndex.isComplete(path))
    val stored = VectorIndex.probeIvfIndex(spark, path, queries,
      col("vec_id"), col("embedding"), k = 10, probe = Nearest(2))
    val inflight = Similarity.ivfTopK(emb, queries,
      col("vec_id"), col("embedding"), k = 10, centroidStride = 50,
      probe = Nearest(2), hier = Some(Hier(16, 2)), maxCentroids = 256)
    assert(ranking(stored) == ranking(inflight) && ranking(stored).nonEmpty)
  }

  test("probe of a flat store matches the in-flight s3 tier, and meta routes the mode") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val path = tmpStore("ivfflat")
    VectorIndex.writeIvfIndex(emb, col("vec_id"), col("embedding"), path,
      hier = None)
    val stored = VectorIndex.probeIvfIndex(spark, path, queries,
      col("vec_id"), col("embedding"), k = 10, probe = Nearest(2))
    val inflight = Similarity.ivfTopK(emb, queries, col("vec_id"),
      col("embedding"), k = 10, centroidStride = 50, probe = Nearest(2))
    assert(ranking(stored) == ranking(inflight) && ranking(stored).nonEmpty)
  }

  test("the probe scan is partition-pruned to the probed lists (IO tracks nProbe/lists, not the corpus)") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val path = tmpStore("ivfprune")
    VectorIndex.writeIvfIndex(emb, col("vec_id"), col("embedding"), path)
    val totalLists = new java.io.File(s"$path/lists").listFiles()
      .count(_.getName.startsWith("c_id="))
    withoutAqe {
    // ONE query × nProbe=2 → at most 2 of the store's lists may be read
    val probe = VectorIndex.probeIvfIndex(spark, path,
      emb.filter(col("vec_id") === 0), col("vec_id"), col("embedding"),
      k = 10, probe = Nearest(2))
    // collect(), not a noop write: the write would execute a FRESH
    // QueryExecution and leave probe's own scan metrics at 0, making the
    // partition-count pin below pass vacuously (r18 fix — the adaptive
    // test's exact-equality pin caught it)
    probe.collect()
    // the literal IN filter must reach the scan as a PARTITION filter —
    // a data filter (or a cast around the partition column) would read
    // every list and fall back to row-level filtering
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("c_id"),
      s"expected a partition filter on c_id in:\n$plan")
    // runtime pin: the scan touched at most the probed partitions
    val scans = probe.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.metadata.get("Location").exists(_.contains("lists")) => s
    }
    assert(scans.nonEmpty, "no file scan over the lists store found")
    val partsRead = scans.map(_.metrics("numPartitions").value).max
    assert(totalLists > 2, s"store too small to make pruning observable: $totalLists")
    assert(partsRead <= 2,
      s"probe read $partsRead of $totalLists list partitions — not pruned")
    }
  }

  test("adaptive probe of a flat store ≡ the in-flight ivfTopKAdaptive (the s34/s32 shared-oracle identity)") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val path = tmpStore("ivfadapt")
    VectorIndex.writeIvfIndex(emb, col("vec_id"), col("embedding"), path,
      hier = None)
    val stored = VectorIndex.probeIvfIndex(spark, path, queries,
      col("vec_id"), col("embedding"), k = 10, probe = Mass(150000L))
    val inflight = Similarity.ivfTopK(emb, queries, col("vec_id"),
      col("embedding"), k = 10, centroidStride = 50, probe = Mass(150000L))
    assert(ranking(stored) == ranking(inflight) && ranking(stored).nonEmpty)
  }

  test("two-level adaptive probe of a hier store ≡ the in-flight s37 (the s38/s37 shared-oracle identity)") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val path = tmpStore("ivfhieradapt")
    // writeIvfIndex defaults ARE s37's geometry (hier, superStride 16,
    // sProbe 2, stride-50 centroids capped at 256)
    VectorIndex.writeIvfIndex(emb, col("vec_id"), col("embedding"), path)
    val stored = VectorIndex.probeIvfIndex(spark, path, queries,
      col("vec_id"), col("embedding"), k = 10, probe = HierMass(150000L))
    val inflight = Similarity.ivfTopK(emb, queries,
      col("vec_id"), col("embedding"), k = 10, probe = HierMass(150000L), hier = Some(Hier(16, 2)))
    assert(ranking(stored) == ranking(inflight) && ranking(stored).nonEmpty)
    // full budget through the store ≡ brute force (the s37 endpoint,
    // store-served)
    val all = ranking(VectorIndex.probeIvfIndex(spark, path,
      queries, col("vec_id"), col("embedding"), k = 10, probe = HierMass(1000000L)))
    val brute = ranking(Similarity.bruteForceTopK(emb, queries,
      col("vec_id"), col("embedding"), k = 10))
    assert(all == brute)
    // a flat store has no recorded super geometry — rejected loudly,
    // never probed with an invented filing
    val flat = tmpStore("ivfhieradaptflat")
    VectorIndex.writeIvfIndex(emb, col("vec_id"), col("embedding"), flat,
      hier = None)
    intercept[IllegalArgumentException] {
      VectorIndex.probeIvfIndex(spark, flat, queries,
        col("vec_id"), col("embedding"), probe = HierMass(150000L))
    }
  }

  test("adaptive probe reads EXACTLY the budget-selected lists; sizes/ is the persisted mass artifact") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val path = tmpStore("ivfadaptprune")
    VectorIndex.writeIvfIndex(emb, col("vec_id"), col("embedding"), path,
      hier = None)
    // the manifest's sizes = a recount of the persisted lists
    val persisted = VectorIndex.listSizes(spark, path)
      .select(col("c_id"), col("n_list"))
      .as[(Long, Long)].collect().toMap
    val recount = spark.read.parquet(s"$path/lists")
      .groupBy(col("c_id").cast("long")).agg(count(lit(1)))
      .as[(Long, Long)].collect().toMap
    assert(persisted == recount && persisted.nonEmpty)
    val totalLists = new java.io.File(s"$path/lists").listFiles()
      .count(_.getName.startsWith("c_id="))
    // the expected probed set, from the SAME rule over the store's own
    // model artifacts (massProbed is the shared selection)
    val oneQ = emb.filter(col("vec_id") === 0)
    val expected = Similarity.massProbed(
        oneQ.select(col("vec_id").as("q_id"), col("embedding").as("qv")),
        spark.read.parquet(s"$path/centroids"),
        VectorIndex.listSizes(spark, path),
        persisted.values.sum, 150000L)
      .select("c_id").distinct().count()
    withoutAqe {
      val probe = VectorIndex.probeIvfIndex(spark, path, oneQ,
        col("vec_id"), col("embedding"), k = 10, probe = Mass(150000L))
      // collect() executes THIS DataFrame's own executedPlan, so the
      // scan metrics below are populated (a noop write would build a
      // fresh QueryExecution and leave these at 0 — an equality pin
      // would then pass only vacuously)
      probe.collect()
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("c_id"),
        s"expected a partition filter on c_id in:\n$plan")
      val scans = probe.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.metadata.get("Location").exists(_.contains("lists")) => s
      }
      assert(scans.nonEmpty, "no file scan over the lists store found")
      val partsRead = scans.map(_.metrics("numPartitions").value).max
      assert(expected < totalLists,
        s"fixture degenerate: budget selects all $totalLists lists")
      assert(partsRead == expected,
        s"probe read $partsRead list partitions, budget selected $expected")
    }
  }

  test("append refreshes sizes/ so the mass budget sees appended rows") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val path = tmpStore("ivfsizesapp")
    VectorIndex.writeIvfIndex(emb.filter(col("vec_id") % 7 =!= 0),
      col("vec_id"), col("embedding"), path, hier = None)
    val beforeN = VectorIndex.listSizes(spark, path)
      .agg(sum(col("n_list"))).as[Long].collect().head
    VectorIndex.appendToIvfIndex(emb.filter(col("vec_id") % 7 === 0),
      col("vec_id"), col("embedding"), path)
    val afterN = VectorIndex.listSizes(spark, path)
      .agg(sum(col("n_list"))).as[Long].collect().head
    assert(afterN == emb.count() && afterN > beforeN,
      s"sizes must cover build + increment: $beforeN -> $afterN")
  }

  test("residual PQ store probed with both adaptive knobs ≡ in-flight ivfPqTopK (the s35/s33 shared-oracle identity)") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val path = tmpStore("ivfpqres")
    VectorIndex.writeIvfIndex(emb, col("vec_id"), col("embedding"), path,
      hier = None, pq = true, pqResidual = true)
    val stored = VectorIndex.probeIvfPqIndex(spark, path, queries,
      col("vec_id"), col("embedding"), k = 10,
      probe = Mass(150000L), poolPpm = Some(500000L))
    val inflight = Similarity.ivfPqTopK(emb, queries, col("vec_id"),
      col("embedding"), k = 10, centroidStride = 50, residual = true,
      probe = Mass(150000L), poolPpm = Some(500000L))
    assert(ranking(stored) == ranking(inflight) && ranking(stored).nonEmpty)
  }

  test("ensure distinguishes residual from raw PQ stores: a raw store is rebuilt, not silently served") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val path = tmpStore("ivfpqmode")
    VectorIndex.writeIvfIndex(emb, col("vec_id"), col("embedding"), path,
      hier = None, pq = true)
    assert(VectorIndex.isServable(spark, path, pqResidual = Some(false)))
    assert(!VectorIndex.isServable(spark, path, pqResidual = Some(true)),
      "a raw-codes store must not satisfy a residual-encoding requirement")
    // plain (encoding-agnostic) callers keep being served
    assert(VectorIndex.isServable(spark, path))
    VectorIndex.ensureIvfIndex(emb, col("vec_id"), col("embedding"), path,
      hier = None, pq = true, pqResidual = true)
    assert(VectorIndex.isServable(spark, path, pqResidual = Some(true)),
      "ensure must have rebuilt the store in residual space")
  }

  test("ensure distinguishes assignment geometries: a flat ensure rebuilds a two-level store, and the reverse") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val path = tmpStore("ivfgeometry")
    VectorIndex.writeIvfIndex(emb, col("vec_id"), col("embedding"), path,
      hier = Some(Hier(16, 2)))
    assert(VectorIndex.isServable(spark, path, hier = Some(Some(Hier(16, 2)))))
    assert(!VectorIndex.isServable(spark, path, hier = Some(None)),
      "a two-level store must not satisfy a flat requirement")
    assert(!VectorIndex.isServable(spark, path, hier = Some(Some(Hier(8, 2)))),
      "nor one of another super-geometry")
    // geometry-agnostic callers keep being served
    assert(VectorIndex.isServable(spark, path))
    VectorIndex.ensureIvfIndex(emb, col("vec_id"), col("embedding"), path,
      hier = None)
    assert(VectorIndex.isServable(spark, path, hier = Some(None)),
      "a flat ensure must have rebuilt the store flat")
    val flat = VectorIndex.probeIvfIndex(spark, path, queries,
      col("vec_id"), col("embedding"), k = 10, probe = Nearest(2))
    val inflight = Similarity.ivfTopK(emb, queries, col("vec_id"),
      col("embedding"), k = 10, centroidStride = 50, probe = Nearest(2))
    assert(ranking(flat) == ranking(inflight) && ranking(flat).nonEmpty)
    VectorIndex.ensureIvfIndex(emb, col("vec_id"), col("embedding"), path,
      hier = Some(Hier(16, 2)))
    assert(VectorIndex.isServable(spark, path, hier = Some(Some(Hier(16, 2)))),
      "a two-level ensure must have rebuilt the flat store")
  }

  test("residual PQ append: increment encoded in residual space with the stored codebook; sizes refresh") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val path = tmpStore("ivfpqresapp")
    // build slice keeps every stride-picked codebook id (0,16,…,240),
    // same carve as the raw-PQ maintenance spec
    VectorIndex.writeIvfIndex(
      emb.filter(col("vec_id") < 250 || col("vec_id") >= 300),
      col("vec_id"), col("embedding"), path,
      hier = None, pq = true, pqResidual = true)
    VectorIndex.appendToIvfIndex(
      emb.filter(col("vec_id") >= 250 && col("vec_id") < 300),
      col("vec_id"), col("embedding"), path)
    val n = VectorIndex.listSizes(spark, path)
      .agg(sum(col("n_list"))).as[Long].collect().head
    assert(n == emb.count(), s"sizes must cover build + increment, got $n")
    // the probe decodes appended codes with the SAME stored residual
    // codebook — every query still gets a dense rank prefix
    val got = VectorIndex.probeIvfPqIndex(spark, path, queries,
        col("vec_id"), col("embedding"), k = 10,
        probe = Mass(150000L), poolPpm = Some(500000L))
      .select("q_id", "rn").as[(Long, Long)].collect()
    assert(got.map(_._1).toSet == queries.select("vec_id")
      .as[Long].collect().toSet)
    got.groupBy(_._1).values.foreach(g =>
      assert(g.map(_._2).sorted.toSeq == (1L to g.size).toSeq))
  }

  test("adaptive range probe: full mass budget ≡ the all-lists fixed probe; tiny budget is a subset") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val path = tmpStore("ivfrangeadapt")
    VectorIndex.writeIvfIndex(emb, col("vec_id"), col("embedding"), path,
      hier = None)
    def rows(df: DataFrame) = df.select("q_id", "vec_id")
      .as[(Long, Long)].collect().toSet
    val nLists = new java.io.File(s"$path/lists").listFiles()
      .count(_.getName.startsWith("c_id="))
    val full = rows(VectorIndex.probeIvfRange(spark, path, queries,
      col("vec_id"), col("embedding"), minCosine = 0.25,
      probe = Mass(1000000L)))
    val allFixed = rows(VectorIndex.probeIvfRange(spark, path, queries,
      col("vec_id"), col("embedding"), minCosine = 0.25, probe = Nearest(nLists)))
    assert(full == allFixed && full.nonEmpty,
      "full-budget adaptive range must equal the every-list fixed probe")
    val tiny = rows(VectorIndex.probeIvfRange(spark, path, queries,
      col("vec_id"), col("embedding"), minCosine = 0.25,
      probe = Mass(1L)))
    assert(tiny.subsetOf(full),
      "a smaller budget may only shrink the result set")
  }

  test("append assigns the increment with the STORED model and probes see the union") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val path = tmpStore("ivfappend")
    val batch1 = emb.filter(col("vec_id") % 7 =!= 0)
    val batch2 = emb.filter(col("vec_id") % 7 === 0)
    VectorIndex.writeIvfIndex(batch1, col("vec_id"), col("embedding"), path)
    VectorIndex.appendToIvfIndex(batch2, col("vec_id"), col("embedding"), path)
    val stored = VectorIndex.probeIvfIndex(spark, path, queries,
      col("vec_id"), col("embedding"), k = 10, probe = Nearest(2))
    // expected: the full corpus assigned against batch1's FIXED centroid
    // model (the append contract — the model never retrains), probed the
    // same way. Build it in-flight from the same parts.
    import org.apache.spark.sql.expressions.Window
    val cents = Similarity.ivfCentroids(
      batch1.select(col("vec_id"), col("embedding").as("v")), 50, 256)
    val listed = Similarity.ivfAssignHierarchical(emb, col("vec_id"),
      col("embedding"), cents, superStride = 16, sProbe = 2)
    val probed = Similarity.ivfAssignHierarchical(queries, col("vec_id"),
      col("embedding"), cents, superStride = 16, sProbe = 2, keep = 2)
      .select(col("c_id"), col("vec_id").as("q_id"), col("v").as("qv"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_ud").desc, col("vec_id").asc)
    val expected = listed.join(probed, Seq("c_id"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        Similarity.unitDot(Similarity.unitMicros(col("qv")),
          Similarity.unitMicros(col("v"))).as("cos_ud"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 10)
    assert(ranking(stored) == ranking(expected) && ranking(stored).nonEmpty)
    // the appended rows really landed inside the existing partition dirs
    val n = spark.read.parquet(s"$path/lists").count()
    assert(n == emb.count())
  }

  test("PQ store: codes-only candidate scan probes bit-identically to in-flight IVF×PQ") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val path = tmpStore("ivfpq")
    VectorIndex.writeIvfIndex(emb, col("vec_id"), col("embedding"), path,
      hier = Some(Hier(16, 2)), pq = true)
    val inflight = Similarity.ivfPqTopK(emb, queries, col("vec_id"),
      col("embedding"), k = 10, centroidStride = 50, probe = Nearest(2),
      numSubspaces = 8, numCodes = 16, codeStride = 16, pool = 50,
      hier = Some(Hier(16, 2)))
    withoutAqe {
    val stored = VectorIndex.probeIvfPqIndex(spark, path, queries,
      col("vec_id"), col("embedding"), k = 10, probe = Nearest(2), pool = 50)
    assert(ranking(stored) == ranking(inflight) && ranking(stored).nonEmpty)
    // the ADC scan must not read the vector column: its scan schema is
    // (vec_id, codes) only — column pruning × partition pruning is the
    // point of storing codes beside the lists
    stored.write.mode("overwrite").format("noop").save()
    val scans = stored.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.metadata.get("Location").exists(_.contains("lists")) => s
    }
    assert(scans.size >= 2, "expected the codes scan and the rescore fetch")
    assert(scans.exists(s => {
      val schema = s.requiredSchema.fieldNames.toSet
      schema.contains("codes") && !schema.contains("v")
    }), s"no codes-only scan found: ${scans.map(_.requiredSchema.fieldNames.mkString(","))}")
    }
  }

  test("compaction merges drizzle files, skips healthy lists, and probes are bit-identical") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val path = tmpStore("ivfcompact")
    // build on one slice, then drizzle three appends — every touched list
    // directory accumulates one file set per append
    VectorIndex.writeIvfIndex(emb.filter(col("vec_id") % 4 === 0),
      col("vec_id"), col("embedding"), path)
    (1 to 3).foreach(r => VectorIndex.appendToIvfIndex(
      emb.filter(col("vec_id") % 4 === r), col("vec_id"), col("embedding"), path))
    val before = VectorIndex.listManifest(spark, path)
      .groupBy("c_id").count().as[(Long, Long)].collect().toMap
    assert(before.values.max > 1, s"appends produced no drizzle: $before")
    val probeBefore = ranking(VectorIndex.probeIvfIndex(spark, path, queries,
      col("vec_id"), col("embedding"), k = 10, probe = Nearest(2)))
    val plan = VectorIndex.compactIvfIndex(spark, path)
    // the returned plan covers exactly the lists that had mergeable bins
    val planned = plan.select("c_id").distinct().as[Long].collect().toSet
    val needy = before.filter(_._2 > 1).keySet
    assert(planned == needy, s"planned $planned vs needy $needy")
    val after = VectorIndex.listManifest(spark, path)
      .groupBy("c_id").count().as[(Long, Long)].collect().toMap
    // default targetBytes puts each tiny list in ONE bin → one file
    assert(needy.forall(c => after(c) == 1L),
      s"compacted lists still fragmented: ${after.filter(_._2 > 1)}")
    assert(VectorIndex.isComplete(path))
    // rows and probe results are untouched
    assert(spark.read.parquet(s"$path/lists").count() == emb.count())
    val probeAfter = ranking(VectorIndex.probeIvfIndex(spark, path, queries,
      col("vec_id"), col("embedding"), k = 10, probe = Nearest(2)))
    assert(probeAfter == probeBefore && probeAfter.nonEmpty)
    // a store with nothing to merge is a no-op plan
    assert(VectorIndex.compactIvfIndex(spark, path).isEmpty)
  }

  test("appendStream grows the store per micro-batch against the stored model") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    implicit val sqlCtx = spark.sqlContext
    val path = tmpStore("ivfstream")
    val base = emb.filter(col("vec_id") % 7 =!= 0)
    VectorIndex.writeIvfIndex(base, col("vec_id"), col("embedding"), path)
    val inc = emb.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    val stream = MemoryStream[(Long, Array[Float])]
    val q = VectorIndex.appendStream(
      stream.toDF().toDF("vec_id", "embedding"),
      col("vec_id"), col("embedding"), path)
    try {
      val (b1, b2) = inc.splitAt(inc.size / 2)
      stream.addData(b1: _*)
      q.processAllAvailable()
      assert(spark.read.parquet(s"$path/lists").count() ==
        base.count() + b1.size)
      stream.addData(b2: _*)
      q.processAllAvailable()
      assert(spark.read.parquet(s"$path/lists").count() == emb.count())
    } finally q.stop()
    // the streamed store is the batch-append store: same rows, same lists
    val batchPath = tmpStore("ivfstreamref")
    VectorIndex.writeIvfIndex(base, col("vec_id"), col("embedding"), batchPath)
    VectorIndex.appendToIvfIndex(emb.filter(col("vec_id") % 7 === 0),
      col("vec_id"), col("embedding"), batchPath)
    def listed(p: String) = spark.read.parquet(s"$p/lists")
      .select(col("c_id").cast("long"), col("vec_id"))
      .as[(Long, Long)].collect().toSet
    assert(listed(path) == listed(batchPath))
  }

  test("PQ store maintenance: append encodes the increment with the STORED codebook; compaction preserves codes") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val path = tmpStore("ivfpqmaint")
    // build slice keeps every stride-picked codebook id (0,16,…,240)
    val base = emb.filter(col("vec_id") < 250 || col("vec_id") >= 300)
    // PQ model (codebook) trained on the BUILD slice — appended rows must
    // be encoded with the stored model, never a retrained one
    VectorIndex.writeIvfIndex(base, col("vec_id"), col("embedding"), path,
      hier = Some(Hier(16, 2)), pq = true)
    VectorIndex.appendToIvfIndex(emb.filter(col("vec_id") >= 250 && col("vec_id") < 300),
      col("vec_id"), col("embedding"), path)
    val beforeCompact = ranking(VectorIndex.probeIvfPqIndex(spark, path,
      queries, col("vec_id"), col("embedding"), k = 10, probe = Nearest(2), pool = 50))
    assert(beforeCompact.nonEmpty)
    // every stored row (built + appended) carries codes of the same width
    val widths = spark.read.parquet(s"$path/lists")
      .select(size(col("codes"))).distinct().as[Int].collect().toSet
    assert(widths == Set(8), s"code widths after append: $widths")
    assert(spark.read.parquet(s"$path/lists").filter(col("codes").isNull).count() == 0)
    // compaction rewrites files, codes ride along, probe is bit-identical
    VectorIndex.compactIvfIndex(spark, path)
    val afterCompact = ranking(VectorIndex.probeIvfPqIndex(spark, path,
      queries, col("vec_id"), col("embedding"), k = 10, probe = Nearest(2), pool = 50))
    assert(afterCompact == beforeCompact)
  }

  test("probeStream serves each micro-batch from the store, in parity with the batch probe") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    implicit val sqlCtx = spark.sqlContext
    val path = tmpStore("ivfserve")
    VectorIndex.writeIvfIndex(emb, col("vec_id"), col("embedding"), path)
    val qs = queries.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val stream = MemoryStream[(Long, Array[Float])]
    val q = VectorIndex.probeStream(
      stream.toDF().toDF("vec_id", "embedding"),
      col("vec_id"), col("embedding"), path,
      (res, _) => got.synchronized {
        got ++= res.select("q_id", "vec_id", "rn")
          .as[(Long, Long, Long)].collect()
      },
      k = 10, probe = Nearest(2))
    try {
      val (b1, b2) = qs.splitAt(2)
      stream.addData(b1: _*)
      q.processAllAvailable()
      assert(got.map(_._1).toSet == b1.map(_._1).toSet)
      stream.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    // per-batch serving ≡ one batch probe of all queries: probing is
    // stateless, the store is the state
    val batch = ranking(VectorIndex.probeIvfIndex(spark, path, queries,
      col("vec_id"), col("embedding"), k = 10, probe = Nearest(2)))
    assert(got.sortBy(r => (r._1, r._3)).toSeq == batch && batch.nonEmpty)
  }

  test("build and append write ≤ filesPerList files per list, not one per upstream task") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val path = tmpStore("ivffiles")
    // many upstream partitions: the un-routed failure mode would emit up
    // to (tasks × lists) files; the routed write is bounded per list
    VectorIndex.writeIvfIndex(emb.repartition(16).filter(col("vec_id") % 7 =!= 0),
      col("vec_id"), col("embedding"), path)
    def filesPerDir(): Map[String, Int] =
      new java.io.File(s"$path/lists").listFiles().toSeq
        .filter(_.getName.startsWith("c_id="))
        .map(d => d.getName -> d.listFiles()
          .count(f => f.getName.endsWith(".parquet"))).toMap
    val afterBuild = filesPerDir()
    assert(afterBuild.nonEmpty && afterBuild.values.max <= 1, afterBuild.toString)
    VectorIndex.appendToIvfIndex(emb.repartition(16).filter(col("vec_id") % 7 === 0),
      col("vec_id"), col("embedding"), path, filesPerList = 2)
    val afterAppend = filesPerDir()
    // a touched list gains at most filesPerList new files per batch
    assert(afterAppend.values.max <= 1 + 2, afterAppend.toString)
  }

  test("auto filesPerList sizes from the data: a tight byte target splits lists, the default does not") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    def filesPerDir(path: String): Map[String, Int] =
      new java.io.File(s"$path/lists").listFiles().toSeq
        .filter(_.getName.startsWith("c_id="))
        .map(d => d.getName -> d.listFiles()
          .count(f => f.getName.endsWith(".parquet"))).toMap
    def build(path: String, filesPerList: Int = 0,
        targetFileBytes: Long = 128L << 20): Int = jobsOf(
      VectorIndex.writeIvfIndex(emb.repartition(16), col("vec_id"),
        col("embedding"), path, filesPerList = filesPerList,
        targetFileBytes = targetFileBytes))
    // the explicit single-file route never samples: its job count is the
    // reference for "no sampling job"
    val singleJobs = build(tmpStore("ivfautosingle"), filesPerList = 1)
    // the sf0.001 corpus is a few hundred KB over ≤256 lists: a 256-byte
    // target forces ceil(listBytes/target) > 1 splits per list — the
    // build must choose >1 file on its own (filesPerList left at auto),
    // which takes the sampling job
    val tight = tmpStore("ivfautotight")
    val tightJobs = build(tight, targetFileBytes = 256L)
    val tightCounts = filesPerDir(tight)
    assert(tightCounts.nonEmpty && tightCounts.values.max > 1,
      s"auto sizing should split lists at a 256-byte target: $tightCounts")
    assert(tightJobs > singleJobs,
      s"a tight target must sample: $tightJobs jobs vs $singleJobs single-file")
    // ...and the file count stays bounded by the routed split, never
    // tasks × lists (16 upstream tasks would otherwise give up to 16)
    assert(tightCounts.values.max <= 4096)
    // the 128 MB default on the same corpus: the whole input fits one
    // file, so the route is the single-file one with NO sampling job —
    // exactly the explicit route's jobs — and one file per list
    val loose = tmpStore("ivfautoloose")
    val looseJobs = build(loose)
    assert(looseJobs == singleJobs,
      s"an input under the target must not sample: $looseJobs jobs vs " +
        s"$singleJobs single-file")
    assert(filesPerDir(loose).values.max <= 1)
  }

  test("the build + append + compact chain stays within its job budget") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    // s28's store flow on the spec fixture, under this session's AQE
    // settings: 26 jobs before the chain was cut (route sampling on build
    // and append although the input fits one file, the compaction plan's
    // window job, parquet schema inference on each read-back), 18 after,
    // 16 once append's centroids/ and compaction's lists/ read-backs took
    // the manifest's schemas, 12 once the build picked its centroids and
    // model in one collect, the append read the memoized model and each
    // recount ran as one job. Two of the 12 are the fixture's own schema
    // inference (`emb` is read twice). A regrowing chain fails here first.
    val path = tmpStore("ivfbudget")
    val jobs = jobsOf {
      VectorIndex.writeIvfIndex(emb.filter(col("vec_id") % 7 =!= 0),
        col("vec_id"), col("embedding"), path)
      VectorIndex.appendToIvfIndex(emb.filter(col("vec_id") % 7 === 0),
        col("vec_id"), col("embedding"), path)
      VectorIndex.compactIvfIndex(spark, path)
    }
    assert(jobs <= 12, s"store flow launched $jobs jobs (budget 12)")
  }

  test("one probe of a built store stays within its job budget") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val path = tmpStore("ivfprobebudget")
    VectorIndex.writeIvfIndex(emb, col("vec_id"), col("embedding"), path)
    // the probed query assignment's one collect, then the probe itself:
    // the top-k window's shuffle stage and the result stage. The collected
    // rows reach the list scan as a broadcast variable, not through a
    // BroadcastExchange, which collects even a local relation through a
    // job. The stored model comes from the memo the build seeded, and the
    // list ids from the collected rows.
    val qs = queries
    val jobs = jobsOf {
      VectorIndex.probeIvfIndex(spark, path, qs, col("vec_id"),
        col("embedding")).write.format("noop").mode("overwrite").save()
    }
    assert(jobs <= 3, s"one probe launched $jobs jobs (budget 3)")
  }

  test("compaction sets its dynamic overwrite per write: untouched lists stay, the session's static mode is left alone") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val key = "spark.sql.sources.partitionOverwriteMode"
    val path = tmpStore("ivfcompactstatic")
    VectorIndex.writeIvfIndex(emb.filter(col("vec_id") % 7 =!= 0),
      col("vec_id"), col("embedding"), path, hier = None)
    VectorIndex.appendToIvfIndex(emb.filter(col("vec_id") % 7 === 0 &&
      col("vec_id") < 15), col("vec_id"), col("embedding"), path)
    def files(): Map[Long, Set[String]] =
      VectorIndex.listManifest(spark, path).as[(Long, String, Long)].collect()
        .groupBy(_._1).map { case (c, fs) => c -> fs.map(_._2).toSet }
    val before = files()
    val untouched = before.filter(_._2.size == 1)
    assert(untouched.nonEmpty && untouched.size < before.size,
      s"the append must leave some lists alone: $before")
    val want = ranking(VectorIndex.probeIvfIndex(spark, path, queries,
      col("vec_id"), col("embedding")))
    val stored = spark.read.parquet(s"$path/lists").count()
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "static")
    try {
      assert(!VectorIndex.compactIvfIndex(spark, path).isEmpty)
      assert(spark.conf.get(key) == "static")
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val after = files()
    assert(untouched.forall { case (c, fs) => after.get(c).contains(fs) },
      s"a static overwrite replaced untouched lists: $before -> $after")
    assert(spark.read.parquet(s"$path/lists").count() == stored)
    assert(ranking(VectorIndex.probeIvfIndex(spark, path, queries,
      col("vec_id"), col("embedding"))) == want)
  }

  test("the one-collect build writes the lists and centroids of the in-memory tier and probes like it, on both sides of the model gate") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    def rows(df: DataFrame, cols: String*): Seq[String] =
      df.select(cols.map(col): _*).collect().map(_.toString).toSeq.sorted
    def gate(name: String, base: DataFrame, stride: Int, maxCentroids: Int,
        hier: Option[Hier]): Unit = {
      val path = tmpStore(s"ivfgate$name")
      VectorIndex.writeIvfIndex(base, col("vec_id"), col("embedding"), path,
        centroidStride = stride, maxCentroids = maxCentroids, hier = hier)
      val b = base.select(col("vec_id"), col("embedding").as("v"))
      val cents = Similarity.ivfCentroids(b, stride, maxCentroids)
      assert(rows(spark.read.parquet(s"$path/centroids"), "c_id", "cv") ==
        rows(cents, "c_id", "cv"), s"$name: centroids/")
      assert(rows(spark.read.parquet(s"$path/lists"), "c_id", "vec_id", "v") ==
        rows(Similarity.assignLists(base, col("vec_id"), col("embedding"),
          cents, hier), "c_id", "vec_id", "v"), s"$name: lists/")
      val qs = base.filter(col("vec_id") < 5)
      val stored = ranking(VectorIndex.probeIvfIndex(spark, path, qs,
        col("vec_id"), col("embedding"), probe = Nearest(2)))
      assert(stored.nonEmpty && stored == ranking(Similarity.ivfTopK(base, qs,
        col("vec_id"), col("embedding"), centroidStride = stride,
        probe = Nearest(2), hier = hier, maxCentroids = maxCentroids)),
        s"$name: probe")
    }
    // the model path: the collected rows are the picked set
    gate("model", emb, 50, 15, Some(Hier(16, 2)))
    // a duplicate id AT the boundary: the picked set reaches past the
    // collected rows (ids 0, 50, …, 200 plus a second 200)
    gate("tie", emb.unionByName(emb.filter(col("vec_id") === 200)), 50, 5, None)
    // more picked rows than a model may hold: stride 1 over 8,300 rows
    val wide = spark.range(8300).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(4)),
        i => sin(col("id") * i).cast("float")).as("embedding"))
    gate("wide", wide, 1, 9000, Some(Hier(128, 1)))
    // a NULL vector among the picked rows
    gate("null", emb.withColumn("embedding",
      when(col("vec_id") =!= 100, col("embedding"))), 50, 20, None)
  }

  test("the stored model is read once per store version: append, compaction and probes reuse it, a rebuild from another corpus replaces it") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    def build(corpus: DataFrame, path: String): Unit = {
      VectorIndex.writeIvfIndex(corpus.filter(col("vec_id") % 7 > 1),
        col("vec_id"), col("embedding"), path)
      VectorIndex.appendToIvfIndex(corpus.filter(col("vec_id") % 7 === 0),
        col("vec_id"), col("embedding"), path)
    }
    def probe(path: String): DataFrame = VectorIndex.probeIvfIndex(spark, path,
      queries, col("vec_id"), col("embedding"))
    def modelJobs(path: String): Int = jobsOf(VectorIndex.storedModel(spark,
      path, VectorIndex.manifestOf(path)))
    // the same rows written again: a new store version of the same model,
    // so the next model read must collect once more
    def rewriteCentroids(path: String): Unit = {
      spark.read.parquet(s"$path/centroids").write.parquet(s"$path/centroids.new")
      val dir = new java.io.File(s"$path/centroids")
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
      assert(new java.io.File(s"$path/centroids.new").renameTo(dir))
    }
    val path = tmpStore("ivfmemo")
    VectorIndex.writeIvfIndex(emb.filter(col("vec_id") % 7 > 1),
      col("vec_id"), col("embedding"), path)
    assert(modelJobs(path) == 0, "the build seeds the memo")
    // an append on the memoized model runs one job fewer than the same
    // append on a version the memo has not seen: zero model collects
    val warmAppend = jobsOf(VectorIndex.appendToIvfIndex(
      emb.filter(col("vec_id") % 7 === 0), col("vec_id"), col("embedding"), path))
    rewriteCentroids(path)
    val coldAppend = jobsOf(VectorIndex.appendToIvfIndex(
      emb.filter(col("vec_id") % 7 === 1), col("vec_id"), col("embedding"), path))
    assert(coldAppend == warmAppend + 1,
      s"append: $warmAppend jobs on the memoized model, $coldAppend on a new version")
    assert(!VectorIndex.compactIvfIndex(spark, path).isEmpty)
    assert(modelJobs(path) == 0, "compaction keeps the store version")
    val warmProbe = jobsOf(probe(path))
    val want = ranking(probe(path))
    rewriteCentroids(path)
    val coldProbe = jobsOf(probe(path))
    assert(coldProbe == warmProbe + 1,
      s"probe: $warmProbe jobs on the memoized model, $coldProbe on a new version")
    assert(ranking(probe(path)) == want)
    // the same ids over other vectors, rebuilt at the same path: its
    // append and probes must use the new model, exactly like a store
    // built from that corpus at a path the memo has never seen
    val flipped = emb.withColumn("embedding", reverse(col("embedding")))
    build(flipped, path)
    val fresh = tmpStore("ivfmemofresh")
    build(flipped, fresh)
    def lists(p: String) = spark.read.parquet(s"$p/lists")
      .select(col("c_id").cast("long"), col("vec_id").cast("long"))
      .collect().toSet
    assert(lists(path) == lists(fresh), "the append must assign against the rebuilt model")
    val rebuilt = ranking(probe(path))
    assert(rebuilt == ranking(probe(fresh)) && rebuilt != want)
  }

  test("auto route is mass-proportional on a skewed corpus: heavy list fans out, probes invariant") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    // a Zipf-shaped corpus on disk (real plan stats): 70% of rows carry
    // vector 7's values (one heavy list), the rest keep their own — ids
    // stay unique so routing and probes are well-defined
    val heavyVec = emb.filter(col("vec_id") === 7)
      .select(col("embedding")).as[Array[Float]].head()
    val skewDir = tmpStore("skewcorpus").stripSuffix("/store")
    // spare vec_id % 10 == 0: the stride-picked centroids (% 50 == 0)
    // keep their own vectors, so the corpus still yields distinct lists
    emb.select(col("vec_id"),
        when(col("vec_id") % 10 >= 3, typedLit(heavyVec))
          .otherwise(col("embedding")).as("embedding"))
      .write.mode("overwrite").parquet(s"$skewDir/embeddings.parquet")
    val skew = spark.read.parquet(s"$skewDir/embeddings.parquet")
    def filesPerDir(path: String): Map[Long, Int] =
      new java.io.File(s"$path/lists").listFiles().toSeq
        .filter(_.getName.startsWith("c_id="))
        .map(d => d.getName.stripPrefix("c_id=").toLong -> d.listFiles()
          .count(f => f.getName.endsWith(".parquet"))).toMap
    // auto route at a tight byte target: the heavy list must get MORE
    // files than the light ones — the global-mean rule gave every list
    // the same count, sizing the heavy list's files at ~heavyShare ×
    // lists × target
    val path = tmpStore("ivfskew")
    VectorIndex.writeIvfIndex(skew.repartition(16), col("vec_id"),
      col("embedding"), path, hier = None, targetFileBytes = 1024L)
    val counts = filesPerDir(path)
    val heavyList = spark.read.parquet(s"$path/lists")
      .groupBy(col("c_id").cast("long")).count()
      .orderBy(col("count").desc).as[(Long, Long)].head()._1
    assert(counts(heavyList) > 1,
      s"heavy list should split at a 1 KB target: $counts")
    assert(counts(heavyList) == counts.values.max &&
      counts.values.min < counts(heavyList),
      s"file counts should track list mass: $counts (heavy=$heavyList)")
    // layout is invisible to results: probe ≡ the same store built with
    // the single-file route
    val ref = tmpStore("ivfskewref")
    VectorIndex.writeIvfIndex(skew, col("vec_id"), col("embedding"), ref,
      hier = None, filesPerList = 1)
    val skewQueries = skew.filter(col("vec_id") >= 8 && col("vec_id") < 13)
    val a = ranking(VectorIndex.probeIvfIndex(spark, path, skewQueries,
      col("vec_id"), col("embedding"), k = 10, probe = Nearest(2)))
    val b = ranking(VectorIndex.probeIvfIndex(spark, ref, skewQueries,
      col("vec_id"), col("embedding"), k = 10, probe = Nearest(2)))
    assert(a == b && a.nonEmpty)
  }

  test("append's auto route is also mass-proportional: a skewed increment fans its heavy list") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    // build on a light slice, then append a skewed bulk increment whose
    // rows concentrate on one vector — the backfill case where the r17
    // rule wrote the increment's heavy share into one straggler file
    val heavyVec = emb.filter(col("vec_id") === 7)
      .select(col("embedding")).as[Array[Float]].head()
    val skewDir = tmpStore("skewinc").stripSuffix("/store")
    emb.select(col("vec_id"),
        when(col("vec_id") % 10 >= 3, typedLit(heavyVec))
          .otherwise(col("embedding")).as("embedding"))
      .write.mode("overwrite").parquet(s"$skewDir/embeddings.parquet")
    val skew = spark.read.parquet(s"$skewDir/embeddings.parquet")
    val path = tmpStore("ivfskewapp")
    VectorIndex.writeIvfIndex(skew.filter(col("vec_id") % 10 < 3),
      col("vec_id"), col("embedding"), path, hier = None,
      targetFileBytes = 1024L)
    def filesPerDir(): Map[Long, Int] =
      new java.io.File(s"$path/lists").listFiles().toSeq
        .filter(_.getName.startsWith("c_id="))
        .map(d => d.getName.stripPrefix("c_id=").toLong -> d.listFiles()
          .count(f => f.getName.endsWith(".parquet"))).toMap
    val before = filesPerDir()
    VectorIndex.appendToIvfIndex(skew.filter(col("vec_id") % 10 >= 3),
      col("vec_id"), col("embedding"), path, targetFileBytes = 1024L)
    val after = filesPerDir()
    val heavyList = spark.read.parquet(s"$path/lists")
      .groupBy(col("c_id").cast("long")).count()
      .orderBy(col("count").desc).as[(Long, Long)].head()._1
    val gained = after.map { case (c, n) => c -> (n - before.getOrElse(c, 0)) }
    assert(gained(heavyList) > 1,
      s"heavy list should gain >1 file from the skewed increment: $gained")
    assert(gained(heavyList) == gained.values.max, s"gains: $gained")
    // the store still serves: appended rows all present
    assert(spark.read.parquet(s"$path/lists").count() == skew.count())
  }

  test("compaction also SPLITS an oversized file, and the rewrite right-sizes it") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    // force the failure the merge-only rule could never fix: every list
    // written as ONE file (explicit filesPerList = 1), then compact at a
    // target small enough that some single file is > 2× target
    val path = tmpStore("ivfsplit")
    VectorIndex.writeIvfIndex(emb, col("vec_id"), col("embedding"), path,
      hier = None, filesPerList = 1)
    val before = VectorIndex.listManifest(spark, path)
      .as[(Long, String, Long)].collect()
    assert(before.groupBy(_._1).values.forall(_.size == 1))
    val target = 1024L
    val oversized = before.filter(_._3 > 2L * target).map(_._1).toSet
    assert(oversized.nonEmpty, s"fixture too small: ${before.toSeq}")
    val probeBefore = ranking(VectorIndex.probeIvfIndex(spark, path,
      queries, col("vec_id"), col("embedding"), k = 10, probe = Nearest(2)))
    val plan = VectorIndex.compactIvfIndex(spark, path, targetBytes = target)
    val planned = plan.select(col("c_id").cast("long")).distinct()
      .as[Long].collect().toSet
    assert(oversized.subsetOf(planned),
      s"oversized lists $oversized not all planned ($planned)")
    val after = VectorIndex.listManifest(spark, path)
      .as[(Long, String, Long)].collect()
    // every oversized list was fanned out across more, smaller files
    for (c <- oversized) {
      val files = after.filter(_._1 == c)
      assert(files.size > 1, s"list $c still one file after split-compact")
      assert(files.map(_._3).max < before.find(_._1 == c).get._3,
        s"list $c max file did not shrink")
    }
    // rows and probe results are untouched by the rewrite
    assert(spark.read.parquet(s"$path/lists").count() == emb.count())
    val probeAfter = ranking(VectorIndex.probeIvfIndex(spark, path,
      queries, col("vec_id"), col("embedding"), k = 10, probe = Nearest(2)))
    assert(probeAfter == probeBefore && probeAfter.nonEmpty)
  }

  test("filtered probe: full k among matching rows, predicate pushed into the pruned scan") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val path = tmpStore("ivffil")
    VectorIndex.writeIvfIndex(emb, col("vec_id"), col("embedding"), path,
      payload = Seq(col("label")))
    val filtered = VectorIndex.probeIvfIndex(spark, path, queries,
      col("vec_id"), col("embedding"), k = 10, probe = Nearest(2),
      where = Some(col("label") < 4))
    val labels = emb.select(col("vec_id"), col("label"))
      .as[(Long, Int)].collect().toMap
    val got = ranking(filtered)
    assert(got.nonEmpty && got.forall(r => labels(r._2) < 4))
    // pre-filter semantics: filtering an UNCAPPED unfiltered probe of the
    // same store per query and re-ranking the survivors is the same
    // top-10 — the filter restricts candidates, it never costs a match
    val all = ranking(VectorIndex.probeIvfIndex(spark, path, queries,
      col("vec_id"), col("embedding"), k = 1000000, probe = Nearest(2)))
    val expected = all.groupBy(_._1).toSeq.flatMap { case (q, rows) =>
      rows.sortBy(_._3).filter(r => labels(r._2) < 4).take(10)
        .zipWithIndex.map { case (r, i) => (q, r._2, (i + 1).toLong) }
    }.sortBy(r => (r._1, r._3))
    assert(got == expected)
    // the predicate reaches the store scan as a PUSHED parquet filter on
    // only the probed partitions — never a post-scan attribute join
    withoutAqe {
      val one = VectorIndex.probeIvfIndex(spark, path,
        emb.filter(col("vec_id") === 0), col("vec_id"), col("embedding"),
        k = 10, probe = Nearest(2), where = Some(col("label") < 4))
      one.write.mode("overwrite").format("noop").save()
      val scans = one.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.metadata.get("Location").exists(_.contains("lists")) => s
      }
      assert(scans.nonEmpty)
      assert(scans.exists(_.metadata.get("PushedFilters")
          .exists(_.contains("LessThan(label,4)"))),
        scans.map(_.metadata.get("PushedFilters")).mkString("\n"))
      assert(scans.map(_.metrics("numPartitions").value).max <= 2)
    }
  }

  test("range probe: threshold replaces the rank; equals the uncapped probe filtered by cos, composes with where") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val path = tmpStore("ivfrange")
    VectorIndex.writeIvfIndex(emb, col("vec_id"), col("embedding"), path,
      payload = Seq(col("label")))
    val t = 0.25
    val range = VectorIndex.probeIvfRange(spark, path, queries,
      col("vec_id"), col("embedding"), minCosine = t, probe = Nearest(2))
      .select("q_id", "vec_id", "cos_ud").as[(Long, Long, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    // same candidates as an uncapped top-k probe of the same store,
    // cut by threshold instead of rank (the integer bar BOTH paths use)
    val viaTopK = VectorIndex.probeIvfIndex(spark, path, queries,
      col("vec_id"), col("embedding"), k = 1000000, probe = Nearest(2))
      .filter(col("cos_ud") >= Similarity.cosineMicros2(t))
      .select("q_id", "vec_id", "cos_ud").as[(Long, Long, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(range == viaTopK && range.nonEmpty)
    // the threshold replaces top-k's final per-query rank: the range plan
    // has no Window at all and strictly fewer exchanges than the top-k
    // probe of the same store (the query-ASSIGNMENT subplan's own
    // exchanges are shared by both)
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
    val rangePlan = planOf(VectorIndex.probeIvfRange(spark, path, queries,
      col("vec_id"), col("embedding"), minCosine = t, probe = Nearest(2)))
    val topkPlan = planOf(VectorIndex.probeIvfIndex(spark, path, queries,
      col("vec_id"), col("embedding"), k = 10, probe = Nearest(2)))
    def count(s: String, token: String) = s.sliding(token.length).count(_ == token)
    // the query-ASSIGNMENT's windows (partitioned by the query id) exist
    // in both plans; the per-query RESULT rank (partitioned by q_id) only
    // in top-k's
    assert(!rangePlan.contains("windowspecdefinition(q_id"), rangePlan)
    assert(topkPlan.contains("windowspecdefinition(q_id"), topkPlan)
    assert(count(rangePlan, "Exchange") < count(topkPlan, "Exchange"),
      s"range=${count(rangePlan, "Exchange")} topk=${count(topkPlan, "Exchange")}")
    // pre-filter composes: every survivor matches the payload predicate
    val labels = emb.select(col("vec_id"), col("label"))
      .as[(Long, Int)].collect().toMap
    val filtered = VectorIndex.probeIvfRange(spark, path, queries,
      col("vec_id"), col("embedding"), minCosine = t, probe = Nearest(2),
      where = Some(col("label") < 4))
      .select("q_id", "vec_id").as[(Long, Long)].collect()
    assert(filtered.nonEmpty && filtered.forall(r => labels(r._2) < 4))
    assert(filtered.toSet == range.filter(r => labels(r._2) < 4)
      .map(r => (r._1, r._2)).toSet)
  }

  test("probeStream passes the filter through: streamed filtered serving ≡ the batch filtered probe") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    implicit val sqlCtx = spark.sqlContext
    val path = tmpStore("ivfservefil")
    VectorIndex.writeIvfIndex(emb, col("vec_id"), col("embedding"), path,
      payload = Seq(col("label")))
    val pred = Some(col("label") < 4)
    val qs = queries.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val stream = MemoryStream[(Long, Array[Float])]
    val q = VectorIndex.probeStream(
      stream.toDF().toDF("vec_id", "embedding"),
      col("vec_id"), col("embedding"), path,
      (res, _) => got.synchronized {
        got ++= res.select("q_id", "vec_id", "rn")
          .as[(Long, Long, Long)].collect()
      },
      k = 10, probe = Nearest(2), where = pred)
    try {
      stream.addData(qs: _*)
      q.processAllAvailable()
    } finally q.stop()
    val batch = ranking(VectorIndex.probeIvfIndex(spark, path, queries,
      col("vec_id"), col("embedding"), k = 10, probe = Nearest(2), where = pred))
    assert(got.sortBy(r => (r._1, r._3)).toSeq == batch && batch.nonEmpty)
  }

  test("filtered PQ probe: pool holds MATCHING candidates; with a covering pool it equals the flat filtered probe") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val path = tmpStore("ivffilpq")
    VectorIndex.writeIvfIndex(emb, col("vec_id"), col("embedding"), path,
      pq = true, payload = Seq(col("label")))
    val pred = Some(col("label") < 4)
    // pool ≥ any list's size ⇒ ADC ordering is immaterial and the exact
    // rescore ranks ALL matching candidates — must equal the flat
    // filtered probe over the same store
    val pq = ranking(VectorIndex.probeIvfPqIndex(spark, path, queries,
      col("vec_id"), col("embedding"), k = 10, probe = Nearest(2), pool = 1000000,
      where = pred))
    val flat = ranking(VectorIndex.probeIvfIndex(spark, path, queries,
      col("vec_id"), col("embedding"), k = 10, probe = Nearest(2), where = pred))
    assert(pq == flat && pq.nonEmpty)
    val labels = emb.select(col("vec_id"), col("label"))
      .as[(Long, Int)].collect().toMap
    assert(pq.forall(r => labels(r._2) < 4))
  }

  test("filtered-adaptive probe at full budget ≡ exact filtered top-k; stats/ persists the histogram") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val path = tmpStore("ivffila")
    VectorIndex.writeIvfIndex(emb, col("vec_id"), col("embedding"), path,
      hier = None, payload = Seq(col("label")),
      statsCols = Seq("label"))
    // massPpm = 1e6 covers every matching list → the probe must be the
    // exact cosine top-k among matching rows (the filtered ground truth)
    val got = ranking(VectorIndex.probeIvfIndexFiltered(spark, path,
      queries, col("vec_id"), col("embedding"), statsCol = "label",
      statsValues = Seq(3), k = 10, massPpm = 1000000L))
    val exact = ranking(Similarity.bruteForceTopK(
      emb.filter(col("label") === 3), queries, col("vec_id"),
      col("embedding"), k = 10))
    assert(got == exact && got.nonEmpty)
  }

  test("filtered-adaptive: the raw-mass budget misses an anti-correlated filter; the filtered mass restores it") {
    // the §18a finding as a permanent pin — two well-separated clusters,
    // the heavy one (40 rows, label 0) holding the query, the rare one
    // (10 rows, label 1) holding every matching row. Lists: stride-10
    // centroids give the heavy cluster 4 lists and the rare one 1, so a
    // raw-mass budget of 20% (10 rows) is exhausted by the query's own
    // first heavy list — the rare label's list is never probed, every
    // candidate dies on the scan predicate, and the filtered result is
    // EMPTY. The filtered mass runs the same gate over matching counts
    // (zero-match lists dropped outright), so the same 20% budget probes
    // the rare list first and returns the exact filtered top-k.
    val vecs = (0L until 50L).map { i =>
      val (base, lbl) = if (i < 40) (1.0f, 0) else (-1.0f, 1)
      (i, Array(base, 0.02f * (i % 10), 0.01f * (i % 7), 0.1f), lbl)
    }
    val df = vecs.toDF("vec_id", "embedding", "label")
    val path = tmpStore("ivfanti")
    VectorIndex.writeIvfIndex(df, col("vec_id"), col("embedding"), path,
      hier = None, centroidStride = 10, payload = Seq(col("label")),
      statsCols = Seq("label"))
    val q = df.filter(col("vec_id") === 0) // deep inside the heavy cluster
    val raw = VectorIndex.probeIvfIndex(spark, path, q,
      col("vec_id"), col("embedding"), k = 10, probe = Mass(200000L),
      where = Some(col("label") === 1))
    assert(raw.isEmpty,
      "raw-mass budget unexpectedly reached the rare label's list — " +
        "the anti-correlated fixture no longer demonstrates the failure")
    val fil = ranking(VectorIndex.probeIvfIndexFiltered(spark, path, q,
      col("vec_id"), col("embedding"), statsCol = "label",
      statsValues = Seq(1), k = 10, massPpm = 200000L))
    val exact = ranking(Similarity.bruteForceTopK(
      df.filter(col("label") === 1), q, col("vec_id"), col("embedding"),
      k = 10))
    assert(fil == exact && fil.size == 10)
  }

  test("filtered-adaptive falls back to a stats recount when stats/ is absent; ensure heals the artifact") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val path = tmpStore("ivffilb")
    // built WITHOUT statsCols — the probe recounts from the lists'
    // (c_id, label) columns and must decide identically
    VectorIndex.writeIvfIndex(emb, col("vec_id"), col("embedding"), path,
      hier = None, payload = Seq(col("label")))
    val noStats = ranking(VectorIndex.probeIvfIndexFiltered(spark, path,
      queries, col("vec_id"), col("embedding"), statsCol = "label",
      statsValues = Seq(3), k = 10, massPpm = 300000L))
    // ensure on the servable store counts the missing histogram into
    // the manifest without a rebuild; the probe then reads it — same rows
    VectorIndex.ensureIvfIndex(emb, col("vec_id"), col("embedding"), path,
      hier = None, payload = Seq(col("label")),
      statsCols = Seq("label"))
    val withStats = ranking(VectorIndex.probeIvfIndexFiltered(spark, path,
      queries, col("vec_id"), col("embedding"), statsCol = "label",
      statsValues = Seq(3), k = 10, massPpm = 300000L))
    assert(noStats == withStats && noStats.nonEmpty)
  }

  test("append refreshes stats/ — a label that exists only in the increment becomes probeable") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val path = tmpStore("ivffilc")
    // base slice excludes label 9 entirely; the filtered probe must
    // fail LOUDLY (no matching rows), not return an empty result
    VectorIndex.writeIvfIndex(emb.filter(col("label") =!= 9),
      col("vec_id"), col("embedding"), path, hier = None,
      payload = Seq(col("label")), statsCols = Seq("label"))
    val ex = intercept[IllegalArgumentException] {
      VectorIndex.probeIvfIndexFiltered(spark, path, queries,
        col("vec_id"), col("embedding"), statsCol = "label",
        statsValues = Seq(9), k = 10, massPpm = 1000000L)
    }
    assert(ex.getMessage.contains("no stored rows match"))
    VectorIndex.appendToIvfIndex(emb.filter(col("label") === 9),
      col("vec_id"), col("embedding"), path)
    // histogram recounted on append → the new label's masses drive the
    // budget and its rows are served
    val labels = emb.select(col("vec_id"), col("label"))
      .as[(Long, Int)].collect().toMap
    val got = ranking(VectorIndex.probeIvfIndexFiltered(spark, path,
      queries, col("vec_id"), col("embedding"), statsCol = "label",
      statsValues = Seq(9), k = 10, massPpm = 1000000L))
    assert(got.nonEmpty && got.forall(r => labels(r._2) == 9))
  }

  test("filtered-adaptive loud failures: a non-payload stats column is rejected") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val path = tmpStore("ivffild")
    VectorIndex.writeIvfIndex(emb, col("vec_id"), col("embedding"), path,
      hier = None)
    val ex = intercept[IllegalArgumentException] {
      VectorIndex.probeIvfIndexFiltered(spark, path, queries,
        col("vec_id"), col("embedding"), statsCol = "label",
        statsValues = Seq(3), k = 10)
    }
    assert(ex.getMessage.contains("not a stored payload column"))
    // and statsCols on the build must name payload columns
    val ex2 = intercept[IllegalArgumentException] {
      VectorIndex.writeIvfIndex(emb, col("vec_id"), col("embedding"),
        tmpStore("ivffile"), hier = None,
        statsCols = Seq("label"))
    }
    assert(ex2.getMessage.contains("statsCols must name payload columns"))
  }

  test("append carries the recorded payload columns; an increment missing one fails loudly") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val path = tmpStore("ivffilapp")
    VectorIndex.writeIvfIndex(emb.filter(col("vec_id") % 7 =!= 0),
      col("vec_id"), col("embedding"), path, payload = Seq(col("label")))
    VectorIndex.appendToIvfIndex(emb.filter(col("vec_id") % 7 === 0),
      col("vec_id"), col("embedding"), path)
    val lists = spark.read.parquet(s"$path/lists")
    assert(lists.columns.contains("label"))
    assert(lists.count() == emb.count())
    assert(lists.filter(col("label").isNull).count() == 0)
    // the filtered probe sees appended rows through the same predicate
    val got = ranking(VectorIndex.probeIvfIndex(spark, path, queries,
      col("vec_id"), col("embedding"), k = 10, probe = Nearest(2),
      where = Some(col("label") < 4)))
    assert(got.nonEmpty)
    // increments must carry the build's payload schema — a missing
    // column is an analysis-time error, not rows a filtered probe
    // silently treats as predicate-false
    intercept[org.apache.spark.sql.AnalysisException] {
      VectorIndex.appendToIvfIndex(
        emb.filter(col("vec_id") % 7 === 0).drop("label"),
        col("vec_id"), col("embedding"), path)
    }
  }

  test("a store built under another assignment-semantics generation is rejected, not silently probed") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val path = tmpStore("ivfgen")
    val marker = new org.apache.hadoop.fs.Path(path, Marker)
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    // what the older writers left, by the generation a probe reports: v5's
    // EMPTY completeness marker beside a one-row meta/ table stamped
    // format_version = 5, and v6's manifest, which names no schemas
    val olds: Seq[(String, () => Unit)] = Seq(
      "≤ 5" -> (() => {
        fs.delete(marker, false)
        fs.create(marker, true).close()
        Seq((true, 16, 2, true, 8, 16, "label", 5, false))
          .toDF("hierarchical", "super_stride", "s_probe", "pq",
            "num_subspaces", "num_codes", "payload", "format_version",
            "pq_residual")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
      }),
      "6" -> (() => {
        import org.json4s._
        import org.json4s.jackson.JsonMethods.{compact, parse, render}
        val in = fs.open(marker)
        val v7 = try parse(new String(in.readAllBytes(), "UTF-8"))
          finally in.close()
        val v6 = v7.removeField(f =>
            f._1 == "listsSchema" || f._1 == "centroidsSchema")
          .replace(List("version"), JInt(6))
        val out = fs.create(marker, true)
        try out.write(compact(render(v6)).getBytes("UTF-8")) finally out.close()
      }))
    val (id, vec) = (col("vec_id"), col("embedding"))
    val calls: Seq[(String, () => Any)] = Seq(
      "probeIvfIndex" -> (() =>
        VectorIndex.probeIvfIndex(spark, path, queries, id, vec)),
      "probeIvfIndex Mass" -> (() =>
        VectorIndex.probeIvfIndex(spark, path, queries, id, vec,
          probe = Mass(150000L))),
      "probeIvfIndexFiltered" -> (() =>
        VectorIndex.probeIvfIndexFiltered(spark, path, queries, id, vec,
          statsCol = "label", statsValues = Seq(3))),
      "probeIvfIndex HierMass" -> (() =>
        VectorIndex.probeIvfIndex(spark, path, queries, id, vec,
          probe = HierMass(150000L))),
      "probeIvfRange" -> (() =>
        VectorIndex.probeIvfRange(spark, path, queries, id, vec,
          minCosine = 0.25)),
      "probeIvfPqIndex" -> (() =>
        VectorIndex.probeIvfPqIndex(spark, path, queries, id, vec)),
      "appendToIvfIndex" -> (() =>
        VectorIndex.appendToIvfIndex(queries, id, vec, path)))
    for ((gen, reshape) <- olds) {
      VectorIndex.writeIvfIndex(emb, id, vec, path, pq = true,
        payload = Seq(col("label")))
      reshape()
      for ((name, call) <- calls) {
        val e = intercept[IllegalArgumentException](call())
        assert(e.getMessage.contains(s"generation $gen"),
          s"$gen/$name: ${e.getMessage}")
      }
      // ensure = build-if-needed: an older-generation store is REBUILT
      // (probe/append fail, the serving gate refreshes)
      assert(!VectorIndex.isServable(spark, path), gen)
      VectorIndex.ensureIvfIndex(emb, id, vec, path)
      assert(VectorIndex.isServable(spark, path), gen)
      assert(ranking(VectorIndex.probeIvfIndex(spark, path, queries, id, vec))
        .nonEmpty, gen)
    }
  }

  test("a damaged manifest is not servable: ensure rebuilds, probes and appends fail naming the store") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val path = tmpStore("ivfdamaged")
    val marker = new org.apache.hadoop.fs.Path(path, Marker)
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    // two ways to lose the manifest's second half: rewritten short through
    // the filesystem API (the JSON no longer parses), and truncated in
    // place behind its back (a checksummed filesystem fails the read)
    val damages: Seq[(String, () => Unit)] = Seq(
      "rewritten" -> (() => {
        val in = fs.open(marker)
        val bytes = try in.readAllBytes() finally in.close()
        val out = fs.create(marker, true)
        try out.write(bytes.take(bytes.length / 2)) finally out.close()
      }),
      "truncated" -> (() => {
        val f = new java.io.RandomAccessFile(s"$path/$Marker", "rw")
        try f.setLength(f.length / 2) finally f.close()
      }))
    VectorIndex.writeIvfIndex(emb, col("vec_id"), col("embedding"), path)
    val want = ranking(VectorIndex.probeIvfIndex(spark, path, queries,
      col("vec_id"), col("embedding")))
    for ((how, damage) <- damages) {
      damage()
      assert(VectorIndex.isComplete(path), how)
      assert(!VectorIndex.isServable(spark, path), how)
      val probe = intercept[IllegalArgumentException] {
        VectorIndex.probeIvfIndex(spark, path, queries, col("vec_id"),
          col("embedding"))
      }
      val append = intercept[IllegalArgumentException] {
        VectorIndex.appendToIvfIndex(queries, col("vec_id"),
          col("embedding"), path)
      }
      for (e <- Seq(probe, append))
        assert(e.getMessage.contains(path) && e.getMessage.contains("damaged"),
          s"$how: ${e.getMessage}")
      VectorIndex.ensureIvfIndex(emb, col("vec_id"), col("embedding"), path)
      assert(VectorIndex.isServable(spark, path), how)
      assert(ranking(VectorIndex.probeIvfIndex(spark, path, queries,
        col("vec_id"), col("embedding"))) == want, how)
    }
  }

  test("the store root holds only lists/, centroids/, codebook/ (PQ) and the manifest, whose counts equal a recount of lists/ after build, append and compact") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    // a string histogram with a NULL group beside the int one: histogram
    // values must keep their column's type and their NULL group
    val corpus = emb.withColumn("tag",
      when(col("label") < 8, (col("label") % 3).cast("string")))
    // the build slice keeps every stride-picked PQ codebook id (0,16,…,240)
    val build = corpus.filter(col("vec_id") < 250 || col("vec_id") >= 300)
    val inc = corpus.filter(col("vec_id") >= 250 && col("vec_id") < 300)
    // each read-back's recorded schema must be parquet's own: names and
    // types in read order, apart from lists/' `c_id` partition column,
    // which a schema-free read types from the directory names
    def shape(t: org.apache.spark.sql.types.StructType) =
      t.fields.toSeq.map(f => (f.name, f.dataType))
    val stores = Seq(
      ("plain", false, false, Nil),
      ("pq", true, false, Nil),
      ("pqr", true, true, Nil),
      ("stats", false, false, Seq("label", "tag")))
    for ((name, pq, residual, statsCols) <- stores) {
      val path = tmpStore(s"ivflayout$name")
      def check(step: String): Unit = {
        // hidden entries are the local filesystem's .crc checksum sidecars
        val root = new java.io.File(path).list().filterNot(_.startsWith("."))
        assert(root.toSet == Set("lists", "centroids", Marker) ++
          (if (pq) Set("codebook") else Set()), s"$name/$step: ${root.toSeq}")
        val lists = spark.read.parquet(s"$path/lists")
        def recount(c: String*) = lists
          .groupBy((col("c_id").cast("long") +: c.map(col)): _*)
          .agg(count(lit(1))).collect().toSet
        assert(VectorIndex.listSizes(spark, path).collect().toSet == recount(),
          s"$name/$step: sizes")
        for (c <- statsCols) {
          val stats = VectorIndex.listStats(spark, path, c)
          assert(stats.schema("sval").dataType == lists.schema(c).dataType,
            s"$name/$step: $c type")
          assert(stats.collect().toSet == recount(c), s"$name/$step: $c")
        }
        val m = VectorIndex.manifestOf(path)
        assert(shape(VectorIndex.storedLists(spark, path).drop("c_id").schema) ==
          shape(lists.drop("c_id").schema), s"$name/$step: lists schema")
        assert(shape(VectorIndex.centroidsOf(spark, path, m).schema) ==
          shape(spark.read.parquet(s"$path/centroids").schema),
          s"$name/$step: centroids schema")
        if (pq) assert(shape(VectorIndex.CodebookSchema) ==
          shape(spark.read.parquet(s"$path/codebook").schema),
          s"$name/$step: codebook schema")
      }
      VectorIndex.writeIvfIndex(build, col("vec_id"), col("embedding"), path,
        hier = None, pq = pq, pqResidual = residual,
        payload = statsCols.map(col), statsCols = statsCols)
      check("build")
      VectorIndex.appendToIvfIndex(inc, col("vec_id"), col("embedding"), path)
      check("append")
      assert(!VectorIndex.compactIvfIndex(spark, path).isEmpty,
        s"$name: the append left nothing to compact")
      check("compact")
    }
  }

  test("store read-backs run no Spark job: lists, probed lists and centroids read under the recorded schemas") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val path = tmpStore("ivfreadjobs")
    VectorIndex.writeIvfIndex(emb, col("vec_id"), col("embedding"), path,
      payload = Seq(col("label")))
    val m = VectorIndex.manifestOf(path)
    val ids = m.counts.listSizes.map(_._1).take(2).toArray
    // probes and compaction read probed lists and centroids; the build's
    // membership read-back and SemDeDup read all lists
    val jobs = jobsOf {
      VectorIndex.storedLists(spark, path)
      VectorIndex.prunedLists(spark, path, m, ids, Some(col("label") < 4))
      VectorIndex.centroidsOf(spark, path, m)
    }
    assert(jobs == 0, s"read-backs launched $jobs jobs")
  }

  test("an append whose payload type drifts fails loudly, naming the column, and writes nothing") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val path = tmpStore("ivfdrift")
    VectorIndex.writeIvfIndex(emb.filter(col("vec_id") % 7 =!= 0),
      col("vec_id"), col("embedding"), path, payload = Seq(col("label")))
    def files(): Seq[String] =
      new java.io.File(s"$path/lists").listFiles().toSeq
        .filter(_.getName.startsWith("c_id="))
        .flatMap(_.list().filter(_.endsWith(".parquet"))).sorted
    val before = files()
    val want = ranking(VectorIndex.probeIvfIndex(spark, path, queries,
      col("vec_id"), col("embedding")))
    val e = intercept[IllegalArgumentException] {
      VectorIndex.appendToIvfIndex(emb.filter(col("vec_id") % 7 === 0)
        .withColumn("label", col("label").cast("string")),
        col("vec_id"), col("embedding"), path)
    }
    assert(e.getMessage.contains(path) && e.getMessage.contains("label as string"),
      e.getMessage)
    assert(files() == before)
    assert(ranking(VectorIndex.probeIvfIndex(spark, path, queries,
      col("vec_id"), col("embedding"))) == want)
  }

  test("one-file-per-list writes run min(lists, cores) tasks and leave one file per list, with fewer lists than cores and with more") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val cores = spark.sparkContext.defaultParallelism
    for (maxCentroids <- Seq(cores - 1, 256)) {
      val path = tmpStore(s"ivfwidth$maxCentroids")
      def filesPerDir(): Seq[Int] =
        new java.io.File(s"$path/lists").listFiles().toSeq
          .filter(_.getName.startsWith("c_id="))
          .map(_.list().count(_.endsWith(".parquet")))
      val build = writeStageTasksOf(VectorIndex.writeIvfIndex(
        emb.filter(col("vec_id") % 7 =!= 0), col("vec_id"), col("embedding"),
        path, hier = None, maxCentroids = maxCentroids))
      val lists = spark.read.parquet(s"$path/centroids").count().toInt
      assert(filesPerDir().size == lists &&
        (if (maxCentroids < cores) lists < cores else lists > cores),
        s"maxCentroids $maxCentroids: $lists lists")
      // lists/ first, then the one-task centroids/ write
      assert(build == Seq(lists.min(cores), 1), s"$lists lists: build $build")
      assert(filesPerDir().forall(_ == 1), s"$lists lists: ${filesPerDir()}")
      val append = writeStageTasksOf(VectorIndex.appendToIvfIndex(
        emb.filter(col("vec_id") % 7 === 0), col("vec_id"), col("embedding"),
        path))
      assert(append == Seq(lists.min(cores)), s"$lists lists: append $append")
      var rewritten = 0L
      val compact = writeStageTasksOf {
        rewritten = VectorIndex.compactIvfIndex(spark, path)
          .select("c_id").distinct().count()
      }
      assert(rewritten > 0 && compact == Seq(rewritten.min(cores)),
        s"$lists lists, $rewritten rewritten: compact $compact")
      assert(filesPerDir().forall(_ == 1), s"$lists lists: ${filesPerDir()}")
    }
  }

  test("store probes reject a non-positive k, nProbe or pool, naming the argument") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val path = tmpStore("ivfargs")
    VectorIndex.writeIvfIndex(emb, col("vec_id"), col("embedding"), path,
      hier = None, pq = true)
    val (id, v) = (col("vec_id"), col("embedding"))
    def rejects(arg: String)(call: => DataFrame): Unit = {
      val e = intercept[IllegalArgumentException](call)
      assert(e.getMessage.contains(s"$arg must be positive"), e.getMessage)
    }
    for (bad <- Seq(0, -1)) {
      rejects("k")(VectorIndex.probeIvfIndex(spark, path, queries, id, v, k = bad))
      rejects("nProbe")(VectorIndex.probeIvfIndex(spark, path, queries, id, v,
        probe = Nearest(bad)))
      rejects("k")(VectorIndex.probeIvfIndex(spark, path, queries, id, v,
        k = bad, probe = Mass(150000L)))
      rejects("nProbe")(VectorIndex.probeIvfRange(spark, path, queries, id, v,
        minCosine = 0.5, probe = Nearest(bad)))
      rejects("k")(VectorIndex.probeIvfPqIndex(spark, path, queries, id, v,
        k = bad))
      rejects("pool")(VectorIndex.probeIvfPqIndex(spark, path, queries, id, v,
        pool = bad))
    }
    def rejectsNaming(arg: String)(call: => DataFrame): Unit = {
      val e = intercept[IllegalArgumentException](call)
      assert(e.getMessage.contains(arg), e.getMessage)
    }
    for (bad <- Seq(0L, 1000001L)) {
      rejectsNaming("massPpm")(VectorIndex.probeIvfIndex(spark, path, queries,
        id, v, probe = Mass(bad)))
      rejectsNaming("massPpm")(VectorIndex.probeIvfPqIndex(spark, path,
        queries, id, v, probe = Mass(bad)))
      rejectsNaming("massPpm")(VectorIndex.probeIvfRange(spark, path, queries,
        id, v, minCosine = 0.5, probe = HierMass(bad)))
    }
    // the store is flat: a two-level budget has no recorded super filing
    rejectsNaming("hier")(VectorIndex.probeIvfIndex(spark, path, queries, id,
      v, probe = HierMass(150000L)))
    rejectsNaming("hier")(VectorIndex.probeIvfPqIndex(spark, path, queries,
      id, v, probe = HierMass(150000L)))
  }

  test("a mass-budget PQ probe floors a fixed pool at k, in memory and in a store alike") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val path = tmpStore("ivfpqmassfloor")
    VectorIndex.writeIvfIndex(emb, col("vec_id"), col("embedding"), path,
      hier = None, pq = true)
    // pool = 1 under Mass: the floor is k (no probe count to multiply)
    val stored = VectorIndex.probeIvfPqIndex(spark, path, queries,
      col("vec_id"), col("embedding"), k = 10, probe = Mass(150000L),
      pool = 1)
    val inflight = Similarity.ivfPqTopK(emb, queries, col("vec_id"),
      col("embedding"), k = 10, centroidStride = 50, probe = Mass(150000L),
      pool = 1)
    val perQuery = ranking(stored).groupBy(_._1).values.map(_.size).toSet
    assert(perQuery == Set(10), s"rows per query: $perQuery")
    assert(ranking(stored) == ranking(inflight))
  }

  test("loud failures: probing an incomplete store, PQ-probing a non-PQ store, appending to nothing") {
    val path = tmpStore("ivfbad")
    intercept[IllegalArgumentException] {
      VectorIndex.probeIvfIndex(spark, path, queries, col("vec_id"), col("embedding"))
    }
    intercept[IllegalArgumentException] {
      VectorIndex.appendToIvfIndex(queries, col("vec_id"), col("embedding"), path)
    }
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    // payload names may not collide with the store's own columns
    intercept[IllegalArgumentException] {
      VectorIndex.writeIvfIndex(emb, col("vec_id"), col("embedding"), path,
        payload = Seq(col("label").as("codes")))
    }
    VectorIndex.writeIvfIndex(emb, col("vec_id"), col("embedding"), path,
      pq = false)
    val e = intercept[IllegalArgumentException] {
      VectorIndex.probeIvfPqIndex(spark, path, queries, col("vec_id"),
        col("embedding"))
    }
    assert(e.getMessage.contains("pq"))
  }
}
