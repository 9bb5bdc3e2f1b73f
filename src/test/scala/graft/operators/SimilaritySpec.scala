package graft.operators

import graft.TestSpark
import graft.operators.Similarity.{Hier, HierMass, Mass, Nearest}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def vecs: DataFrame = Seq(
    (0L, Array(1.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f)),
    (2L, Array(0.0f, 1.0f)),
    (3L, Array(-1.0f, 0.0f)),
    (4L, Array(0.7f, 0.7f)))
    .toDF("vec_id", "embedding")

  test("cosine column: identical→1, orthogonal→0, opposite→-1") {
    val out = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 2.0f)),
      (Array(1.0f, 0.0f), Array(-3.0f, 0.0f)))
      .toDF("a", "b")
      .select(round(Similarity.cosine(col("a"), col("b")), 9))
      .collect().map(_.getDouble(0)).toSeq
    assert(out == Seq(1.0, 0.0, -1.0))
  }

  test("brute-force top-k ranks by cosine desc with id tiebreak, excludes self") {
    val q = vecs.filter(col("vec_id") === 0L)
    val got = Similarity.bruteForceTopK(vecs, q, col("vec_id"), col("embedding"), k = 3)
      .orderBy("rn").select("vec_id").as[Long].collect().toSeq
    assert(got == Seq(1L, 4L, 2L)) // cos: .994, .707, 0 (then -1 cut by k)
  }

  test("LSH top-k returns a cosine-descending subset of the base (no self)") {
    val q = vecs.filter(col("vec_id") === 0L)
    // few coarse buckets: 2-dim toy vectors need collisions to be testable
    val rows = Similarity.lshTopK(vecs, q, col("vec_id"), col("embedding"), k = 4,
      tables = 4, bits = 2)
      .orderBy("rn").select("vec_id", "cos_ud").as[(Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    assert(!rows.map(_._1).contains(0L))
    assert(rows.map(_._2) == rows.map(_._2).sorted.reverse)
  }

  test("IVF top-k probes lists and never returns the query itself") {
    val q = vecs.filter(col("vec_id") < 2)
    val rows = Similarity.ivfTopK(vecs, q, col("vec_id"), col("embedding"),
      k = 3, centroidStride = 2, probe = Nearest(2))
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    assert(rows.forall { case (qid, vid) => qid != vid })
  }

  test("IVF centroid cap picks by rank, so offset id spaces keep a full centroid set") {
    // ids start at 1000 — the old absolute bound (vec_id < stride*max)
    // would select ZERO centroids here and every probe would silently
    // come back empty; the ordered-limit pick takes the first `max`
    // qualifying ids wherever they sit on the number line
    val offset = Seq.tabulate(10)(i =>
      (1000L + i, Array((i % 3).toFloat + 0.1f, (i % 5).toFloat)))
      .toDF("vec_id", "embedding")
    val assigned = Similarity.ivfAssign(offset, col("vec_id"), col("embedding"),
      centroidStride = 2, maxCentroids = 3)
    val cents = assigned.select("c_id").distinct().as[Long].collect().toSet
    assert(cents.subsetOf(Set(1000L, 1002L, 1004L)) && cents.nonEmpty)
    assert(assigned.count() == 10) // every row assigned, none lost
  }

  test("hierarchical assignment degenerates to the exact flat argmax when sProbe covers all super-lists") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cents = Similarity.kmeansCentroids(Similarity.kmeansTrain(
      emb, col("vec_id"), col("embedding"), k = 9, iters = 1, seedStride = 10,
      rankSeeds = true))
    // superStride 3 over 9 centroids → 3 super-lists; sProbe = 3 probes
    // them ALL, so the two-level argmax must equal ivfAssign's flat one
    val flat = Similarity.ivfAssign(emb, col("vec_id"), col("embedding"),
      centroids = Some(cents))
      .select("vec_id", "c_id").as[(Long, Long)].collect().toMap
    val hier = Similarity.ivfAssignHierarchical(emb, col("vec_id"),
      col("embedding"), cents, superStride = 3, sProbe = 3)
      .select("vec_id", "c_id").as[(Long, Long)].collect().toMap
    assert(hier == flat && flat.nonEmpty)
    // at sProbe = 1 every row still lands in exactly one list (no row
    // lost, no row duplicated) — the approximation changes WHICH list,
    // never the assignment's shape
    val approx = Similarity.ivfAssignHierarchical(emb, col("vec_id"),
      col("embedding"), cents, superStride = 3, sProbe = 1)
    assert(approx.count() == emb.count())
    assert(approx.select("vec_id").distinct().count() == emb.count())
  }

  test("hierarchical assignment loses no row even when near-identical supers invite displacement") {
    // The displacement scenario (ADVICE r11): super c2's vector is within
    // 1e-4 of super c0's. Under the old rounded-cosine ranking,
    // round(cos(c2, c0), 6) = 1.000000 tied with round(cos(c2, c2), 6)
    // and the ascending-s_id tiebreak alone would file c2 UNDER c0 —
    // leaving c2's super-list empty; a row whose nearest super is
    // strictly c2 (sProbe = 1) would then probe only an empty list and
    // vanish from the inner join: silent data loss once
    // semanticKeepAssigned consumes the assignment. The self-preference
    // term — now the PRIMARY c2s sort key, so the guarantee is
    // structural rather than a tie outcome — pins every super-centroid
    // to its own list regardless of how the quantized dots land.
    val cents = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(1.0f, -1e-4f)),
      (2L, Array(1.0f, 1e-4f)), // ~ c0: the displacement-prone super
      (3L, Array(1.0f, 2e-4f)))
      .toDF("c_id", "cv")
    // v = (1, 0.5): cos to c2 ≈ 0.894472 > cos to c0 ≈ 0.894427, so v's
    // single probed super is c2 — the list displacement would have
    // emptied
    val base = Seq(
      (10L, Array(1.0f, 0.0f)),
      (11L, Array(0.8f, 0.1f)),
      (12L, Array(1.0f, 0.5f)))
      .toDF("vec_id", "embedding")
    val assigned = Similarity.ivfAssignHierarchical(base, col("vec_id"),
      col("embedding"), cents, superStride = 2, sProbe = 1)
    assert(assigned.count() == 3, "no row may be lost to an empty super-list")
    // under exact integer dots (no round-6 collapse) c3 = (1, 2e-4)
    // strictly prefers c2 over c0 and files in c2's list, so the probed
    // list is {c2, c3} and the exact argmax for v = (1, 0.5) is c3 —
    // the row reaches the displacement-prone super's list and picks its
    // true nearest member (under rounded cosines the tie sent c3 to
    // c0's list and v could only see c2)
    val vRow = assigned.filter(col("vec_id") === 12L)
      .select("c_id").as[Long].collect().toSeq
    assert(vRow == Seq(3L),
      "the row probing the displacement-prone super must reach that " +
        "super's list and pick the exact argmax within it")
  }

  test("ivfPqTopK enforces pool >= k*nProbe, so a tiny pool still yields full result sets") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 3)
    // pool = 1 would cut the ADC pool to ONE candidate per query and the
    // result to one row; the enforced floor max(pool, k·nProbe) = 20
    // keeps a full top-10 per query — the dip configuration (pool
    // binding as nProbe grows) is no longer constructible silently
    val perQuery = Similarity.ivfPqTopK(emb, q, col("vec_id"),
        col("embedding"), k = 10, probe = Nearest(2), pool = 1)
      .groupBy("q_id").count().select("count").as[Long].collect().toSeq
    assert(perQuery.nonEmpty && perQuery.forall(_ == 10L))
    // under a mass budget there is no probe count: the floor is k, the
    // poolPpm rule's floor — pool = 1 keeps exactly k candidates, the
    // same cut as pool = k, and still a full top-10 per query
    def ranked(pool: Int) = Similarity.ivfPqTopK(emb, q, col("vec_id"),
        col("embedding"), k = 10, probe = Mass(150000L), pool = pool)
      .select("q_id", "vec_id", "rn").as[(Long, Long, Long)].collect().toSet
    val floored = ranked(1)
    assert(floored.groupBy(_._1).values.map(_.size).toSet == Set(10))
    assert(floored == ranked(10))
  }

  test("ivfPqTopK residual mode: well-formed rankings, and the pool=all endpoint equals exact IVF") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 3)
    // residual codes + per-(query, list) residual LUTs still produce one
    // dense top-k ranking per query with no self-matches
    val rows = Similarity.ivfPqTopK(emb, q, col("vec_id"), col("embedding"),
        k = 10, probe = Nearest(2), residual = true)
      .select("q_id", "vec_id", "rn").as[(Long, Long, Long)].collect()
    assert(rows.groupBy(_._1).keySet == Set(0L, 1L, 2L))
    assert(rows.forall { case (qid, vid, _) => qid != vid })
    rows.groupBy(_._1).values.foreach(g =>
      assert(g.map(_._3).sorted.toSeq == (1L to g.size).toSeq))
    // pool ≥ every probed candidate → the ADC cut never binds, so the
    // residual tier's result set must equal ivfTopK's exact-rescore
    // ranking at the same nProbe (the §16c ladder's logical endpoint)
    val all = Similarity.ivfPqTopK(emb, q, col("vec_id"), col("embedding"),
        k = 10, probe = Nearest(2), pool = 1000000, residual = true)
      .select("q_id", "vec_id", "rn").as[(Long, Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, q, col("vec_id"), col("embedding"),
        k = 10, probe = Nearest(2))
      .select("q_id", "vec_id", "rn").as[(Long, Long, Long)].collect().toSet
    assert(all == ivf, "pool=all residual PQ must coincide with exact IVF")
  }

  test("ivfTopKAdaptive: full mass budget ≡ brute force; minimal budget still probes rank-1") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "vec_id", "rn").as[(Long, Long, Long)].collect().toSet
    // massPpm = 1e6: the running-mass gate can never stop before every
    // list is probed, so the candidate set is the whole corpus and the
    // ranking must equal the exact brute force
    val all = rows(Similarity.ivfTopK(emb, q, col("vec_id"),
      col("embedding"), k = 10, probe = Mass(1000000L)))
    val brute = rows(Similarity.bruteForceTopK(emb, q, col("vec_id"),
      col("embedding"), k = 10))
    assert(all == brute, "full-budget adaptive must equal brute force")
    // massPpm = 1: cum_before of rank 1 is 0 < target, so exactly the
    // best list is probed — results exist for every query (the always-≥1
    // guarantee), each a dense rank prefix
    val one = Similarity.ivfTopK(emb, q, col("vec_id"),
      col("embedding"), k = 10, probe = Mass(1L))
      .select("q_id", "rn").as[(Long, Long)].collect()
    assert(one.map(_._1).toSet == Set(0L, 1L, 2L))
    one.groupBy(_._1).values.foreach(g =>
      assert(g.map(_._2).sorted.toSeq == (1L to g.size).toSeq))
  }

  test("ivfTopKHierarchicalAdaptive: full budget ≡ brute force; minimal budget dense; leaf mass never starved") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "vec_id", "rn").as[(Long, Long, Long)].collect().toSet
    // massPpm = 1e6: neither gate can stop before exhaustion (cum_before
    // is always < N), so every super and every leaf list is probed and
    // the keep=1 assignment partitions the corpus — must equal brute
    // force exactly, hier filing notwithstanding
    val all = rows(Similarity.ivfTopK(emb, q,
      col("vec_id"), col("embedding"), k = 10, probe = HierMass(1000000L),
      hier = Some(Hier(16, 2))))
    val brute = rows(Similarity.bruteForceTopK(emb, q, col("vec_id"),
      col("embedding"), k = 10))
    assert(all == brute, "full-budget hier-adaptive must equal brute force")
    // massPpm = 1: rank-1 survives at BOTH levels (preceding mass 0), so
    // every query probes ≥ 1 list and emits a dense rank prefix
    val one = Similarity.ivfTopK(emb, q, col("vec_id"),
      col("embedding"), k = 10, probe = HierMass(1L),
      hier = Some(Hier(16, 2)))
      .select("q_id", "rn").as[(Long, Long)].collect()
    assert(one.map(_._1).toSet == Set(0L, 1L, 2L))
    one.groupBy(_._1).values.foreach(g =>
      assert(g.map(_._2).sorted.toSeq == (1L to g.size).toSeq))
    // the no-starvation invariant at a mid budget: the super gate keeps
    // supers while preceding mass < budget, so probed supers hold ≥ the
    // budget's mass and the leaf gate can always meet the SAME budget —
    // structurally, the candidate rows per query must be ≥ what a
    // budget-of-mass demands OR the whole corpus. Weaker observable
    // proxy (no probe introspection surface): every query still emits a
    // full k-deep dense prefix at the pinned 15% budget
    val mid = Similarity.ivfTopK(emb, q, col("vec_id"),
      col("embedding"), k = 10, probe = HierMass(150000L),
      hier = Some(Hier(16, 2)))
      .select("q_id", "rn").as[(Long, Long)].collect()
    assert(mid.map(_._1).toSet == Set(0L, 1L, 2L))
    mid.groupBy(_._1).values.foreach(g =>
      assert(g.map(_._2).sorted.toSeq == (1L to g.size).toSeq))
  }

  test("adaptive pool: poolPpm=1e6 ≡ exact rescore of the probed set; tiny poolPpm floors at one full result set") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "vec_id", "rn").as[(Long, Long, Long)].collect().toSet
    // poolPpm = 1e6: ern ≤ cand_n always holds, so EVERY probed candidate
    // is rescored exactly — the full-adaptive PQ tier must coincide with
    // ivfTopK's Mass probe at the same budget (§16c's pool=∞ identity,
    // re-pinned as the poolPpm endpoint)
    val pqAll = rows(Similarity.ivfPqTopK(emb, q, col("vec_id"),
      col("embedding"), k = 10, residual = true,
      probe = Mass(150000L), poolPpm = Some(1000000L)))
    val ivfAd = rows(Similarity.ivfTopK(emb, q, col("vec_id"),
      col("embedding"), k = 10, probe = Mass(150000L)))
    assert(pqAll == ivfAd && pqAll.nonEmpty,
      "full-fraction adaptive pool must equal the exact rescore of the probed set")
    // poolPpm = 1: only the k-floor survives the cut — each query still
    // gets a dense rank prefix (never an empty or ragged result set)
    val tiny = Similarity.ivfPqTopK(emb, q, col("vec_id"), col("embedding"),
        k = 10, residual = true, probe = Mass(150000L), poolPpm = Some(1L))
      .select("q_id", "rn").as[(Long, Long)].collect()
    assert(tiny.map(_._1).toSet == Set(0L, 1L, 2L))
    tiny.groupBy(_._1).values.foreach(g =>
      assert(g.map(_._2).sorted.toSeq == (1L to g.size).toSeq))
    // pqTopK's rule: candidates are the whole corpus, so the full
    // fraction rescores everything — must equal exact brute force
    val pqBrute = rows(Similarity.pqTopK(emb, q, col("vec_id"),
      col("embedding"), k = 10, poolPpm = Some(1000000L)))
    val brute = rows(Similarity.bruteForceTopK(emb, q, col("vec_id"),
      col("embedding"), k = 10))
    assert(pqBrute == brute,
      "full-fraction pqTopK pool must equal brute force")
  }

  test("IVF fails loudly when the stride matches no id (empty centroid set)") {
    val odd = Seq((1L, Array(1.0f, 0.0f)), (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfAssign(odd, col("vec_id"), col("embedding"),
        centroidStride = 2)
    }
    assert(e.getMessage.contains("centroidStride"))
  }

  test("ANN tiers reject a non-positive k, nProbe or pool, naming the argument") {
    val q = vecs.filter(col("vec_id") < 2)
    val (id, v) = (col("vec_id"), col("embedding"))
    val cb = Some(Array(Array(Array(1.0, 0.0), Array(0.0, 1.0))))
    def rejects(arg: String)(call: => DataFrame): Unit = {
      val e = intercept[IllegalArgumentException](call)
      assert(e.getMessage.contains(s"$arg must be positive"), e.getMessage)
    }
    for (bad <- Seq(0, -1)) {
      rejects("k")(Similarity.bruteForceTopK(vecs, q, id, v, k = bad))
      rejects("k")(Similarity.ivfTopK(vecs, q, id, v, k = bad, centroidStride = 2))
      rejects("nProbe")(Similarity.ivfTopK(vecs, q, id, v, centroidStride = 2,
        probe = Nearest(bad)))
      rejects("nProbe")(Similarity.ivfTopK(vecs, q, id, v,
        centroidStride = 2, probe = Nearest(bad), hier = Some(Hier(16, 2))))
      rejects("k")(Similarity.ivfTopK(vecs, q, id, v, k = bad,
        centroidStride = 2, probe = Mass(150000L)))
      rejects("pool")(Similarity.pqTopK(vecs, q, id, v, numSubspaces = 1,
        numCodes = 2, codebook = cb, pool = bad))
      rejects("pool")(Similarity.ivfPqTopK(vecs, q, id, v, centroidStride = 2,
        numSubspaces = 1, numCodes = 2, codebook = cb, pool = bad))
    }
    def rejectsNaming(arg: String)(call: => DataFrame): Unit = {
      val e = intercept[IllegalArgumentException](call)
      assert(e.getMessage.contains(arg), e.getMessage)
    }
    for (bad <- Seq(0L, 1000001L)) {
      rejectsNaming("massPpm")(Similarity.ivfTopK(vecs, q, id, v,
        centroidStride = 2, probe = Mass(bad)))
      rejectsNaming("massPpm")(Similarity.ivfTopK(vecs, q, id, v,
        centroidStride = 2, probe = HierMass(bad), hier = Some(Hier(16, 2))))
    }
    // a two-level budget on a flat geometry has no super filing to probe
    rejectsNaming("hier")(Similarity.ivfTopK(vecs, q, id, v,
      centroidStride = 2, probe = HierMass(150000L)))
    rejectsNaming("hier")(Similarity.ivfPqTopK(vecs, q, id, v,
      centroidStride = 2, numSubspaces = 1, numCodes = 2, codebook = cb,
      probe = HierMass(150000L)))
  }

  test("IVF index stored partitionBy(c_id): probing = partition pruning (the 100 TB path)") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val idxDir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    Similarity.ivfAssign(emb, col("vec_id"), col("embedding"), centroidStride = 50)
      .write.mode("overwrite").partitionBy("c_id").parquet(idxDir)
    val idx = spark.read.parquet(idxDir)
    val probe = idx.filter(col("c_id").isin(0L, 50L))
    val plan = probe.queryExecution.executedPlan.toString
    // the probed lists must be PARTITION filters (pruned before any IO),
    // not data filters evaluated per row
    assert(plan.contains("PartitionFilters") && plan.contains("c_id"),
      s"probe filter did not reach partition pruning:\n${plan.take(600)}")
    val partLine = plan.linesIterator.find(_.contains("PartitionFilters")).get
    assert(partLine.contains("c_id"), partLine)
    // and the probed scan touches a strict subset of the index
    assert(probe.count() > 0 && probe.count() < idx.count())
    // the stored index round-trips: same assignment as the in-flight table
    val mem = Similarity.ivfAssign(emb, col("vec_id"), col("embedding"), 50)
      .select("vec_id", "c_id").as[(Long, Long)].collect().toMap
    val disk = idx.select("vec_id", "c_id").as[(Long, Long)].collect().toMap
    assert(disk == mem)
  }

  test("LSH recall@10 vs exact top-k >= 0.9 on driver testdata (the ANN gate)") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
    def sets(df: DataFrame): Map[Long, Set[Long]] =
      df.select("q_id", "vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val exact = sets(Similarity.bruteForceTopK(emb, q, col("vec_id"), col("embedding"), k = 10))
    val lsh = sets(Similarity.lshTopK(emb, q, col("vec_id"), col("embedding"),
      k = 10, tables = 24, bits = 4))
    val recalls = exact.map { case (qid, ex) =>
      lsh.getOrElse(qid, Set.empty).intersect(ex).size.toDouble / ex.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean recall@10 $mean < 0.9 (per-query: $recalls)")
  }

  test("multi-probe at 6 tables: recall never below plain LSH at 6 tables, near the 24-table tier") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
    def sets(df: DataFrame): Map[Long, Set[Long]] =
      df.select("q_id", "vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    def meanRecall(got: Map[Long, Set[Long]], exact: Map[Long, Set[Long]]): Double = {
      val r = exact.map { case (qid, ex) =>
        got.getOrElse(qid, Set.empty).intersect(ex).size.toDouble / ex.size
      }
      r.sum / r.size
    }
    val exact = sets(Similarity.bruteForceTopK(emb, q, col("vec_id"), col("embedding"), k = 10))
    val plain6 = sets(Similarity.lshTopK(emb, q, col("vec_id"), col("embedding"),
      k = 10, tables = 6, bits = 4))
    val probed6 = sets(Similarity.lshMultiProbeTopK(emb, q, col("vec_id"), col("embedding"),
      k = 10, tables = 6, bits = 4))
    // probing only ADDS candidates, so recall at equal index size cannot drop
    val (rPlain, rProbed) = (meanRecall(plain6, exact), meanRecall(probed6, exact))
    assert(rProbed >= rPlain,
      s"multi-probe recall $rProbed below plain $rPlain at the same 6-table index")
    // and a quarter of the index must stay near the 24-table gate
    assert(rProbed >= 0.85, s"multi-probe recall@10 $rProbed < 0.85")
    // output contract: no self hits, ranks within k
    val out = Similarity.lshMultiProbeTopK(emb, q, col("vec_id"), col("embedding"),
      k = 10, tables = 6, bits = 4)
      .select("q_id", "vec_id", "rn").as[(Long, Long, Long)].collect()
    assert(out.forall { case (qid, vid, rn) => qid != vid && rn >= 1 && rn <= 10 })
    assert(out.groupBy(_._1).values.forall(g => g.map(_._2).distinct.length == g.length))
  }

  test("RP top-k: projection shrinks the ranking input 4x; recall@10 vs exact (the JL gate)") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
    def sets(df: DataFrame): Map[Long, Set[Long]] =
      df.select("q_id", "vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val exact = sets(Similarity.bruteForceTopK(emb, q, col("vec_id"), col("embedding"), k = 10))
    def meanRecall(pool: Int): Double = {
      val rp = sets(Similarity.rpTopK(emb, q, col("vec_id"), col("embedding"),
        k = 10, targetDim = 16, dim = 64, pool = pool))
      val rs = exact.map { case (qid, ex) =>
        rp.getOrElse(qid, Set.empty).intersect(ex).size.toDouble / ex.size }
      rs.sum / rs.size
    }
    val r50 = meanRecall(50)
    val r150 = meanRecall(150)
    info(s"RP mean recall@10: pool=50 → $r50, pool=150 → $r150")
    // near-isotropic corpus: recall tracks the scanned fraction (same
    // regime the IVF gate documents), so the pool is the recall knob —
    // measured 0.36 → 0.64 going 50 → 150 of 500; deterministic planes
    // make these exact round-over-round
    assert(r50 >= 0.3, s"RP recall@10 at pool=50 $r50 < 0.3")
    assert(r150 >= r50, s"recall must not fall as the pool widens: $r50 → $r150")
    assert(r150 >= 0.6, s"RP recall@10 at pool=150 $r150 < 0.6")
  }

  test("RP ragged vector projects to null, ranks after every real candidate") {
    val mixed = Seq(
      (0L, Array.fill(8)(0.5f)),
      (1L, Array.fill(8)(0.4f)),
      (2L, Array.fill(4)(0.9f))) // ragged: dim 4, not 8
      .toDF("vec_id", "embedding")
    val q = mixed.filter(col("vec_id") === 0L)
    val got = Similarity.rpTopK(mixed, q, col("vec_id"), col("embedding"),
      k = 2, targetDim = 4, dim = 8, pool = 2)
      .orderBy("rn")
      .select(col("vec_id"), col("cos_ud").isNull.as("nullCos"))
      .as[(Long, Boolean)].collect().toSeq
    // the real candidate outranks it, and its cos is null (the dot's
    // mismatch contract), never a fabricated similarity
    assert(got.map(_._1) == Seq(1L, 2L), s"ragged row must rank last, got $got")
    assert(!got(0)._2 && got(1)._2, s"ragged cos must be null, got $got")
  }

  test("IVF recall@10 rises with nProbe (the recall knob on weakly-clustered data)") {
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
    def sets(df: DataFrame): Map[Long, Set[Long]] =
      df.select("q_id", "vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val exact = sets(Similarity.bruteForceTopK(emb, q, col("vec_id"), col("embedding"), k = 10))
    def recall(nProbe: Int): Double = {
      val ivf = sets(Similarity.ivfTopK(emb, q, col("vec_id"), col("embedding"),
        k = 10, centroidStride = 50, probe = Nearest(nProbe)))
      val rs = exact.map { case (qid, ex) =>
        ivf.getOrElse(qid, Set.empty).intersect(ex).size.toDouble / ex.size
      }
      rs.sum / rs.size
    }
    // this corpus is nearly isotropic (intra-label cosine ≈ inter-label),
    // so recall tracks the scanned fraction — the honest bound for ANY
    // coarse quantizer on unclustered data; probing more lists is the knob
    // (measured here: ~0.48 @ nProbe=2, ~0.84 @ nProbe=6)
    val (r2, r6) = (recall(2), recall(6))
    assert(r6 >= r2, s"recall must not fall as nProbe rises: $r2 -> $r6")
    assert(r2 >= 0.3 && r6 >= 0.7, s"recall out of expected band: $r2, $r6")
  }

  test("PQ ADC recall@10 vs exact top-k (pool=50 of 500 rows) on driver testdata") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
    def sets(df: DataFrame): Map[Long, Set[Long]] =
      df.select("q_id", "vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val exact = sets(Similarity.bruteForceTopK(emb, q, col("vec_id"), col("embedding"), k = 10))
    val pq = Similarity.pqTopK(emb, q, col("vec_id"), col("embedding"), k = 10)
    val pqSets = sets(pq)
    // structural invariants: k rows per query, no self, cosine-descending
    val rows = pq.orderBy("q_id", "rn")
      .select("q_id", "vec_id", "cos_ud").as[(Long, Long, Long)].collect()
    assert(rows.groupBy(_._1).forall(_._2.length == 10))
    assert(rows.forall { case (qid, vid, _) => qid != vid })
    rows.groupBy(_._1).values.foreach { g =>
      val cs = g.map(_._3).toSeq
      assert(cs == cs.sorted.reverse)
    }
    def meanRecall(sets10: Map[Long, Set[Long]]): Double = {
      val rs = exact.map { case (qid, ex) =>
        sets10.getOrElse(qid, Set.empty).intersect(ex).size.toDouble / ex.size
      }
      rs.sum / rs.size
    }
    val r50 = meanRecall(pqSets)
    val r150 = meanRecall(sets(Similarity.pqTopK(emb, q, col("vec_id"),
      col("embedding"), k = 10, pool = 150)))
    info(s"PQ mean recall@10: pool=50 → $r50, pool=150 → $r150")
    // near-normalized vectors: squared-L2 ADC ranking tracks cosine, and
    // the candidate pool is the recall knob (same honest contract as
    // IVF's nProbe on this near-isotropic corpus — a training-free 8×16
    // codebook cannot beat the data geometry; measured ~0.52 @ 50,
    // ~0.8 @ 150 of 500 rows)
    assert(r150 >= r50, s"recall must not fall as pool rises: $r50 -> $r150")
    assert(r50 >= 0.4 && r150 >= 0.6, s"recall out of expected band: $r50, $r150")
  }

  test("IVF-PQ composition: PQ over a partition-pruned probed subset (the 100 TB layout)") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val idxDir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    Similarity.ivfAssign(emb, col("vec_id"), col("embedding"), centroidStride = 50)
      .write.mode("overwrite").partitionBy("c_id").parquet(idxDir)
    val idx = spark.read.parquet(idxDir)
    // probe two lists; candidates scan ONLY those partitions, while the
    // codebook still comes from the full corpus (the trained artifact)
    val probed = idx.filter(col("c_id").isin(0L, 50L)).select(col("vec_id"), col("v"))
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("c_id"))
    val q = emb.filter(col("vec_id") === 0L)
      .select(col("vec_id"), col("embedding").as("v"))
    val got = Similarity.pqTopK(probed, q, col("vec_id"), col("v"),
      k = 5, pool = 20, codebookFrom = Some(emb.select(col("vec_id"), col("embedding").as("v"))))
      .select("q_id", "vec_id", "cos_ud").as[(Long, Long, Long)].collect()
    assert(got.length == 5)
    assert(got.forall { case (qid, vid, _) => qid != vid })
    // every result must come from the probed lists
    val probedIds = probed.select("vec_id").as[Long].collect().toSet
    assert(got.forall { case (_, vid, _) => probedIds.contains(vid) })
  }

  test("pqTopK fails loudly when codebook ids are missing") {
    val tiny = Seq((0L, Array.fill(64)(1.0f)), (1L, Array.fill(64)(0.5f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.pqTopK(tiny, tiny, col("vec_id"), col("embedding"))
    }
    assert(e.getMessage.contains("codebook"))
  }

  test("quantizedTopK: int8 ranking replays on the driver; rescore equals exact cosine") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 3)
    val got = Similarity.quantizedTopK(emb, q, col("vec_id"), col("embedding"), k = 5)
      .select("q_id", "vec_id", "qdot", "cos_ud", "rn")
      .as[(Long, Long, Long, Long, Long)].collect()
    // hand-roll the identical quantization + integer dot on the driver
    val all = emb.select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    def quant(v: Array[Float]): Array[Long] = {
      val n = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
      if (n == 0.0) v.map(_ => 0L)
      else v.map(x => math.floor(x.toDouble / n * 127.0 + 0.5).toLong)
    }
    val qz = all.map { case (id, v) => id -> quant(v) }.toMap
    got.foreach { case (qid, vid, qdot, _, _) =>
      val expect = qz(qid).zip(qz(vid)).map { case (a, b) => a * b }.sum
      assert(qdot == expect, s"integer dot diverged for ($qid,$vid)")
      assert(qz(vid).forall(x => x >= -127L && x <= 127L), "quantized range")
    }
    // per query: ranks are 1..k by (qdot desc, id asc), self excluded
    got.groupBy(_._1).foreach { case (qid, rows) =>
      val sorted = rows.sortBy(_._5)
      assert(sorted.map(_._5).toSeq == (1L to 5L).toSeq)
      assert(!rows.map(_._2).contains(qid))
      val pairs = sorted.map(r => (r._3, r._2))
      assert(pairs.sortBy { case (d, id) => (-d, id) }.toSeq == pairs.toSeq)
    }
    // the rescored cosine matches the exact scorer for the same pairs
    val exact = Similarity.bruteForceTopK(emb, q, col("vec_id"), col("embedding"),
      k = emb.count().toInt)
      .select("q_id", "vec_id", "cos_ud").as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    got.foreach { case (qid, vid, _, cos, _) =>
      assert(cos == exact((qid, vid)), s"rescore diverged for ($qid,$vid)")
    }
    // int8 ranking is a good proxy: recall@10 vs exact must be near-perfect
    def sets(rows: Array[(Long, Long)]): Map[Long, Set[Long]] =
      rows.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val ex10 = sets(Similarity.bruteForceTopK(emb, q, col("vec_id"), col("embedding"), k = 10)
      .select("q_id", "vec_id").as[(Long, Long)].collect())
    val qz10 = sets(Similarity.quantizedTopK(emb, q, col("vec_id"), col("embedding"), k = 10)
      .select("q_id", "vec_id").as[(Long, Long)].collect())
    val recalls = ex10.map { case (qid, ex) =>
      qz10.getOrElse(qid, Set.empty).intersect(ex).size.toDouble / ex.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"int8 recall@10 $mean < 0.9 (per-query: $recalls)")
  }

  test("quantizedIndex stored as parquet: ~4x smaller scan, identical ranking (the 100 TB path)") {
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 3)
    val idxDir = java.nio.file.Files.createTempDirectory("graft-q8").toString
    Similarity.quantizedIndex(emb, col("vec_id"), col("embedding"))
      .write.mode("overwrite").parquet(s"$idxDir/q8")
    emb.select("vec_id", "embedding").write.mode("overwrite").parquet(s"$idxDir/f32")
    def bytes(p: String): Long = {
      val d = new java.io.File(p)
      d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    }
    val (q8, f32) = (bytes(s"$idxDir/q8"), bytes(s"$idxDir/f32"))
    assert(q8 > 0 && q8 < f32 / 2,
      s"int8 index should scan well under half the bytes: q8=$q8 f32=$f32")
    // ranking from the STORED index must equal the in-flight computation
    val stored = spark.read.parquet(s"$idxDir/q8")
      .select(col("vec_id"), col("q").cast("array<long>").as("qb"))
    val qq = Similarity.quantizedIndex(q, col("vec_id"), col("embedding"))
      .select(col("vec_id").as("q_id"), col("q").cast("array<long>").as("qq"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id")).orderBy(col("qdot").desc, col("vec_id").asc)
    val fromDisk = stored.join(broadcast(qq), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        aggregate(zip_with(col("qq"), col("qb"), _ * _), lit(0L), _ + _).as("qdot"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 10)
      .select("q_id", "vec_id", "rn").as[(Long, Long, Long)].collect().toSet
    val inFlight = Similarity.quantizedTopK(emb, q, col("vec_id"), col("embedding"), k = 10)
      .select("q_id", "vec_id", "rn").as[(Long, Long, Long)].collect().toSet
    assert(fromDisk == inFlight, "stored index must rank exactly like the in-flight path")
  }

  test("hyperplane buckets: a null vector element zeroes all buckets on both eval paths") {
    import org.apache.spark.sql.graft.ColumnBridge
    val planes = Array.tabulate(4)(i => Array.tabulate(3)(d => (i + d + 1).toDouble))
    def buckets(df: DataFrame): Seq[Long] =
      df.select(ColumnBridge.column(graft.functions.HyperplaneBuckets(
          ColumnBridge.expression(col("v").cast("array<double>")), planes, 2)).as("b"))
        .collect()(0).getSeq[Long](0).toList
    val clean = Seq(Tuple1(Seq[java.lang.Double](1.0, 2.0))).toDF("v")
    val dirty = Seq(Tuple1(Seq[java.lang.Double](1.0, null))).toDF("v")
    assert(buckets(clean).exists(_ != 0L), "positive dots must set bits")
    assert(buckets(dirty) == Seq(0L, 0L),
      "null element must poison every dot, matching the declarative fold and the oracle")
    // interpreted path (GenericArrayData with a null slot must not NPE)
    val expr = graft.functions.HyperplaneBuckets(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq[java.lang.Double](1.0, null),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)),
      planes, 2)
    val out = expr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq
    assert(out == Seq(0L, 0L))
  }

  test("quantization guards zero vectors and clamps to the int8 envelope") {
    val d = Seq((0L, Array(0.0f, 0.0f)), (1L, Array(3.0f, 4.0f)), (2L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val q = d.filter(col("vec_id") === 1L)
    val rows = Similarity.quantizedTopK(d, q, col("vec_id"), col("embedding"), k = 3)
      .select("vec_id", "qdot").as[(Long, Long)].collect().toMap
    // zero vector quantizes to zeros → qdot 0; (-1,0)·(3/5,4/5)*127 → -76·76 + 0·102
    assert(rows(0L) == 0L)
    assert(rows(2L) == math.floor(-1.0 * 127.0 + 0.5).toLong * math.floor(3.0 / 5.0 * 127.0 + 0.5).toLong)
  }

  test("recallAtK: per-query hits in ppm, zero-hit queries kept, rank-truncated") {
    val exact = Seq(
      (1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L),
      (2L, 20L, 1L), (2L, 21L, 2L), (2L, 22L, 3L),
      (3L, 30L, 1L), (3L, 31L, 2L), (3L, 32L, 3L))
      .toDF("q_id", "vec_id", "rn")
    val approx = Seq(
      (1L, 10L, 1L), (1L, 12L, 2L), (1L, 99L, 3L), // 2 of 3
      (2L, 20L, 1L), (2L, 21L, 2L), (2L, 22L, 3L), // 3 of 3
      // q 3 absent entirely; and a rank-4 hit that must NOT count at k=3
      (1L, 11L, 4L))
      .toDF("q_id", "vec_id", "rn")
    val out = Similarity.recallAtK(exact, approx, k = 3)
      .select("q_id", "hits", "k", "recall_ppm")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 2L, 3L, 666666L)))
    assert(out(2L) == ((2L, 3L, 3L, 1000000L)))
    assert(out(3L) == ((3L, 0L, 3L, 0L)), "missing query surfaces with 0 hits")
    assert(out.size == 3)
  }

  test("brute force matches a hand-rolled ranking on driver testdata") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0L)
    val topk = Similarity.bruteForceTopK(emb, q, col("vec_id"), col("embedding"), k = 5)
      .orderBy("rn").select("vec_id").as[Long].collect().toSeq
    // hand-rolled: collect and compute in Scala
    val all = emb.select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val qv = all.find(_._1 == 0L).get._2.map(_.toDouble)
    def cos(v: Array[Float]) = {
      val vd = v.map(_.toDouble)
      val dot = qv.zip(vd).map { case (a, b) => a * b }.sum
      dot / (math.sqrt(qv.map(x => x * x).sum) * math.sqrt(vd.map(x => x * x).sum))
    }
    val expect = all.filter(_._1 != 0L)
      .map { case (id, v) => (id, BigDecimal(cos(v)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSeq
    assert(topk == expect)
  }

  test("k-means recovers planted clusters and lands centroids on the floored integer mean") {
    // 3 well-separated clusters; seedStride=4, k=3 puts one seed (ids 0/4/8)
    // in each cluster
    val pts = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(1.1f, -0.1f)), (3L, Array(1.0f, 0.2f)),
      (4L, Array(0.0f, 1.0f)), (5L, Array(0.1f, 0.9f)),
      (6L, Array(-0.1f, 1.1f)), (7L, Array(0.2f, 1.0f)),
      (8L, Array(-1.0f, -1.0f)), (9L, Array(-0.9f, -1.1f)),
      (10L, Array(-1.1f, -0.9f)), (11L, Array(-1.0f, -0.8f)))
      .toDF("vec_id", "embedding")
    val trained = Similarity.kmeansTrain(pts, col("vec_id"), col("embedding"),
      k = 3, iters = 2, seedStride = 4)
      .as[(Long, Long, Long)].collect()
    assert(trained.length == 6, "3 centroids x 2 dims, exploded")
    val cents = trained.groupBy(_._1).view.mapValues(
      _.sortBy(_._2).map(_._3).toArray).toMap
    // expected: floored mean of each planted cluster's micros
    def micros(x: Double): Long = math.floor(x * 1048576.0 + 0.5).toLong
    val raw = pts.as[(Long, Array[Float])].collect().toMap
    (0 until 3).foreach { c =>
      val members = (0 until 4).map(i => raw(c * 4L + i).map(f => micros(f.toDouble)))
      val expect = Array(0, 1).map(d =>
        math.floor(members.map(_(d)).sum.toDouble / members.size).toLong)
      assert(cents(c.toLong).toSeq == expect.toSeq, s"centroid $c")
    }
    // every point's nearest trained centroid is its planted cluster
    raw.foreach { case (id, v) =>
      val mv = v.map(f => micros(f.toDouble))
      val best = (0 until 3).minBy(c =>
        (cents(c.toLong).zip(mv).map { case (a, b) => (a - b) * (a - b) }.sum, c))
      assert(best == (id / 4).toInt, s"point $id assigned to $best")
    }
  }

  test("k-means raises loudly on a ragged corpus instead of corrupting a centroid") {
    val pts = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.5f, 0.5f, 0.5f))) // ragged: 3 dims vs the 2-dim seeds
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.kmeansTrain(pts, col("vec_id"), col("embedding"),
        k = 1, iters = 1, seedStride = 1).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("ragged")), s"got: ${msgs(e).mkString(" | ")}")
  }

  test("k-means keeps the previous centroid for a cluster that captures nothing") {
    // seeds 0 and 2 are identical, so every point tie-breaks to c_id 0 and
    // cluster 1 goes empty — its centroid must stay exactly the seed vector.
    // One iteration only: once cluster 0's centroid moves off the shared
    // seed, iteration 2 would legitimately recapture points for cluster 1
    val pts = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(1.0f, 0.0f)), (3L, Array(1.1f, 0.0f)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeansTrain(pts, col("vec_id"), col("embedding"),
      k = 2, iters = 1, seedStride = 2)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(cents(1L) == Seq(1048576L, 0L), "empty cluster keeps its seed centroid")
    assert(cents(0L) != Seq(1048576L, 0L), "captured cluster moved to the member mean")
  }

  test("PQ with a trained per-subspace codebook: right shape, well-formed ranking") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cb = Similarity.pqTrainCodebook(emb, col("vec_id"), col("embedding"),
      numSubspaces = 8, numCodes = 16, iters = 2, seedStride = 16)
    assert(cb.length == 8 && cb.forall(_.length == 16) &&
      cb.flatten.forall(_.length == 8), "8 subspaces x 16 codes x 8 dims")
    val q = emb.filter(col("vec_id") < 3)
    val rows = Similarity.pqTopK(emb, q, col("vec_id"), col("embedding"),
      k = 5, codebook = Some(cb))
      .select("q_id", "vec_id", "rn").as[(Long, Long, Long)].collect()
    assert(rows.groupBy(_._1).keySet == Set(0L, 1L, 2L))
    assert(rows.forall { case (qid, vid, _) => qid != vid })
    rows.groupBy(_._1).values.foreach(g =>
      assert(g.map(_._3).sorted.toSeq == (1L to g.size).toSeq))
  }

  test("mmrTopK demotes the near-duplicate a plain ranking would keep") {
    // q points between a (id 1) and b (id 2); a2 (id 3) is a near-copy of
    // a with a hair more relevance. Plain top-2 = {a2, a}; MMR must pick
    // a2 then PENALIZE a (sim≈1 to the selected a2) and take orthogonal b
    val base = Seq(
      (1L, Array(1f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f)),
      (3L, Array(1f, 0.001f, 0f))).toDF("vec_id", "embedding")
    val qs = Seq((100L, Array(1f, 1f, 0f))).toDF("vec_id", "embedding")
    val mmr = Similarity.mmrTopK(base, qs, col("vec_id"), col("embedding"),
      k = 3, poolSize = 3, lambdaPpm = 700000L)
      .select("q_id", "vec_id", "mmr_rank").as[(Long, Long, Long)].collect()
      .sortBy(_._3)
    assert(mmr.toSeq == Seq((100L, 3L, 1L), (100L, 2L, 2L), (100L, 1L, 3L)),
      s"expected diversity-aware order a2,b,a — got ${mmr.toSeq}")
    val plain = Similarity.bruteForceTopK(base, qs, col("vec_id"), col("embedding"), k = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(plain == Set(3L, 1L), "plain ranking keeps the near-copy pair")
    // deterministic across runs
    val again = Similarity.mmrTopK(base, qs, col("vec_id"), col("embedding"),
      k = 3, poolSize = 3, lambdaPpm = 700000L)
      .select("q_id", "vec_id", "mmr_rank").as[(Long, Long, Long)].collect().sortBy(_._3)
    assert(again.toSeq == mmr.toSeq)
  }

  test("IVF with trained centroids: train->index->probe end-to-end, no self-hits") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 3)
    val trained = Similarity.kmeansCentroids(
      Similarity.kmeansTrain(emb, col("vec_id"), col("embedding"),
        k = 8, iters = 2, seedStride = 50))
    val rows = Similarity.ivfTopK(emb, q, col("vec_id"), col("embedding"),
      k = 5, probe = Nearest(2), centroids = Some(trained))
      .select("q_id", "vec_id", "rn").as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall { case (qid, vid, _) => qid != vid })
    val perQ = rows.groupBy(_._1)
    assert(perQ.keySet == Set(0L, 1L, 2L))
    perQ.values.foreach(g => assert(g.map(_._3).sorted.toSeq == (1L to g.size).toSeq))
  }
  test("s26 stage fingerprints match a driver-side exact replay of every stage") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cents = Similarity.coarseCentroids(emb, col("vec_id"), col("embedding"),
      centroidStride = 50, maxCentroids = 256)

    // ---- driver-side exact reference of the whole s26 pipeline ----
    val rows = emb.select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1)
    def unit(v: Array[Float]): Array[Long] =
      graft.functions.UnitMicros.project(v.map(_.toDouble))
    def mvOf(v: Array[Float]): Array[Long] =
      v.map(x => math.floor(x.toDouble * 1048576.0 + 0.5).toLong)
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val u = rows.map { case (id, v) => id -> unit(v) }.toMap
    val cIds = rows.map(_._1).filter(_ % 50 == 0).sorted.take(256)
    // flat argmax: max dot, tie on ascending c_id (strict > keeps first)
    def argmax(ids: Seq[Long], uv: Array[Long]): Long =
      ids.map(c => (dot(uv, u(c)), c)).maxBy { case (d, c) => (d, -c) }._2
    val sIds = cIds.zipWithIndex.filter(_._2 % 16 == 0).map(_._1)
    // c2s: self files under itself, else best super by (dot desc, s_id asc)
    val c2s = cIds.map { c =>
      c -> (if (sIds.contains(c)) c else argmax(sIds, u(c)))
    }.toMap
    // per-row super ranks to 4 (dot desc, s_id asc)
    def superRank(uv: Array[Long]): Seq[Long] =
      sIds.map(sid => (dot(uv, u(sid)), sid))
        .sortBy { case (d, sid) => (-d, sid) }.map(_._2)
    def fold(a: Array[Long]): Long =
      a.zipWithIndex.map { case (x, i) => x * (i + 1) }.sum
    val w = (id: Long) => id % 97 + 1
    val wid = (x: Long) => x % 999983 + 1
    // the operators' two-level fold: per (gid % 4096) group partial sums,
    // each reduced mod 1000000007 (non-negative), reduced partials summed
    def modsum(terms: Seq[(Long, Long)]): Long =
      terms.groupBy(_._1 % 4096).values
        .map(g => Math.floorMod(g.map(_._2).sum, 1000000007L)).sum
    val expMvFp = modsum(rows.map { case (id, v) => id -> w(id) * fold(mvOf(v)) })
    val expUFp = modsum(rows.map { case (id, _) => id -> w(id) * fold(u(id)) })
    val flat = rows.map { case (id, _) => id -> argmax(cIds, u(id)) }
    val expFlatFp = modsum(flat.map { case (id, c) => id -> wid(id) * wid(c) })
    val expCSum = modsum(flat.map { case (id, c) => id -> wid(c) })
    val expSupFp = modsum(rows.map { case (id, _) =>
      id -> wid(id) * wid(superRank(u(id)).head) })
    val expC2sFp = modsum(c2s.toSeq.map { case (c, sid) => c -> wid(c) * wid(sid) })
    val expHier = Seq(1, 2, 4).map { sp =>
      sp -> modsum(rows.map { case (id, _) =>
        val lists = superRank(u(id)).take(sp).flatMap(sid =>
          cIds.filter(c => c2s(c) == sid))
        id -> wid(id) * wid(argmax(lists, u(id)))
      })
    }.toMap

    // ---- the five operators must reproduce every checksum ----
    val a = Similarity.gridFingerprint(emb, col("vec_id"), col("embedding"))
      .as[(Long, Long, Long)].head()
    assert(a == ((rows.length.toLong, expMvFp, expUFp)), s"grid fp: $a")
    val b = Similarity.flatAssignFingerprint(emb, col("vec_id"),
      col("embedding"), cents).as[(Long, Long, Long)].head()
    assert(b == ((rows.length.toLong, expFlatFp, expCSum)), s"flat fp: $b")
    val c = Similarity.superProbeFingerprint(emb, col("vec_id"),
      col("embedding"), cents).as[(Long, Long)].head()
    assert(c == ((rows.length.toLong, expSupFp)), s"super fp: $c")
    val d = Similarity.c2sFingerprint(cents).as[(Long, Long)].head()
    assert(d == ((cIds.length.toLong, expC2sFp)), s"c2s fp: $d")
    val e = Similarity.hierAssignFingerprint(emb, col("vec_id"),
      col("embedding"), cents).as[(Int, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    Seq(1, 2, 4).foreach { sp =>
      assert(e(sp) == ((rows.length.toLong, expHier(sp))), s"hier fp sp=$sp: ${e(sp)}")
    }
  }
}
