package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-close gate row (VERDICT r17 task 5): the ANN recall contracts on
  * the ADVERSARIAL embeddings shape, small and fast enough to run every
  * round — until r18 those numbers lived only in one-round measurements
  * at the 200k sf10 copy (BASELINE §16c/§17a), so a recall
  * regression on the realistic clustered shape would surface a round
  * late. Three contract rows against one exact ground truth on an
  * `ScaleUp mode=advemb` corpus (sf0.1-equivalent, ~2k vectors —
  * minutes, not a sweep):
  *
  *  - `s3_fixed_nprobe2`: flat IVF at the pinned fixed config — the
  *    knob §16c measured at 0.62 on this shape; expected LOW (it is the
  *    documented failure, kept as the contrast row — if it reads high
  *    the corpus generator regressed, not the index);
  *  - `s32_adaptive_mass15`: the mass-budget tier — must stay ≈ 1e6;
  *  - `s33_adaptive_pool`: residual IVF×PQ with the budgeted probe AND
  *    the candidate-scaled pool (the §17a config) — must stay ≥ 0.9e6;
  *  - `s19_fixed_sprobe2` (r18): hierarchical IVF at the pinned fixed
  *    knobs — the same §16c failure one level up, kept as contrast;
  *  - `s37_hier_adaptive` (r18): the two-level mass budget — must stay
  *    in family with s32 (the super gate guarantees the leaf budget is
  *    satisfiable, so its recall floor is the flat tier's);
  *  - `trained_fixed_np2` / `trained_adaptive` (r18, §17h): a k-means
  *    quantizer with MORE lists than the corpus has clusters (k=64 vs
  *    the generator's 32) — training shards the heavy clusters, so the
  *    fixed row is expected LOW (the §17h collapse, the contrast) and
  *    the adaptive row must stay ≥ 0.9e6 (the budget is quantizer-
  *    indifferent).
  *
  * Usage: runMain graft.AdvRecallGate [sfDir] [outPath]
  */
object AdvRecallGate {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/tmp/sf01advemb")
    val outPath = if (args.length > 1) args(1) else "tmp/adv_recall_gate.json"
    val spark = Mains.session(defaultCpus = 32, logLevel = "ERROR")
    import graft.operators.Similarity
    import graft.operators.Similarity.{Hier, HierMass, Mass, Nearest}

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5) // the suite's queriesDf
    val id = col("vec_id"); val v = col("embedding")
    val exact = Similarity.bruteForceTopK(emb, queries, id, v, k = 10)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    exact.count()
    def meanRecall(approx: DataFrame): Long = {
      val r = Similarity.recallAtK(exact, approx, k = 10)
        .agg(avg(col("recall_ppm"))).collect()(0)
      math.round(r.getDouble(0))
    }
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val (s3, w3) = timed(meanRecall(Similarity.ivfTopK(emb, queries, id, v,
      k = 10, centroidStride = 50, probe = Nearest(2))))
    val (s32, w32) = timed(meanRecall(Similarity.ivfTopK(emb,
      queries, id, v, k = 10, centroidStride = 50, probe = Mass(150000L))))
    val (s33, w33) = timed(meanRecall(Similarity.ivfPqTopK(emb, queries,
      id, v, k = 10, centroidStride = 50, numSubspaces = 8, numCodes = 16,
      codeStride = 16, residual = true, probe = Mass(150000L),
      poolPpm = Some(500000L))))
    val (s19, w19) = timed(meanRecall(Similarity.ivfTopK(emb,
      queries, id, v, k = 10, centroidStride = 50, probe = Nearest(2),
      hier = Some(Hier(16, 2)))))
    val (s37, w37) = timed(meanRecall(Similarity.ivfTopK(
      emb, queries, id, v, k = 10, centroidStride = 50,
      probe = HierMass(150000L), hier = Some(Hier(16, 2)))))
    val trained = Similarity.kmeansCentroids(
      Similarity.kmeansTrain(emb, id, v, k = 64, iters = 2,
        seedStride = 10, rankSeeds = true))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    trained.count()
    val (tf, wtf) = timed(meanRecall(Similarity.ivfTopK(emb, queries, id, v,
      k = 10, probe = Nearest(2), centroids = Some(trained))))
    val (ta, wta) = timed(meanRecall(Similarity.ivfTopK(emb, queries,
      id, v, k = 10, probe = Mass(150000L), centroids = Some(trained))))
    println(f"s3 fixed nProbe=2: $s3 ppm ($w3%.1f s)  " +
      f"s32 adaptive 15%%: $s32 ppm ($w32%.1f s)  " +
      f"s33 adaptive pool: $s33 ppm ($w33%.1f s)  " +
      f"s19 fixed hier: $s19 ppm ($w19%.1f s)  " +
      f"s37 hier adaptive: $s37 ppm ($w37%.1f s)  " +
      f"trained k=64 fixed: $tf ppm ($wtf%.1f s)  " +
      f"trained k=64 adaptive: $ta ppm ($wta%.1f s)")
    val json = s"""{"sf":"$sfDir","k":10,"n_queries":5,""" +
      s""""s3_fixed_nprobe2":{"recall_ppm":$s3,"wall_s":$w3},""" +
      s""""s32_adaptive_mass15":{"recall_ppm":$s32,"wall_s":$w32},""" +
      s""""s33_adaptive_pool":{"recall_ppm":$s33,"wall_s":$w33},""" +
      s""""s19_fixed_sprobe2":{"recall_ppm":$s19,"wall_s":$w19},""" +
      s""""s37_hier_adaptive":{"recall_ppm":$s37,"wall_s":$w37},""" +
      s""""trained_fixed_np2":{"recall_ppm":$tf,"wall_s":$wtf},""" +
      s""""trained_adaptive":{"recall_ppm":$ta,"wall_s":$wta}}"""
    val w = new java.io.PrintWriter(outPath, "UTF-8")
    try w.println(json) finally w.close()
    println(s"wrote $outPath")
    spark.stop()
  }
}
