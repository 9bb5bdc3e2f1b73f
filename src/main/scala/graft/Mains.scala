package graft

import org.apache.spark.sql.SparkSession

/** Session setup and between-query cache release shared by the runnable
  * mains (`Bench`, `Verify`, `ScaleUp`, `AdvRecallGate`, `Demo`).
  */
object Mains {
  /** A local session with UTC timestamps, AQE on, no UI and the
    * fork-free local filesystem ([[graft.io.LocalFs]]), read from the
    * environment:
    *  - `SPARK_GRAFT_CPUS` (default `defaultCpus`): the `local[N]` cores;
    *  - `SPARK_GRAFT_SHUFFLE_PARTITIONS` (default: the core count).
    *    Shuffle partitions track the DATA, not the core count: at 10× the
    *    driver's sf0.1 a fixed 32 makes every reduce partition 10× bigger
    *    (spill-bound, superlinear), so the sf1 gate passes 128;
    *  - `SPARK_GRAFT_IO_CODEC` (default lz4, Spark's own). The r12 sf10
    *    sweep's one error was a shuffle-scratch disk overflow in the exact
    *    containment tier under lz4; the same query fits under zstd (~2-3×
    *    smaller shuffle files for this text-heavy data), so the README's
    *    sf1/sf10 gate commands pass `zstd`.
    */
  def session(defaultCpus: Int, logLevel: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    // the fork-free local filesystem (graft.io.LocalFs) for every `file:`
    // read and write of the session, unless a `spark.hadoop.` system
    // property already chooses the key
    val submitted = new org.apache.spark.SparkConf()
    val localFs = graft.io.LocalFs.settings.map { case (k, v) => s"spark.hadoop.$k" -> v }
      .filterNot { case (k, _) => submitted.contains(k) }
    val spark = SparkSession.builder()
      .config(localFs.toMap)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
      .config("spark.io.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_IO_CODEC", "lz4"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Clear the cache between queries. `clearCache` drops the cached data;
    * draining the operator registries releases the retained DataFrame
    * references too (they would otherwise accumulate one analyzed plan per
    * dedup/corpus query for the JVM's lifetime).
    */
  def releaseCaches(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    graft.operators.Dedup.unpersistIntermediates()
    graft.operators.Corpus.unpersistIntermediates()
    graft.operators.Graph.unpersistIntermediates()
  }
}
