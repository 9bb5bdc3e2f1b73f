package graft

import graft.core.{Condition, TableInfo}
import graft.operators.{HashJoinExecutor, NestedJoinExecutor}
import graft.sources.ParquetResolver

/** End-to-end smoke of the user-facing facade — the reference README's
  * canonical usage (reference: README.md:26-75) transposed to testdata:
  * build a chained join, execute, save JSONL, pretty-print, report timings.
  * Run: sbt "runMain graft.Demo [sfDir] [resultsDir]"
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val resultsDir = if (args.length > 1) args(1) else "results"
    val spark = Mains.session(defaultCpus = 4, logLevel = "WARN")
    val resolver = new ParquetResolver(sfDir)

    val ex: HashJoinExecutor = new HashJoinExecutor(spark, resolver)
      .join(TableInfo("customer", "c_custkey"), TableInfo("orders", "o_custkey"))
      .join(TableInfo("orders", "o_orderkey"), TableInfo("lineitem", "l_orderkey"))
      .filterBy(Condition("orders.o_totalprice", ">", 100000.0))
    val n = ex.saveResult("demo_chain", resultsDir)
    println(s"[demo] demo_chain rows: $n  timings: ${ex.getTimeElapsed}")
    ex.printJoinResult("demo_chain", maxRows = 5, resultsDir = resultsDir)

    val theta = new NestedJoinExecutor(spark, resolver)
      .join(TableInfo("nation", "n_regionkey"), TableInfo("region", "r_regionkey"), "!=")
    println(s"[demo] theta != rows: ${theta.execute().count()}")

    // pipeline extensions, one-liners over the same testdata
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val nearDups = graft.operators.Dedup
      .minhashLshPairs(docs, col("doc_id"), col("text")).count()
    println(s"[demo] minhash-LSH near-dup pairs: $nearDups")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val ann = graft.operators.Similarity
      .bruteForceTopK(emb, emb.filter(col("vec_id") === 0), col("vec_id"), col("embedding"), k = 3)
      .orderBy("rn").select("vec_id", "cos_ud").collect()
      .map(r => f"${r.getLong(0)}@${r.getLong(1) / (1L << 40).toDouble}%.4f")
      .mkString(", ")
    println(s"[demo] ann top-3 for vec 0: $ann")
    val lang = graft.functions.TextFunctions.langId(col("text"))
    println(s"[demo] language guesses: " +
      docs.groupBy(lang.as("lang")).count().collect().map(_.toString).mkString(" "))
    val semKept = graft.operators.Dedup
      .semanticKeep(emb, col("vec_id"), col("embedding")).count()
    println(s"[demo] SemDeDup kept ${semKept} of ${emb.count()} embeddings")
    // the SQL surface: runtime registration of the native expressions
    graft.functions.GraftFunctions.register(spark)
    val sqlCos = spark.sql(
      "SELECT round(graft_cosine_sim(array(1.0D, 0.0D), array(1.0D, 1.0D)), 6) AS c")
      .collect()(0).getDouble(0)
    println(s"[demo] SQL graft_cosine_sim([1,0],[1,1]) = $sqlCos")
    // the curation tail: chunk → pack → physical shards on disk
    val chunks = graft.operators.Corpus
      .chunkTokens(docs, col("doc_id"), col("text"), chunkSize = 48, overlap = 8)
    val shardDir = java.nio.file.Files.createTempDirectory("demo_shards").toString
    graft.operators.Corpus.writeShards(
      graft.operators.Corpus.packTokens(docs, col("doc_id"), col("text"),
        numShards = 4, budget = 256L), shardDir)
    println(s"[demo] chunked ${docs.count()} docs into ${chunks.count()} windows; " +
      s"wrote ${new java.io.File(shardDir).listFiles().count(_.getName.startsWith("shard="))} shard dirs")
    // continuous ingestion: dedup a pretend batch against the admitted corpus
    val incDup = graft.operators.Dedup.incrementalDedup(
      docs.filter(col("doc_id") % 5 === 0),
      graft.operators.Dedup.minhashStore(
        docs.filter(col("doc_id") % 5 =!= 0), col("doc_id"), col("text")),
      col("doc_id"), col("text")).filter(col("dup_of").isNotNull).count()
    println(s"[demo] incremental dedup flagged $incDup batch docs against the store")
    // ExactSubstr tier: which passages repeat corpus-wide, and the cut
    val spanStats = graft.operators.Dedup.cutSpans(
      docs, col("doc_id"), col("text"), k = 8)
      .agg(sum(col("n_tokens_cut")).as("cut"), sum(col("n_tokens_kept")).as("kept"))
      .collect()(0)
    println(s"[demo] ExactSubstr cut ${spanStats.getLong(0)} of " +
      s"${spanStats.getLong(0) + spanStats.getLong(1)} tokens as duplicated spans")
    // measure, don't guess: LSH tier recall@10 vs the exact ranking
    val queriesDf = emb.filter(col("vec_id") < 5)
    val recall = graft.operators.Similarity.recallAtK(
      graft.operators.Similarity.bruteForceTopK(emb, queriesDf, col("vec_id"), col("embedding"), k = 10),
      graft.operators.Similarity.lshTopK(emb, queriesDf, col("vec_id"), col("embedding"), k = 10),
      k = 10)
      .agg(avg(col("recall_ppm"))).collect()(0).getDouble(0)
    println(f"[demo] LSH recall@10 vs exact: ${recall / 10000}%.1f%%")
    // the production ANN loop: train the coarse quantizer, probe with it
    val trained = graft.operators.Similarity.kmeansCentroids(
      graft.operators.Similarity.kmeansTrain(emb, col("vec_id"), col("embedding"),
        k = 8, iters = 2, seedStride = 50))
    val ivfHits = graft.operators.Similarity.ivfTopK(emb, queriesDf,
      col("vec_id"), col("embedding"), k = 10,
      probe = graft.operators.Similarity.Nearest(2),
      centroids = Some(trained)).count()
    println(s"[demo] trained-IVF (k-means, 2 Lloyd iterations) ranked $ivfHits rows for 5 queries")
    // the CCNet-shaped LM filter: score the corpus against a clean slice
    val lm = graft.operators.NgramLm.bigramScore(
      docs.filter(col("doc_id") % 10 =!= 0), col("doc_id"), col("text"),
      docs.filter(col("doc_id") % 10 === 0), col("text"))
    val lmRange = lm.agg(min(col("lm_ppm")), max(col("lm_ppm"))).collect()(0)
    println(s"[demo] bigram-LM score range over the corpus: ${lmRange.getLong(0)}–${lmRange.getLong(1)} ppm")
    // train a subword vocabulary on the corpus, encode it, report fertility
    val bpeMerges = graft.operators.Bpe.train(docs, col("text"), numMerges = 20)
    val fertility = graft.operators.Bpe.encode(docs, col("doc_id"), col("text"), bpeMerges)
      .agg(sum(col("n_tokens"))).collect()(0).getLong(0)
    println(s"[demo] BPE: ${bpeMerges.length} merges " +
      s"(first: ${bpeMerges.take(3).map(m => m.left + "+" + m.right).mkString(", ")}); " +
      s"$fertility subword tokens over the corpus")
    // DSIR: score against the English slice as target, Gumbel-resample 50
    val dsir = graft.operators.Corpus.dsirScores(
      docs, col("doc_id"), col("text"), col("lang") === "en")
    val picked = graft.operators.Corpus.gumbelTopK(
      dsir, col("doc_id"), col("dsir_micro_nats").cast("double") / 1e6, k = 50)
    val en = picked.join(docs, "doc_id").filter(col("lang") === "en").count()
    println(s"[demo] DSIR resample toward English: $en of 50 picks are en")

    // error paths a user would hit:
    def expectError(label: String)(f: => Any): Unit =
      try { f; println(s"[demo] $label: NO ERROR (unexpected)") }
      catch { case e: IllegalArgumentException => println(s"[demo] $label: rejected — ${e.getMessage}") }
    expectError("theta on hash executor") {
      new HashJoinExecutor(spark, resolver)
        .join(TableInfo("supplier", "s_acctbal"), TableInfo("customer", "c_acctbal"), "<")
    }
    expectError("select missing join column") {
      new HashJoinExecutor(spark, resolver)
        .select("customer", Seq("c_name"))
        .join(TableInfo("customer", "c_custkey"), TableInfo("orders", "o_custkey"))
        .execute()
    }
    expectError("broken chain (left table not in pipeline)") {
      new HashJoinExecutor(spark, resolver)
        .join(TableInfo("customer", "c_custkey"), TableInfo("orders", "o_custkey"))
        .join(TableInfo("part", "p_partkey"), TableInfo("lineitem", "l_partkey"))
    }
    spark.stop()
  }
}
