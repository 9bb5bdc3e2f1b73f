package graftbench

import graft.SparkEntry
import graft.core.{Condition, TableInfo}
import graft.operators.{HashJoinExecutor, JoinExecutor, NestedJoinExecutor}
import graft.sources.{InMemoryResolver, ParquetResolver}
import graft.streaming.EventStreams

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** One op after its build (the constructor call, with any eager jobs it
  * runs). `act` is the timed action and returns the rows its sink reports
  * (-1 when the sink reports none). `check` runs after the timed region
  * and gives (rows, digest) to compare with the expectation. `attrs` are
  * layer numbers read after the action, and `batches` the micro-batch
  * spans of a streaming op as (start ms, end ms, attrs).
  */
final class Built(val act: () => Long, val check: () => (Long, String),
    val attrs: () => Map[String, Double] = () => Map.empty,
    val batches: () => Seq[(Double, Double, Map[String, Double])] = () => Nil)

final case class Op(name: String, build: (SparkSession, String, Ctx) => Built)

/** Per-pass directories the ops write under. */
final case class Ctx(resultsDir: String, checkpointDir: String)

object Workloads {

  /** Order-insensitive digest: row count and the sum of a per-row hash
    * over the columns in name order, with types widened so the engine's
    * output and the DuckDB oracle's parquet hash alike.
    */
  def digest(df: DataFrame): (Long, String) = {
    def norm(t: DataType, c: Column): Column = t match {
      case ByteType | ShortType | IntegerType | LongType => c.cast(LongType)
      case FloatType | DoubleType | _: DecimalType => c.cast(DoubleType)
      case TimestampType | TimestampNTZType | DateType => c.cast(StringType)
      case ArrayType(et, _) => transform(c, x => norm(et, x))
      case _ => c
    }
    val cols = df.columns.sorted.map(c => norm(df.schema(c).dataType, df.col(s"`$c`")))
    val r = df.select(xxhash64(cols.toSeq: _*).cast(DecimalType(20, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** Ops run through `SparkEntry.queries` and written to the noop sink. */
  def entryOp(name: String): Op = Op(name, (s, dir, _) => {
    val df = SparkEntry.queries(name)(s, dir)
    new Built(() => { df.write.format("noop").mode("overwrite").save(); -1L }, () => digest(df))
  })

  /** A `ParityQueries` pipeline rebuilt on the public join facade and
    * written through `saveResult` (JSONL). `out` is the final projection
    * the oracle compares, qualified name -> output name.
    */
  private def joinOp(name: String, out: Seq[(String, String)])(
      mk: (SparkSession, String) => JoinExecutor): Op = Op(name, (s, dir, ctx) => {
    val ex = mk(s, dir)
    new Built(
      () => ex.saveResult(name, ctx.resultsDir),
      () => digest(ex.execute().select(out.map { case (q, a) => col(q).as(a) }: _*)),
      () => ex.getTimeElapsed.map { case (k, v) => s"facade.$k" -> v } +
        ("sink_bytes" -> Main.treeSize(new java.io.File(s"${ctx.resultsDir}/$name"))._2.toDouble))
  })

  private def hash(s: SparkSession, dir: String) =
    new HashJoinExecutor(s, new ParquetResolver(dir))
  private def nested(s: SparkSession, dir: String) =
    new NestedJoinExecutor(s, new ParquetResolver(dir))
  private def q(pairs: (String, String)*): Seq[(String, String)] = pairs

  /** The twelve reference-parity pipelines (same chains, filters and
    * output columns as `graft.queries.ParityQueries`).
    */
  val joins: Seq[Op] = Seq(
    joinOp("j1_inner_hash", q("customer__c_custkey" -> "c_custkey",
        "customer__c_name" -> "c_name", "orders__o_orderkey" -> "o_orderkey",
        "orders__o_totalprice" -> "o_totalprice")) { (s, d) =>
      hash(s, d).join(TableInfo("customer", "c_custkey"), TableInfo("orders", "o_custkey"))
        .filterBy(Condition("orders.o_totalprice", ">", 100000.0))
    },
    joinOp("j2_left_outer", q("customer__c_custkey" -> "c_custkey",
        "customer__c_acctbal" -> "c_acctbal", "orders__o_orderkey" -> "o_orderkey",
        "orders__o_totalprice" -> "o_totalprice")) { (s, d) =>
      hash(s, d).leftJoin(TableInfo("customer", "c_custkey"), TableInfo("orders", "o_custkey"))
    },
    joinOp("j3_right_outer", q("orders__o_orderkey" -> "o_orderkey",
        "orders__o_totalprice" -> "o_totalprice", "customer__c_custkey" -> "c_custkey",
        "customer__c_name" -> "c_name")) { (s, d) =>
      hash(s, d).rightJoin(TableInfo("orders", "o_custkey"), TableInfo("customer", "c_custkey"))
    },
    joinOp("j4_full_outer", q("customer__c_custkey" -> "c_custkey",
        "customer__c_acctbal" -> "c_acctbal", "orders__o_orderkey" -> "o_orderkey",
        "orders__o_totalprice" -> "o_totalprice")) { (s, d) =>
      hash(s, d).fullOuterJoin(TableInfo("customer", "c_custkey"), TableInfo("orders", "o_custkey"))
    },
    joinOp("j5_grace_shuffle", q("orders__o_orderkey" -> "o_orderkey",
        "lineitem__l_linenumber" -> "l_linenumber", "lineitem__l_quantity" -> "l_quantity",
        "lineitem__l_discount" -> "l_discount")) { (s, d) =>
      hash(s, d).withJoinHint("merge")
        .join(TableInfo("orders", "o_orderkey"), TableInfo("lineitem", "l_orderkey"))
        .filterBy(Condition("lineitem.l_discount", ">=", 0.05))
    },
    joinOp("j6_theta_lt", q("supplier__s_suppkey" -> "s_suppkey",
        "supplier__s_acctbal" -> "s_acctbal", "nation__n_nationkey" -> "n_nationkey",
        "nation__n_name" -> "n_name")) { (s, d) =>
      nested(s, d).join(TableInfo("supplier", "s_acctbal"), TableInfo("nation", "n_nationkey"), "<")
    },
    joinOp("j6_theta_neq", q("nation__n_nationkey" -> "n_nationkey",
        "nation__n_name" -> "n_name", "region__r_regionkey" -> "r_regionkey",
        "region__r_name" -> "r_name")) { (s, d) =>
      nested(s, d).join(TableInfo("nation", "n_regionkey"), TableInfo("region", "r_regionkey"), "!=")
    },
    joinOp("j8_chain_multiway", q("customer__c_custkey" -> "c_custkey",
        "orders__o_orderkey" -> "o_orderkey", "orders__o_orderpriority" -> "o_orderpriority",
        "lineitem__l_linenumber" -> "l_linenumber", "lineitem__l_quantity" -> "l_quantity")) { (s, d) =>
      hash(s, d)
        .join(TableInfo("customer", "c_custkey"), TableInfo("orders", "o_custkey"))
        .join(TableInfo("orders", "o_orderkey"), TableInfo("lineitem", "l_orderkey"))
        .filterBy(Condition("orders.o_orderpriority", "IN", Seq("1-URGENT", "2-HIGH")) &
          Condition("lineitem.l_quantity", ">", 25.0))
    },
    joinOp("f1_filter_algebra", q("customer__c_custkey" -> "c_custkey",
        "customer__c_mktsegment" -> "c_mktsegment", "customer__c_acctbal" -> "c_acctbal",
        "nation__n_name" -> "n_name")) { (s, d) =>
      hash(s, d).join(TableInfo("customer", "c_nationkey"), TableInfo("nation", "n_nationkey"))
        .filterBy((Condition("customer.c_acctbal", ">", 5000.0) |
          Condition("customer.c_mktsegment", "=", "BUILDING")) &
          !Condition("nation.n_name", "=", "NATION_3"))
    },
    joinOp("f2_contains", q("orders__o_orderkey" -> "o_orderkey",
        "orders__o_totalprice" -> "o_totalprice")) { (s, d) =>
      val parts = s.read.parquet(s"$d/lineitem.parquet")
        .repartition(s.sparkContext.defaultParallelism)
        .groupBy(col("l_orderkey")).agg(collect_list(col("l_partkey")).as("parts"))
      new HashJoinExecutor(s, new InMemoryResolver(Map(
          "orders" -> s.read.parquet(s"$d/orders.parquet"), "order_parts" -> parts)))
        .join(TableInfo("orders", "o_orderkey"), TableInfo("order_parts", "l_orderkey"))
        .filterBy(Condition("order_parts.parts", "CONTAINS", 42L))
    },
    joinOp("p1_projection", q("customer__c_custkey" -> "c_custkey",
        "customer__c_name" -> "c_name", "orders__o_custkey" -> "o_custkey",
        "orders__o_orderkey" -> "o_orderkey")) { (s, d) =>
      hash(s, d).select("customer", Seq("c_custkey", "c_name"))
        .select("orders", Seq("o_custkey", "o_orderkey"))
        .join(TableInfo("customer", "c_custkey"), TableInfo("orders", "o_custkey"))
    },
    joinOp("j1_composite_selfjoin", q("lineitem__l_orderkey" -> "l_orderkey",
        "lineitem__l_linenumber" -> "l_linenumber", "lineitem__l_quantity" -> "l_quantity",
        "li2__l_quantity" -> "q2")) { (s, d) =>
      hash(s, d).join(TableInfo("lineitem", Seq("l_orderkey", "l_linenumber")),
        TableInfo("lineitem", Seq("l_orderkey", "l_linenumber"), Some("li2")))
    })

  private val eventSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** A streaming operator replaying `<dir>/events` (one parquet file per
    * trigger, `Trigger.AvailableNow`) into the noop sink from a fresh
    * checkpoint. The check is the number of rows emitted.
    */
  private def streamOp(name: String)(query: DataFrame => DataFrame): Op = Op(name, (s, dir, ctx) => {
    val src = s.readStream.schema(eventSchema).option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/events")
    val out = query(src).writeStream.format("noop").outputMode("append")
      .option("checkpointLocation", s"${ctx.checkpointDir}/$name").trigger(Trigger.AvailableNow())
    var progress = Seq.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    def rows = progress.map(_.sink.numOutputRows).sum
    def ms(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    new Built(
      () => {
        val q = out.start()
        try q.awaitTermination() finally q.stop()
        q.exception.foreach(e => throw e)
        progress = q.recentProgress.toSeq
        rows
      },
      () => (rows, "0"),
      () => {
        val sum = (k: String) => progress.map(ms(_, k)).sum / 1e3
        Map("stream.batch_s" -> sum("triggerExecution"), "stream.plan_s" -> sum("queryPlanning"),
          "stream.wal_commit_s" -> (sum("walCommit") + sum("commitOffsets")),
          "stream.rows_in" -> progress.map(_.numInputRows.toDouble).sum,
          "stream.state_rows" -> progress.flatMap(_.stateOperators.map(_.numRowsTotal.toDouble)).maxOption.getOrElse(0.0),
          "stream.state_bytes" -> progress.flatMap(_.stateOperators.map(_.memoryUsedBytes.toDouble)).maxOption.getOrElse(0.0))
      },
      () => progress.map { p =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        (start, start + ms(p, "triggerExecution"), Map("rows_in" -> p.numInputRows.toDouble))
      })
  })

  val streams: Seq[Op] = Seq(
    streamOp("dedupStream")(EventStreams.dedupStream(_)),
    streamOp("windowedTypeCounts")(EventStreams.windowedTypeCounts(_)),
    streamOp("sessionize") { src =>
      import src.sparkSession.implicits._
      EventStreams.sessionize(src.withWatermark("ts", "10 minutes")
        .select("event_id", "ts", "user_id", "event_type", "value").as[EventStreams.Event]).toDF()
    })

  val dedup: Seq[Op] = Seq("d3_minhash_lsh", "d7_dup_clusters", "d8_dedup_keep",
    "d19_prefix_jaccard", "d22_containment_keep", "d18_fuzzy_clusters", "d12_semdedup")
    .map(entryOp)

  /** Store lifecycle order: build, probe, the embedding dedup op, then
    * build+append+compact+probe (s28, which runs s25's build+append+probe
    * with a compaction before the probe).
    */
  val vectorStore: Seq[Op] = Seq("s23_ivf_store_build", "s24_ann_ivf_store", "d12_semdedup",
    "s28_ivf_store_compact").map(entryOp)

  /** The ops of one pass. */
  def apply(name: String): Seq[Op] = name match {
    case "join-x10" => joins ++ streams.filter(_.name == "sessionize")
    case "dedup" => dedup
    case "vector-store" => vectorStore
    case "event-stream" => streams
  }
}
