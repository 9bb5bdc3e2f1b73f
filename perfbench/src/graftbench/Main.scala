package graftbench

import graft.SparkEntry

import org.apache.spark.sql.SparkSession

import java.io.File
import scala.collection.mutable

/** Benchmark harness: one JVM runs one workload for a time budget and
  * writes its raw samples (and, traced, its spans) as JSON for the
  * reporter. Arguments are `key=value`:
  *
  *  - `mode=sql workload=w out=f`: write the oracle SQL of the workload's
  *    ops that have one;
  *  - `mode=cds scratch=d`: load the classes a run needs (see
  *    [[loadClasses]]);
  *  - `mode=run workload=w data=d seed=n seconds=n trace=0|1 cpus=n
  *    partitions=n scratch=d out=f [corrupt=1]`: set up five times (a
  *    fresh session that opens every input), run one untimed warm-up
  *    pass whose outputs are not checked (a fresh JVM's first pass pays
  *    JIT and codegen, and how much depends on what else the host runs),
  *    then run closed-loop timed passes over `data` for about `seconds`
  *    (at least one pass), checking every timed op's output.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    a("mode") match {
      case "sql" =>
        val sql = SparkEntry.oracleSql
        val ops = Workloads(a("workload")).map(_.name).distinct.filter(sql.contains)
        write(a("out"), Json.obj(ops.map(o => o -> Json.str(sql(o)))))
      case "run" => new Run(a).apply()
      case "cds" => loadClasses(a("scratch"))
    }
  }

  /** A short session that joins, aggregates, and writes and reads parquet
    * and JSON, so that a JVM writing its class-data archive at exit has
    * loaded most of the classes a run needs.
    */
  def loadClasses(scratch: String): Unit = {
    import org.apache.spark.sql.functions.{count, lit, sum}
    val s = SparkSession.builder().master("local[2]").appName("graftbench-cds")
      .config("spark.ui.enabled", "false").config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse").getOrCreate()
    val facts = s.range(10000).selectExpr("id", "id % 100 as k", "cast(id as double) as v")
    val dims = s.range(100).selectExpr("id as k", "concat('n', id) as name")
    facts.join(dims, "k").groupBy("name").agg(sum("v"), count(lit(1)))
      .write.parquet(s"$scratch/parquet")
    s.read.parquet(s"$scratch/parquet").write.json(s"$scratch/json")
    s.stop()
  }

  def write(path: String, text: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(text) finally w.close()
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** (files, bytes) under a directory. */
  def treeSize(f: File): (Long, Long) =
    if (f.isDirectory) Option(f.listFiles).map(_.map(treeSize)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }).getOrElse((0L, 0L))
    else if (f.isFile) (1L, f.length) else (0L, 0L)
}

/** Minimal JSON writer (the harness only emits). */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def nums(m: collection.Map[String, Double]): String = obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
}

final class Run(a: Map[String, String]) {
  import Main._

  private val workload = a("workload")
  private val data = a("data")
  private val seconds = a("seconds").toDouble
  private val traced = a("trace") == "1"
  private val cpus = a("cpus").toInt
  private val scratch = a("scratch")
  private val rnd = new scala.util.Random(a("seed").toLong)
  private val ops = Workloads(workload)
  private val lifecycle = workload == "vector-store"
  private val resultsDir = s"$scratch/results"
  private val storeDir = sys.env("SPARK_GRAFT_STORE_DIR")
  private val ckptDir = s"$scratch/checkpoints"
  private val tracer = new Tracer
  private var spark: SparkSession = _

  private def session(): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cpus]").appName("graftbench")
      .config("spark.sql.shuffle.partitions", a("partitions"))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.addSparkListener(tracer)
    s
  }

  /** The `Bench.releaseCaches` sequence, run before every op, then a
    * full GC so that no op pays for the garbage of the one before it.
    */
  private def releaseCaches(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    graft.operators.Dedup.unpersistIntermediates()
    graft.operators.Corpus.unpersistIntermediates()
    graft.operators.Graph.unpersistIntermediates()
    System.gc()
  }

  /** Every pass starts from empty result, store and checkpoint dirs. */
  private def resetDirs(): Unit =
    Seq(resultsDir, storeDir, ckptDir).foreach(d => deleteTree(new File(d)))

  private def drainBus(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** op -> (rows, digest): oracle digests, computed once per input seed
    * and kept beside the inputs, plus the stream row counts the generator
    * wrote.
    */
  private def expectations(): Map[String, (Long, String)] = {
    val f = new File(s"$data/expected.json")
    val oracle = new File(s"$data/oracle")
    if (!f.isFile) write(f.getPath, Json.obj(
      Option(oracle.listFiles).toSeq.flatten.map(_.getName).filter(_.endsWith(".parquet")).map { n =>
        val (rows, dig) = Workloads.digest(spark.read.parquet(s"$oracle/$n"))
        n.stripSuffix(".parquet") -> Json.arr(Seq(rows.toString, Json.str(dig)))
      }))
    val Entry = """"([^"]+)":\s*\[\s*(\d+)\s*,\s*"?(-?\d+)"?\s*\]""".r
    val m = Seq(f, new File(s"$data/stream.json")).filter(_.isFile).flatMap { g =>
      val text = scala.io.Source.fromFile(g, "UTF-8").mkString
      Entry.findAllMatchIn(text).map(x => x.group(1) -> (x.group(2).toLong, x.group(3)))
    }.toMap
    if (a.get("corrupt").contains("1"))
      m.map { case (k, (r, d)) => k -> (r, (BigInt(d) + 1).toString) } else m
  }

  // ---- passes ------------------------------------------------------------

  private final case class Sample(op: String, s: Double, ok: Boolean, rows: Long, err: String)

  /** One pass over the ops; the warm-up pass (`check = false`) only
    * fails an op that throws, a timed pass also checks every output.
    */
  private def runPass(dir: String, expect: Map[String, (Long, String)], pass: Int,
      check: Boolean = true): Seq[Sample] = {
    resetDirs()
    val order = if (lifecycle) ops else rnd.shuffle(ops)
    val passSpan = tracer.begin("pass", s"pass $pass")
    val out = order.map { op => releaseCaches(); runOp(op, dir, expect, check) }
    releaseCaches()
    drainBus()
    if (traced) {
      val (files, bytes) = treeSize(new File(storeDir))
      val written = Seq(resultsDir, storeDir, ckptDir).map(d => treeSize(new File(d))._2).sum
      tracer.spans(passSpan.id).attrs ++= Map("store_files" -> files.toDouble,
        "store_bytes" -> bytes.toDouble, "written_bytes" -> written.toDouble)
    }
    tracer.end(passSpan)
    out
  }

  private def runOp(op: Op, dir: String, expect: Map[String, (Long, String)],
      check: Boolean): Sample = {
    val opSpan = tracer.begin("op", op.name)
    val t0 = System.nanoTime()
    val result = try {
      val b = tracer.begin("build", op.name)
      val built = try op.build(spark, dir, Ctx(resultsDir, ckptDir)) finally tracer.end(b)
      val t1 = tracer.time()
      val sinkRows = built.act()
      Right((built, t1, sinkRows))
    } catch { case e: Throwable => Left(e) }
    val sec = (System.nanoTime() - t0) / 1e9
    val opDone = tracer.end(opSpan)
    result match {
      case Left(e) => Sample(op.name, sec, ok = false, -1, e.toString)
      case Right(_) if !check => Sample(op.name, sec, ok = true, -1, "")
      case Right((built, t1, sinkRows)) =>
        if (traced) annotate(op, opDone, built, t1)
        val (rows, dig) = try built.check() catch { case e: Throwable => (-1L, e.toString) }
        val want = expect.get(op.name)
        val ok = want.contains((rows, dig)) && (sinkRows < 0 || sinkRows == rows)
        val err = if (ok) "" else s"got ($rows, $dig, sink $sinkRows), want ${want.getOrElse("none")}"
        Sample(op.name, sec, ok, rows, err)
    }
  }

  /** Traced run: split the action into plan (until the first SQL
    * execution starts) and exec, and attach plan-shape and facade numbers.
    */
  private def annotate(op: Op, opSpan: Span, built: Built, t1: Double): Unit = {
    val attrs = mutable.Map.empty[String, Double] ++ built.attrs()
    attrs("cached_bytes") =
      spark.sparkContext.getRDDStorageInfo.map(i => (i.memSize + i.diskSize).toDouble).sum
    built.batches().foreach { case (s, e, m) => tracer.add("batch", op.name, opSpan.id, s, e, m) }
    drainBus()
    tracer.synchronized {
      val execs = tracer.executions.values.filter { case (t, _) => t >= opSpan.start && t <= opSpan.end }
      execs.foreach { case (_, plan) =>
        Tracer.planCounts(plan).foreach { case (k, v) => attrs(k) = attrs.getOrElse(k, 0.0) + v } }
      val firstExec = execs.map(_._1).filter(_ >= t1).minOption.getOrElse(opSpan.end)
      tracer.add("plan", op.name, opSpan.id, t1, firstExec)
      tracer.add("exec", op.name, opSpan.id, firstExec, opSpan.end)
      tracer.executions.clear()
      tracer.spans(opSpan.id).attrs ++= attrs
    }
  }

  // ---- run ---------------------------------------------------------------

  /** One set-up: a fresh session that opens every input. */
  private def setUp(): Double = {
    val t0 = System.nanoTime()
    spark = session()
    val dir = new File(data)
    dir.listFiles.filter(_.getName.endsWith(".parquet"))
      .foreach(f => spark.read.parquet(f.getPath).schema)
    if (new File(dir, "events").isDirectory) spark.read.parquet(s"$data/events").schema
    (System.nanoTime() - t0) / 1e9
  }

  def apply(): Unit = {
    val setup = (1 to 5).map { i =>
      if (i > 1) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      setUp()
    }
    val tw = System.nanoTime()
    val warmup = runPass(data, Map.empty, -1, check = false)
    val warmupS = (System.nanoTime() - tw) / 1e9
    val te = System.nanoTime()
    val expect = expectations()
    val expectS = (System.nanoTime() - te) / 1e9
    tracer.spans.clear()

    // passes (with their checks) while the next one, as long as the last,
    // still ends within the budget; at least one
    def loop(budget: Double, tag: String): Seq[(String, Double, Seq[Sample])] = {
      val start = System.nanoTime()
      val passes = mutable.ArrayBuffer.empty[(String, Double, Seq[Sample])]
      var last = 0L
      while (passes.isEmpty || System.nanoTime() - start + last <= (budget * 1e9).toLong) {
        val t = System.nanoTime()
        val samples = runPass(data, expect, passes.size)
        passes += ((tag, samples.map(_.s).sum, samples))
        last = System.nanoTime() - t
      }
      passes.toSeq
    }
    // a traced run spends half its budget untraced first, to price the
    // tracing (the untraced passes run first, so slightly colder)
    val passes =
      if (!traced) loop(seconds, "plain")
      else {
        val plain = loop(seconds / 2, "plain")
        tracer.spans.clear()
        tracer.enabled = true
        plain ++ loop(seconds / 2, "traced")
      }
    tracer.enabled = false
    spark.stop()

    val passJson = (("warmup", warmup.map(_.s).sum, warmup) +: passes).map { case (tag, wall, samples) =>
      Json.obj(Seq("tag" -> Json.str(tag), "wall_s" -> Json.num(wall),
        "ops" -> Json.arr(samples.map(s => Json.obj(Seq("op" -> Json.str(s.op), "s" -> Json.num(s.s),
          "ok" -> s.ok.toString, "rows" -> s.rows.toString, "err" -> Json.str(s.err)))))))
    }
    val spanJson = tracer.spans.toSeq.map(s => Json.obj(Seq("id" -> s.id.toString,
      "parent" -> s.parent.toString, "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
      "start" -> Json.num(s.start), "end" -> Json.num(s.end), "attrs" -> Json.nums(s.attrs))))
    write(a("out"), Json.obj(Seq(
      "setup_s" -> Json.arr(setup.map(Json.num)),
      "expect_s" -> Json.num(expectS),
      "warmup_s" -> Json.num(warmupS),
      "cpus" -> cpus.toString,
      "passes" -> Json.arr(passJson),
      "spans" -> Json.arr(spanJson))))
  }
}
