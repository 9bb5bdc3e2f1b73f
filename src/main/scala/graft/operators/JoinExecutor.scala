package graft.operators

import graft.core.{Condition, JoinKind, JoinSpec, TableInfo}
import graft.sources.TableResolver

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col => scol}

import scala.collection.mutable

/** Fluent join-pipeline builder with the reference's API surface
  * (reference: cassandra_joinlib/join_executor.py:24-231):
  * `select / join / leftJoin / rightJoin / fullOuterJoin / filterBy /
  * execute / saveResult / printJoinResult / getTimeElapsed`.
  *
  * Builder methods only queue a logical description (the reference's
  * command queue, join_executor.py:133-152); `execute()` compiles the whole
  * pipeline into ONE DataFrame chain and lets Catalyst/Tungsten do what the
  * reference does by hand — pushdown, pruning, build-side choice, grace
  * partitioning, spilling, distribution (SURVEY.md §4: zero custom rules
  * needed for parity).
  *
  * Column qualification: every table's columns are renamed to
  * `<name>__<column>` before joining — the Spark equivalent of the
  * reference's tuple-key rows `{(column, table): value}`
  * (reference: cassandra_joinlib/hash_join.py:420-426), so same-named
  * columns from different tables never collide, including self-joins via
  * alias.
  */
abstract class JoinExecutor(
    val spark: SparkSession,
    val resolver: TableResolver) {

  import JoinExecutor._

  protected val joinSpecs = mutable.ArrayBuffer.empty[JoinSpec]
  protected val selectedCols = mutable.LinkedHashMap.empty[String, Vector[String]]
  protected val filterConditions = mutable.ArrayBuffer.empty[Condition]
  private var joinHint: Option[String] = None
  private val timings = mutable.LinkedHashMap.empty[String, Double]
  // physical table behind each pipeline name (alias -> table)
  protected val tableForName = mutable.LinkedHashMap.empty[String, String]

  /** Which θ operators this executor admits (hash: `=` only — the reference
    * hash path hard-codes equality, intermediate_result.py:202-205; nested:
    * all six, nested_join.py:1000-1036).
    */
  protected def allowedOperators: Set[String]
  protected def executorKind: String

  private def registerTable(ti: TableInfo): Unit =
    tableForName.get(ti.name) match {
      case Some(t) if t != ti.table =>
        throw new IllegalArgumentException(
          s"name '${ti.name}' already bound to table '$t'; use a distinct alias")
      case _ => tableForName(ti.name) = ti.table
    }

  private def addJoin(kind: JoinKind, left: TableInfo, right: TableInfo, op: String): this.type = {
    if (!allowedOperators.contains(op))
      throw new IllegalArgumentException(
        s"$executorKind supports operators ${allowedOperators.mkString(" ")}, got '$op'" +
          (if (op != "=") " — use NestedJoinExecutor for theta joins" else ""))
    if (joinSpecs.nonEmpty && !tableForName.contains(left.name))
      throw new IllegalArgumentException(
        s"left-deep chain: left table '${left.name}' of join ${joinSpecs.size + 1} " +
          s"must already be part of the pipeline (${tableForName.keys.mkString(", ")})")
    registerTable(left); registerTable(right)
    joinSpecs += JoinSpec(kind, left, right, op)
    this
  }

  // ---- fluent API (names follow the reference) -------------------------
  def join(left: TableInfo, right: TableInfo, operator: String = "="): this.type =
    addJoin(JoinKind.Inner, left, right, operator)
  def leftJoin(left: TableInfo, right: TableInfo, operator: String = "="): this.type =
    addJoin(JoinKind.LeftOuter, left, right, operator)
  def rightJoin(left: TableInfo, right: TableInfo, operator: String = "="): this.type =
    addJoin(JoinKind.RightOuter, left, right, operator)
  def fullOuterJoin(left: TableInfo, right: TableInfo, operator: String = "="): this.type =
    addJoin(JoinKind.FullOuter, left, right, operator)

  /** Per-table projection. Repeated selects on one table union
    * (reference: hash_join.py:48-56).
    */
  def select(table: String, columns: Seq[String]): this.type = {
    selectedCols(table) = (selectedCols.getOrElse(table, Vector.empty) ++ columns).distinct
    this
  }

  def filterBy(condition: Condition): this.type = {
    filterConditions += condition
    this
  }

  /** Optional physical-strategy hint applied to every join's build side
    * ("broadcast", "merge", "shuffle_hash", ...). "merge" forces the
    * sort-merge path — Spark's built-in equivalent of the reference's grace
    * partitioned hash join (spill-partition both sides by key, join
    * partition pairs; hash_join.py:871-935). Default None lets Catalyst+AQE
    * choose, which replaces the reference's asizeof-based decision.
    */
  def withJoinHint(hint: String): this.type = { joinHint = Some(hint); this }

  // ---- compilation ------------------------------------------------------

  /** Reference quirk 6 (SURVEY.md §2): selecting a table without its join
    * column(s) is a hard validation error — the reference refuses to run
    * (join_executor.py:155-212) rather than silently auto-retaining keys.
    */
  private def validateSelects(): Unit = {
    val keyCols = mutable.Map.empty[String, mutable.Set[String]]
    joinSpecs.foreach { js =>
      keyCols.getOrElseUpdate(js.left.name, mutable.Set.empty) ++= js.left.joinColumns
      keyCols.getOrElseUpdate(js.right.name, mutable.Set.empty) ++= js.right.joinColumns
    }
    selectedCols.foreach { case (name, cols) =>
      keyCols.get(name).foreach { keys =>
        val missing = keys.diff(cols.toSet)
        if (missing.nonEmpty)
          throw new IllegalArgumentException(
            s"select('$name', ...) must include join column(s) ${missing.mkString(", ")} " +
              "(reference semantics: join keys must be selected)")
      }
    }
  }

  /** Resolve one table: read, then project and qualify in one `select`.
    * Projection = user-selected ∪ join keys ∪ filter-referenced columns
    * (the reference force-adds filter columns to the scan list,
    * hash_join.py:59-89), or every column when the table has no select.
    * Catalyst prunes the parquet scan to exactly this.
    */
  private def qualifiedTable(name: String): DataFrame = {
    val df = resolver.resolve(spark, tableForName(name))
    val want = selectedCols.get(name) match {
      case Some(cols) =>
        val keys = joinSpecs.flatMap { js =>
          Seq(js.left, js.right).filter(_.name == name).flatMap(_.joinColumns)
        }
        val filterCols = filterConditions.flatMap(_.references)
          .collect { case (t, c) if t == name => c }
        (cols ++ keys ++ filterCols).distinct
      case None => df.columns.toSeq
    }
    df.select(want.map(c => colRef(c).as(qual(name, c))): _*)
  }

  private def joinCondition(spec: JoinSpec): Column = {
    val lcols = spec.left.joinColumns.map(c => colRef(qual(spec.left.name, c)))
    val rcols = spec.right.joinColumns.map(c => colRef(qual(spec.right.name, c)))
    if (spec.operator == "=") {
      require(lcols.size == rcols.size,
        s"composite key arity mismatch: ${spec.left.joinColumns} vs ${spec.right.joinColumns}")
      lcols.zip(rcols).map { case (l, r) => l === r }.reduce(_ && _)
    } else {
      val (l, r) = (lcols.head, rcols.head)
      spec.operator match {
        case "!=" => l =!= r
        case "<"  => l < r
        case ">"  => l > r
        case "<=" => l <= r
        case ">=" => l >= r
      }
    }
  }

  /** Compile the queued pipeline to a single DataFrame. Lazy — no action is
    * triggered; Catalyst owns physical strategy (broadcast vs shuffled hash
    * vs sort-merge vs broadcast-nested-loop), replacing the reference's
    * asizeof build-side choice and direct-vs-grace decision
    * (hash_join.py:787-868).
    */
  def execute(): DataFrame = {
    require(joinSpecs.nonEmpty, "no joins queued")
    validateSelects()
    val t0 = System.nanoTime()
    val resolved = mutable.Set.empty[String]
    var result: DataFrame = null
    joinSpecs.foreach { spec =>
      if (result == null) {
        result = qualifiedTable(spec.left.name)
        resolved += spec.left.name
      }
      if (resolved.contains(spec.right.name))
        throw new IllegalArgumentException(
          s"table '${spec.right.name}' already joined; alias it for self-joins")
      val rightDf = joinHint.foldLeft(qualifiedTable(spec.right.name))(_.hint(_))
      result = result.join(rightDf, joinCondition(spec), spec.kind.sparkName)
      resolved += spec.right.name
    }
    // Residual filters: applied post-join like the reference's sink-time
    // re-evaluation (hash_join.py:1222-1261). Catalyst pushes them below
    // joins exactly when legal (not past null-extending sides).
    filterConditions.foreach { cond =>
      result = result.filter(cond.toColumn((t, c) => colRef(qual(t, c))))
    }
    timings("plan_build") = (System.nanoTime() - t0) / 1e9
    result
  }

  /** Materialize and write JSONL results (reference: `execute(save_as)` +
    * `__save_result`, hash_join.py:1195-1269). Returns the result row count.
    * After the action, the executed plan's SQL metrics yield the
    * `data_fetch` (scan) vs `join` split the reference reports
    * (join_executor.py:214-231).
    */
  def saveResult(saveAs: String, resultsDir: String = "results"): Long = {
    val df = execute()
    // The write runs its own QueryExecution (the builder df's plan is never
    // executed directly), so scan metrics must be captured from the actual
    // execution via a listener — reading df.queryExecution would always
    // report zero.
    val captured = new java.util.concurrent.atomic.AtomicReference[
      org.apache.spark.sql.execution.QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        captured.compareAndSet(null, qe) // first event = the JSONL write job
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val t0 = System.nanoTime()
    val n =
      try graft.sinks.JsonlSink.write(df, s"$resultsDir/$saveAs")
      finally {
        org.apache.spark.graft.ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
        spark.listenerManager.unregister(listener)
      }
    val total = (System.nanoTime() - t0) / 1e9
    timings("total") = total
    val fetch = Option(captured.get())
      .map(qe => JoinExecutor.scanTimeSec(qe.executedPlan)).getOrElse(0.0)
    timings("data_fetch") = fetch
    // data_fetch is cumulative task time (see scanTimeSec); on wide local
    // runs it can exceed wall-clock, clamping the derived join phase to 0
    timings("join") = math.max(0.0, total - fetch)
    n
  }

  def printJoinResult(saveAs: String, maxRows: Int = 20, resultsDir: String = "results"): Unit =
    graft.sinks.JsonlSink.print(spark, s"$resultsDir/$saveAs", maxRows)

  /** Wall-clock phase timings (reference: get_time_elapsed(),
    * join_executor.py:214-231). Spark fuses fetch+join into one pipeline, so
    * phases are plan_build and total.
    */
  def getTimeElapsed: Map[String, Double] = timings.toMap
}

object JoinExecutor {
  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

  /** Sum of the parquet scan-time metrics across the (possibly adaptive)
    * executed plan — the reference's `data_fetch` phase analog. Valid only
    * after an action has run. AQE wraps exchanges in QueryStageExec leaf
    * nodes, so recursion must step through their inner plans or every scan
    * below a shuffle/broadcast is invisible.
    *
    * Two measurement caveats, both inherent to SQL metrics:
    *  - a `ReusedExchangeExec` SHARES the original subtree's metric
    *    objects, so recursing into it would double-count the same scan —
    *    reused exchanges contribute 0 here by design;
    *  - `scanTime` accumulates across concurrent tasks, so `data_fetch` is
    *    cumulative task time (like Spark UI stage metrics), not wall-clock
    *    — on a 32-core local run it can legitimately exceed the wall-clock
    *    total, in which case the derived `join` phase clamps to 0.
    */
  private[operators] def scanTimeSec(plan: SparkPlan): Double = {
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val own = plan match {
      case f: FileSourceScanExec =>
        f.metrics.get("scanTime").map(_.value.toDouble / 1e3).getOrElse(0.0)
      case _ => 0.0
    }
    val nested = plan match {
      case a: AdaptiveSparkPlanExec => scanTimeSec(a.executedPlan)
      case q: QueryStageExec => scanTimeSec(q.plan)
      case _: ReusedExchangeExec => 0.0 // shares the original's metrics
      case _ => plan.children.map(scanTimeSec).sum
    }
    own + nested
  }

  /** A reference to the column named `name`, backtick-quoted so that a
    * `.` in it is part of the name, not a struct-field access.
    */
  private[graft] def colRef(name: String): Column = scol("`" + name.replace("`", "``") + "`")

  /** Qualified column name — the tuple-key `(column, table)` analog. */
  def qual(table: String, column: String): String = s"${table}__$column"
  def unqual(qualified: String): (String, String) = {
    val i = qualified.indexOf("__")
    if (i < 0) ("", qualified) else (qualified.substring(0, i), qualified.substring(i + 2))
  }
}

/** Equi-join executor. The reference's `HashJoinExecutor` ignores its θ
  * argument and always matches on equality (SURVEY.md §2 quirk 3); we make
  * that explicit by rejecting θ ≠ "=" with a pointer to the nested path, as
  * the reference README advises (README.md:16-17).
  */
class HashJoinExecutor(spark: SparkSession, resolver: TableResolver)
    extends JoinExecutor(spark, resolver) {
  override protected val allowedOperators: Set[String] = Set("=")
  override protected val executorKind: String = "HashJoinExecutor"
}

/** Theta-join executor (reference: NestedJoinExecutor, all six operators,
  * nested_join.py:1000-1036). Spark plans `<,<=,>,>=,!=` as broadcast
  * nested loop / cartesian+filter; `=` still gets a hash/sort-merge join —
  * strictly better than the reference's always-O(N×M) loop.
  *
  * Divergences standardized to SQL (SURVEY.md §2 quirks 2, 8): no implicit
  * float coercion of typed columns, and null keys never match (the
  * reference lets None = None match and crashes on None < x).
  */
class NestedJoinExecutor(spark: SparkSession, resolver: TableResolver)
    extends JoinExecutor(spark, resolver) {
  override protected val allowedOperators: Set[String] = JoinSpec.thetaOps
  override protected val executorKind: String = "NestedJoinExecutor"
}
