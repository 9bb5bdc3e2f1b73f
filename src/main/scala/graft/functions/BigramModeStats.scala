package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}

/** Per-row Gopher top-bigram statistics over a token array:
  * `struct(maxc, total)` — the count of the single most frequent adjacent
  * token pair and the total pair count (`|tokens| − 1`, 0 below 2 tokens).
  *
  * Why (r18 OPT, guide §2.4 "remove shuffles outright"): the aggregation
  * formulation of `Corpus.repetitionProfile` exploded every document's
  * bigram list and ran TWO corpus-sized exchanges — `groupBy(doc_id, bg)`
  * then `groupBy(doc_id)` — to compute what is a per-row reduction: every
  * bigram of a document is generated from that one row, so the map side
  * holds the whole group by construction. This kernel counts the mode in
  * one linear pass per row inside the scan's projection; the query
  * becomes shuffle-free.
  *
  * SEMANTICS match the aggregation formulation exactly (it is kept as
  * the test-scope oracle in CorpusPropertiesSpec):
  *  - grouping key ≡ the `concat_ws(" ", slice(toks, i, 2))` bigram
  *    string (space-joined; injective for space-free tokens, and NULL
  *    elements are skipped by concat_ws — reproduced verbatim so even a
  *    null-bearing array groups identically);
  *  - `total` = bigram count = Σ per-bigram counts;
  *  - < 2 tokens → (0, 0), matching the empty bigram list's
  *    explode_outer + count(bg) path.
  * A NULL input array yields NULL (the caller coalesces to (0, 0) — the
  * old plan's null-text path also lands at top_bigram_ppm = 0).
  *
  * The per-document mode NEVER needs cross-row state, so unlike the
  * rejected per-row array-lambda formulation (O(distinct × total)
  * interpreted — the operator's docstring carries that measurement) this
  * is O(total) compiled work with one hash map per row.
  */
case class BigramModeStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("maxc", LongType, nullable = false),
    StructField("total", LongType, nullable = false)))

  override def prettyName: String = "graft_bigram_mode_stats"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${t.simpleString}")
  }

  override protected def nullSafeEval(v: Any): Any =
    BigramModeStats.stats(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      s"""
         |${ev.value} = graft.functions.BigramModeStats.stats($v);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): BigramModeStats =
    copy(child = newChild)
}

object BigramModeStats {

  /** The counting kernel — shared by interpreted eval and codegen (one
    * static call site, so the two paths can never drift).
    */
  def stats(tk: ArrayData): InternalRow = {
    val n = tk.numElements()
    if (n < 2) return new GenericInternalRow(Array[Any](0L, 0L))
    val counts = new java.util.HashMap[String, Array[Long]]()
    var maxc = 0L
    var prev = if (tk.isNullAt(0)) null else tk.getUTF8String(0)
    var i = 0
    while (i < n - 1) {
      val cur = if (tk.isNullAt(i + 1)) null else tk.getUTF8String(i + 1)
      // concat_ws(" ", a, b) semantics: null elements are skipped
      val key =
        if (prev == null && cur == null) ""
        else if (prev == null) cur.toString
        else if (cur == null) prev.toString
        else prev.toString + " " + cur.toString
      val slot = counts.computeIfAbsent(key, _ => new Array[Long](1))
      slot(0) += 1L
      if (slot(0) > maxc) maxc = slot(0)
      prev = cur
      i += 1
    }
    new GenericInternalRow(Array[Any](maxc, (n - 1).toLong))
  }
}
