package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.Bridge

/** Native Catalyst expression producing a document's DOC-LOCAL n-gram
  * frequency table: `array<struct<gram: string, cnt: int>>` over the
  * lowercase-split tokens, in first-occurrence order.
  *
  * Why native — this deletes a SHUFFLE CLASS, not just allocations: the
  * declarative form of "per-document term frequencies" is
  * `explode(tokens) → groupBy(doc, term).count()`, and Catalyst cannot
  * know that all of a document's tokens sit in one row (one partition),
  * so it plans a full (doc, term) hash-aggregate EXCHANGE — at corpus
  * scale, a shuffle of every distinct (doc, term) pair just to count
  * what was computable in place. This expression computes the counts in
  * one pass over the document; `explode` then yields exactly the
  * (doc, gram, cnt) rows the old aggregation produced, shuffle-free.
  * The inverted-index builds under TF-IDF ([[graft.operators.Keywords]]),
  * BM25 ([[graft.operators.Retrieval]]) and the bigram-LM scorer
  * ([[graft.operators.LanguageModel]]) all sit on this path.
  *
  * Semantics mirror the declarative pipelines byte-for-byte: tokens are
  * `split(lower(text), " ")` with empty tokens preserved (the
  * [[ShingleHashes.tokenBounds]] contract), an n-gram window joined by
  * single spaces is byte-identical to the substring between its outer
  * token boundaries, fewer than n tokens yields an empty array, null
  * yields null. Counts are exact integers, so every downstream value is
  * unchanged (spec-asserted against the explode+groupBy form).
  */
case class NgramCounts(child: Expression, n: Int) extends UnaryExpression {

  require(n > 0, s"ngram_counts: n must be positive, got $n")

  override def dataType: DataType = NgramCounts.OutType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"ngram_counts requires a string input, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    NgramCounts.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NgramCounts.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NgramCounts {

  val OutType: ArrayType = ArrayType(StructType(Seq(
    StructField("gram", StringType, nullable = false),
    StructField("cnt", IntegerType, nullable = false))), containsNull = false)

  private val EMPTY = new GenericArrayData(Array.empty[Any])

  /** One pass over the lowercased bytes; called from interpreted eval and
    * generated code alike. First-occurrence order makes the output a
    * deterministic function of the input (stable across runs and
    * partition layouts).
    */
  def compute(s: UTF8String, n: Int): ArrayData = {
    val lower = s.toLowerCase
    val (starts, ends) = ShingleHashes.tokenBounds(lower)
    val numToks = starts.length
    if (numToks < n) return EMPTY
    // one materialized byte image of the lowercased doc; every gram is a
    // zero-copy (offset, length) view into it — n-gram windows joined by
    // single spaces are byte-identical to the span between their outer
    // token boundaries (the ShingleHashes argument)
    val bytes = lower.getBytes
    val nWindows = numToks - n + 1
    val counts = new java.util.LinkedHashMap[UTF8String, Array[Int]](
      nWindows * 2)
    var w = 0
    while (w < nWindows) {
      val from = starts(w)
      val gram = UTF8String.fromBytes(bytes, from, ends(w + n - 1) - from)
      val c = counts.get(gram)
      if (c == null) counts.put(gram, Array(1)) else c(0) += 1
      w += 1
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      out(k) = new GenericInternalRow(Array[Any](e.getKey, e.getValue()(0)))
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Column surface: doc-local n-gram frequency table of `text`. */
  def ngramCounts(text: Column, n: Int): Column =
    Bridge.column(NgramCounts(Bridge.expression(text), n))

  /** SQL builder: `ngram_counts(text, 2)` — n must be an integer literal
    * (it parameterizes the generated code).
    */
  private[graft] def build(exprs: Seq[Expression]): NgramCounts = {
    require(exprs.length == 2,
      s"ngram_counts expects 2 arguments (text, n), got ${exprs.length}")
    val nExpr = exprs(1)
    require(nExpr.foldable && nExpr.dataType == IntegerType,
      "ngram_counts: n must be an integer literal")
    val n = nExpr.eval() match {
      case i: java.lang.Integer => i.intValue()
      case other => throw new IllegalArgumentException(
        s"ngram_counts: expected integer literal for n, got $other")
    }
    NgramCounts(exprs.head, n)
  }
}
