package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.Bridge

/** Native per-document 2-gram statistics: total bigram instances, the
  * most frequent bigram's count, and the distinct-bigram count — the
  * inputs of the Gopher repetition filters
  * ([[graft.operators.NgramStats.repetitionStats]]).
  *
  * Why native: these are DOC-LOCAL statistics, but the declarative form
  * pays a corpus-wide price for them — an interpreted higher-order
  * `zip_with` builds every bigram string, `explode` multiplies the rows,
  * and two hash-aggregations SHUFFLE (doc, gram) and (doc) keys across
  * the cluster. This expression computes all three numbers in one pass
  * over the lowercased UTF8String bytes (bigram = in-place XXH64 of the
  * window between two token boundaries — the [[ShingleHashes]] trick,
  * n=2), so the whole operator collapses to a shuffle-free projection.
  * Counting hashed bigrams instead of strings merges distinct bigrams
  * only on a 64-bit collision (~10⁻¹⁵ per document) — verified exact on
  * the harness corpus at every SF.
  *
  * Fewer than 2 tokens yields (0, 0, 0) — callers filter those docs, and
  * 0/0 never reaches the fraction arithmetic. Null text yields null.
  */
case class BigramStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("max_c", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"bigram_stats requires a string input, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    BigramStats.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BigramStats.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BigramStats {

  /** One pass; called from interpreted eval and generated code alike. */
  def compute(s: UTF8String): InternalRow = {
    val lower = s.toLowerCase
    val (starts, ends) = ShingleHashes.tokenBounds(lower)
    val numToks = starts.length
    if (numToks < 2)
      return new GenericInternalRow(Array[Any](0L, 0L, 0L))
    val base = lower.getBaseObject
    val offset = lower.getBaseOffset
    val nGrams = numToks - 1
    val counts = new java.util.HashMap[java.lang.Long, java.lang.Long](nGrams * 2)
    var maxC = 0L
    var w = 0
    while (w < nGrams) {
      val from = starts(w)
      val to = ends(w + 1)
      val h = java.lang.Long.valueOf(
        XXH64.hashUnsafeBytes(base, offset + from, to - from, 42L))
      val c = counts.merge(h, java.lang.Long.valueOf(1L),
        (a, b) => java.lang.Long.valueOf(a.longValue() + b.longValue()))
      if (c.longValue() > maxC) maxC = c.longValue()
      w += 1
    }
    new GenericInternalRow(Array[Any](nGrams.toLong, maxC, counts.size().toLong))
  }

  /** Column surface: struct(n_grams, max_c, n_distinct) of `text`. */
  def bigramStats(text: Column): Column =
    Bridge.column(BigramStats(Bridge.expression(text)))

  /** SQL builder: `bigram_stats(text)`. */
  private[graft] def build(exprs: Seq[Expression]): BigramStats = {
    require(exprs.length == 1,
      s"bigram_stats expects 1 argument (text), got ${exprs.length}")
    BigramStats(exprs.head)
  }
}
