package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.Bridge

/** Native Catalyst expression producing the DISTINCT xxhash64 values of a
  * document's n-gram shingles — the hot loop under every shingle-based
  * dedup operator ([[graft.operators.TextDedup]]).
  *
  * Why native: the UDF form lowercases and splits a decoded Java String,
  * builds every shingle string, ships an Array[String] across the UDF
  * boundary, and the plan then hashes each exploded string with
  * `xxhash64`. This expression works on the UTF8String bytes directly:
  * one lowercase, token boundaries from a single byte scan, and each
  * window hashes IN PLACE — a shingle "t1 t2 … tn" joined by single
  * spaces is byte-identical to the substring between its outer token
  * boundaries (split separators are each exactly one 0x20 byte, and 0x20
  * never occurs inside a UTF-8 multibyte sequence), so no shingle string
  * is ever materialized. Hash values equal `xxhash64(shingle_string)`
  * (same XXH64, same seed 42, same bytes) — spec-asserted — so the
  * operator pipeline is value-identical, just without the allocations
  * and the UDF serialization boundary.
  *
  * Null text yields an EMPTY array and the expression declares
  * `nullable = false` — the honest-declaration rule the refilter sweep
  * enforces (`UdfRefilterSpec`): a null-document has no shingles, which
  * the empty array says exactly (explode drops it, `size` reads 0), and
  * a NULLABLE output here would let any downstream filter/join over a
  * shingle count re-shingle the corpus at the scan via a
  * constraint-propagated `isnotnull(size(shingle_hashes(text)))` data
  * filter. Fewer than n tokens also yields an empty array.
  */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {

  require(n > 0, s"shingle_hashes: n must be positive, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"shingle_hashes requires a string input, got $other")
    }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) ShingleHashes.emptyResult()
    else ShingleHashes.compute(v.asInstanceOf[UTF8String], n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, FalseLiteral}
    val c = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(
      code = code"""
        ${c.code}
        $javaType ${ev.value} = ${c.isNull}
          ? graft.functions.ShingleHashes.emptyResult()
          : graft.functions.ShingleHashes.compute(${c.value}, $n);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes {

  private val EMPTY = new GenericArrayData(Array.emptyLongArray)

  /** The null-text/short-text result; public for generated code. */
  def emptyResult(): ArrayData = EMPTY

  /** Token boundaries of a UTF8String under `split(" ", -1)` semantics:
    * k spaces → k+1 tokens, empty tokens (adjacent/leading/trailing
    * spaces) included. Returns parallel (starts, ends) byte offsets.
    */
  private[functions] def tokenBounds(s: UTF8String): (Array[Int], Array[Int]) = {
    val total = s.numBytes()
    var numToks = 1
    var i = 0
    while (i < total) {
      if (s.getByte(i) == 0x20) numToks += 1
      i += 1
    }
    val starts = new Array[Int](numToks)
    val ends = new Array[Int](numToks)
    var tok = 0
    starts(0) = 0
    i = 0
    while (i < total) {
      if (s.getByte(i) == 0x20) {
        ends(tok) = i
        tok += 1
        starts(tok) = i + 1
      }
      i += 1
    }
    ends(tok) = total
    (starts, ends)
  }

  /** One pass over the lowercased bytes; called from interpreted eval and
    * generated code alike.
    */
  def compute(s: UTF8String, n: Int): ArrayData = {
    val lower = s.toLowerCase
    val (starts, ends) = tokenBounds(lower)
    val numToks = starts.length
    if (numToks < n) return EMPTY
    val base = lower.getBaseObject
    val offset = lower.getBaseOffset
    val nWindows = numToks - n + 1
    val seen = new java.util.HashSet[java.lang.Long](nWindows * 2)
    val out = new Array[Long](nWindows)
    var k = 0
    var w = 0
    while (w < nWindows) {
      val from = starts(w)
      val to = ends(w + n - 1)
      val h = XXH64.hashUnsafeBytes(base, offset + from, to - from, 42L)
      if (seen.add(h)) { out(k) = h; k += 1 }
      w += 1
    }
    new GenericArrayData(if (k == nWindows) out else java.util.Arrays.copyOf(out, k))
  }

  /** Column surface: distinct hashed n-gram shingles of `text`. */
  def shingleHashes(text: Column, n: Int): Column =
    Bridge.column(ShingleHashes(Bridge.expression(text), n))

  /** SQL builder: `shingle_hashes(text, 5)` — n must be a literal (it
    * parameterizes the generated code).
    */
  private[graft] def build(exprs: Seq[Expression]): ShingleHashes = {
    require(exprs.length == 2,
      s"shingle_hashes expects 2 arguments (text, n), got ${exprs.length}")
    val nExpr = exprs(1)
    require(nExpr.foldable && nExpr.dataType == org.apache.spark.sql.types.IntegerType,
      "shingle_hashes: n must be an integer literal")
    val n = nExpr.eval() match {
      case i: java.lang.Integer => i.intValue()
      case other => throw new IllegalArgumentException(
        s"shingle_hashes: expected integer literal for n, got $other")
    }
    ShingleHashes(exprs.head, n)
  }
}
