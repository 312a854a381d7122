package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Lower, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.Bridge

/** Native Catalyst expression counting whitespace-delimited tokens that
  * belong to a small marker set — the per-row hot loop under language-ID,
  * stopword ratio and quality scoring.
  *
  * Why native: the declarative form `size(filter(split(lower(text)," "),
  * t.isin(markers)))` materializes the token array and runs Spark's
  * interpreted higher-order `filter` per language — language-ID pays that
  * four times per row. This expression scans the UTF8String bytes once,
  * allocates nothing, and codegen keeps it inside the fused stage (a
  * static call, no UDF serialization boundary).
  *
  * Semantics are byte-for-byte those of `split(text, " ")` + `isin`:
  * segments between single 0x20 bytes (a 0x20 byte never occurs inside a
  * UTF-8 multibyte sequence, so byte-split == char-split), empty segments
  * included (they never match a non-empty marker), trailing empty segment
  * kept (split with limit −1). Equivalence is spec-asserted against the
  * declarative form on the harness corpus.
  */
case class MarkerCount(child: Expression, markers: Seq[String])
    extends UnaryExpression {

  // Validate at construction so BOTH entry points (the SQL builder and the
  // Scala Column API) fail fast with the same message: a null marker would
  // otherwise NPE inside segmentEquals at execution time, and an uppercase
  // marker would silently count 0 (text is lowercased before matching).
  require(markers.forall(_ != null),
    "marker_count: marker list must not contain nulls")
  require(MarkerCount.notLowercase(markers).isEmpty,
    s"marker_count: markers must be lowercase (text is lowercased before " +
      s"matching); offending: ${MarkerCount.notLowercase(markers).mkString(", ")}")

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"marker_count requires a string input, got $other")
    }

  @transient private lazy val markerBytes: Array[UTF8String] =
    markers.map(UTF8String.fromString).toArray

  override def nullSafeEval(input: Any): Any =
    MarkerCount.countTokens(input.asInstanceOf[UTF8String], markerBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("markers", markerBytes,
      "org.apache.spark.unsafe.types.UTF8String[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MarkerCount.countTokens($c, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MarkerCount {

  // Locale.ROOT: default-locale lowercasing would mis-flag e.g. 'i' under
  // a Turkish JVM locale; Spark's Lower is locale-agnostic Unicode lowercase
  private def notLowercase(markers: Seq[String]): Seq[String] =
    markers.filter(m => m != null && m != m.toLowerCase(java.util.Locale.ROOT))

  /** One-pass scan; called from both interpreted eval and generated code. */
  def countTokens(s: UTF8String, markers: Array[UTF8String]): Int = {
    val n = s.numBytes()
    var cnt = 0
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || s.getByte(i) == 0x20) {
        val len = i - start
        var m = 0
        while (m < markers.length) {
          if (segmentEquals(s, start, len, markers(m))) { cnt += 1; m = markers.length }
          else m += 1
        }
        start = i + 1
      }
      i += 1
    }
    cnt
  }

  private def segmentEquals(s: UTF8String, start: Int, len: Int,
                            marker: UTF8String): Boolean = {
    if (marker.numBytes() != len) return false
    var j = 0
    while (j < len) {
      if (s.getByte(start + j) != marker.getByte(j)) return false
      j += 1
    }
    true
  }

  /** Column surface: tokens of `lower(text)` that appear in `markers` —
    * drop-in for the declarative `TextAnalysis.markerCount`.
    */
  def markerCount(text: Column, markers: Seq[String]): Column =
    Bridge.column(MarkerCount(Lower(Bridge.expression(text)), markers))

  /** SQL builder: `marker_count(text, array('the','a',…))`. The marker
    * array must be a foldable literal (it parameterizes the generated
    * code); evaluated here at build time with a clear error otherwise.
    */
  private[graft] def build(exprs: Seq[Expression]): MarkerCount = {
    require(exprs.length == 2,
      s"marker_count expects 2 arguments (text, array<string>), got ${exprs.length}")
    val markersExpr = exprs(1)
    require(markersExpr.foldable,
      "marker_count: the marker list must be a literal array of strings")
    // check the TYPE before eval — array(1,2) would otherwise surface as a
    // raw ClassCastException with no mention of marker_count
    markersExpr.dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, _) => ()
      case other => throw new IllegalArgumentException(
        s"marker_count: the marker list must be array<string>, got ${other.sql}")
    }
    val markers = markersExpr.eval() match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        a.toObjectArray(org.apache.spark.sql.types.StringType)
          .map(v => if (v == null) null else v.toString).toSeq
      case other =>
        throw new IllegalArgumentException(
          s"marker_count: expected array<string> literal, got $other")
    }
    // null / lowercase validation lives in the case-class constructor —
    // shared with the Scala Column API
    MarkerCount(Lower(exprs.head), markers)
  }
}
