package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.Bridge

/** Native Catalyst expression: how many elements of a SORTED numeric
  * array are strictly below a value — the per-row band assignment under
  * the Prefix/CorpusBudget family ([[graft.operators.Prefix.bandByScore]]
  * computes `band = count of percentile cuts strictly below the score`
  * for every input row).
  *
  * Why native: the declarative form `size(filter(cuts, c -> score > c))`
  * runs Spark's INTERPRETED higher-order filter — a closure call per
  * element plus a materialized output array per row, and a
  * whole-stage-codegen break. On a banding pass over a 100 TB corpus
  * that is B comparisons and an allocation per row of the table. This
  * expression binary-searches the sorted cuts (log2 B comparisons, zero
  * allocation) and fuses into the generated stage.
  *
  * CONTRACT: the array must be sorted ascending — it is in this family
  * by construction (`percentile_approx` emits nondecreasing quantiles);
  * an unsorted array gives an unspecified count, exactly as a binary
  * search would. Comparison semantics mirror Spark's numeric `>`
  * (nan-safe: NaN is greater than every non-NaN, equal to itself;
  * -0.0 == 0.0), so the result is bit-identical to the filter form —
  * spec-asserted on randomized arrays including ties, NaN, and
  * boundary values. Null handling is the family's: null array or null
  * value → null (callers coalesce to band 0, the same result the
  * filter form gives for a null score). Arrays typed with NULLABLE
  * elements (containsNull=true — e.g. built via `array(...)` over
  * nullable columns, `transform`, or a from_json schema) stay
  * supported with filter-form semantics: null elements count as "not
  * below" (the filter drops them), via a linear non-null count instead
  * of the binary search — chosen at PLAN time from the static type, so
  * the fast path pays nothing. percentile_approx emits
  * containsNull=false, so the banding family always binary-searches.
  *
  * Supported element types: int, bigint, float, double — integrals
  * compare as long (exact), fractionals as double (float→double is
  * exact). The value must be the SAME type as the elements (it is in
  * the family: the cuts aggregate the very column being banded).
  */
case class SortedCountBelow(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(et, _)
      if et == right.dataType &&
        Seq[DataType](IntegerType, LongType, FloatType, DoubleType)
          .contains(et) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      "sorted_count_below requires (array<T>, T) with T in " +
        s"{int, bigint, float, double}; got ($other, ${right.dataType})")
  }

  @transient private lazy val elemType: DataType =
    left.dataType.asInstanceOf[ArrayType].elementType

  // Plan-time dispatch: containsNull=false element types take the
  // zero-allocation binary search; nullable-element types take the
  // linear non-null count whose semantics are bit-equal to the filter
  // form (which DROPS null elements). The flag is static, so the fast
  // path carries no per-row branch.
  @transient private lazy val nullableElems: Boolean =
    left.dataType.asInstanceOf[ArrayType].containsNull

  @transient private lazy val fnName: String = (elemType, nullableElems) match {
    case (IntegerType, false) => "countBelowInt"
    case (LongType, false) => "countBelowLong"
    case (FloatType, false) => "countBelowFloat"
    case (DoubleType, false) => "countBelowDouble"
    case (IntegerType, true) => "countBelowIntNullable"
    case (LongType, true) => "countBelowLongNullable"
    case (FloatType, true) => "countBelowFloatNullable"
    case (DoubleType, true) => "countBelowDoubleNullable"
    case (t, _) => SortedCountBelow.unsupported(t)
  }

  // interpreted-path dispatch resolved ONCE per expression instance —
  // a per-row match on the type tuple would be pure overhead on the
  // non-codegen paths (constant folding, codegen fallback)
  @transient private lazy val evalFn: (ArrayData, Any) => Any =
    (elemType, nullableElems) match {
      case (IntegerType, false) =>
        (a, v) => SortedCountBelow.countBelowInt(a, v.asInstanceOf[Int])
      case (LongType, false) =>
        (a, v) => SortedCountBelow.countBelowLong(a, v.asInstanceOf[Long])
      case (FloatType, false) =>
        (a, v) => SortedCountBelow.countBelowFloat(a, v.asInstanceOf[Float])
      case (DoubleType, false) =>
        (a, v) => SortedCountBelow.countBelowDouble(a, v.asInstanceOf[Double])
      case (IntegerType, true) =>
        (a, v) => SortedCountBelow.countBelowIntNullable(a, v.asInstanceOf[Int])
      case (LongType, true) =>
        (a, v) => SortedCountBelow.countBelowLongNullable(a, v.asInstanceOf[Long])
      case (FloatType, true) =>
        (a, v) => SortedCountBelow.countBelowFloatNullable(a, v.asInstanceOf[Float])
      case (DoubleType, true) =>
        (a, v) => SortedCountBelow.countBelowDoubleNullable(a, v.asInstanceOf[Double])
      case (t, _) => SortedCountBelow.unsupported(t)
    }

  override def nullSafeEval(arr: Any, v: Any): Any =
    evalFn(arr.asInstanceOf[ArrayData], v)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, v) =>
      s"${ev.value} = graft.functions.SortedCountBelow.$fnName($a, $v);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedCountBelow {

  /** The dispatch arm for an element type `checkInputDataTypes` rejects:
    * unreachable on a resolved expression.
    */
  private def unsupported(t: DataType): Nothing =
    throw new IllegalStateException(s"sorted_count_below: unsupported element type $t")

  /** Column surface: elements of sorted `arr` strictly below `value`. */
  def sortedCountBelow(arr: Column, value: Column): Column =
    Bridge.column(
      SortedCountBelow(Bridge.expression(arr), Bridge.expression(value)))

  // Spark's nan-safe double ordering (NaN greatest, NaN == NaN,
  // -0.0 == 0.0) — the semantics of `score > cut` in the filter form.
  private def nanSafeLt(x: Double, y: Double): Boolean =
    if (x < y) true
    else if (x > y || x == y) false
    else !java.lang.Double.isNaN(x) // x or y is NaN; x < y iff y is NaN alone

  /** Smallest index whose element is NOT below v == count strictly below. */
  def countBelowDouble(a: ArrayData, v: Double): Int = {
    var lo = 0; var hi = a.numElements()
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (nanSafeLt(a.getDouble(mid), v)) lo = mid + 1 else hi = mid
    }
    lo
  }

  def countBelowFloat(a: ArrayData, v: Float): Int = {
    var lo = 0; var hi = a.numElements()
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (nanSafeLt(a.getFloat(mid).toDouble, v.toDouble)) lo = mid + 1
      else hi = mid
    }
    lo
  }

  def countBelowLong(a: ArrayData, v: Long): Int = {
    var lo = 0; var hi = a.numElements()
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (a.getLong(mid) < v) lo = mid + 1 else hi = mid
    }
    lo
  }

  def countBelowInt(a: ArrayData, v: Int): Int = {
    var lo = 0; var hi = a.numElements()
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (a.getInt(mid) < v) lo = mid + 1 else hi = mid
    }
    lo
  }

  // Nullable-element forms: linear count of NON-NULL elements strictly
  // below v — bit-equal to size(filter(arr, c -> v > c)), which drops
  // null-predicate elements. Linear because null slots break the sorted
  // order a binary search needs; these arrays are public-caller inputs
  // (percentile cuts are never nullable) and band-count-sized.
  def countBelowIntNullable(a: ArrayData, v: Int): Int = {
    var c = 0; var i = 0; val n = a.numElements()
    while (i < n) {
      if (!a.isNullAt(i) && a.getInt(i) < v) c += 1
      i += 1
    }
    c
  }

  def countBelowLongNullable(a: ArrayData, v: Long): Int = {
    var c = 0; var i = 0; val n = a.numElements()
    while (i < n) {
      if (!a.isNullAt(i) && a.getLong(i) < v) c += 1
      i += 1
    }
    c
  }

  def countBelowFloatNullable(a: ArrayData, v: Float): Int = {
    var c = 0; var i = 0; val n = a.numElements()
    while (i < n) {
      if (!a.isNullAt(i) && nanSafeLt(a.getFloat(i).toDouble, v.toDouble))
        c += 1
      i += 1
    }
    c
  }

  def countBelowDoubleNullable(a: ArrayData, v: Double): Int = {
    var c = 0; var i = 0; val n = a.numElements()
    while (i < n) {
      if (!a.isNullAt(i) && nanSafeLt(a.getDouble(i), v)) c += 1
      i += 1
    }
    c
  }
}
