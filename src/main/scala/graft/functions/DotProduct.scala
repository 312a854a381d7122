package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.graftbridge.Bridge

/** Native Catalyst expression for the dot product of two
  * `array&lt;double&gt;` columns — the library's one similarity kernel.
  * Cosine is `dot(a,b) / (nrm_a · nrm_b)` over it
  * (`Similarity.cosineFromNorms`), with `nrm = sqrt(dot(v,v))` computed
  * once per vector, so a block-pair join over n vectors pays only the
  * dot per pair instead of recomputing each norm n times (optimization
  * round 20, guide §1.2 "per-task work").
  *
  * Bit-exactness contract: the accumulation is the SAME strict left
  * fold as the declarative `CosineReference.dot` in the specs, so
  * `dot(a,b)`, the norms and the recomposed cosine are bit-identical to
  * `CosineReference.dot(a,b) / (l2Norm(a) · l2Norm(b))` (DotProductSpec
  * pins this on random and adversarial vectors). Null semantics: length
  * mismatch or any touched null element → null here, which nulls the
  * recomposed cosine, and a zero norm is the caller's
  * null-on-zero-denominator.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"dot_product requires array<double> inputs, got $l and $r")
    }

  /** Length-mismatched inputs and null elements yield null even for
    * non-null children (an undefined similarity must never leak out as
    * a plausible-looking number).
    */
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    if (VectorKernel.anyNull(x) || VectorKernel.anyNull(y)) return null
    VectorKernel.dot(x, y)
  }

  /** Can this side's elements be null AT ALL? Read from the child's
    * resolved type: the optimizer's SimplifyCasts strips the
    * array&lt;double,false&gt;→array&lt;double,true&gt; upcast
    * [[DotProduct.dotProduct]] adds, so a provably null-free source
    * reaches codegen with `containsNull = false` and its null scan is
    * elided entirely.
    */
  private def mayHaveNullElems(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }

  /** Generated shape (r21, guide §1.2 "per-task work"), TWO arms:
    *
    *  - both inputs [[org.apache.spark.sql.catalyst.expressions.UnsafeArrayData]]
    *    (every post-exchange row): a word-wise null-bitmap scan plus a
    *    direct-offset multiply fold over the primitive region
    *    ([[VectorKernel]]'s TYPED entry points — plain static calls,
    *    monomorphic by signature), replacing two interleaved virtual
    *    calls per element per side;
    *  - anything else (GenericArrayData from an in-stage projection,
    *    ColumnarArray at a scan): the r20 interleaved per-element loop,
    *    INLINE in this query's generated class so its `isNullAt`/
    *    `getDouble` call sites stay monomorphic per query.
    *
    * The first r21 cut routed BOTH shapes through one shared
    * `VectorKernel.dot(ArrayData, ArrayData)` — the brute pair paths
    * (d5/ctr1/ctr2/d5b dot generic streamed-side arrays against
    * broadcast Unsafe rows) turned that shared site megamorphic and
    * regressed 1.12-1.32× in a same-window A/B. Both arms accumulate
    * the SAME strict ascending-index left fold: bit-identical values.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // static forwarders on the object's class make these plain Java
      // static calls (same device as Int128ToDecimal.toDecimal)
      val vk = "graft.functions.VectorKernel"
      val uad = "org.apache.spark.sql.catalyst.expressions.UnsafeArrayData"
      val ua = ctx.freshName("ua")
      val ub = ctx.freshName("ub")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val anyNull = ctx.freshName("anyNull")
      val checkNulls = mayHaveNullElems(left) || mayHaveNullElems(right)
      val unsafeNullScan =
        if (checkNulls) s"$vk.anyNull($ua) || $vk.anyNull($ub)" else "false"
      val genericNullCheck =
        if (checkNulls)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { $anyNull = true; break; }"
        else ""
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else if ($a instanceof $uad && $b instanceof $uad) {
         |  final $uad $ua = ($uad) $a;
         |  final $uad $ub = ($uad) $b;
         |  if ($unsafeNullScan) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = $vk.dot($ua, $ub);
         |  }
         |} else {
         |  double $dot = 0.0;
         |  boolean $anyNull = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $genericNullCheck
         |    $dot += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if ($anyNull) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = $dot;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {

  /** Column surface: `dot_product(a, b)` over numeric-array columns.
    * Both inputs are cast to array&lt;double&gt; unconditionally: a no-op
    * for array&lt;double&gt;, an exact upcast for float/int arrays, and a
    * clear analysis error for non-array inputs.
    */
  def dotProduct(a: Column, b: Column): Column =
    Bridge.column(DotProduct(
      Cast(Bridge.expression(a), ArrayType(DoubleType)),
      Cast(Bridge.expression(b), ArrayType(DoubleType))))
}
