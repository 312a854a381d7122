package graft.operators

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{CompactSketch, SetOperation, Sketches, Union}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{ImperativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, IntegerType, LongType}

/** Theta sketches for SET-EXPRESSION cardinality estimation — the
  * capability HLL lacks: HLL unions, but only theta (KMV-style: keep the
  * k minimum hashes) supports INTERSECTION and difference, answering
  * "how much do two sources overlap?" before merging corpora, dedup
  * planning ("what fraction of the crawl is already ingested?"), or
  * audience-overlap questions — without a pairwise join.
  *
  * Scale shape: the sketch build is a native typed-imperative AGGREGATE
  * ([[ThetaSketchAgg]]) — map-side partials union inside the exchange
  * (each task emits one compact sketch of ≤ 8·2^lgK bytes per group it
  * saw; lgK=12 → ≤ 32 KB), and the driver collects only the G FINAL
  * per-group blobs, the same metadata-class collect as [[CountMin]]'s
  * native `count_min_sketch`. Set algebra on the compact sketches runs
  * IN-PLAN too: the scalar expressions `theta_intersect_estimate` /
  * `theta_union_estimate` / `theta_difference_estimate`
  * ([[ThetaSetEstimate]]) evaluate over stored sketch columns, so an
  * overlap matrix is a broadcast self-join of the G-row sketch table —
  * distributed, zero further scans, matching the aggregate's posture.
  *
  * Determinism: the retained set is the k smallest murmur hashes under
  * the fixed default seed — independent of row order, partitioning, and
  * merge order — so estimates are reproducible per dataset (the property
  * the oracle booleans rely on). Below ~2^lgK distinct keys the sketch
  * is in exact mode and the estimate IS the exact count; beyond, the
  * relative standard error is ≈ 1/√(k−1) (~1.6% at lgK=12).
  */
object ThetaSketches {

  /** Column surface: one compact theta sketch blob of the LONG `key`
    * column per group (use under `groupBy(...).agg(...)`). Partial
    * merge happens in-plan (ObjectHashAggregate), so the aggregate's
    * output — and anything that collects it — is G-bounded.
    */
  def thetaSketch(key: Column, lgK: Int = 12): Column =
    Bridge.column(
      ThetaSketchAgg(Bridge.expression(key), lgK).toAggregateExpression())

  /** Per-group sketch blobs as a DataFrame `(grp STRING, theta BINARY)` —
    * the persistable "sketch as data" form (store per-day, union any
    * range later without a rescan).
    *
    * Null policy: a null key carries no identity, so it cannot count as
    * a distinct element — [[ThetaSketchAgg.update]] skips it. Null GROUP
    * values sketch under the null group like any other.
    */
  def groupSketchFrame(df: DataFrame, groupCol: String, keyCol: String,
                       lgK: Int = 12): DataFrame = {
    require(lgK >= 4 && lgK <= 26, s"lgK out of range: $lgK")
    df.select(col(groupCol).cast("string").as("grp"),
        col(keyCol).cast("long").as("k"))
      .groupBy(col("grp"))
      .agg(thetaSketch(col("k"), lgK).as("theta"))
  }

  /** In-plan |A ∩ B| estimate over two compact-sketch BINARY columns —
    * overlap matrices over many stored sketch pairs compute distributed
    * (join a sketch table against itself, estimate per pair), matching
    * [[thetaSketch]]'s in-plan posture instead of collecting blobs for
    * driver arithmetic. Union and difference are the SQL functions
    * `theta_union_estimate` / `theta_difference_estimate`.
    */
  def thetaIntersectEstimate(a: Column, b: Column): Column =
    Bridge.column(ThetaIntersectEstimate(
      Bridge.expression(a), Bridge.expression(b)))
}

/** Static eval core for the scalar theta set-op expressions — one body
  * shared by interpreted eval and generated code (the
  * [[graft.functions.SortedCountBelow]] pattern). Inputs are the ordered
  * compact blobs [[ThetaSketchAgg]] emits; each call wraps (zero-copy)
  * and runs one datasketches set operation — per SKETCH-PAIR row, not
  * per data row, so the non-codegen-friendly object work is G²-bounded.
  */
object ThetaSetEstimates {

  private def wrap(bytes: Array[Byte]): CompactSketch =
    Sketches.wrapCompactSketch(Memory.wrap(bytes))

  def intersect(a: Array[Byte], b: Array[Byte]): Double = {
    val i = SetOperation.builder().buildIntersection()
    i.intersect(wrap(a))
    i.intersect(wrap(b))
    i.getResult.getEstimate
  }

  /** The floor computation: smallest lgK whose nominal entries cover
    * `retained` hash values, never below the caller's `lgK` request,
    * capped at the library max.
    */
  def effectiveLgK(retained: Long, lgK: Int): Int = {
    val need =
      if (retained <= 1L) 4
      else 64 - java.lang.Long.numberOfLeadingZeros(retained - 1)
    math.min(26, math.max(lgK, need))
  }

  /** `lgK` is a FLOOR, not a cap ([[effectiveLgK]]): auto-raised to
    * cover the inputs' combined retained entries, so a too-small lgK
    * can never silently downsample the union below its inputs'
    * resolution — the default-12-vs-lgK-16-build foot-gun the SQL form
    * cannot express a guard for (lgK must be a plan-time literal, the
    * blobs are runtime values; this closes it at eval time instead).
    * Exact-mode inputs therefore always union exactly; estimation-mode
    * inputs keep at least their own resolution. Transient memory is
    * 8·2^eff bytes per PAIR row — bounded by the inputs' own build size,
    * not by the cap.
    */
  def union(a: CompactSketch, b: CompactSketch, lgK: Int): Double = {
    val eff = effectiveLgK(a.getRetainedEntries(true).toLong +
      b.getRetainedEntries(true).toLong, lgK)
    val u = SetOperation.builder().setLogNominalEntries(eff).buildUnion()
    u.union(a)
    u.union(b)
    u.getResult.getEstimate
  }

  def union(a: Array[Byte], b: Array[Byte], lgK: Int): Double =
    union(wrap(a), wrap(b), lgK)

  def aNotB(a: Array[Byte], b: Array[Byte]): Double =
    SetOperation.builder().buildANotB()
      .aNotB(wrap(a), wrap(b)).getEstimate
}

/** Shared shape of the scalar theta set-op expressions: (BINARY, BINARY)
  * → DOUBLE, null if either sketch is null (an absent sketch estimates
  * nothing — callers coalesce if a missing group should read as empty).
  */
sealed abstract class ThetaSetEstimate extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two binary theta-sketch columns, got " +
        s"(${left.dataType}, ${right.dataType})")

  /** Static call rendered into generated code; args are `byte[]` vars. */
  protected def staticCall(a: String, b: String): String

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = ${staticCall(a, b)};")
}

/** `theta_intersect_estimate(blobA, blobB)` — |A ∩ B| estimate. */
case class ThetaIntersectEstimate(left: Expression, right: Expression)
    extends ThetaSetEstimate {
  override def prettyName: String = "theta_intersect_estimate"
  override def nullSafeEval(a: Any, b: Any): Any =
    ThetaSetEstimates.intersect(
      a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def staticCall(a: String, b: String): String =
    s"graft.operators.ThetaSetEstimates.intersect($a, $b)"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `theta_union_estimate(blobA, blobB[, lgK])` — |A ∪ B| estimate. */
case class ThetaUnionEstimate(left: Expression, right: Expression, lgK: Int)
    extends ThetaSetEstimate {
  require(lgK >= 4 && lgK <= 26, s"lgK out of range: $lgK")
  override def prettyName: String = "theta_union_estimate"
  override def nullSafeEval(a: Any, b: Any): Any =
    ThetaSetEstimates.union(
      a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]], lgK)
  override protected def staticCall(a: String, b: String): String =
    s"graft.operators.ThetaSetEstimates.union($a, $b, $lgK)"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `theta_difference_estimate(blobA, blobB)` — |A \ B| estimate. */
case class ThetaDifferenceEstimate(left: Expression, right: Expression)
    extends ThetaSetEstimate {
  override def prettyName: String = "theta_difference_estimate"
  override def nullSafeEval(a: Any, b: Any): Any =
    ThetaSetEstimates.aNotB(
      a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def staticCall(a: String, b: String): String =
    s"graft.operators.ThetaSetEstimates.aNotB($a, $b)"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ThetaSetEstimate {

  /** SQL builders for the three scalar set-op functions. */
  private[graft] def buildIntersect(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      s"theta_intersect_estimate expects (blobA, blobB), got ${exprs.length}")
    ThetaIntersectEstimate(exprs(0), exprs(1))
  }

  private[graft] def buildDifference(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      s"theta_difference_estimate expects (blobA, blobB), got ${exprs.length}")
    ThetaDifferenceEstimate(exprs(0), exprs(1))
  }

  private[graft] def buildUnion(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2 || exprs.length == 3,
      s"theta_union_estimate expects (blobA, blobB[, lgK]), got ${exprs.length}")
    val lgK = if (exprs.length == 3) {
      val e = exprs(2)
      require(e.foldable && e.dataType == IntegerType,
        "theta_union_estimate: lgK must be an integer literal")
      val v = e.eval()
      // a NULL literal is foldable IntegerType and would unbox to 0,
      // misreporting as "lgK out of range: 0"
      require(v != null, "theta_union_estimate: lgK must not be NULL")
      v.asInstanceOf[Int]
    } else 12
    ThetaUnionEstimate(exprs(0), exprs(1), lgK)
  }
}

/** Native theta-sketch aggregate: buffer is a datasketches theta `Union`,
  * updated with raw LONG keys map-side and unioned across partials inside
  * the exchange (the `count_min_sketch` posture — the driver never sees
  * per-partition sketches). Serialized form between partial and final is
  * the ordered compact sketch, so buffer bytes are canonical and
  * merge-order-independent.
  *
  * Runs under ObjectHashAggregate (TypedImperativeAggregate), outside
  * whole-stage codegen by design — the per-row work is one murmur hash
  * into a native sketch, and the alternative (driver-side union of G×P
  * partition partials) is the scale defect this class exists to avoid.
  */
case class ThetaSketchAgg(
    child: Expression,
    lgK: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Union] with UnaryLike[Expression] {

  require(lgK >= 4 && lgK <= 26, s"lgK out of range: $lgK")

  override def prettyName: String = "theta_sketch_agg"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case LongType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"theta_sketch_agg requires a bigint key, got $other")
    }

  override def createAggregationBuffer(): Union =
    SetOperation.builder().setLogNominalEntries(lgK).buildUnion()

  override def update(buffer: Union, input: InternalRow): Union = {
    val v = child.eval(input)
    if (v != null) buffer.update(v.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: Union, other: Union): Union = {
    buffer.union(other.getResult)
    buffer
  }

  override def eval(buffer: Union): Any = serialize(buffer)

  /** Ordered compact form — canonical bytes for a given retained set. */
  override def serialize(buffer: Union): Array[Byte] =
    buffer.getResult.toByteArray

  override def deserialize(bytes: Array[Byte]): Union = {
    val u = createAggregationBuffer()
    u.union(Memory.wrap(bytes))
    u
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ThetaSketchAgg {

  /** SQL builder: `theta_sketch_agg(key[, lgK])` — lgK must be an integer
    * literal (it sizes every buffer). The analyzer wraps the returned
    * AggregateFunction in an AggregateExpression, so the SQL surface
    * composes with GROUP BY like any native aggregate.
    */
  private[graft] def build(exprs: Seq[Expression]): ThetaSketchAgg = {
    require(exprs.length == 1 || exprs.length == 2,
      s"theta_sketch_agg expects (key[, lgK]), got ${exprs.length} args")
    val lgK = if (exprs.length == 2) {
      val e = exprs(1)
      require(e.foldable && e.dataType == org.apache.spark.sql.types.IntegerType,
        "theta_sketch_agg: lgK must be an integer literal")
      val v = e.eval()
      // NULL is foldable IntegerType; unboxing would misreport as lgK=0
      require(v != null, "theta_sketch_agg: lgK must not be NULL")
      v.asInstanceOf[Int]
    } else 12
    ThetaSketchAgg(exprs.head, lgK)
  }
}
