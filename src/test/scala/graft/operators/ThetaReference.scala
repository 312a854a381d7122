package graft.operators

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{CompactSketch, SetOperation, Sketches}
import org.apache.spark.sql.DataFrame

/** Driver-side theta arithmetic over collected sketches: the reference
  * the in-plan set-op expressions ([[ThetaSetEstimates]]) and the sketch
  * aggregate are checked against.
  */
object ThetaReference {

  /** One compact theta sketch of `keyCol` (LONG) per `groupCol` value,
    * collected from [[ThetaSketches.groupSketchFrame]].
    */
  def groupSketches(df: DataFrame, groupCol: String, keyCol: String,
                    lgK: Int = 12): Map[String, CompactSketch] =
    ThetaSketches.groupSketchFrame(df, groupCol, keyCol, lgK).collect()
      .map { r =>
        r.getString(0) -> Sketches.wrapCompactSketch(
          Memory.wrap(r.getAs[Array[Byte]](1)))
      }.toMap

  /** |A ∩ B| estimate from two compact sketches. */
  def intersectionEstimate(a: CompactSketch, b: CompactSketch): Double = {
    val i = SetOperation.builder().buildIntersection()
    i.intersect(a)
    i.intersect(b)
    i.getResult.getEstimate
  }

  /** |A ∪ B| estimate from two compact sketches, through
    * [[ThetaSetEstimates.union]]'s floor semantics, with the range check
    * `theta_union_estimate` applies to its lgK literal.
    */
  def unionEstimate(a: CompactSketch, b: CompactSketch,
                    lgK: Int = 12): Double = {
    require(lgK >= 4 && lgK <= 26, s"lgK out of range: $lgK")
    ThetaSetEstimates.union(a, b, lgK)
  }
}
