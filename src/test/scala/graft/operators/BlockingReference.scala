package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The general two-sided candidate-pair count the budget specs measure
  * blocked joins with, and the reference [[BlockingBudget.preflightSelf]]
  * is checked against.
  */
object BlockingReference {

  /** Per-block candidate counts, heaviest first: `(block, left_n,
    * right_n, pairs)` — the attribution when [[candidatePairVolume]]
    * trips a budget (WHICH prefix went hot).
    */
  def blockProfile(left: DataFrame, leftKey: Column,
                   right: DataFrame, rightKey: Column): DataFrame =
    BlockingBudget.blockProfileUnsorted(left, leftKey, right, rightKey)
      .orderBy(col("pairs").desc)

  /** Total candidate-pair volume Σ_k |L_k|·|R_k| of the equi-blocked
    * join of `left` and `right` on their block keys — the number the
    * join's per-pair work multiplies. 0 when no block key co-occurs.
    *
    * Counting convention (the costlyExprRefs cache-walk caveat's
    * sibling): the volume counts ORDERED pairs INCLUDING self-pairs —
    * for a self-join audit that passes the same frame as both sides,
    * a bucket of size m contributes m² though the production join's
    * `doc_a < doc_b` condition evaluates only m·(m−1)/2 of them, so
    * the audited number overstates real per-pair work by ~2×+n there.
    * Deliberate: m² and m(m−1)/2 have the SAME growth shape (the
    * budget polices growth, and the specs' factors are calibrated
    * against this measure), the measure stays symmetric in its
    * arguments, and a cross-join audit (distinct sides) needs no
    * diagonal correction to reason about.
    *
    * Exact for volumes ≤ 2^53 (every audit and any budget a caller
    * would hold); beyond that the double-summed profile (see
    * [[BlockingBudget.blockProfileUnsorted]]'s overflow note) loses
    * ULPs and the result saturates at `Long.MaxValue` — still monotone (non-strictly:
    * distinct true volumes can round equal, never invert), still over
    * any sane budget.
    */
  def candidatePairVolume(left: DataFrame, leftKey: Column,
                          right: DataFrame, rightKey: Column): Long =
    blockProfile(left, leftKey, right, rightKey)
      .agg(coalesce(sum(col("pairs")), lit(0d))).head() match {
        case Row(v: Double) => math.min(v, Long.MaxValue.toDouble).toLong
      }
}
