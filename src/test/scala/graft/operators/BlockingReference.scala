package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The general two-sided candidate-pair count the budget specs measure
  * blocked joins with.
  *
  * A blocked join's cost is its CANDIDATE-PAIR VOLUME Σ_k |L_k|·|R_k|
  * (per-pair work — an edit distance, a Jaccard verify — dominates, so
  * pair volume IS the cost model). Blocking is only an at-scale win
  * while that volume stays near-linear in the input: a degenerate key
  * (one hot prefix, an empty-string bucket, a language whose titles all
  * open identically) silently reverts the join toward n² without any
  * plan-shape change a shuffle or join-type audit could see — the plan
  * still says "equi-join". Scale shape: two per-key count aggregations
  * (compact keys), an equi-join of the two count tables, one sum —
  * never materializes a candidate pair.
  */
object BlockingReference {

  /** Per-block candidate counts, heaviest first: `(block, left_n,
    * right_n, pairs)` — the attribution when [[candidatePairVolume]]
    * trips a budget (WHICH prefix went hot).
    *
    * Accounts for a standard `=` equi-join: null block keys produce NO
    * candidate pairs (SQL equality never matches null to null), so
    * null-keyed rows are excluded — every production join audited here
    * uses `=`. A join that treats null as a value (`<=>`) should coalesce
    * the key to a sentinel before joining AND before auditing, which also
    * surfaces that bucket for attribution.
    */
  def blockProfile(left: DataFrame, leftKey: Column,
                   right: DataFrame, rightKey: Column): DataFrame = {
    val lc = left.groupBy(leftKey.as("block"))
      .agg(count(lit(1)).as("left_n")).filter(col("block").isNotNull)
    val rc = right.groupBy(rightKey.as("block"))
      .agg(count(lit(1)).as("right_n")).filter(col("block").isNotNull)
    // inner join on the block: keys present on one side only produce no
    // candidate pairs, exactly as in the real equi-join.
    // The per-block PRODUCT is computed in DOUBLE, deliberately: counts
    // are exact longs, but a fully-degenerated corpus at scale can crowd
    // >3.04e9 rows into one block, where a long n·n either throws
    // ArithmeticException (ANSI on, Spark 4's default — the audit dies
    // with an overflow error instead of naming the hot block) or wraps
    // silently (ANSI off — the budget passes at the exact extreme it
    // exists to catch). A double product is exact to 2^53 pairs and
    // monotone (NON-strictly) beyond — distinct long products can round
    // to the same double, so ties are possible but an order inversion is
    // not — which is all a budget threshold and a heaviest-first
    // attribution need.
    lc.join(rc, lc("block") === rc("block"))
      .select(lc("block"), col("left_n"), col("right_n"),
        (col("left_n").cast("double") * col("right_n")).as("pairs"))
      .orderBy(col("pairs").desc)
  }

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
    * [[blockProfile]]'s overflow note) loses ULPs and the result
    * saturates at `Long.MaxValue` — still monotone (non-strictly:
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
