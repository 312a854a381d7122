package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TF-IDF keyword extraction — the "top distinguishing terms per document"
  * operator of a corpus-analysis pipeline.
  *
  * Scoring is standard log-idf: `tf · ln((N+1)/(df+1))`. An earlier rational
  * variant `tf · (N+1)/(df+1)` claimed rank-equivalence "because log is
  * monotone" — false for the PRODUCT: monotonicity preserves the ranking of
  * idf alone, not of tf·idf (tf=1,idf=9 beats tf=4,idf=2 rationally, loses
  * under log). Standard scoring it is.
  *
  * Cross-engine parity: `ln` differs in the last ulp across libm builds, so
  * ranking on the raw double could flip ranks between engines. Both the
  * output score AND the rank ordering therefore use the score rounded to
  * DECIMAL(18,6) — a few-ulp divergence (~1e-13 relative) only changes the
  * rounded value when the true score sits within ulps of a 0.5e-6 boundary,
  * which `ln` outputs (transcendental, except exactly 0.0 at df=N) hit with
  * probability ~1e-10 per row; verified exact on the harness corpus at
  * sf0.001/0.01/0.1. Equal rounded scores tie-break on the term itself —
  * in particular every df=N term scores exactly 0.0 and ranks purely by
  * term, identically on both engines (KeywordsStatsSpec). The cast also
  * assumes both engines agree at an exact .5e-6 rounding boundary: Spark
  * rounds HALF_UP (half away from zero), and since scores are nonnegative
  * (idf argument ≥ 1 → ln ≥ 0) HALF_UP coincides with half-away-from-zero,
  * which is why the boundary case — were a transcendental ever to land on
  * one — could not flip between engines that round halves away from zero.
  *
  * Shape at scale: doc-local term frequencies are a native-expression
  * PROJECTION (`NgramCounts` — the former explode + groupBy(doc, term)
  * exchange, the widest key in the plan, no longer exists), leaving one
  * (term) aggregation, an equi-join back on term, and a rank window
  * partitioned by doc — map-side-combinable shuffles on compact keys.
  * The corpus size N joins in as a broadcast single-row aggregate (no
  * driver action).
  */
object Keywords {

  def tfIdfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    // doc-local term frequencies come from the native NgramCounts
    // expression (a projection) rather than explode + groupBy(doc, term)
    // — same (doc, term, tf) rows, minus a corpus-wide exchange on the
    // widest key in the plan (value-equivalence spec-asserted)
    val tf = df
      .select(col(idCol),
        explode(graft.functions.NgramCounts.ngramCounts(col(textCol), 1))
          .as("_tc"))
      .select(col(idCol), col("_tc.gram").as("term"),
        col("_tc.cnt").cast("long").as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val total = df.agg(count(lit(1)).as("n_docs"))
    // idf argument (N+1)/(df+1) ≥ 1 always (df ≤ N), so ln ≥ 0 — the
    // DECIMAL cast below can never see NaN (which ANSI mode would throw on)
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(total))
      .withColumn("score",
        (col("tf").cast("double") *
          log((col("n_docs").cast("double") + lit(1.0))
            / (col("df").cast("double") + lit(1.0))))
          .cast("decimal(18,6)").cast("double"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("rank"), col("score"))
  }
}
