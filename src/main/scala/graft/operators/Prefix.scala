package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed EXACT running sum / rank / ntile — the two-level
  * prefix-sum decomposition that removes the last single-task window from
  * the per-group cumulative operators.
  *
  * `Window.partitionBy(group).orderBy(order)` with a running `sum()` or
  * an `ntile()` is one exchange, but it makes ONE TASK sort an entire
  * group — with source-grain groups over a 100 TB corpus (one
  * CommonCrawl-sized source is the normal case) that task sorts
  * terabytes. The classic parallel-scan decomposition fixes it without
  * changing a single output bit for integral/decimal values:
  *
  *  1. band each group's rows by `percentile_approx` cuts over the order
  *     column ([[bandByScore]]) — bands are order-monotone and
  *     equal-count-ish by construction (the cuts ADAPT to the
  *     distribution, unlike fixed range splits);
  *  2. per-(group, band) aggregates, then each band's exclusive prefix
  *     (sum or count) via a window over the G×B-row band table —
  *     metadata-class;
  *  3. running sum / row_number WITHIN each (group, band) partition plus
  *     the band's broadcast offset. Each task sorts ~|group|/B rows.
  *
  * Exactness: every row in a strictly lower band has a strictly smaller
  * order value (a band is "count of cuts strictly below", a function of
  * the order value alone — duplicates never straddle bands), so
  * `offset(band) + local result` reproduces the global one term for
  * term. Holds for ANY cut vector — `percentile_approx`'s
  * partition-order wobble moves band boundaries, never results (the
  * [[CorpusBudget.budgetFillByScore]] argument). Null GROUP keys form
  * their own group exactly as `Window.partitionBy` treats them (all
  * joins here are null-safe). Integer/decimal sums are
  * association-insensitive so the regrouping is bit-exact; float sums
  * would re-associate (use decimal if that matters).
  *
  * DOMAIN: groups must be COARSE — source/shard/dataset grain, where the
  * per-group data is huge and the group count is broadcast-class (the
  * cuts and offsets frames are G and G×B rows and are broadcast by
  * contract). That is exactly the regime where the single-task window
  * hurts; a fine-grained key (host, user) doesn't need these operators —
  * hash partitioning already spreads it — and a 10⁸-group input would
  * instead OOM the broadcast. `orderCol`/`score` must be numeric (the
  * cuts are percentiles) and should be unique per group — WITH
  * duplicates, tie-order-dependent outputs are arbitrary in the generic
  * window too; pass tie-breaks where offered. `score` must also be
  * DETERMINISTIC: it is evaluated once in the cuts aggregation and
  * again in the banding join, so a nondeterministic score would band
  * against stale cuts and void the exactness argument (derive
  * pseudo-random orderings from hashes of row identity instead).
  */
object Prefix {

  /** Shared banding core: `df` plus `prefix+"band"` = count of the
    * group's percentile cuts strictly below `score` — order-monotone,
    * tie-stable (equal scores share a band), null score → band 0
    * (matching ASC NULLS FIRST), null groups banded like any other
    * (null-safe join). The losslessness-critical block for every
    * operator in this family — [[CorpusBudget.budgetFillByScore]] bands
    * through here too. The per-row assignment is the native
    * [[graft.functions.SortedCountBelow]] binary search (log2 B
    * comparisons inside whole-stage codegen, vs the interpreted
    * higher-order filter's B closure calls + an array allocation per
    * row); it requires an int/bigint/float/double score — cast decimals
    * before banding.
    */
  private[graft] def bandByScore(df: DataFrame, groupCol: String,
                                 score: Column, bands: Int,
                                 prefix: String): DataFrame = {
    require(bands >= 2 && bands <= 4096, s"bands out of range: $bands")
    val scoreC = prefix + "score"; val cutsC = prefix + "cuts"
    val bandC = prefix + "band"; val gC = prefix + "g"
    val scored = df.withColumn(scoreC, score)
    val cuts = scored.groupBy(col(groupCol)).agg(
      percentile_approx(
        col(scoreC),
        array((1 until bands).map(i => lit(i.toDouble / bands)): _*),
        lit(10000)).as(cutsC))
      .withColumnRenamed(groupCol, gC)
    scored.join(broadcast(cuts), col(groupCol) <=> col(gC))
      .withColumn(bandC,
        coalesce(
          graft.functions.SortedCountBelow.sortedCountBelow(
            col(cutsC), col(scoreC)),
          lit(0)))
      .drop(gC, cutsC)
  }

  private def requireFresh(df: DataFrame, op: String,
                           names: Seq[String]): Unit =
    names.foreach(r => require(!df.columns.contains(r),
      s"$op: input already has a column named $r (reserved)"))

  /** `df` plus `outCol` = inclusive running sum of `valueCol` over
    * `orderCol` (ascending) within `groupCol`. `bands` bounds per-task
    * sort size at ~|group|/bands — size it to cluster parallelism.
    * Null values sum as ZERO (`outCol` is always defined) — the useful
    * contract for running token totals; callers needing SQL's
    * null-propagating window sum (null until the first non-null value)
    * use a generic window.
    */
  def runningSum(df: DataFrame, groupCol: String, orderCol: String,
                 valueCol: String, outCol: String,
                 bands: Int = 64): DataFrame = {
    requireFresh(df, "runningSum", Seq(
      "_ps_score", "_ps_band", "_ps_b2", "_ps_cuts", "_ps_g", "_ps_bs",
      "_ps_off", outCol))
    val banded = bandByScore(df, groupCol, col(orderCol), bands, "_ps_")
      .drop("_ps_score") // orderCol itself is a column; no copy needed
    val zeroIfNull = coalesce(col(valueCol), lit(0L))
    // exclusive band prefix, lowest band first — G×B rows
    val wOff = Window.partitionBy(col(groupCol)).orderBy(col("_ps_band"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = banded
      .groupBy(col(groupCol), col("_ps_band"))
      .agg(sum(zeroIfNull).as("_ps_bs"))
      .withColumn("_ps_off",
        coalesce(sum(col("_ps_bs")).over(wOff), lit(0L)))
      .select(col(groupCol).as("_ps_g"), col("_ps_band").as("_ps_b2"),
        col("_ps_off"))
    val wLocal = Window.partitionBy(col(groupCol), col("_ps_band"))
      .orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    banded.join(broadcast(offsets),
        col(groupCol) <=> col("_ps_g") && col("_ps_band") === col("_ps_b2"))
      .withColumn(outCol,
        coalesce(sum(zeroIfNull).over(wLocal), lit(0L)) + col("_ps_off"))
      .drop("_ps_band", "_ps_b2", "_ps_g", "_ps_off")
  }

  /** Distributed `row_number()` over (`score` ASC, tie-break…) within
    * `groupCol` into `outCol` — the [[runningSum]] decomposition with
    * COUNTS for values: rank = band-local row_number + the band's
    * exclusive count offset. Rows are ranked ascending with nulls first,
    * matching `Window.orderBy(score, ties…)`.
    *
    * Also carries `_ps_n` = the group's total row count, as a SECOND
    * window function over the same G×B band-count frame the
    * offsets ride (same partitioning → same exchange, one broadcast
    * join) — never a second pass over the input. (An earlier shape
    * re-aggregated the band counts in a sibling branch and trusted
    * exchange reuse to dedupe it; the reuse never fired — the banding
    * join's lambda breaks plan canonicalization — and the whole scan +
    * banding lineage silently doubled. Windows over one frame can't
    * un-share.)
    */
  private[graft] def rankWithTotals(df: DataFrame, groupCol: String,
                                    score: Column, tieBreak: Seq[Column],
                                    outCol: String, bands: Int): DataFrame = {
    requireFresh(df, "rankWithTotals", Seq(
      "_ps_score", "_ps_band", "_ps_b2", "_ps_cuts", "_ps_g", "_ps_bc",
      "_ps_off", "_ps_n", outCol))
    val banded = bandByScore(df, groupCol, score, bands, "_ps_")
    val wOff = Window.partitionBy(col(groupCol)).orderBy(col("_ps_band"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(col(groupCol))
    val offsets = banded
      .groupBy(col(groupCol), col("_ps_band"))
      .agg(count(lit(1)).as("_ps_bc"))
      .withColumn("_ps_off",
        coalesce(sum(col("_ps_bc")).over(wOff), lit(0L)))
      .withColumn("_ps_n", sum(col("_ps_bc")).over(wAll))
      .select(col(groupCol).as("_ps_g"), col("_ps_band").as("_ps_b2"),
        col("_ps_off"), col("_ps_n"))
    val wLocal = Window.partitionBy(col(groupCol), col("_ps_band"))
      .orderBy(col("_ps_score") +: tieBreak: _*)
    banded.join(broadcast(offsets),
        col(groupCol) <=> col("_ps_g") && col("_ps_band") === col("_ps_b2"))
      .withColumn(outCol,
        row_number().over(wLocal).cast("bigint") + col("_ps_off"))
      .drop("_ps_band", "_ps_b2", "_ps_g", "_ps_off", "_ps_score")
  }

  /** Distributed `ntile(k)` over (`score` ASC, tie-break…) within
    * `groupCol`: [[rankWithTotals]] plus the SQL NTILE assignment computed
    * from (rank, n, k) — the first `n mod k` buckets get `n div k + 1`
    * rows, the rest `n div k` (bit-equal to the window `ntile`,
    * spec-asserted; the group count n comes from the rank's own band
    * aggregation, not a second scan). The scale form of per-stratum
    * quantile binning when strata are source-grain.
    */
  def ntileByScore(df: DataFrame, groupCol: String, score: Column,
                   tieBreak: Seq[Column], k: Int, outCol: String,
                   bands: Int = 64): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    requireFresh(df, "ntileByScore", Seq(
      "_ps_rank", "_ps_base", "_ps_small", "_ps_cutoff", outCol))
    // integer `div` throughout (Column./ is DOUBLE division); when
    // n < k the when-branch always fires (cutoff = n), so the
    // otherwise-branch's div-by-zero is never evaluated
    rankWithTotals(df, groupCol, score, tieBreak, "_ps_rank", bands)
      .withColumn("_ps_base", expr(s"_ps_n div ${k}L"))
      .withColumn("_ps_small", col("_ps_n") % k)
      .withColumn("_ps_cutoff", col("_ps_small") * (col("_ps_base") + 1L))
      .withColumn(outCol,
        when(col("_ps_rank") <= col("_ps_cutoff"),
          expr("(_ps_rank - 1) div (_ps_base + 1) + 1"))
          .otherwise(
            expr("_ps_small + (_ps_rank - _ps_cutoff - 1) div _ps_base + 1"))
          .cast("int"))
      .drop("_ps_rank", "_ps_n", "_ps_base", "_ps_small", "_ps_cutoff")
  }
}
