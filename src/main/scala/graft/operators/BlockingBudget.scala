package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Candidate-pair accounting for BLOCKED joins — the audit companion of
  * every "equi-join on a blocking key instead of a cross join" operator
  * in this library (fz1's prefix-blocked fuzzy linkage, the LSH band
  * buckets, SimHash prefix blocks).
  *
  * A blocked join's cost is its CANDIDATE-PAIR VOLUME Σ_k |L_k|·|R_k|
  * (per-pair work — an edit distance, a Jaccard verify — dominates, so
  * pair volume IS the cost model). Blocking is only an at-scale win
  * while that volume stays near-linear in the input: a degenerate key
  * (one hot prefix, an empty-string bucket, a language whose titles all
  * open identically) silently reverts the join toward n² without any
  * plan-shape change a shuffle or join-type audit could see — the plan
  * still says "equi-join". SCALE_SF1.md measured fz1 at 9.9× for 10×
  * documents (the linear-with-corpus bound exactly); this helper turns
  * that watch item into an assertable number, and
  * `FuzzyBlockingBudgetSpec` freezes it as a failing invariant.
  *
  * Scale shape: two per-key count aggregations (compact keys), an
  * equi-join of the two count tables, one sum — never materializes a
  * candidate pair. Runs as a PREFLIGHT on the same inputs as the real
  * join, so it is also the production pattern for guarding a scheduled
  * linkage job against a corpus drift that degrades its blocking key
  * (fail the preflight, not the cluster).
  */
object BlockingBudget {

  /** Per-block candidate counts `(block, left_n, right_n, pairs)`,
    * unsorted — the form [[preflight]] persists, so the one
    * materialization serves both the volume sum (order-free) and the
    * failure path's top-5 (a cheap top-k over the cache); sorting ALL
    * blocks up front would add a full-profile shuffle that only the
    * failure path's first 5 rows ever need. Accounts for a standard
    * `=` equi-join: null block keys produce NO candidate pairs (SQL
    * equality never matches null to null), so null-keyed rows are
    * excluded — every production join audited here uses `=`. A caller
    * whose join treats null as a value (`<=>`) should coalesce the key
    * to a sentinel before joining AND before auditing, which also
    * surfaces that bucket for attribution.
    */
  private[graft] def blockProfileUnsorted(left: DataFrame, leftKey: Column,
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
    // ArithmeticException mid-preflight (ANSI on, Spark 4's default —
    // the guard dies with an overflow error instead of naming the hot
    // block) or wraps silently (ANSI off — the guard FAILS OPEN at the
    // exact extreme it exists to catch). A double product is exact to
    // 2^53 pairs and monotone (NON-strictly) beyond — distinct long
    // products can round to the same double, so ties are possible but an
    // order inversion is not — which is all a budget threshold and a
    // heaviest-first attribution need.
    // MIGRATION NOTE (round 14): this made the profile's `pairs` column
    // DoubleType (was LongType); an external consumer pattern-matching
    // Long rows must read getDouble — called out beside the round-14
    // cache-contract change in ARCHITECTURE.md §Round-14.
    lc.join(rc, lc("block") === rc("block"))
      .select(lc("block"), col("left_n"), col("right_n"),
        (col("left_n").cast("double") * col("right_n")).as("pairs"))
  }

  /** PRODUCTION preflight: fail fast — with the hot blocks named —
    * when a blocked join's candidate-pair volume exceeds
    * `maxPairFactor · refRows`, BEFORE the join burns a cluster on a
    * silently-degraded blocking key. This is the scheduled-pipeline
    * form of the spec-side budgets (`FuzzyBlockingBudgetSpec`,
    * `LshBucketBudgetSpec`): a corpus drifting toward boilerplate, a
    * collapsing vocabulary, or an empty-field default crowds blocks
    * with NO plan-shape change — only the pair volume sees it. Wired
    * as an opt-in `maxPairFactor` parameter on every blocked-join
    * entry point ([[graft.operators.TextDedup.minHashLshPairs]]-family,
    * `simHashPairs`/`simHashPairs128`, [[graft.operators.TextDedup.prefixBlockedLinkage]]);
    * `None` (the default) costs nothing and changes no plan.
    *
    * Cost when enabled: two count aggregations over compact keys plus
    * a small top-k collect on failure — O(n) with a tiny constant,
    * amortized against the join it guards. The LSH-family callers
    * persist the banding frame the guard AND the returned join both
    * read (the shared-materialization contract documented at each call
    * site), so the expensive key derivation (signatures, fingerprints,
    * banding) materializes ONCE for guard plus join. The preflight
    * itself persists its block PROFILE for its own scope: the volume
    * sum and (on failure) the hottest-blocks attribution read one
    * execution of the per-block counts, so the volume the exception
    * reports and the blocks it names can never disagree — regardless
    * of whether the caller cached its inputs. `refRows` is the
    * caller's budget denominator (its spec convention: banded key rows
    * for the LSH families, corpus rows for prefix linkage).
    *
    * @throws IllegalStateException naming the measured factor and the
    *         heaviest blocks (the [[blockProfileUnsorted]] attribution) when
    *         the budget is exceeded
    */
  def preflight(left: DataFrame, leftKey: Column,
                right: DataFrame, rightKey: Column,
                maxPairFactor: Double, refRows: Long, op: String): Unit = {
    require(maxPairFactor > 0, s"maxPairFactor must be > 0: $maxPairFactor")
    require(refRows >= 0, s"refRows must be >= 0: $refRows")
    val profile = blockProfileUnsorted(left, leftKey, right, rightKey)
      .persist()
    try {
      val vol = profile.agg(coalesce(sum(col("pairs")), lit(0d)))
        .head() match { case Row(v: Double) => v }
      failIfOverBudget(profile, vol, maxPairFactor, refRows, op)
    } finally profile.unpersist(false)
  }

  /** [[preflight]] specialized to SELF-joins (left = right = `frame`) —
    * the LSH families' guard shape, engineered for minimum overhead on
    * the PASSING path: ONE groupBy pass over the (typically persisted)
    * frame derives the per-block counts, from which pairs = n² per
    * block, the volume Σ n², the budget denominator refRows = Σ n (the
    * frame's non-null-key rows — identical to its row count for the
    * never-null banding keys), and on failure the hottest blocks — so
    * the guard costs one aggregation over the cache instead of the
    * general form's two groupBys + count-table join + separate row
    * count, and every reported number comes from one execution. The
    * volume is exactly the general form's Σ |L_k|·|R_k| with
    * `frame` on both sides (equivalence frozen in
    * `BlockingPreflightSpec` against the spec-side reference): when both
    * sides are the same frame, the count-table self-join pairs each
    * block with itself, n·n.
    */
  def preflightSelf(frame: DataFrame, key: Column,
                    maxPairFactor: Double, op: String): Unit = {
    require(maxPairFactor > 0, s"maxPairFactor must be > 0: $maxPairFactor")
    val profile = frame.groupBy(key.as("block"))
      .agg(count(lit(1)).as("n")).filter(col("block").isNotNull)
      // double product: same overflow rationale as blockProfileUnsorted
      .select(col("block"), col("n").as("left_n"), col("n").as("right_n"),
        (col("n").cast("double") * col("n")).as("pairs"))
      .persist()
    try {
      val head = profile.agg(
        coalesce(sum(col("pairs")), lit(0d)),
        coalesce(sum(col("left_n")), lit(0L))).head()
      failIfOverBudget(profile, head.getDouble(0), maxPairFactor,
        head.getLong(1), op)
    } finally profile.unpersist(false)
  }

  /** The shared budget check + hottest-blocks attribution — `profile`
    * must be the (persisted) frame the reported volume came from, so
    * the exception's numbers and its named blocks cannot disagree.
    */
  private def failIfOverBudget(profile: DataFrame, vol: Double,
                               maxPairFactor: Double, refRows: Long,
                               op: String): Unit = {
    val budget = maxPairFactor * refRows
    // integer rendering (Locale.ROOT — never a comma decimal): the
    // volume is a pair COUNT, double-typed only against overflow
    def whole(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.0f", Double.box(v))
    if (vol > budget) {
      val hot = profile.orderBy(col("pairs").desc).limit(5)
        .collect()
        .map(r => s"${r.get(0)} (left ${r.get(1)} x right ${r.get(2)} = " +
          s"${whole(r.getDouble(3))} pairs)")
        .mkString("; ")
      // budget keeps its fraction (maxPairFactor is a double; .toLong
      // would under-state the threshold the volume was checked against)
      val budgetStr =
        String.format(java.util.Locale.ROOT, "%.1f", Double.box(budget))
      throw new IllegalStateException(
        s"$op blocking preflight failed: candidate-pair volume " +
          s"${whole(vol)} exceeds $maxPairFactor x $refRows rows = " +
          s"$budgetStr — the blocking key has degraded " +
          s"(hottest blocks: $hot)")
    }
  }
}
