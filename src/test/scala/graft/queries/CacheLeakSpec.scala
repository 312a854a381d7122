package graft.queries

import graft.SparkSpec

/** Catalog-wide cache-leak invariant — the seventh sweep-style check
  * (after [[JoinShapeSpec]], [[ScalingSpec]], [[ScanPruningSpec]],
  * [[ShuffleBudgetSpec]], [[UdfRefilterSpec]], [[ExprRefBudgetSpec]]):
  * no catalog query's CONSTRUCTION may leave entries in the session's
  * CacheManager unless the cache is a documented part of its contract.
  *
  * Why this matters at 100 TB: `persist()` without a matching
  * `unpersist()` is invisible to every other sweep (it changes no plan
  * shape, no shuffle count, no scan) and invisible to correctness — but
  * in a long-running driver (a scheduled pipeline looping over batches,
  * a Structured Streaming job calling an operator per micro-batch) each
  * leaked registration pins executor storage memory until the session
  * dies, and under `MEMORY_AND_DISK` silently converts storage pressure
  * into disk churn. The discipline is a persist scoped to the work that
  * reads it, unpersisted in `finally`; this sweep freezes it for every
  * current and future operator.
  *
  * Plan-time, not execution-time: `DataFrame.persist` REGISTERS in the
  * CacheManager eagerly even though materialization is lazy, so riding
  * [[CatalogPlans]]' one shared construction pass costs nothing extra.
  * The flag is per-query because the shared pass clears the cache
  * before each construction.
  *
  * The allowlist is the audited population, entry-justified:
  *
  *   - `il2_bloom_prefilter` — [[graft.operators.TextDedup.bloomPrefilteredNewDocs]]
  *     persists the flagged (id, digest, candidate) projection so the
  *     broadcastability gate's action populates a cache the returned
  *     plan's branches then read, instead of re-running the bloom-probe
  *     UDF per branch. The RETURNED DataFrame depends on that cache, so
  *     the operator cannot unpersist before returning; the cache is
  *     batch-bounded (id + 32-byte digest + bool per INCREMENT row,
  *     never corpus-sized) and the operator's scaladoc makes
  *     unpersist-between-generations the caller's contract. That is a
  *     documented cache, not a leak.
  *
  * A query leaking OUTSIDE the allowlist fails until it either scopes
  * its persist (unpersist in `finally`) or documents its cache as
  * il2 does (and lands here with a justification). An allowlisted entry
  * that STOPS leaking should be removed — the spec flags that too, so
  * the list can only shrink or be re-justified, never rot.
  */
class CacheLeakSpec extends SparkSpec {

  private val documentedCaches = Set("il2_bloom_prefilter")

  test("no catalog query's construction leaks CacheManager entries " +
    "beyond the documented set") {
    val leaked = CatalogPlans.executedPlansDetailed
      .collect { case (n, _, true) => n }.toSet
    val undocumented = leaked -- documentedCaches
    assert(undocumented.isEmpty,
      s"construction-time cache leaks with no documented contract: " +
        s"${undocumented.toSeq.sorted.mkString(", ")} — scope the " +
        "persist to the work that needs it (unpersist in finally) or " +
        "document the cache as part of the operator's contract and " +
        "justify it in this spec's allowlist")
    val stale = documentedCaches -- leaked
    assert(stale.isEmpty,
      s"allowlisted entries no longer cache at construction: " +
        s"${stale.toSeq.sorted.mkString(", ")} — remove them from " +
        "documentedCaches so the allowlist cannot rot")
  }

  test("the signal trips: persist registers eagerly, unpersist clears " +
    "(the planted-leak proof, and the proof the check is plan-time)") {
    import org.apache.spark.sql.graftbridge.SpecBridge
    spark.catalog.clearCache()
    assert(SpecBridge.cacheIsEmpty(spark))
    val df = spark.range(16).toDF("x")
    df.persist()
    try
      // no action ran: eager REGISTRATION is what makes the sweep able
      // to ride the construction pass without executing 175 queries
      assert(!SpecBridge.cacheIsEmpty(spark),
        "persist must register in the CacheManager before any action")
    finally df.unpersist()
    assert(SpecBridge.cacheIsEmpty(spark))
  }
}
