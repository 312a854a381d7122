package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The ANN/IVF-cell pair-volume preflight (`maxPairFactor` →
  * [[BlockingBudget.preflightSelf]]/[[BlockingBudget.preflight]] on the
  * CELL id) — round 15's extension of the text-blocking guards
  * ([[BlockingPreflightSpec]]) to the embedding families. Degenerate
  * embeddings (a broken upstream encoder emitting constant or zero
  * vectors) crowd every row into ONE k-means cell REGARDLESS of the
  * C ≈ √n auto-sizing: all centroids train identical, the index
  * tie-break sends every vector to cell 0, and the cell join squares
  * with no plan-shape change — the exact drift class the text preflight
  * names, in its ANN form.
  *
  * Per family, the [[BlockingPreflightSpec]] contract points:
  * (1) a PLANTED degenerate embedding corpus FAILS the preflight naming
  * the hot cell; (2) a healthy corpus PASSES with a spec-calibrated
  * factor and returns the identical result as the unguarded call;
  * (3) default `None` runs the degenerate corpus unguarded — opt-in
  * means catalog plans and legacy callers are untouched; (4) NEITHER
  * path leaves a cache: unlike the LSH families there is no shared
  * materialization to release (the cell frames carry corpus EMBEDDINGS
  * — persisting them would cache corpus-sized vector data, the
  * `prefixBlockedLinkage` class), so the cache-emptiness assertion
  * holds after success as well as failure.
  */
class IvfPreflightSpec extends SparkSpec {

  import org.apache.spark.sql.graftbridge.SpecBridge

  private def assertCacheEmpty(clue: String): Unit =
    assert(SpecBridge.cacheIsEmpty(spark), clue)

  /** The broken-encoder corpus: every embedding is the same vector, so
    * k-means trains C identical centroids and the (distance, index)
    * tie-break assigns every row to cell 0 — Σ|cell|² = n².
    */
  private def degenerate(n: Int): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      array(lit(1.0), lit(0.0), lit(0.5), lit(0.25)).as("embedding"))

  /** The zero-vector variant of the same failure (an encoder emitting
    * all-zero embeddings): every distance ties, same one-cell crowd.
    */
  private def zeros(n: Int): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      array(lit(0.0), lit(0.0), lit(0.0), lit(0.0)).as("embedding"))

  /** Healthy spread: directions fan around a ring, so cells stay
    * near-balanced under the coarse quantizer.
    */
  private def healthy(n: Int): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      array(cos(col("id") * 0.1), sin(col("id") * 0.1),
        cos(col("id") * 0.07 + 1.0), sin(col("id") * 0.13 + 2.0))
        .as("embedding"))

  private def assertTrips(body: => Any, op: String): Unit = {
    val e = intercept[IllegalStateException](body)
    assert(e.getMessage.contains(s"$op blocking preflight failed"),
      e.getMessage)
    assert(e.getMessage.contains("hottest blocks:"), e.getMessage)
    assert(e.getMessage.contains("pairs)"), e.getMessage)
  }

  test("semanticDupPairs: a degenerate embedding space fails the cell " +
    "preflight naming the hot cell; default off runs it; healthy passes " +
    "unchanged; no cache survives either path") {
    spark.catalog.clearCache()
    val crowd = degenerate(400)
    assertTrips(
      SemanticDedup.semanticDupPairs(crowd, "vec_id", "embedding",
        nClusters = 0, threshold = 0.9, maxPairFactor = Some(150.0)),
      "semanticDupPairs")
    assertCacheEmpty("a failed IVF preflight must leave no cache (the " +
      "profile is guard-scoped; nothing else persists)")
    // default None: the degenerate corpus still runs — opt-in only
    val unguarded = SemanticDedup.semanticDupPairs(crowd, "vec_id",
      "embedding", nClusters = 0, threshold = 0.9)
    assert(unguarded.count() == 400L * 399 / 2) // all-identical: every pair
    val ok = SemanticDedup.semanticDupPairs(healthy(400), "vec_id",
      "embedding", nClusters = 20, threshold = 0.95,
      maxPairFactor = Some(150.0))
    val plain = SemanticDedup.semanticDupPairs(healthy(400), "vec_id",
      "embedding", nClusters = 20, threshold = 0.95)
    assert(ok.collect().toSet == plain.collect().toSet)
    assertCacheEmpty("a passing IVF guard persists nothing — there is " +
      "no shared materialization to release")
  }

  test("incrementalPairs: a degenerate corpus+batch fails the cross cell " +
    "preflight; healthy batch-vs-corpus passes unchanged") {
    spark.catalog.clearCache()
    assertTrips(
      SemanticDedup.incrementalPairs(zeros(400), zeros(50), "vec_id",
        "embedding", nClusters = 20, threshold = 0.9,
        maxPairFactor = Some(40.0)),
      "incrementalPairs")
    assertCacheEmpty("failed incremental preflight leaves no cache")
    val ok = SemanticDedup.incrementalPairs(healthy(400), healthy(50),
      "vec_id", "embedding", nClusters = 20, threshold = 0.95,
      maxPairFactor = Some(40.0))
    val plain = SemanticDedup.incrementalPairs(healthy(400), healthy(50),
      "vec_id", "embedding", nClusters = 20, threshold = 0.95)
    assert(ok.collect().toSet == plain.collect().toSet)
    assertCacheEmpty("passing incremental guard persists nothing")
  }

  test("incrementalPairsFromIndex: a degenerate STORED index trips the " +
    "guard at pruned-scan cost; a healthy stored index passes unchanged") {
    spark.catalog.clearCache()
    SemanticDedup.saveSemanticIndexBucketed(degenerate(400), "vec_id",
      "embedding", nClusters = 20, assignProbes = 1,
      tablePrefix = "graft_guard_sem_bad", nBuckets = 4)
    val badC = spark.table("graft_guard_sem_bad_centroids")
    val badM = spark.table("graft_guard_sem_bad_members")
    assertTrips(
      SemanticDedup.incrementalPairsFromIndex(badC, badM,
        degenerate(50), "vec_id", "embedding", threshold = 0.9,
        assignProbes = 1, maxPairFactor = Some(40.0)),
      "incrementalPairsFromIndex")
    assertCacheEmpty("failed stored-index preflight leaves no cache")
    SemanticDedup.saveSemanticIndexBucketed(healthy(400), "vec_id",
      "embedding", nClusters = 20, assignProbes = 1,
      tablePrefix = "graft_guard_sem_good", nBuckets = 4)
    val goodC = spark.table("graft_guard_sem_good_centroids")
    val goodM = spark.table("graft_guard_sem_good_members")
    val ok = SemanticDedup.incrementalPairsFromIndex(goodC, goodM,
      healthy(50), "vec_id", "embedding", threshold = 0.95,
      assignProbes = 1, maxPairFactor = Some(40.0))
    val plain = SemanticDedup.incrementalPairsFromIndex(goodC, goodM,
      healthy(50), "vec_id", "embedding", threshold = 0.95,
      assignProbes = 1)
    assert(ok.collect().toSet == plain.collect().toSet)
    assertCacheEmpty("passing stored-index guard persists nothing")
  }

  test("ivfTopK / ivfTopKFromIndex: a degenerate corpus fails the probe " +
    "join's preflight; healthy passes rank-identical") {
    spark.catalog.clearCache()
    val badIdx = Similarity.ivfIndex(degenerate(400), "vec_id", "embedding",
      nCentroids = 20)
    val q = degenerate(100)
    assertTrips(
      Similarity.ivfTopK(badIdx, q, "vec_id", "embedding", k = 3,
        nProbe = 2, maxPairFactor = Some(40.0)),
      "ivfTopK")
    assertCacheEmpty("failed ivfTopK preflight leaves no cache")
    val goodIdx = Similarity.ivfIndex(healthy(400), "vec_id", "embedding",
      nCentroids = 20)
    val hq = healthy(100)
    val ok = Similarity.ivfTopK(goodIdx, hq, "vec_id", "embedding", k = 3,
      nProbe = 2, maxPairFactor = Some(40.0))
    val plain = Similarity.ivfTopK(goodIdx, hq, "vec_id", "embedding",
      k = 3, nProbe = 2)
    assert(ok.collect().toSet == plain.collect().toSet)
    assertCacheEmpty("passing ivfTopK guard persists nothing")
    // the FromIndex form threads the same guard (stored-column scan)
    Similarity.saveIvfIndexBucketed(badIdx, "graft_guard_ivf_bad",
      nBuckets = 4)
    assertTrips(
      Similarity.ivfTopKFromIndex(
        spark.table("graft_guard_ivf_bad_centroids"),
        spark.table("graft_guard_ivf_bad_vectors"),
        q, "vec_id", "embedding", k = 3, nProbe = 2,
        maxPairFactor = Some(40.0)),
      "ivfTopK")
  }

  test("knnGraphApprox: a degenerate corpus fails the build's preflight; " +
    "healthy passes identical to the unguarded build") {
    spark.catalog.clearCache()
    assertTrips(
      Similarity.knnGraphApprox(
        Similarity.ivfIndex(zeros(400), "vec_id", "embedding",
          nCentroids = 20), k = 3, nProbe = 2,
        maxPairFactor = Some(80.0)),
      "knnGraphApprox")
    assertCacheEmpty("failed knnGraphApprox preflight leaves no cache")
    val goodIdx = Similarity.ivfIndex(healthy(400), "vec_id", "embedding",
      nCentroids = 20)
    val ok = Similarity.knnGraphApprox(goodIdx, k = 3, nProbe = 2,
      maxPairFactor = Some(80.0))
    val plain = Similarity.knnGraphApprox(goodIdx, k = 3, nProbe = 2)
    assert(ok.collect().toSet == plain.collect().toSet)
    assertCacheEmpty("passing knnGraphApprox guard persists nothing")
  }

  test("contrastivePairs: a guarded NegativesIvf mining config trips on " +
    "a degenerate corpus and passes healthy unchanged") {
    spark.catalog.clearCache()
    val anchors = degenerate(60)
    assertTrips(
      Similarity.contrastivePairs(degenerate(400), "vec_id", "embedding",
        anchors, k = 3, threshold = 0.99, dim = 4,
        negativesVia = NegativesIvf(20, 2, maxPairFactor = Some(20.0)))
        .count(),
      "contrastivePairs")
    assertCacheEmpty("failed contrastive preflight leaves no cache")
    val hAnchors = healthy(60)
    val ok = Similarity.contrastivePairs(healthy(400), "vec_id",
      "embedding", hAnchors, k = 3, threshold = 0.99, dim = 4,
      negativesVia = NegativesIvf(20, 2, maxPairFactor = Some(20.0)))
    val plain = Similarity.contrastivePairs(healthy(400), "vec_id",
      "embedding", hAnchors, k = 3, threshold = 0.99, dim = 4,
      negativesVia = NegativesIvf(20, 2))
    assert(ok.collect().toSet == plain.collect().toSet)
    assertCacheEmpty("passing contrastive guard persists nothing")
  }

  test("the degenerate factor is the corpus size, the healthy factor the " +
    "cell size: the measured ratios the budget separates (the factor-" +
    "semantics doc, pinned)") {
    // degenerate self: volume n², refRows n → factor n (= 400)
    val e = intercept[IllegalStateException] {
      SemanticDedup.semanticDupPairs(degenerate(400), "vec_id",
        "embedding", nClusters = 0, threshold = 0.9,
        maxPairFactor = Some(399.0))
    }
    assert(e.getMessage.contains("candidate-pair volume 160000"),
      e.getMessage) // n² exactly — every membership in one cell
    // and a budget of n passes even the degenerate corpus (the factor
    // ceiling): the guard polices growth past the caller's stated bound
    SemanticDedup.semanticDupPairs(degenerate(400), "vec_id", "embedding",
      nClusters = 0, threshold = 0.9, maxPairFactor = Some(400.0))
  }
}
