package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SemDeDup semantics: cluster-local pairs are a subset of the exact pair
  * set (precision 1), overlapping assignment dominates single assignment,
  * planted near-dups are fully recalled at probes=2, runs are
  * deterministic.
  */
class SemanticDedupSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** The d5b planted universe — the ONE shared definition
    * ([[graft.queries.QueryUtil.plantNearDups]]) the semd1/semd2 oracles'
    * literal-TRUE recall claims are calibrated against.
    */
  private lazy val universe: DataFrame =
    graft.queries.QueryUtil.plantNearDups(
      spark.read.parquet(s"$sf/embeddings.parquet")
        .select($"vec_id", $"embedding"))

  private def pairsOf(df: DataFrame): Set[(Long, Long)] =
    df.select("keep_id", "drop_id").as[(Long, Long)].collect().toSet

  test("semantic pairs are a subset of the exact all-pairs set") {
    val semd = pairsOf(SemanticDedup.semanticDupPairs(universe, "vec_id",
      "embedding", nClusters = 16, threshold = 0.9, assignProbes = 2))
    val exact = Similarity.cosineNearDupPairs(universe, "vec_id", "embedding",
      threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(semd.subsetOf(exact),
      s"cluster-local found pairs outside the exact set: ${semd -- exact}")
  }

  test("probes=2 recalls every planted pair (the semd1 oracle invariant)") {
    val semd = pairsOf(SemanticDedup.semanticDupPairs(universe, "vec_id",
      "embedding", nClusters = 16, threshold = 0.9, assignProbes = 2))
    val planted = (0L until 50L).map(i => (i, i + 1000000L)).toSet
    val missed = planted -- semd
    assert(missed.isEmpty, s"planted pairs missed: $missed")
  }

  test("nClusters <= 0 auto-sizes by the sqrt rule and still recalls " +
    "every planted pair") {
    // the production setting: C from the corpus, not hard-coded
    assert(Similarity.ivfSizing(100) == 16) // floor
    assert(Similarity.ivfSizing(10000) == 100)
    assert(Similarity.ivfSizing(1000000) == 1000)
    val auto = pairsOf(SemanticDedup.semanticDupPairs(universe, "vec_id",
      "embedding", nClusters = 0, threshold = 0.9, assignProbes = 2))
    val explicit = pairsOf(SemanticDedup.semanticDupPairs(universe, "vec_id",
      "embedding", nClusters = Similarity.ivfSizing(universe.count()),
      threshold = 0.9, assignProbes = 2))
    assert(auto == explicit, "sentinel must equal the explicit sqrt size")
    val planted = (0L until 50L).map(i => (i, i + 1000000L)).toSet
    assert((planted -- auto).isEmpty,
      s"auto-sized run missed planted pairs: ${planted -- auto}")
  }

  test("probes=1 finds a subset of probes=2 (overlap only adds candidates)") {
    def run(p: Int) = pairsOf(SemanticDedup.semanticDupPairs(universe,
      "vec_id", "embedding", nClusters = 16, threshold = 0.9, assignProbes = p))
    val p1 = run(1); val p2 = run(2)
    assert(p1.subsetOf(p2), s"p1-only pairs: ${p1 -- p2}")
  }

  test("incremental: planted batch recalls every cross pair at probes=2") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val batch = graft.queries.QueryUtil.nearDupCopies(emb)
    val inc = SemanticDedup.incrementalPairs(emb, batch, "vec_id",
      "embedding", nClusters = 16, threshold = 0.9, assignProbes = 2)
      .select("new_id", "match_id").as[(Long, Long)].collect().toSet
    val planted = (0L until 50L).map(i => (i + 1000000L, i)).toSet
    assert((planted -- inc).isEmpty, s"missed: ${planted -- inc}")
    // nothing below threshold sneaks in: every emitted pair is a planted
    // one (natural corpus max cosine ~0.6 ≪ 0.9)
    assert(inc.subsetOf(planted), s"extra pairs: ${inc -- planted}")
  }

  test("persisted-index increment is frame-identical to the in-query form") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val batch = graft.queries.QueryUtil.nearDupCopies(emb)
    val prefix = "graft_semd_spec_index"
    SemanticDedup.saveSemanticIndexBucketed(emb, "vec_id", "embedding",
      nClusters = 16, assignProbes = 2, prefix, nBuckets = 4)
    // REBUILD over an existing index must converge too (the marker is
    // dropped before centroids are rewritten — a crash between the
    // writes can no longer leave a marker-valid mixed-build index)
    SemanticDedup.saveSemanticIndexBucketed(emb, "vec_id", "embedding",
      nClusters = 16, assignProbes = 2, prefix, nBuckets = 4)
    val fromIndex = SemanticDedup.incrementalPairsFromIndex(
      spark.table(prefix + "_centroids"), spark.table(prefix + "_members"),
      batch, "vec_id", "embedding", threshold = 0.9, assignProbes = 2)
    val inQuery = SemanticDedup.incrementalPairs(emb, batch, "vec_id",
      "embedding", nClusters = 16, threshold = 0.9, assignProbes = 2)
    assert(fromIndex.exceptAll(inQuery).isEmpty &&
      inQuery.exceptAll(fromIndex).isEmpty,
      "stored-index increment must equal the train-in-query result")
  }

  test("NegativesFromIndex mines the same negatives as in-query NegativesIvf") {
    val anchors = universe.filter($"vec_id" < 10)
    val prefix = "graft_ctr_spec_index"
    // same corpus, same seed → the persisted index IS the in-query one
    Similarity.saveIvfIndexBucketed(
      Similarity.ivfIndex(universe, "vec_id", "embedding", nCentroids = 16),
      prefix, nBuckets = 4)
    def neg(via: NegativeMining) =
      Similarity.contrastivePairs(universe, "vec_id", "embedding", anchors,
        k = 5, threshold = 0.9, dim = 64, negativesVia = via)
        .filter($"pair_type" === "negative")
    val a = neg(NegativesIvf(nCentroids = 16, nProbe = 12))
    val b = neg(NegativesFromIndex(spark.table(prefix + "_centroids"),
      spark.table(prefix + "_vectors"), nProbe = 12))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "persisted-index mining must equal train-in-query mining")
  }

  test("two runs produce identical output (seeded determinism)") {
    def run() = SemanticDedup.semanticDupPairs(universe, "vec_id",
      "embedding", nClusters = 16, threshold = 0.9, assignProbes = 2)
      .select($"keep_id", $"drop_id", $"cosine".cast("string"))
      .as[(Long, Long, String)].collect().toSet
    assert(run() == run())
  }

  test("zero-norm vectors are excluded even at threshold = -1 " +
    "(the null-cosine sentinel's edge)") {
    // threshold -1 passes every DEFINED cosine; only the zero vector's
    // null cosine (sentinel -2) must fail. Guards the pair filter's
    // coalesce(_, -2) rewrite against sentinel leakage.
    val tiny = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(-1.0, 0.0)), (3L, Seq(0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val pairs = pairsOf(SemanticDedup.semanticDupPairs(tiny, "vec_id",
      "embedding", nClusters = 1, threshold = -1.0, assignProbes = 1))
    assert(pairs == Set((1L, 2L)),
      s"expected only the defined-cosine pair, got $pairs")
  }

  test("thresholds outside [-1, 1] are rejected loudly") {
    // a threshold <= -2 would turn the null-cosine sentinel into a match
    intercept[IllegalArgumentException] {
      SemanticDedup.semanticDupPairs(universe, "vec_id", "embedding",
        nClusters = 16, threshold = -3.0, assignProbes = 2)
    }
    intercept[IllegalArgumentException] {
      SemanticDedup.incrementalPairs(universe, universe.limit(1), "vec_id",
        "embedding", nClusters = 16, threshold = 1.5, assignProbes = 2)
    }
  }
}
