package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SEMANTIC deduplication over an embedding column — the SemDeDup recipe
  * (Abbas et al. 2023, arXiv:2303.09540): cluster the corpus embeddings
  * with a cheap coarse quantizer, then search for cosine near-duplicates
  * only WITHIN each cluster. Textually different documents that embed to
  * nearly the same point (templated rewrites, translations back and forth,
  * boilerplate paraphrases) are exactly what the lexical families
  * ([[TextDedup]]) cannot see and this operator exists to catch.
  *
  * Relationship to the other embedding-dedup path: [[Similarity.cosineNearDupPairsBanded]]
  * buckets by random-hyperplane signs (data-independent); this operator
  * buckets by learned k-means cells (data-dependent — clusters follow the
  * corpus density, so a tight semantic clump lands in one cell even when
  * its spread straddles several sign-LSH bands). The two are complementary
  * candidate generators over the same exact-verify core.
  *
  * Shape at scale: the corpus shuffles ONCE on the cluster id (a small
  * int), then each cluster self-joins locally — candidate pairs are
  * Σ |cluster|²/2 instead of n²/2, a ~nClusters× cut for balanced
  * clusters. The centroid matrix is the only driver state (the
  * [[Similarity.ivfIndex]] contract), and every emitted pair carries its
  * exact recomputed cosine, so precision is 1 by construction — cluster
  * quality only affects recall. A pathologically popular cell (mode
  * collapse in the embedding model) re-creates the quadratic locally; the
  * lever is `nClusters` ∝ corpus size, keeping E|cluster| constant so
  * per-cluster work stays bounded as data grows.
  *
  * `assignProbes` > 1 assigns each vector to its `assignProbes` nearest
  * cells (overlapping clusters): a pair straddling a Voronoi boundary is
  * missed only if all probed cells differ. Pure SemDeDup is `probes=1`;
  * 2 is the boundary-robust setting worth its 2× membership cost when
  * recall is contractual (the semd1 oracle).
  */
object SemanticDedup {

  /** All within-cluster pairs with cosine ≥ `threshold`, as
    * (keep_id, drop_id, cosine DECIMAL(18,4)) with keep_id < drop_id —
    * min-id survivor convention, duplicates from overlapping memberships
    * collapsed. Feed into [[DedupClusters.canonicalize]] when transitive
    * closure (cluster-level survivors) is wanted.
    *
    * `nClusters <= 0` auto-sizes by the C ≈ √n rule
    * ([[Similarity.ivfSizing]], one `count()`): the production setting —
    * a hard-coded cell count keeps E|cell| growing with the corpus and
    * within-cell pair work quadratic-with-n/C, which is exactly how a
    * "sub-quadratic" dedup silently degrades as data grows 100×.
    */
  def semanticDupPairs(df: DataFrame, idCol: String, vecCol: String,
                       nClusters: Int, threshold: Double,
                       assignProbes: Int = 1, seed: Long = 42L): DataFrame = {
    require(assignProbes >= 1, s"assignProbes must be >= 1: $assignProbes")
    // before the eager count + k-means below (thresholds validate before
    // eager work — the r12 rule)
    Similarity.requireCosineThreshold(threshold)
    val c = if (nClusters > 0) nClusters else Similarity.ivfSizing(df.count())
    // one assignment pass yields both the index and the memberships —
    // assigning twice would pay the O(n·k·dim) centroid scoring per
    // consumer (code-review finding, closed)
    val (_, members) = Similarity.ivfIndexAndMembers(df, idCol, vecCol,
      c, probes = assignProbes, seed = seed)
    // membership frames carry nrm: norms once per vector, dot-only per
    // within-cell pair (see [[Similarity.cosineFromNorms]])
    val a = members.select(col("cluster"), col("vid").as("_sd_ida"),
      col("v").as("_sd_va"), col("nrm").as("_sd_na"))
    val b = members.select(col("cluster"), col("vid").as("_sd_idb"),
      col("v").as("_sd_vb"), col("nrm").as("_sd_nb"))
    a.join(b, Seq("cluster"))
      .filter(col("_sd_ida") < col("_sd_idb"))
      .withColumn("_sd_cos", Similarity.cosineFromNorms(col("_sd_va"),
        col("_sd_vb"), col("_sd_na"), col("_sd_nb")))
      // null cosine = zero-norm vector: no direction, never a duplicate
      // (cosineAtLeast drops it without an isNotNull conjunct — see its
      // scaladoc for the join-condition refilter this avoids)
      .filter(Similarity.cosineAtLeast(col("_sd_cos"), threshold))
      .select(col("_sd_ida").as("keep_id"), col("_sd_idb").as("drop_id"),
        col("_sd_cos").cast("decimal(18,4)").as("cosine"))
      .distinct()
  }

  /** INCREMENTAL semantic dedup — the embedding analog of
    * [[TextDedup]]'s batch-vs-corpus paths (il1/il2): which of a new
    * batch's vectors are semantic duplicates of the EXISTING corpus?
    * The coarse quantizer is trained on (and the cluster shuffle paid
    * by) the corpus once; the batch — typically ≪ corpus — is assigned
    * to its `assignProbes` nearest cells and compared only against the
    * corpus members of those cells. Batch-internal duplicates are
    * [[semanticDupPairs]] on the batch alone; this operator answers the
    * cross question an append-only ingest loop asks every increment.
    *
    * Output: (new_id, match_id, cosine DECIMAL(18,4)) — one row per
    * (batch vector, corpus near-duplicate) pair with cosine ≥
    * `threshold`, exact by recomputation (cell quality only affects
    * recall, the [[semanticDupPairs]] argument). Ids need not be
    * disjoint; a batch vector never matches the corpus vector with the
    * same id (self-pair guard).
    */
  def incrementalPairs(corpus: DataFrame, batch: DataFrame,
                       idCol: String, vecCol: String,
                       nClusters: Int, threshold: Double,
                       assignProbes: Int = 2, seed: Long = 42L): DataFrame = {
    require(assignProbes >= 1, s"assignProbes must be >= 1: $assignProbes")
    // validate BEFORE the k-means training below — a bad threshold must
    // not cost an O(n·k·dim) scoring pass before it throws
    Similarity.requireCosineThreshold(threshold)
    // the corpus is centroid-scored ONCE: the same assignment pass
    // produces the index (for the batch side's probes) and the corpus
    // memberships (code-review finding, closed)
    val (index, corpusMembers) = Similarity.ivfIndexAndMembers(corpus, idCol,
      vecCol, nClusters, probes = assignProbes, seed = seed)
    crossPairs(
      Similarity.clusterAssignments(index, batch, idCol, vecCol, assignProbes),
      corpusMembers, threshold)
  }

  // ---------------------------------------------------------------------
  // Persisted semantic index (the sim4/mh1 sketch-as-data pattern): an
  // append-only ingest loop pays the corpus k-means + membership shuffle
  // ONCE at build time; every increment then assigns only the batch
  // (O(batch·nClusters·dim) flops) and joins the STORED memberships of
  // its probed cells — O(batch + touched cells), never O(corpus). This
  // is the production form of [[incrementalPairs]], which trains
  // in-query and is the right call only when corpus and batch arrive
  // together.
  // ---------------------------------------------------------------------

  /** Build and persist the semantic index as a pair of MANAGED tables,
    * `<prefix>_centroids` (centroid_id, centroid) and `<prefix>_members`
    * (vid, v, nrm, cluster — the corpus's `assignProbes`-way overlapping
    * memberships), with the members side BUCKETED BY the cluster id
    * (the [[Similarity.saveIvfIndexBucketed]] layout, applied where it
    * pays most): an ingest loop joins the stored memberships on
    * `cluster` once PER BATCH ([[incrementalPairsFromIndex]] — feed it
    * `spark.table(s"${prefix}_centroids")` / `_members`), and on plain
    * parquet every one of those joins re-shuffles the full membership
    * table — corpus × assignProbes rows CARRYING VECTORS — to co-locate
    * with a batch that is orders of magnitude smaller. The bucketed scan
    * comes back hash-clustered on `cluster`, the corpus-side exchange
    * disappears from every increment, and only the batch memberships
    * shuffle (pinned in `IvfBucketedIndexSpec`). The index is computed
    * before anything is dropped, then published through
    * [[graft.core.IndexTables.publish]]: `_members` is the completeness
    * marker.
    */
  def saveSemanticIndexBucketed(corpus: DataFrame, idCol: String,
                                vecCol: String, nClusters: Int,
                                assignProbes: Int, tablePrefix: String,
                                nBuckets: Int, seed: Long = 42L): Unit = {
    // validated here because the k-means build below runs before publish
    require(assignProbes >= 1, s"assignProbes must be >= 1: $assignProbes")
    require(nBuckets >= 1, s"nBuckets must be positive: $nBuckets")
    graft.core.TableStore.requireTablePrefix(tablePrefix)
    // nClusters <= 0: C ≈ √corpus (the semanticDupPairs auto-size rule)
    val c = if (nClusters > 0) nClusters
            else Similarity.ivfSizing(corpus.count())
    val (index, members) = Similarity.ivfIndexAndMembers(corpus, idCol,
      vecCol, c, probes = assignProbes, seed = seed)
    val sp = corpus.sparkSession
    graft.core.IndexTables.publish(sp, tablePrefix, "sem")(
      "centroids" -> graft.core.IndexTables.single(
        Similarity.centroidFrame(sp, index.centroids)),
      "members" -> graft.core.IndexTables.bucketed(members, nBuckets,
        "cluster"))
  }

  /** [[incrementalPairs]] over the persisted tables — the increment's
    * entry point. By construction this path CANNOT train or score the
    * corpus: it reads the stored centroid matrix (nClusters driver rows,
    * validated like [[Similarity.loadIvfIndex]]) and the stored
    * memberships; only the BATCH is assigned in-plan. The batch's probe
    * count is fixed at build time on the corpus side; `assignProbes`
    * here governs the batch side and should match the build for the
    * documented recall.
    */
  def incrementalPairsFromIndex(centroidsDf: DataFrame, membersDf: DataFrame,
                                batch: DataFrame, idCol: String,
                                vecCol: String, threshold: Double,
                                assignProbes: Int = 2): DataFrame = {
    require(assignProbes >= 1, s"assignProbes must be >= 1: $assignProbes")
    // before the centroid collect+validation in loadIvfIndex below
    Similarity.requireCosineThreshold(threshold)
    val mCols = membersDf.columns.toSet
    require(Set("vid", "v", "nrm", "cluster").subsetOf(mCols),
      s"semantic members table needs (vid, v, nrm, cluster), got " +
        mCols.mkString(","))
    // reuse loadIvfIndex's centroid validation by presenting the members
    // table in its vectors shape (cluster ≙ centroid)
    val index = Similarity.loadIvfIndex(centroidsDf,
      membersDf.select(col("vid"), col("v"), col("nrm"),
        col("cluster").as("centroid")))
    crossPairs(
      Similarity.clusterAssignments(index, batch, idCol, vecCol, assignProbes),
      membersDf, threshold)
  }

  /** Shared verify core: batch memberships × corpus memberships on the
    * cluster id, exact cosine, threshold, self-pair guard, overlap dedup.
    */
  private def crossPairs(batchMembers: DataFrame, corpusMembers: DataFrame,
                         threshold: Double): DataFrame = {
    // membership frames carry nrm: dot-only per cross pair
    val corpusM = corpusMembers
      .select(col("cluster"), col("vid").as("_sd_cid"),
        col("v").as("_sd_cv"), col("nrm").as("_sd_cn"))
    val batchM = batchMembers
      .select(col("cluster"), col("vid").as("_sd_bid"),
        col("v").as("_sd_bv"), col("nrm").as("_sd_bn"))
    batchM.join(corpusM, Seq("cluster"))
      .filter(col("_sd_bid") =!= col("_sd_cid"))
      .withColumn("_sd_cos", Similarity.cosineFromNorms(col("_sd_bv"),
        col("_sd_cv"), col("_sd_bn"), col("_sd_cn")))
      .filter(Similarity.cosineAtLeast(col("_sd_cos"), threshold))
      .select(col("_sd_bid").as("new_id"), col("_sd_cid").as("match_id"),
        col("_sd_cos").cast("decimal(18,4)").as("cosine"))
      .distinct()
  }
}
