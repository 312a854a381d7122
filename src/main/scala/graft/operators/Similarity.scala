package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k (exact, oracle-checkable) with the
  * small query side broadcast so the big corpus never shuffles. Scale path:
  * IVF — a coarse k-means quantizer assigns every vector to a centroid
  * partition and queries probe only the `nProbe` nearest centroids, cutting
  * scanned vectors by ~k/nProbe while keeping recall high.
  *
  * All vector math is the native `DotProduct` expression over the array
  * column — evaluated row-local inside codegen'd stages, no UDF
  * serialization boundary.
  */
object Similarity {

  /** Cast float embedding to double once, for stable downstream math.
    *
    * A plain array cast, NOT `transform(v, _.cast("double"))` (r21,
    * guide §1.2 "per-task work"): higher-order array functions are
    * CodegenFallback — the r20 form evaluated an interpreted Cast
    * per ELEMENT per row through InternalRow wrappers. `Cast` to
    * `array<double>` runs the identical element-wise float→double
    * widening (exact, bit-for-bit, null elements preserved) inside
    * whole-stage codegen.
    */
  def toDouble(v: Column): Column = v.cast("array<double>")

  /** Cosine of two numeric-array columns: [[cosineFromNorms]] over the
    * native kernel, with both norms computed in place. The `cosine_sim`
    * SQL function builds this same expression.
    */
  def cosine(a: Column, b: Column): Column = {
    val (x, y) = (toDouble(a), toDouble(b))
    cosineFromNorms(x, y, l2NormNative(x), l2NormNative(y))
  }

  /** Native codegen'd dot product (`graft.functions.DotProduct`) — the
    * pair-time half of the cosine kernel once norms are precomputed.
    */
  def dotNative(a: Column, b: Column): Column =
    graft.functions.DotProduct.dotProduct(a, b)

  /** ‖v‖ via the native kernel, `sqrt(dot(v,v))` — computed once per
    * vector and fed to [[cosineFromNorms]]. (The declarative
    * `CosineReference.l2Norm` in the specs computes the same fold
    * interpreted per element.)
    */
  def l2NormNative(v: Column): Column = sqrt(dotNative(v, v))

  /** Cosine recomposed from per-vector norms (optimization round 20,
    * guide §1.2 "per-task work"): a pair join over n vectors would
    * recompute each norm n times if the pair kernel accumulated them —
    * two thirds of the kernel FLOPs. With `na`/`nb` = [[l2NormNative]]
    * computed once per vector, only the dot is paid per pair, and the
    * value is bit-identical to the declarative
    * `CosineReference.dot(a,b) / (l2Norm(a) · l2Norm(b))` (same
    * left-fold dot; DotProductSpec pins equality on random +
    * adversarial vectors).
    * Null semantics: a length mismatch or a null element nulls the dot
    * (and the norms), and the zero-denominator guard below returns null
    * on a zero norm without ever dividing by zero (so ANSI cannot raise).
    */
  def cosineFromNorms(a: Column, b: Column, na: Column, nb: Column): Column = {
    val denom = na * nb
    when(denom === 0d, lit(null).cast("double"))
      .otherwise(dotNative(a, b) / denom)
  }

  /** Cosine thresholds live in [-1, 1]; the bound also protects the
    * out-of-range sentinels [[cosineAtLeast]]/[[cosineBelow]] substitute
    * for null (a threshold beyond a sentinel would silently MATCH null
    * cosines — zero-norm vectors becoming "duplicates" or "negatives").
    */
  private[graft] def requireCosineThreshold(t: Double): Unit =
    require(t >= -1 && t <= 1,
      s"threshold must be a cosine in [-1, 1]: $t")

  /** `c >= t` with a null cosine (zero-norm / length-mismatch) failing,
    * expressed so the predicate is NON-NULLABLE: an explicit
    * `c.isNotNull && c >= t` conjunct pushed into a join condition
    * re-runs the O(dim) cosine loop per candidate pair purely to decide
    * null-ness (`UdfRefilterSpec`); `coalesce(c, -2) >= t` drops the
    * same rows with one evaluation. Sentinel −2 is below every cosine,
    * and [[requireCosineThreshold]] pins t inside [-1, 1] so the
    * sentinel can never satisfy the comparison.
    *
    * Edge at t = −1: a defined cosine of an antiparallel pair can
    * round one ulp BELOW −1.0 in the double fold and is then excluded
    * even though its mathematical value is −1 — both engines compute
    * the identical fold, so oracle parity holds, but "admit every
    * defined pair" is NOT expressible as a threshold (t = −1 misses
    * the ulp-below stragglers, and out-of-range sentinels like −2 are
    * rejected by the bound — deliberately, since a below-sentinel
    * threshold would admit NULL cosines as pairs). A caller wanting
    * all defined pairs should filter `c.isNotNull` on the projected
    * cosine COLUMN (after `withColumn` — not inside a join condition,
    * where the refilter above bites) instead of thresholding.
    */
  def cosineAtLeast(c: Column, t: Double): Column = {
    requireCosineThreshold(t)
    coalesce(c, lit(-2d)) >= t
  }

  /** `c < t` with null failing — [[cosineAtLeast]]'s upper-bound dual
    * (sentinel +2, above every cosine).
    */
  def cosineBelow(c: Column, t: Double): Column = {
    requireCosineThreshold(t)
    coalesce(c, lit(2d)) < t
  }

  /** Corpus projection with precomputed norm — norms are computed once per
    * vector, not once per pair.
    */
  private def withNorm(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("vid"), toDouble(col(vecCol)).as("v"))
      .withColumn("nrm", l2NormNative(col("v")))

  /** Exact top-k nearest neighbors (cosine) of each query vector.
    *
    * The query side is broadcast → BroadcastNestedLoopJoin: every corpus
    * partition streams once past the in-memory queries; no corpus shuffle.
    * Ranking is a per-query window with a deterministic id tie-break.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    // norms once per vector, dot-only per pair (see [[cosineFromNorms]])
    val c = corpus.select(col(idCol).as("vid"), toDouble(col(vecCol)).as("v"))
      .withColumn("nrm", l2NormNative(col("v")))
    val q = queries.select(col(idCol).as("qid"), toDouble(col(vecCol)).as("qv"))
      .withColumn("qnrm", l2NormNative(col("qv")))
    val scored = c.join(broadcast(q), col("vid") =!= col("qid"))
      .withColumn("cosine",
        cosineFromNorms(col("v"), col("qv"), col("nrm"), col("qnrm")))
    scored
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("cosine").desc, col("vid"))))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vid").as("neighbor"), col("rank"),
        col("cosine").cast("decimal(18,4)").as("cosine"))
  }

  /** All near-duplicate pairs with cosine ≥ threshold (ids ordered
    * `id_a < id_b`).
    *
    * Exact O(n²) comparison, organized as a distributed block-pair
    * equi-join (triangle scheme): each vector gets a deterministic block
    * `blk = xxhash64(id) mod B`, and both sides replicate to the ordered
    * block-pair keys they participate in (`i·B+j`, i ≤ j — the left side
    * as the smaller block, the right as the larger), so the join runs one
    * task per unordered block pair: B(B+1)/2 uniform tasks, each holding
    * exactly two blocks (~n/B vectors each). Keying on the pair id rather
    * than the partner block keeps parallelism quadratic in B and skew-free
    * (keying on the block alone would cap at B tasks, with the last block
    * doing B× the work of the first). Nothing is collected to the driver —
    * shuffle volume is ~n·(B+1) (id, vector) rows, against a driver-memory
    * ceiling in the old collect+broadcast form. Per-pair math is the
    * codegen'd native dot over norms precomputed per vector
    * ([[cosineFromNorms]]).
    *
    * This is the exact-output variant (every qualifying pair, no
    * probabilistic recall) — the VERIFICATION COMPANION, not the default:
    * for dedup at scale use [[cosineNearDupPairsBanded]] (sub-quadratic,
    * total recall in the near-dup regime, cataloged as
    * `d5b_banded_near_dup`); for low-threshold similarity use [[ivfTopK]].
    * The quadratic block-pair join here exists to oracle-check those
    * paths and for small corpora where exactness at any threshold matters.
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, nBlocks: Int = 16): DataFrame = {
    // pair keys are Int (blk·B+j): B² must stay within Int range — and far
    // smaller B already saturates any cluster (B=4096 → 8.4M uniform tasks)
    require(nBlocks > 0 && nBlocks <= 10000,
      s"nBlocks must be in [1, 10000], got $nBlocks")
    // norms once per vector, dot-only per pair (see [[cosineFromNorms]])
    val c = df.select(col(idCol).cast("long").as("vid"),
      toDouble(col(vecCol)).as("v"))
      .withColumn("nrm", l2NormNative(col("v")))
      .withColumn("blk", pmod(xxhash64(col("vid")), lit(nBlocks)).cast("int"))
    // pair key i·B+j (i ≤ j): a row in block b joins as the i-side of pairs
    // (b, j≥b) and as the j-side of pairs (i≤b, b)
    val left = c
      .withColumn("pk", explode(sequence(
        col("blk") * nBlocks + col("blk"),
        col("blk") * nBlocks + lit(nBlocks - 1))))
      .select(col("vid").as("ida"), col("v").as("va"), col("nrm").as("na"),
        col("blk").as("blk_a"), col("pk"))
    val right = c
      .withColumn("pk", explode(transform(
        sequence(lit(0), col("blk")),
        i => i * nBlocks + col("blk"))))
      .select(col("vid").as("idb"), col("v").as("vb"), col("nrm").as("nb"),
        col("blk").as("blk_b"), col("pk"))
    left.join(right, Seq("pk"))
      // same-block pairs appear twice (x→y and y→x): keep one; cross-block
      // pairs appear once by construction (pair key is ordered i ≤ j)
      .filter(col("blk_a") =!= col("blk_b") || col("ida") < col("idb"))
      .withColumn("cosine",
        cosineFromNorms(col("va"), col("vb"), col("na"), col("nb")))
      .filter(cosineAtLeast(col("cosine"), threshold))
      .select(least(col("ida"), col("idb")).as("id_a"),
        greatest(col("ida"), col("idb")).as("id_b"),
        col("cosine").cast("decimal(18,4)").as("cosine"))
  }

  /** Exact k-nearest-neighbor GRAPH: every vector's top-k cosine
    * neighbors — the substrate of graph-based semantic dedup (SemDeDup
    * prunes within clusters of this graph) and of label propagation over
    * neighborhoods. Exact all-pairs is O(n²) BY CONTRACT (this is the
    * verification companion; the scale path for neighbor queries is
    * [[ivfTopK]]) — but the SHAPE still matters at scale, so the
    * implementation is the [[cosineNearDupPairs]] triangle block-pair
    * join with per-node partial top-k INSIDE each join task: candidates
    * reduce from n² scored pairs to ≤ B·k per node before the global
    * per-node window (the top-k analogue of map-side combine — a global
    * winner must win its own task, so the local slice loses nothing).
    * Join output is co-partitioned by the pair key, so the
    * (node, pair-key) aggregation completes map-side; only B·k survivors
    * per node shuffle to the final window.
    *
    * Ordering matches [[bruteForceTopK]]: cosine desc on FULL-precision
    * doubles, neighbor id asc as the tiebreak; output rounds cosine to
    * DECIMAL(18,4) for engine-stable comparison.
    */
  def knnGraph(df: DataFrame, idCol: String, vecCol: String, k: Int,
               nBlocks: Int = 16): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    require(nBlocks > 0 && nBlocks <= 10000,
      s"nBlocks must be in [1, 10000], got $nBlocks")
    // norms once per vector, dot-only per pair (see [[cosineFromNorms]])
    val c = df.select(col(idCol).cast("long").as("vid"),
      toDouble(col(vecCol)).as("v"))
      .withColumn("nrm", l2NormNative(col("v")))
      .withColumn("blk", pmod(xxhash64(col("vid")), lit(nBlocks)).cast("int"))
    val left = c
      .withColumn("pk", explode(sequence(
        col("blk") * nBlocks + col("blk"),
        col("blk") * nBlocks + lit(nBlocks - 1))))
      .select(col("vid").as("ida"), col("v").as("va"), col("nrm").as("na"),
        col("blk").as("blk_a"), col("pk"))
    val right = c
      .withColumn("pk", explode(transform(
        sequence(lit(0), col("blk")),
        i => i * nBlocks + col("blk"))))
      .select(col("vid").as("idb"), col("v").as("vb"), col("nrm").as("nb"),
        col("blk").as("blk_b"), col("pk"))
    val pairs = left.join(right, Seq("pk"))
      .filter(col("blk_a") =!= col("blk_b") || col("ida") < col("idb"))
      .withColumn("cosine",
        cosineFromNorms(col("va"), col("vb"), col("na"), col("nb")))
      .select(col("ida"), col("idb"), col("cosine"))
    // partial top-k per (join task, node) as an IN-STAGE bounded-heap
    // combiner over the un-exploded pairs (r20, guide §1.2: the r19
    // shape exploded every pair into both directed edges — 2·#pairs rows
    // — and sorted them under a per-(pk,src) row_number window: the sort
    // of those 4M rows was sim5's dominant cost at sf0.1, measured
    // ~2.3 s of 3.4, and an agg-based top-k timed the same). The
    // combiner streams the join output inside the SAME stage (no
    // exchange added — KnnPlanSpec still asserts exactly one exchange
    // beyond the block join), feeding each pair to both endpoints'
    // bounded top-k and emitting ≤ k rows per (task, node). This is a
    // valid partial for the final window: any globally-top-k edge is
    // top-k within the one task that holds its pair, and (cosine, dst)
    // is a TOTAL order per node (dst unique), so the kept set is
    // row-order-independent. Per-task state is O(nodes-in-task · k).
    // Null cosines (zero vectors) are KEPT and ordered below every
    // number, NaN above (Spark's DESC-nulls-last double ordering —
    // [[KnnTopK.better]] reproduces it; −0.0 vs 0.0 cannot arise: a
    // cancelling dot is IEEE +0.0 and an all-negative-zero product
    // vector has zero norm → null). KnnCombinerSpec pins equality with
    // the window form on random + degenerate corpora.
    val sp2 = pairs.sparkSession
    import sp2.implicits._
    val partial = pairs.as[(Long, Long, Option[Double])]
      .mapPartitions(it => KnnTopK.combine(it, k))
      .toDF("src", "dst", "cosine")
    partial
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
          .orderBy(col("cosine").desc, col("dst"))))
      .filter(col("rank") <= k)
      .select(col("src").as("qid"), col("dst").as("neighbor"), col("rank"),
        col("cosine").cast("decimal(18,4)").as("cosine"))
  }

  /** Sub-quadratic NEAR-DUP pairs: random-hyperplane sign bands prefilter
    * the pair space, the native cosine expression verifies candidates —
    * the scale path for [[cosineNearDupPairs]], whose exact block-pair
    * join is O(n²) by construction (measured 89× cost at 10× corpus).
    *
    * Mechanics: `nBits` seeded Gaussian hyperplanes give each vector a
    * sign signature; the bits split into `nBands` bands of r = nBits/nBands
    * bits and a pair becomes a candidate iff it agrees on a whole band.
    * For cosine τ, P(bit agrees) = 1 − arccos(τ)/π and
    * recall = 1 − (1 − p^r)^b.
    *
    * BAND WIDTH IS THE SUB-QUADRATIC LEVER, not a free recall knob: each
    * band has 2^r buckets, and candidate volume is Σ bucketsize² per band
    * — narrow bands (r=4 → 16 buckets) collide ~n/16 vectors per bucket
    * and the "prefilter" degenerates to O(n²) regardless of data
    * (empirically: 4-bit bands timed out at 20k vectors where the exact
    * join takes 79 s). The defaults (64 bits, 4 bands × 16 bits) give 65k
    * buckets per band: candidates stay ~linear for hash-spread
    * signatures. CLUSTERED corpora crowd buckets (similar vectors agree
    * on whole bands by design), so candidate volume grows ~n^1.3 there
    * (sf1 sweep: 5.9× at 4× vectors — below the ~16× quadratic
    * signature, but real); widening bands (more bits per band) trades
    * recall for candidate volume, and for heavily clustered data at
    * scale the IVF family ([[ivfTopK]] / [[knnGraphApprox]]) is the
    * better-behaved path. Recall ≈ 99.8% at cosine 0.999 (true
    * duplicates),
    * ≈ 93% at 0.99, ≈ 30% at τ=0.9, ~0 at τ=0.45. This operator is for DEDUP of
    * true near-duplicates; for low-threshold similarity search use
    * [[ivfTopK]] — sign-LSH cannot cheaply recall low-similarity pairs.
    * Verified pairs are exact: precision 1 vs the all-pairs reference.
    *
    * Scale shape: the band join carries only (band-key, id) rows; vectors
    * join back by id for the verify, so the corpus shuffles once per
    * side, never per candidate. Signature computation is a tight-loop UDF
    * with the (nBits × dim) hyperplane matrix in the closure (~32 KB —
    * ships once per executor).
    */
  def cosineNearDupPairsBanded(df: DataFrame, idCol: String, vecCol: String,
                               threshold: Double, dim: Int,
                               nBits: Int = 64, nBands: Int = 4,
                               seed: Long = 42L): DataFrame = {
    require(nBits % nBands == 0, s"nBands=$nBands must divide nBits=$nBits")
    require(nBits <= 1024, s"nBits=$nBits unreasonably large")
    val r = nBits / nBands
    require(r <= 32, s"band width $r exceeds 32 bits")
    val rnd = new scala.util.Random(seed)
    val planes = Array.fill(nBits, dim)(rnd.nextGaussian())
    val bandUdf = udf { (v: Seq[Double]) =>
      val vv = v.toArray
      // fail loudly on a dim mismatch — silently truncating the signature
      // would quietly degrade recall below the documented figures
      require(vv.length == dim,
        s"cosineNearDupPairsBanded: dim=$dim but vector has ${vv.length}")
      val bands = new Array[Long](nBands)
      var bit = 0
      while (bit < nBits) {
        val p = planes(bit)
        var d = 0.0; var i = 0
        val n = dim
        while (i < n) { d += vv(i) * p(i); i += 1 }
        val band = bit / r
        if (d >= 0) bands(band) |= (1L << (bit % r))
        bit += 1
      }
      // pack the band index into the key so collisions stay within-band
      Array.tabulate(nBands)(b => (b.toLong << 32) | bands(b))
    }
    // norms once per vector, dot-only per verified pair ([[cosineFromNorms]])
    val c = df.select(col(idCol).cast("long").as("vid"),
      toDouble(col(vecCol)).as("v"))
      .withColumn("nrm", l2NormNative(col("v")))
    val banded = c.withColumn("band", explode(bandUdf(col("v"))))
      .select(col("vid"), col("band"))
    val cand = banded.as("a").join(banded.as("b"), "band")
      .filter(col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("id_a"), col("b.vid").as("id_b"))
      .distinct()
    cand
      .join(c.select(col("vid").as("id_a"), col("v").as("va"),
        col("nrm").as("na")), "id_a")
      .join(c.select(col("vid").as("id_b"), col("v").as("vb"),
        col("nrm").as("nb")), "id_b")
      .withColumn("cosine",
        cosineFromNorms(col("va"), col("vb"), col("na"), col("nb")))
      .filter(cosineAtLeast(col("cosine"), threshold))
      .select(col("id_a"), col("id_b"),
        col("cosine").cast("decimal(18,4)").as("cosine"))
  }

  /** The C ≈ √n IVF sizing rule as a named function: with C = √n cells,
    * E|cell| = √n, so within-cell pairwise work is Σ|cell|² ≈ n·√n
    * (sub-quadratic) and a probe scan touches ~nProbe·√n vectors. This
    * is the "nClusters ∝ corpus size" lever the [[SemanticDedup]] and
    * [[knnGraphApprox]] scaladocs reason about, made callable so
    * production jobs size from a cheap `count()` instead of hard-coding
    * a cell count that silently re-creates the quadratic as the corpus
    * grows. Floor 16 keeps tiny corpora from degenerate 1-2 cell
    * layouts. The rule stays TRAINABLE at any n: the index build floors
    * its k-means sample at 4·C (see [[ivfIndexAndMembers]]), so a
    * C = √(1e9) ≈ 3.2·10^4 auto-size trains on a ~126k-point sample in
    * driver memory instead of crashing the fixed-sample trainer — the
    * pre-round-15 behavior past n ≈ 1e8.
    */
  def ivfSizing(corpusRows: Long): Int =
    math.max(16, math.ceil(math.sqrt(corpusRows.toDouble)).toInt)

  /** IVF index: assign every vector to its nearest of `nCentroids` k-means
    * centroids (trained with a fixed seed on a bounded sample — driver holds
    * only the centroid matrix, never the corpus).
    */
  def ivfIndex(df: DataFrame, idCol: String, vecCol: String,
               nCentroids: Int, seed: Long = 42L,
               sampleSize: Int = 10000): IvfIndex =
    ivfIndexAndMembers(df, idCol, vecCol, nCentroids, probes = 1, seed,
      sampleSize)._1

  /** [[ivfIndex]] plus the corpus's `probes`-way overlapping memberships
    * from the SAME assignment pass: `assign` at p ≥ 1 yields c0..c(p-1)
    * where c0 is exactly the Voronoi cell the index stores — so a caller
    * that needs both (cluster-local pairwise work over overlapping cells,
    * [[SemanticDedup]]) pays the O(n·k·dim) centroid scoring once, not
    * once per consumer.
    */
  def ivfIndexAndMembers(df: DataFrame, idCol: String, vecCol: String,
                         nCentroids: Int, probes: Int, seed: Long = 42L,
                         sampleSize: Int = 10000): (IvfIndex, DataFrame) = {
    require(probes >= 1, s"probes must be >= 1: $probes")
    val c = withNorm(df, idCol, vecCol)
    // SELF-CONSISTENT sample sizing (round 15): the C ≈ √n auto-size rule
    // outgrows a fixed sample — at n > 1e8 rows, ivfSizing asks for more
    // centroids than the 10k default sample HAS points, and trainKMeans's
    // require turned the advertised production path into a cryptic crash
    // (quality had already degraded below ~10 points/centroid past n ≈
    // 1e6). The sample now floors at 4·C — training stays DEFINED at any
    // corpus size the caller's C implies; at every catalog/spec scale
    // (C ≤ a few hundred) the floor is inactive and the sample, the
    // trained centroids, and every downstream hash are byte-identical to
    // the fixed-10k form. 4 points/cell is the definedness floor, not a
    // quality target: callers wanting FAISS-grade training pass
    // sampleSize ≈ 30–40 · C explicitly. Driver budget at the floor:
    // memory 4·C·dim·8 B of primitive arrays (C = 10^5, dim 64 →
    // ~205 MB) — real because the typed collect below deserializes each
    // row straight to a primitive Array[Double] (one bulk toDoubleArray);
    // the earlier Row-collect held a boxed Seq[Double] per row first,
    // a transient 3-5× of the primitive estimate at exactly the large-C
    // floor this sizing exists for (review-caught). Flops:
    // iters·4C·C·dim across all driver cores (the trainer's assignment
    // step parallelizes; see trainKMeans).
    val effectiveSample = math.max(sampleSize, 4 * nCentroids)
    // deterministic sample: un-ordered limit() picks whichever partitions
    // answer first, so the trained centroids (and every IVF result) would
    // vary run to run; ordering by a hash of the id is a seeded uniform
    // draw with a stable outcome
    val sp = df.sparkSession
    import sp.implicits._
    val sample = c.select(col("v"), col("vid"))
      .orderBy(xxhash64(col("vid"), lit(seed)), col("vid"))
      .limit(effectiveSample).select("v").as[Array[Double]].collect()
    val centroids = trainKMeans(sample, nCentroids, iters = 10, seed = seed)
    val assigned = assign(c, centroids, probes)
    val index = IvfIndex(assigned.select(
      col("vid"), col("v"), col("nrm"), col("c0").as("centroid")), centroids)
    val members = assigned.select(col("vid"), col("v"), col("nrm"),
      explode(array((0 until probes).map(i => col(s"c$i")): _*))
        .as("cluster"))
    (index, members)
  }

  /** Driver-local seeded Lloyd's iterations on the bounded training sample.
    * The sample is already in driver memory (≤ sampleSize vectors by
    * construction), so training it locally costs
    * O(iters·|sample|·k·dim) flops (~100M at the defaults — milliseconds)
    * and ZERO Spark jobs, where an RDD-based trainer pays a full job per
    * iteration just to ship 10k rows around. A coarse quantizer doesn't
    * need distributed training — recall is governed by nProbe, and only
    * the centroid matrix leaves the driver.
    */
  private[operators] def trainKMeans(points: Array[Array[Double]], k: Int,
                                     iters: Int, seed: Long)
      : Array[Array[Double]] = {
    require(points.length >= k,
      s"k-means needs at least k=$k sample vectors, got ${points.length}")
    val dim = points.head.length
    val rnd = new scala.util.Random(seed)
    var centroids: Array[Array[Double]] =
      rnd.shuffle(points.indices.toVector).take(k).map(i => points(i).clone).toArray
    // Per-iteration split (round 15): the O(|sample|·k·dim) ASSIGNMENT is
    // pure per-point work, so it runs data-parallel across driver cores
    // (IntStream.parallel writing each point's winner to its own slot —
    // deterministic regardless of scheduling); the SUMMATION then
    // accumulates sequentially in point order, so double-addition order —
    // and therefore every trained centroid — is BIT-IDENTICAL to the old
    // single-threaded loop (the semd-family oracles pin exact pair sets,
    // so training must not drift). This is what makes the 4·C sample
    // floor above affordable — MEASURED (SCALE_SF1.md §Round-16, 32-core
    // driver, dim 64, 10 iters, ~170 GFLOP/s sustained): C = 10^4 floor
    // sample trains in 5.8 s; C = √(1e9) ≈ 3.2·10^4 — the auto-sizing's
    // shape at a billion-row corpus — in 61 s; a quality caller's 32·C
    // sample at C = 10^4 in 52 s, which extrapolates (cost is linear in
    // sample × C) to ~8 min at C = 3.2·10^4. The practical ceiling of
    // this DRIVER-LOCAL trainer is around C ≈ 10^5: the floor sample is
    // still ~10 min there, but a 30–40·C quality sample crosses into
    // hour-class — a caller needing BOTH that C and that sample quality
    // should cap C and raise nProbe instead (recall is governed by
    // nProbe), or accept the one-time build cost against a stored index
    // ([[saveIvfIndexBucketed]]), where it amortizes across every later query.
    val best = new Array[Int](points.length)
    for (_ <- 0 until iters) {
      val cents = centroids
      java.util.stream.IntStream.range(0, points.length).parallel()
        .forEach { pi =>
          val p = points(pi)
          var b = 0; var bestD = Double.MaxValue
          var ci = 0
          while (ci < k) {
            val cc = cents(ci)
            var d = 0.0; var i = 0
            while (i < dim) { val t = p(i) - cc(i); d += t * t; i += 1 }
            if (d < bestD) { bestD = d; b = ci }
            ci += 1
          }
          best(pi) = b
        }
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      var pi = 0
      while (pi < points.length) {
        val p = points(pi); val s = sums(best(pi))
        var i = 0
        while (i < dim) { s(i) += p(i); i += 1 }
        counts(best(pi)) += 1
        pi += 1
      }
      centroids = Array.tabulate(k) { ci =>
        if (counts(ci) == 0) centroids(ci) // empty cluster keeps its centroid
        else Array.tabulate(dim)(i => sums(ci)(i) / counts(ci))
      }
    }
    centroids
  }

  /** Nearest-`p` centroid ids (by squared L2, index tie-break) as columns
    * c0..c(p-1). Tight-loop UDF reading the centroid matrix from an
    * explicit broadcast (ships once per executor; see the task-binary
    * note in the body).
    *
    * The c_i columns must come out NON-NULLABLE: they become join keys
    * (`centroid`/`probe`/`cluster`), and a nullable key makes constraint
    * propagation re-run this UDF — the O(C·dim) centroid scan, the
    * operator's dominant per-row cost — as an `isnotnull` DATA FILTER at
    * the embeddings scan (caught by UdfRefilterSpec on sim2/sim5b/ctr2).
    * asNonNullable declares the UDF's own guarantee (always exactly p
    * elements); the coalesce makes the per-element EXTRACTION
    * non-nullable too, because element_at is nullable by type whenever
    * the optimizer can't prove the ordinal in bounds — its -1 branch is
    * unreachable by construction.
    */
  private def assign(vecs: DataFrame, centroids: Array[Array[Double]],
                     p: Int): DataFrame = {
    // The centroid matrix rides an EXPLICIT broadcast, not the UDF
    // closure: a closure-captured matrix is serialized into the task
    // binary and re-shipped once per STAGE that touches the index —
    // at the C ≈ √n auto-sizing on a 1e9-row corpus that is a
    // √(1e9)·dim·8 B ≈ 16 MB task binary for every probe/build
    // stage, where the broadcast ships once per EXECUTOR (torrent) and
    // the task binary carries only the handle. Identical results and
    // plan shape; at spec scale (C ≤ a few hundred, ≈130 KB) the
    // difference is invisible, which is why this is reasoned from the
    // 100 TB posture rather than measured locally.
    val bc = vecs.sparkSession.sparkContext.broadcast(centroids)
    // Hot-loop shape (round 15, measured in SCALE_SF1.md §Round-15): this UDF
    // is the dominant per-row cost of every IVF family, so its inner loop
    // must be allocation-free primitive math. The parameter is
    // Array[Double] — Spark deserializes ArrayType(DOUBLE) to a primitive
    // array with one bulk toDoubleArray, where a Seq[Double] parameter
    // pays a virtual apply() per ELEMENT inside the C·dim distance loop.
    // Top-p selection is an insertion into two p-length arrays instead of
    // the previous build-C-tuples + full sortBy: ordering is (distance,
    // index) ascending exactly as the sort had it — the strict `<` at the
    // boundary and strict `>` in the shift keep the earlier centroid on
    // equal distance, and ascending ci iteration preserves index order
    // among ties, so outputs are bit-identical to the sorted form
    // (equivalence frozen in SimilaritySpec's recall/parity tests and the
    // oracle catalog). One deliberate divergence in a poisoned-input
    // corner — NON-FINITE distances, both flavors: a NaN distance
    // (NaN coordinates) compares false against every bound, and a
    // +Infinity distance (finite coordinates of extreme magnitude whose
    // squared distance overflows past ~1.3e154) never passes
    // `d < bestD(p-1)` against the Double.MaxValue init — so a vector
    // whose EVERY distance is non-finite now emits the -1 sentinel for
    // its unfilled probes, where the old full sort handed the all-NaN
    // vector centroids 0..p-1 (java Double ordering, NaN last) and the
    // all-Infinity vector the first p centroid ids (all +Inf tie, index
    // order). Strictly better in both flavors: a poisoned vector lands
    // in the sentinel cell — where it can still meet OTHER poisoned
    // vectors in the probe joins (probe -1 = home cell -1), a readable
    // quarantine — instead of silently crowding cell 0 and inflating
    // its candidate volume. Selection among FINITE distances is
    // identical to the sort (it also placed Inf/NaN after every finite
    // distance); the divergence is confined to probe slots no finite
    // centroid fills — those emit -1 where the sort padded with
    // centroids whose distance was Inf/NaN — pinned in SimilaritySpec's
    // non-finite assignment test.
    val assignUdf = udf { (v: Array[Double]) =>
      val cm = bc.value
      val bestD = Array.fill(p)(Double.MaxValue)
      val bestI = Array.fill(p)(-1)
      var ci = 0
      while (ci < cm.length) {
        val c = cm(ci)
        var d = 0.0
        var i = 0
        while (i < c.length) { val t = v(i) - c(i); d += t * t; i += 1 }
        if (d < bestD(p - 1)) {
          var j = p - 1
          while (j > 0 && bestD(j - 1) > d) {
            bestD(j) = bestD(j - 1); bestI(j) = bestI(j - 1); j -= 1
          }
          bestD(j) = d; bestI(j) = ci
        }
        ci += 1
      }
      bestI
    }.asNonNullable()
    val probes = (0 until p).map(i =>
      coalesce(element_at(col("_probes"), i + 1), lit(-1)).as(s"c$i"))
    vecs.withColumn("_probes", assignUdf(col("v")))
      .select(col("vid") +: col("v") +: col("nrm") +: probes: _*)
  }

  /** Shared IVF probe stage: every (query, probed-bucket vector) pair with
    * its raw-double cosine — a corpus vector meets a query at most once
    * (it lives in exactly one centroid bucket). [[ivfTopK]] ranks this;
    * [[contrastivePairs]]'s IVF negative path filters it by threshold
    * first — same scan, different consumers. Returns the scored frame
    * plus whether the query side was broadcast, so ranking consumers can
    * pick the shape-matched top-k scheme.
    *
    * JOIN ROUTING (round 16 — this was the one API-level scale-killer
    * left): the query side used to carry an UNCONDITIONAL broadcast
    * hint — right for the bounded query slices every catalog entry
    * ships, fatal when a caller's query side is corpus-sized (batch
    * inference: 10M queries × dim 64 ≈ 5 GB after the nProbe explode —
    * executor OOM from the hint, while the frame-identical equi-join in
    * [[knnGraphApprox]] handles the same shape with one int-key shuffle
    * per side). The route is now SIZED: `broadcastQueries` forces either
    * shape; `None` (default) estimates the exploded payload from one
    * `count()` of the query side — a driver-cheap aggregation — and
    * broadcasts only at or under [[Broadcasts.QueryBroadcastBudgetBytes]].
    * Results are hash-identical either way (same join predicate, same
    * cosine; pinned in `IvfRoutePlanSpec`); only the physical exchange
    * differs.
    *
    * ROUTE-COUNT COST (the one eager job the auto route can pay): with
    * `broadcastQueries = None` the size estimate first asks Catalyst for
    * a PROVEN row bound ([[Broadcasts.provenMaxRows]] — limits, ranges,
    * local relations); a bound at or under the budget broadcasts with
    * NO job at plan-construction time, so `.limit(n)`-shaped loop
    * callers stay fully lazy on the default route. Only when no bound
    * is provable (a filter over the corpus, anything past a generator)
    * does the route run `queries.count()` — one narrow aggregation, but
    * it re-executes the query frame's upstream plan once per call, so
    * (a) a loop over many UNPROVABLE bounded slices should pass
    * `broadcastQueries = Some(true)`, and (b) a NONDETERMINISTIC query
    * frame (an un-persisted `sample()`) should force a route
    * explicitly — the counted rows and the joined rows are different
    * draws, and only the route choice (never correctness) depends on
    * the count. `knownQueryRows` lets a caller that already counted
    * (e.g. [[contrastivePairs]]'s anchor gate) share that number
    * instead of paying a second job. Measured: SCALE_SF1.md §Round-17
    * and §Round-18.
    */
  private def ivfScored(index: IvfIndex, queries: DataFrame, idCol: String,
                        vecCol: String, nProbe: Int,
                        broadcastQueries: Option[Boolean] = None,
                        knownQueryRows: Option[Long] = None)
      : (DataFrame, Boolean) = {
    val q0 = withNorm(queries, idCol, vecCol)
    val q = assign(q0, index.centroids, nProbe)
      .select(col("vid").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"),
        explode(array((0 until nProbe).map(i => col(s"c$i")): _*))
          .as("probe"))
    // lazy: a forced route, or a proven row bound that fits, never counts
    lazy val qRows = knownQueryRows.getOrElse(queries.count())
    // per exploded row: dim doubles (the query vector, duplicated per
    // probe in the hashed relation) + qid/nrm/probe + array header —
    // a deliberate overestimate, erring toward the shuffle
    val perRow = index.centroids.head.length * 8L + 64L
    val viaBroadcast = broadcastQueries.getOrElse {
      // proven-bound fast path first (no job), eager count only past it;
      // || short-circuits so the count is never paid when the bound
      // fits. nProbe folds into bytes/row so a huge proven bound cannot
      // overflow the rows side.
      Broadcasts.provenMaxRows(queries)
        .exists(r => Broadcasts.fitsBudget(r, perRow * nProbe)) ||
        Broadcasts.fitsBudget(qRows, perRow * nProbe)
    }
    val scored = index.vectors
      .join(if (viaBroadcast) broadcast(q) else q,
        col("centroid") === col("probe") && col("vid") =!= col("qid"))
      // corpus norms ride the index, query norms the probe frame —
      // dot-only per candidate (see [[cosineFromNorms]])
      .withColumn("cosine",
        cosineFromNorms(col("v"), col("qv"), col("nrm"), col("qnrm")))
    (scored, viaBroadcast)
  }

  /** Per-vector cluster memberships under an index's coarse quantizer:
    * each row of `df` exploded to its `probes` nearest centroids as
    * (vid, v, nrm, cluster) — one output row per membership. `probes=1`
    * is the plain Voronoi partition (each vector in exactly one cluster);
    * `probes>1` gives overlapping clusters, the standard
    * boundary-robustness trick for cluster-local pairwise work
    * ([[SemanticDedup]]): two vectors that straddle a Voronoi boundary
    * still co-occur in a cluster unless ALL `probes` nearest centroids
    * differ. Cost is linear in `probes` (membership rows, not pairs).
    */
  def clusterAssignments(index: IvfIndex, df: DataFrame, idCol: String,
                         vecCol: String, probes: Int): DataFrame =
    assign(withNorm(df, idCol, vecCol), index.centroids, probes)
      .select(col("vid"), col("v"), col("nrm"),
        explode(array((0 until probes).map(i => col(s"c$i")): _*))
          .as("cluster"))

  /** Approximate top-k via IVF: queries probe their `nProbe` nearest
    * centroid partitions only; within the probed buckets ranking is exact.
    * Scanned-vector count drops from n to ~n·nProbe/nCentroids.
    *
    * The probe join routes by query-side size (see [[ivfScored]]): a
    * bounded query slice broadcasts and the corpus never shuffles — the
    * plan every catalog entry keeps, byte-identical to the pre-gate form;
    * a corpus-scale query side (batch inference) takes the shuffled
    * equi-join, and the ranking adds [[knnGraphApprox]]'s two-stage
    * top-k on that path only — the join output is already
    * hash-partitioned by the probe key, so the per-(bucket, query)
    * partial window is exchange-free and only ≤ nProbe·k survivors per
    * query shuffle to the final per-query window (lossless: a global
    * winner must win its own bucket).
    *
    * @param broadcastQueries force the probe join's query side on
    *   (`Some(true)`) or off (`Some(false)`) the broadcast; `None`
    *   (default) sizes it against [[Broadcasts.QueryBroadcastBudgetBytes]].
    *   Results are hash-identical either way.
    */
  def ivfTopK(index: IvfIndex, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nProbe: Int,
              broadcastQueries: Option[Boolean] = None): DataFrame = {
    val (scored, viaBroadcast) = ivfScored(index, queries, idCol, vecCol,
      nProbe, broadcastQueries)
    val ranked =
      if (viaBroadcast) scored
      else scored
        .withColumn("lr", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("probe"), col("qid"))
            .orderBy(col("cosine").desc, col("vid"))))
        .filter(col("lr") <= k)
    ranked
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("cosine").desc, col("vid"))))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vid").as("neighbor"), col("rank"),
        col("cosine").cast("decimal(18,4)").as("cosine"))
  }

  /** APPROXIMATE k-NN graph — the scale path for [[knnGraph]], whose
    * exact triangle join is O(n²) by contract. Semantics: every corpus
    * vector is a query into the IVF index ([[ivfTopK]] with
    * queries = corpus), so per-node results are frame-identical to what
    * `ivfTopK(index, corpus, …)` would return — and since round 16
    * `ivfTopK` itself ROUTES to this build's join shape past the
    * query-side broadcast budget (see [[ivfScored]]): the graph build is
    * the EQUI-JOIN form stated directly — each vector's `nProbe` probe
    * memberships against each vector's single home bucket, both sides
    * shuffled once on a small int key, nothing collected or broadcast
    * beyond the centroid matrix (KB-class, explicit broadcast). This
    * entry point skips the route's query-side count: queries = corpus
    * by construction, never broadcastable.
    *
    * Candidate volume is Σ_c |probe-members(c)|·|home(c)| ≈
    * n²·nProbe/C for C centroids — sub-quadratic by the C knob: size
    * C ≈ √n (standard IVF practice) and candidates ≈ n^1.5·nProbe.
    * Cost/recall trade is [[ivfTopK]]'s: recall governed by nProbe, per
    * the sim2 calibration.
    *
    * Two-stage top-k (the [[knnGraph]] scheme): the join output is
    * hash-partitioned by the probe/centroid key, which satisfies
    * ClusteredDistribution(probe, qid) — so the per-(bucket, node)
    * partial top-k window adds only a local sort, no exchange; a global
    * winner must win its own bucket, so the slice loses nothing. Only
    * ≤ nProbe·k survivors per node shuffle to the final per-node window.
    * Ordering matches [[ivfTopK]]: full-precision cosine desc, neighbor
    * id asc tie-break; DECIMAL(18,4) on output only.
    */
  def knnGraphApprox(index: IvfIndex, k: Int, nProbe: Int): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    require(nProbe >= 1, s"nProbe must be positive: $nProbe")
    val q = assign(index.vectors.select(col("vid"), col("v"), col("nrm")),
      index.centroids, nProbe)
      .select(col("vid").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"),
        explode(array((0 until nProbe).map(i => col(s"c$i")): _*))
          .as("probe"))
    val scored = index.vectors
      .select(col("vid"), col("v"), col("nrm"), col("centroid"))
      .join(q, col("centroid") === col("probe") && col("vid") =!= col("qid"))
      .withColumn("cosine",
        cosineFromNorms(col("v"), col("qv"), col("nrm"), col("qnrm")))
    val localW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe"), col("qid"))
      .orderBy(col("cosine").desc, col("vid"))
    scored
      .withColumn("lr", row_number().over(localW))
      .filter(col("lr") <= k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("cosine").desc, col("vid"))))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vid").as("neighbor"), col("rank"),
        col("cosine").cast("decimal(18,4)").as("cosine"))
  }

  // ---------------------------------------------------------------------
  // Persisted IVF index (the mh1 sketch-as-data pattern for ANN): the
  // centroid matrix and the assigned corpus are exactly as persistable as
  // MinHash signatures. Build once per corpus generation, write both
  // tables, and every later query/increment probes the STORED index —
  // no k-means pass, no corpus re-assignment. At 100 TB the build is the
  // one-time cost; the increments are ~nProbe/nCentroids scans.
  // ---------------------------------------------------------------------

  /** The (centroid_id, centroid) table form of a centroid matrix. */
  private[graft] def centroidFrame(sp: org.apache.spark.sql.SparkSession,
                                   centroids: Array[Array[Double]]): DataFrame = {
    import sp.implicits._
    centroids.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toDF("centroid_id", "centroid")
  }

  /** Persist an index as a pair of MANAGED tables, `<prefix>_centroids`
    * (centroid_id, centroid) and `<prefix>_vectors` (vid, v, nrm,
    * centroid), with the vectors side BUCKETED BY the centroid id — the
    * storage-layout complement of the round-16 probe-join route. Every
    * repeated consumer of a stored index joins the corpus on `centroid`
    * (the equi-join route of [[ivfScored]] past the broadcast budget,
    * every [[knnGraphApprox]] build), and on a plain parquet index each
    * of those joins SHUFFLES THE CORPUS on that key — at 10⁹ rows × dim
    * 64 that is a ~0.5 TB exchange per run, paid every run, for a table
    * whose join key never changes between rebuilds. Bucketing the stored
    * table by `centroid` moves that exchange into the ONE-TIME build
    * write: scans come back hash-clustered on the join key, Spark elides
    * the corpus-side exchange, and only the (narrow, per-run)
    * query/probe side shuffles — the same "pay the layout once, ride it
    * every run" economics as the stored LSH index and the z-order
    * layouts. `nBuckets` should be sized like shuffle partitions at the
    * target scale (enough for parallelism, few enough that a bucket's
    * cells fit a task); it need not equal the centroid count. Published
    * through [[graft.core.IndexTables.publish]]: `_vectors` is the
    * completeness marker.
    */
  def saveIvfIndexBucketed(index: IvfIndex, tablePrefix: String,
                           nBuckets: Int): Unit = {
    val sp = index.vectors.sparkSession
    graft.core.IndexTables.publish(sp, tablePrefix, "ivf")(
      "centroids" -> graft.core.IndexTables.single(
        centroidFrame(sp, index.centroids)),
      "vectors" -> graft.core.IndexTables.bucketed(index.vectors, nBuckets,
        "centroid"))
  }

  /** Rebuild an [[IvfIndex]] from its persisted tables. The only driver
    * materialization is the centroid table (nCentroids rows — the same
    * bounded state the build holds); the corpus side stays a lazy scan.
    * Loud validation instead of silent wrong answers (the rule
    * `TextDedup.crossLshPairsFromBandedIndex` applies to its stored
    * meta): the table shapes, the dense 0..k-1
    * centroid-id space the assignment key joins on, and rectangular
    * centroid dims are all checked.
    */
  def loadIvfIndex(centroidsDf: DataFrame, vectorsDf: DataFrame): IvfIndex = {
    val vCols = vectorsDf.columns.toSet
    require(Set("vid", "v", "nrm", "centroid").subsetOf(vCols),
      s"ivf vectors table needs (vid, v, nrm, centroid), got ${vCols.mkString(",")}")
    require(centroidsDf.columns.toSet == Set("centroid_id", "centroid"),
      s"ivf centroid table needs (centroid_id, centroid), got " +
        centroidsDf.columns.mkString(","))
    val rows = centroidsDf.select(col("centroid_id"), col("centroid"))
      .orderBy(col("centroid_id")).collect()
    require(rows.nonEmpty, "ivf centroid table is empty")
    rows.zipWithIndex.foreach { case (r, i) =>
      require(r.getInt(0) == i,
        s"ivf centroid ids must be dense 0..k-1: expected $i, got ${r.getInt(0)}") }
    val cm = rows.map(_.getSeq[Double](1).toArray)
    require(cm.map(_.length).distinct.length == 1,
      s"ragged centroid dims: ${cm.map(_.length).distinct.mkString(",")}")
    IvfIndex(
      vectorsDf.select(col("vid"), col("v"), col("nrm"), col("centroid")), cm)
  }

  /** [[ivfTopK]] over the persisted tables — the increment's entry point.
    * By construction this path CANNOT train: it only reads the stored
    * centroid matrix and the stored assignments.
    */
  def ivfTopKFromIndex(centroidsDf: DataFrame, vectorsDf: DataFrame,
                       queries: DataFrame, idCol: String, vecCol: String,
                       k: Int, nProbe: Int,
                       broadcastQueries: Option[Boolean] = None): DataFrame =
    ivfTopK(loadIvfIndex(centroidsDf, vectorsDf), queries, idCol, vecCol,
      k, nProbe, broadcastQueries)

  /** CONTRASTIVE training-pair assembly — the pair-mining step of an
    * embedding-model pipeline, composed from the two similarity families:
    * POSITIVES are the exact near-duplicate pairs touching an anchor
    * (banded sign-LSH + exact verify — [[cosineNearDupPairsBanded]]
    * semantics at `threshold`), HARD NEGATIVES are each anchor's top-k
    * most-similar vectors that are NOT near-dups (cosine < `threshold`) —
    * similar enough to be hard, dissimilar enough to be true negatives.
    *
    * Output: (anchor, other, pair_type ∈ 'positive'|'negative').
    *
    * Shape at scale: positives ride the banded path (sub-quadratic,
    * band-key shuffles); the negative side is pluggable via `negativesVia`
    * — [[NegativesBruteForce]] (default) broadcasts the anchor slice and
    * streams the corpus once (the [[bruteForceTopK]] posture, exact, right
    * for bounded anchor sets); [[NegativesIvf]] probes an IVF index built
    * over the corpus (the [[ivfTopK]] posture, ~nProbe/nCentroids of the
    * scan per anchor, right for large anchor sets — recall governed by the
    * probe count, the sim2 calibration). Identical output columns either
    * way. Ranking determinism: raw-double cosine order with the id
    * tie-break, the sim1 rank-parity argument.
    */
  def contrastivePairs(df: DataFrame, idCol: String, vecCol: String,
                       anchors: DataFrame, k: Int, threshold: Double,
                       dim: Int,
                       negativesVia: NegativeMining = NegativesBruteForce)
      : DataFrame = {
    requireCosineThreshold(threshold)
    val pairs = cosineNearDupPairsBanded(df, idCol, vecCol, threshold, dim)
    // The positives side semi-joins the banded pair stream against the
    // anchor IDS — long keys only, so even huge anchor sets broadcast
    // cheaply, but "cheaply" has an edge too: [[NegativesIvf]] exists
    // precisely for anchor sets too large to broadcast WITH their
    // vectors, and a 100M-anchor mining job would ship ~3 GB of hashed
    // ids to every executor from an unconditional hint. Same cure as
    // the ivfScored route (round 16): size the hint from one anchor
    // count (32 B ≈ a hashed long row), shuffle past the budget. The
    // brute-force negative path's broadcast below is NOT gated — its
    // join is non-equi (`vid =!= anchor`), where dropping the hint
    // degrades to a cartesian, and its bounded-anchor contract is the
    // documented reason NegativesIvf exists.
    // counted ONCE per call: the id-hint gate here and the IVF paths'
    // route below share this number via knownQueryRows (the
    // anchors frame IS ivfScored's query frame), so negative mining
    // never re-executes the anchor plan for a second estimate
    val aRows = anchors.count()
    val aIds = Broadcasts.sizedBroadcast(
      anchors.select(col(idCol).cast("long").as("_cp_aid")),
      aRows, bytesPerRow = 32L)
    val posA = pairs.join(aIds, col("id_a") === col("_cp_aid"))
      .select(col("id_a").as("anchor"), col("id_b").as("other"))
    val posB = pairs.join(aIds, col("id_b") === col("_cp_aid"))
      .select(col("id_b").as("anchor"), col("id_a").as("other"))
    val pos = posA.unionByName(posB)
      .select(col("anchor"), col("other"), lit("positive").as("pair_type"))
    val scored = negativesVia match {
      case NegativesBruteForce =>
        val c = df.select(col(idCol).cast("long").as("vid"),
          toDouble(col(vecCol)).as("v"))
          .withColumn("nrm", l2NormNative(col("v")))
        val q = anchors.select(col(idCol).cast("long").as("anchor"),
          toDouble(col(vecCol)).as("qv"))
          .withColumn("qnrm", l2NormNative(col("qv")))
        c.join(broadcast(q), col("vid") =!= col("anchor"))
          .select(col("anchor"), col("vid"),
            cosineFromNorms(col("v"), col("qv"), col("nrm"), col("qnrm"))
              .as("_cp_cos"))
      case NegativesIvf(nCentroids, nProbe, seed) =>
        val index = ivfIndex(df, idCol, vecCol, nCentroids, seed)
        ivfScored(index, anchors, idCol, vecCol, nProbe,
          knownQueryRows = Some(aRows))._1
          .select(col("qid").as("anchor"), col("vid"),
            col("cosine").as("_cp_cos"))
      case NegativesFromIndex(centroidsDf, vectorsDf, nProbe) =>
        ivfScored(loadIvfIndex(centroidsDf, vectorsDf), anchors, idCol,
          vecCol, nProbe, knownQueryRows = Some(aRows))._1
          .select(col("qid").as("anchor"), col("vid"),
            col("cosine").as("_cp_cos"))
    }
    val neg = scored
      // null cosine = zero-norm vector (see d5 note): excluded, as is
      // everything at/above the near-dup threshold
      .filter(cosineBelow(col("_cp_cos"), threshold))
      .withColumn("_cp_rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("anchor"))
          .orderBy(col("_cp_cos").desc, col("vid"))))
      .filter(col("_cp_rn") <= k)
      .select(col("anchor"), col("vid").as("other"),
        lit("negative").as("pair_type"))
    pos.unionByName(neg)
  }
}

/** How [[Similarity.contrastivePairs]] mines its hard negatives. */
sealed trait NegativeMining

/** Broadcast the anchors, stream the corpus once — exact; the right shape
  * while the anchor set fits a broadcast.
  */
case object NegativesBruteForce extends NegativeMining

/** Probe an IVF index (trained on the corpus with `seed`): each anchor
  * scans only its `nProbe` nearest of `nCentroids` buckets — the scale
  * shape for large anchor sets, with [[Similarity.ivfTopK]]'s recall
  * characteristics.
  *
  * COST MODEL: the index trains IN-QUERY. That is the intended cost when
  * pair mining is what it usually is — a one-shot assembly job per corpus
  * snapshot, where the single build amortizes across every anchor of the
  * job and persisting it would only add I/O. A mining loop that re-runs
  * against a stable corpus should build once ([[Similarity.saveIvfIndexBucketed]])
  * and mine with [[NegativesFromIndex]], which cannot train by
  * construction.
  */
final case class NegativesIvf(nCentroids: Int, nProbe: Int,
                              seed: Long = 42L)
    extends NegativeMining

/** Probe a PERSISTED IVF index (the [[Similarity.saveIvfIndexBucketed]] tables):
  * the repeated-mining form of [[NegativesIvf]] — reads the stored
  * centroid matrix and assignments, trains nothing.
  */
final case class NegativesFromIndex(centroidsDf: DataFrame,
                                    vectorsDf: DataFrame,
                                    nProbe: Int)
    extends NegativeMining

/** Vectors tagged with their centroid partition + the centroid matrix. */
final case class IvfIndex(vectors: DataFrame, centroids: Array[Array[Double]])
