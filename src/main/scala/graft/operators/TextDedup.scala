package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document-deduplication operators for large-scale training-data pipelines.
  *
  * All variants are expressed as declarative DataFrame plans (explode +
  * hash-join + hash-agg — every stage partial-aggregates and shuffles only
  * compact keys), so they scale horizontally: nothing is collected to the
  * driver and no operator holds a full document set in one task.
  *
  *  - exact:      hash-groupBy on a text digest (shuffles 32-byte digests,
  *                never full documents)
  *  - n-gram:     exact Jaccard over shingle sets via an inverted-index
  *                self-join (candidates bounded by shared shingles)
  *  - MinHash:    k-permutation signatures + banded LSH bucket join,
  *                candidates verified with exact Jaccard
  *  - SimHash:    64-bit fingerprint + 4-band bucket join (pigeonhole-exact
  *                for hamming distance ≤ 3)
  */
object TextDedup {

  /** Whitespace tokens, lowercased. */
  def tokens(text: Column): Column = split(lower(text), " ")

  /** Distinct n-gram shingles of the token stream.
    *
    * Implemented as a tight-loop UDF rather than
    * `transform(sequence…, slice+array_join)`: Spark's higher-order array
    * functions evaluate interpreted per element, which measured ~50× slower
    * on shingling (it dominates the dedup operators' runtime). The UDF
    * produces the identical distinct-shingle set (token window joined by
    * one space), so oracle semantics are unchanged.
    */
  def shingles(text: Column, n: Int): Column = shingleUdf(text, lit(n))

  private val shingleUdf = udf { (text: String, n: Int) =>
    if (text == null) Array.empty[String]
    else {
      val toks = text.toLowerCase.split(" ", -1)
      if (toks.length < n) Array.empty[String]
      else {
        val seen = new scala.collection.mutable.LinkedHashSet[String]
        var i = 0
        while (i <= toks.length - n) {
          val sb = new java.lang.StringBuilder
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(toks(i + j))
            j += 1
          }
          seen.add(sb.toString)
          i += 1
        }
        seen.toArray
      }
    }
  }

  /** Exact dedup: one row per distinct text with the canonical (minimum) id
    * and the duplicate count. Grouping key is md5(text) so only digests
    * shuffle; the text itself stays partition-local.
    */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** (id, shingle-hash) exploded pairs — the inverted index.
    *
    * The index carries hashed shingles instead of shingle strings:
    * joins/aggregations then shuffle 8-byte keys, not n-gram text (at 100TB
    * the shuffle volume difference is the whole game). Collision probability
    * across even 10¹⁰ distinct shingles is ~10⁻⁹ (birthday, 64-bit).
    * Hashing is the native [[graft.functions.ShingleHashes]] expression —
    * value-identical to `xxhash64(shingle_string)` (spec-asserted) but
    * zero-allocation: no shingle string is ever materialized and no UDF
    * boundary is crossed.
    */
  /** `private[graft]` so `LshBucketBudgetSpec` audits the inverted
    * index's Σ df² candidate volume over the exact production
    * expression (the [[bandedKeys]] discipline).
    */
  private[graft] def shingleIndex(df: DataFrame, idCol: String, textCol: String,
                                  n: Int): DataFrame =
    df.select(col(idCol).as("doc"),
      explode(graft.functions.ShingleHashes.shingleHashes(col(textCol), n))
        .as("sh"))

  /** Exact n-gram Jaccard near-dup pairs (ids ordered a &lt; b) with
    * similarity ≥ `minJaccard`.
    *
    * Inverted-index algorithm: self-join the (doc, shingle) index on the
    * shingle to count intersections, then |A∪B| = |A|+|B|−|A∩B|. Candidate
    * pairs are only docs sharing ≥1 shingle, so with high-order shingles
    * (n≥5) the join output stays near-linear in corpus size.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 5, minJaccard: Double = 0.5): DataFrame = {
    val idx = shingleIndex(df, idCol, textCol, n)
    // per-doc set sizes come from a cheap per-row projection (no second
    // scan of the exploded index); the self-join's two sides shuffle the
    // identical idx subplan on the same key, so Spark's ReuseExchange
    // computes it once — no operator-lifetime persist (which would leak
    // cached partitions into the caller's session). Sizes count distinct
    // HASHES, consistent with the hash-based intersection counts. n_sh is
    // non-nullable because ShingleHashes is (null text → empty array) —
    // a nullable count here would let the jaccard filter's inferred
    // isnotnull re-shingle the corpus at the scan (UdfRefilterSpec).
    val counts = df.select(col(idCol).as("doc"),
      size(graft.functions.ShingleHashes.shingleHashes(col(textCol), n))
        .as("n_sh"))
    val inter = idx.as("a")
      .join(idx.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(counts.withColumnRenamed("doc", "doc_a")
        .withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(counts.withColumnRenamed("doc", "doc_b")
        .withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard",
        col("n_common").cast("double")
          / (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"),
        col("jaccard").cast("decimal(18,6)").as("jaccard"))
  }

  /** Cross-corpus n-gram overlap — the DECONTAMINATION scan run before
    * training: every (train doc, benchmark doc) pair with shingle Jaccard
    * ≥ `minJaccard`. Same inverted-index scheme as [[jaccardPairs]], but
    * the self-join becomes a train↔benchmark join, so the candidate space
    * is bounded by shared shingles between the two corpora (the benchmark
    * side is typically tiny — at scale it broadcasts and the train corpus
    * never shuffles).
    */
  def crossJaccardPairs(train: DataFrame, bench: DataFrame,
                        idCol: String, textCol: String,
                        n: Int = 5, minJaccard: Double = 0.5): DataFrame = {
    val ti = shingleIndex(train, idCol, textCol, n)
    val bi = shingleIndex(bench, idCol, textCol, n)
    val tCounts = train.select(col(idCol).as("train_id"),
      size(graft.functions.ShingleHashes.shingleHashes(col(textCol), n))
        .as("n_t"))
    val bCounts = bench.select(col(idCol).as("bench_id"),
      size(graft.functions.ShingleHashes.shingleHashes(col(textCol), n))
        .as("n_b"))
    ti.as("t").join(bi.as("b"), col("t.sh") === col("b.sh"))
      .groupBy(col("t.doc").as("train_id"), col("b.doc").as("bench_id"))
      .agg(count(lit(1)).as("n_common"))
      .join(tCounts, "train_id")
      .join(bCounts, "bench_id")
      .withColumn("jaccard",
        col("n_common").cast("double")
          / (col("n_t") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("train_id"), col("bench_id"),
        col("jaccard").cast("decimal(18,6)").as("jaccard"))
  }

  /** MinHash signatures (doc, sig) over a [[shingleSets]] frame: hash
    * function i is the salted digest xxhash64(i, shingle), and sig(i) =
    * `array_min(transform(sh_set, s -> xxhash64(i, s)))`, the min over the
    * doc's shingles. Salting (instead of the classic a·h+b mod p) keeps the
    * expressions overflow-free under ANSI mode while staying deterministic
    * and uniform. Taken from the sets the exact-Jaccard verify reads, so an
    * LSH pair form shingles each side once and bands and verifies from
    * that one pass. `private[graft]` so specs check the pair forms against
    * the signatures they band.
    */
  private[graft] def minHashSignatures(sets: DataFrame,
                                       numHashes: Int): DataFrame =
    sets.select(col("doc"), array((0 until numHashes).map(i =>
      array_min(transform(col("sh_set"), s => xxhash64(lit(i), s)))): _*)
      .as("sig"))

  /** MinHash + banded LSH near-dup pairs, verified with exact Jaccard.
    *
    * Signatures are banded (`bands` bands of `numHashes/bands` rows); docs
    * colliding in ≥1 band become candidates (bucket join — only band hashes
    * shuffle), then candidates are verified against the exact shingle-set
    * Jaccard so the output has no false positives. Recall for pairs at
    * similarity s is 1−(1−s^r)^b — with 16×2 defaults, &gt;0.99 at s=0.5 and
    * ≈1 beyond 0.8.
    *
    * One pass: the corpus is shingled once into [[shingleSets]]; the band
    * keys are derived from those sets and the verify joins the same frame,
    * so the planner reuses its exchange instead of re-shingling.
    */
  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 5, numHashes: Int = 32, bands: Int = 16,
                      minJaccard: Double = 0.5): DataFrame = {
    val sets = shingleSets(df, idCol, textCol, n)
    val banded = setBandedKeys(sets, numHashes, bands)
    val candidates = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh")
          && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    verifyExactJaccard(candidates, "doc_a", "doc_b", sets, sets, minJaccard)
  }

  /** Exact-Jaccard verification of candidate pairs against hashed
    * shingle-set frames (`(doc, sh_set: array<long>)`) — the shared final
    * stage of every MinHash-LSH pair form. Only (doc, array<long>) rows
    * shuffle — 8 bytes per shingle, never the n-gram text (the same 64-bit
    * collision argument as [[shingleIndex]]).
    */
  private def verifyExactJaccard(candidates: DataFrame,
                                 aCol: String, bCol: String,
                                 aSets: DataFrame, bSets: DataFrame,
                                 minJaccard: Double): DataFrame =
    candidates
      .join(aSets.select(col("doc").as(aCol), col("sh_set").as("sa")), aCol)
      .join(bSets.select(col("doc").as(bCol), col("sh_set").as("sb")), bCol)
      .withColumn("n_common", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", col("n_common").cast("double")
        / (size(col("sa")) + size(col("sb")) - col("n_common")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col(aCol), col(bCol),
        col("jaccard").cast("decimal(18,6)").as("jaccard"))

  /** (doc, band, band-hash) rows for a signature frame — the LSH bucket
    * keys shared by every MinHash-LSH pair form and the stored index's
    * `_banded` table. `private[graft]` so the
    * bucket-crowding budget spec audits the EXACT key expression the
    * joins use (`LshBucketBudgetSpec` pins Σ bucketsize² through the
    * spec-side `BlockingReference` — the same pair-volume cost model
    * that caught fz1's saturating prefix).
    */
  private[graft] def bandedKeys(sigs: DataFrame, bands: Int, r: Int): DataFrame =
    sigs.select(col("doc"),
      posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        bI => xxhash64(concat_ws(",",
          slice(col("sig"), bI * r + 1, lit(r)).cast("array<string>")))))
        .as(Seq("band", "bh")))

  /** The (doc, band, bh) banded LSH bucket keys of a [[shingleSets]]
    * frame — also the `_banded` table of a stored LSH index
    * ([[saveLshIndexBucketed]]).
    */
  private def setBandedKeys(sets: DataFrame, numHashes: Int,
                            bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    bandedKeys(minHashSignatures(sets, numHashes), bands, numHashes / bands)
  }

  /** The cross-corpus probe shared by [[crossMinHashLshPairs]] and
    * [[crossLshPairsFromBandedIndex]]: the batch's band keys come from its
    * shingle sets `bSets`, the (corpus_id, batch_id) candidates are built
    * once, and the verify consumes them once against `cSets` and the same
    * `bSets` — no semi-join re-reads either side.
    */
  private def crossVerifiedPairs(cBanded: DataFrame, cSets: DataFrame,
                                 bSets: DataFrame, numHashes: Int,
                                 bands: Int, minJaccard: Double): DataFrame = {
    val bBanded = setBandedKeys(bSets, numHashes, bands)
    val candidates = cBanded.as("a")
      .join(bBanded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.doc").as("corpus_id"), col("b.doc").as("batch_id"))
      .distinct()
    verifyExactJaccard(candidates, "corpus_id", "batch_id", cSets, bSets,
      minJaccard)
  }

  /** INCREMENTAL near-dup scan: a NEW batch against an EXISTING corpus via
    * banded MinHash — the ingest-time shape of [[minHashLshPairs]]. Only
    * (corpus doc, batch doc) bucket collisions become candidates, and the
    * exact-Jaccard verify joins them to both shingle-set sides.
    *
    * One pass per side: each side is shingled once into [[shingleSets]],
    * its band keys are derived from those sets, and the verify joins the
    * same two frames, so the candidates are computed and consumed once.
    * At scale the corpus side's banded keys and shingle sets are computed
    * ONCE and stored ([[saveLshIndexBucketed]]); each increment then signs
    * only the batch and probes the stored index
    * ([[crossLshPairsFromBandedIndex]]). This method builds both in-plan,
    * which is the same plan with the storage round-trip elided.
    */
  def crossMinHashLshPairs(corpus: DataFrame, batch: DataFrame,
                           idCol: String, textCol: String,
                           n: Int = 5, numHashes: Int = 32, bands: Int = 16,
                           minJaccard: Double = 0.5): DataFrame = {
    val cSets = shingleSets(corpus, idCol, textCol, n)
    crossVerifiedPairs(setBandedKeys(cSets, numHashes, bands), cSets,
      shingleSets(batch, idCol, textCol, n), numHashes, bands, minJaccard)
  }

  /** Exact n-gram COLLISION decontamination — the GPT-3/PaLM rule: a
    * training document is contaminated if it shares ANY length-`n` token
    * window with the benchmark (n=13 is the published setting). Stricter
    * than the Jaccard-threshold form ([[crossJaccardPairs]]/ct1): one
    * verbatim quoted test item inside an otherwise-unrelated page has
    * tiny Jaccard but must still be flagged.
    *
    * Output: (idCol, n_collisions) — one row per CONTAMINATED corpus doc
    * with its count of distinct colliding windows; clean docs are absent
    * (decontamination consumes the flag list as an anti-join side).
    *
    * Shape at scale: both sides ride the in-place [[graft.functions.ShingleHashes]]
    * scan (8-byte window hashes, no window strings); the benchmark's
    * distinct hash set is tiny (benchmarks are small by nature) so the
    * collision join broadcasts it; one (doc) count aggregation. The
    * corpus is scanned once and shuffles nothing but its colliding rows.
    */
  def ngramCollisions(corpus: DataFrame, bench: DataFrame,
                      idCol: String, textCol: String, n: Int = 13): DataFrame =
    shingleIndex(corpus, idCol, textCol, n)
      .join(broadcast(
        shingleIndex(bench, idCol, textCol, n).select(col("sh")).distinct()),
        "sh")
      .groupBy(col("doc"))
      .agg(count(lit(1)).cast("bigint").as("n_collisions"))
      .select(col("doc").as(idCol), col("n_collisions"))

  /** Verify-side index: (doc, sh_set array<long>) — each document's
    * distinct hashed shingle set, the exact-Jaccard operand that
    * [[saveLshIndexBucketed]] stores as `<prefix>_sets`, so a probe
    * re-reads it instead of re-shingling the corpus (the sketch-as-data
    * pattern — hll1's argument applied to dedup).
    */
  def shingleSets(df: DataFrame, idCol: String, textCol: String,
                  n: Int = 5): DataFrame =
    shingleIndex(df, idCol, textCol, n)
      .groupBy(col("doc")).agg(collect_set(col("sh")).as("sh_set"))

  /** Persist the LSH index as three MANAGED tables, laid out so the
    * per-increment joins ride the storage instead of re-shuffling the
    * corpus (the `Similarity.saveIvfIndexBucketed` economics, applied
    * to the il1 ingest loop):
    *
    *  - `<prefix>_meta` — ONE row (n, num_hashes, bands): the build
    *    parameters live WITH the index, so the probe reads them instead
    *    of trusting a caller to re-supply matching values.
    *  - `<prefix>_banded` — the (doc, band, bh) banded keys, BUCKETED BY
    *    (band, bh): exactly the candidates join's keys, so the planner
    *    shuffles only the batch side into the stored buckets and the
    *    corpus-side exchange of EVERY increment disappears (a layout by
    *    `bh` alone does not co-partition with a (band, bh) join, and the
    *    planner then shuffles both sides and drops the bucketed scan). Storing the
    *    banding directly also skips re-deriving it from signatures per
    *    increment (the round-14 shared-materialization insight, made
    *    durable).
    *  - `<prefix>_sets` — the (doc, sh_set) exact-Jaccard operands,
    *    BUCKETED BY `doc`: the verify join clusters on `doc`, and
    *    this is the WIDE table (full shingle sets) whose per-increment
    *    shuffle hurts most.
    *
    * Published through [[graft.core.IndexTables.publish]]: `_sets` is
    * the completeness marker.
    */
  def saveLshIndexBucketed(corpus: DataFrame, idCol: String,
                           textCol: String, tablePrefix: String,
                           nBuckets: Int, n: Int = 5, numHashes: Int = 32,
                           bands: Int = 16): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sp = corpus.sparkSession
    import sp.implicits._
    graft.core.IndexTables.publish(sp, tablePrefix, "lsh")(
      "meta" -> graft.core.IndexTables.single(
        Seq((n, numHashes, bands)).toDF("n", "num_hashes", "bands")),
      "banded" -> graft.core.IndexTables.bucketed(
        setBandedKeys(shingleSets(corpus, idCol, textCol, n), numHashes,
          bands), nBuckets, "band", "bh"),
      "sets" -> graft.core.IndexTables.bucketed(
        shingleSets(corpus, idCol, textCol, n), nBuckets, "doc"))
  }

  /** [[crossMinHashLshPairs]] against a [[saveLshIndexBucketed]] index:
    * the increment's production entry point. Build parameters come from
    * the index's own meta table — nothing to mismatch — and the two
    * corpus-side joins ride the bucket layout: candidates cluster on
    * the stored (band, bh) buckets, verify on the stored `doc` buckets, so an
    * increment shuffles only its own banded keys and shingle sets.
    * One pass: `_banded` is scanned once by the one candidates join, the
    * batch is shingled once (its band keys and verify sets both come
    * from that [[shingleSets]] frame), and `_sets` joins the candidates
    * on its `doc` buckets. Output is frame-identical to [[crossMinHashLshPairs]] on the same
    * corpus and batch (spec-pinned in `LshBucketedIndexSpec`); mh1 and
    * dc2 probe their corpus index through it.
    */
  def crossLshPairsFromBandedIndex(spark: org.apache.spark.sql.SparkSession,
                                   tablePrefix: String, batch: DataFrame,
                                   idCol: String, textCol: String,
                                   minJaccard: Double = 0.5): DataFrame = {
    def read(t: String, cols: String*) =
      graft.core.IndexTables.read(spark, tablePrefix, "lsh", t, cols: _*)
    val meta = read("meta", "n", "num_hashes", "bands")
    val m = meta.collect()
    require(m.length == 1, s"lsh meta table must hold one row, got ${m.length}")
    // by NAME, not position: the column require above checks a SET, so a
    // hand-built meta with reordered columns would otherwise silently
    // swap parameters into wrong roles
    val (n, numHashes, bands) = (m(0).getAs[Int]("n"),
      m(0).getAs[Int]("num_hashes"), m(0).getAs[Int]("bands"))
    // mirror the save-side requires: a corrupted or hand-built meta row
    // must fail HERE, loudly — bands=0 would divide by zero below, and a
    // non-dividing bands (32/5 → r=6, 30 hashes covered) would band the
    // batch DIFFERENTLY from the stored corpus and silently return
    // wrong/empty pairs (the module's loud-validation rule)
    require(n >= 1 && numHashes >= 1 && bands >= 1 && numHashes % bands == 0,
      s"corrupt lsh meta: n=$n, num_hashes=$numHashes, bands=$bands " +
        "(need all >= 1 and bands | num_hashes)")
    crossVerifiedPairs(read("banded", "doc", "band", "bh"),
      read("sets", "doc", "sh_set"), shingleSets(batch, idCol, textCol, n),
      numHashes, bands, minJaccard)
  }

  /** EXACT incremental dedup with a Bloom prefilter — the membership-test
    * shape of ingest: "which of these batch documents are byte-new to the
    * corpus?". A Bloom filter over the corpus text digests (built with
    * `DataFrameStatFunctions.bloomFilter`, one aggregation pass) is
    * broadcast to the batch scan; only batch docs the filter MIGHT
    * contain become candidates, and those are exact-verified with a
    * semi-join against the corpus digests. The result is EXACT despite
    * the sketch: a Bloom filter has no false negatives (every true
    * duplicate is a candidate) and the verify join discards its false
    * positives — so the output equals the plain digest anti-join.
    *
    * Scale shape: the common case (a mostly-new batch) never shuffles —
    * membership is a broadcast-local bitmap probe per row. Only the
    * candidate slice (true dups + fpp·|batch|) reaches the verify join,
    * where it broadcasts against the corpus digest scan. Compare the
    * bloom-free form: a full shuffle of BOTH corpus and batch digests per
    * increment. At 100 TB the filter is built once per corpus generation
    * and persisted (it's a serializable value) — each increment pays one
    * batch scan plus a candidate-sized join. Bits/capacity: `fpp` 1% at
    * n items is ~9.6n bits (~1.2 GB per 10^9 docs) — broadcast-viable,
    * and fpp only moderates verify traffic, never correctness.
    *
    * `expectedItems` sizes the filter; pass the corpus row count from
    * table metadata at scale (here a column-pruned count() when omitted —
    * one extra scan of a 32-byte column, the documented local default).
    *
    * The "candidate-sized broadcast" claim assumes a mostly-new batch; a
    * replay-heavy or adversarial batch (candidates ≈ |batch|) would turn
    * it into a batch-sized broadcast that can exceed driver/broadcast
    * limits. The verify path is therefore SIZE-GATED: candidates are
    * counted in the same batch scan that probes the filter, and when they
    * exceed `broadcastCandidateFraction` of the batch the verify falls
    * back to plain shuffle semi-joins (AQE still broadcasts if the
    * absolute size turns out small) — identical output, graceful
    * degradation instead of an OOM. The bloom broadcast itself is
    * destroyed once the returned frame's plan no longer needs it — i.e.
    * NOT here; callers looping over increments should `unpersist` corpus
    * caches but need no bloom cleanup beyond letting the frame go out of
    * scope (Spark GCs broadcasts with their last reference). Each call
    * builds one filter; nothing accumulates across calls beyond normal
    * broadcast GC latency.
    */
  def bloomNewDocs(corpus: DataFrame, batch: DataFrame,
                   idCol: String, textCol: String,
                   fpp: Double = 0.01,
                   expectedItems: Long = -1L,
                   broadcastCandidateFraction: Double = 0.5): DataFrame = {
    require(broadcastCandidateFraction >= 0 && broadcastCandidateFraction <= 1,
      s"broadcastCandidateFraction must be in [0,1]: $broadcastCandidateFraction")
    val spark = corpus.sparkSession
    val cd = corpus.select(md5(col(textCol)).as("_bd_digest"))
    val expected = if (expectedItems > 0) expectedItems
      else math.max(cd.count(), 1L)
    val bloom = cd.stat.bloomFilter("_bd_digest", expected, fpp)
    val bc = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((d: String) => d != null && bc.value.mightContainString(d))
    // probe the filter ONCE per row: the flagged (id, digest, cand)
    // projection is persisted, so the gate action below materializes it
    // and every later branch (candidate semi-joins, the final anti-join)
    // reads the cached columns instead of re-running the bloom UDF.
    // Cache size is increment-batch-bounded (id + 32-byte digest + bool);
    // it lives in the CacheManager keyed by this plan — increment loops
    // should unpersist between corpus generations (doc above)
    val bd = batch.select(col(idCol), md5(col(textCol)).as("_bd_digest"))
      .withColumn("_bd_cand", mightContain(col("_bd_digest")))
      .persist()
    val candidates = bd.filter(col("_bd_cand"))
    // the gate reuses the same pass that populates the cache
    val gate = bd.agg(
      count(lit(1)).as("n"),
      count(when(col("_bd_cand"), lit(1))).as("nCand")).head()
    val broadcastable =
      gate.getLong(1) <= broadcastCandidateFraction * gate.getLong(0)
    if (broadcastable) {
      // verify with the CANDIDATES broadcast against the corpus scan — the
      // corpus side is probed in place, never shuffled; a semi-join the
      // other way round would build on the 100 TB side
      val dupDigests = cd
        .join(broadcast(candidates.select(col("_bd_digest")).distinct()),
          Seq("_bd_digest"), "left_semi")
        .distinct()
      val dupIds = candidates
        .join(broadcast(dupDigests), Seq("_bd_digest"), "left_semi")
        .select(col(idCol))
      bd.join(broadcast(dupIds), Seq(idCol), "left_anti").select(col(idCol))
    } else {
      // saturated-filter regime: the candidate slice is batch-sized, so
      // broadcasting it is exactly the OOM the gate exists to avoid —
      // shuffle semi-joins instead (compact 32-byte digest keys)
      val dupIds = candidates
        .join(cd, Seq("_bd_digest"), "left_semi")
        .select(col(idCol))
      bd.join(dupIds, Seq(idCol), "left_anti").select(col(idCol))
    }
  }

  /** CHUNK-grain dedup report — paragraph/passage-level dedup (the C4 /
    * RefinedWeb shape) at token-window grain: split every document into
    * non-overlapping `size`-token windows ([[Chunking.chunk]]), digest
    * each window, and report per document its window count, how many of
    * its windows occur more than once in the corpus (in any document,
    * including repeats within its own) and the duplicate ratio. This
    * surfaces PARTIAL duplication that document-grain [[newDocs]]/d1
    * cannot see — boilerplate headers, quoted passages, templated
    * sections — and is the dedup grain line/paragraph splitting would
    * give on a corpus with newlines.
    *
    * Plan shape: chunk fan-out (pure projection, no shuffle) → one digest
    * groupBy (16-byte keys, map-side partial agg) → digest-keyed join
    * back → doc groupBy. The same shuffle classes as exact dedup, at
    * chunk-grain row counts — no new join geometry at 100 TB.
    */
  def chunkDupStats(df: DataFrame, idCol: String, textCol: String,
                    size: Int = 32): DataFrame = {
    val chunks = Chunking.chunk(df, idCol, textCol, size = size, overlap = 0)
      .select(col(idCol), md5(col("chunk_text")).as("_cd_digest"))
    val freq = chunks.groupBy(col("_cd_digest"))
      .agg(count(lit(1)).as("_cd_n"))
    chunks.join(freq, Seq("_cd_digest"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("bigint").as("n_chunks"),
        sum(when(col("_cd_n") > 1, 1L).otherwise(0L)).cast("bigint")
          .as("n_dup_chunks"))
      .withColumn("dup_chunk_ratio",
        (col("n_dup_chunks").cast("double") / col("n_chunks").cast("double"))
          .cast("decimal(18,6)"))
  }

  /** LINE-grain exact-dedup report — the C4 recipe at its native grain
    * (drop any line occurring more than once in the corpus; Raffel et al.
    * 2020 §2.2). Splits each doc on `\n`, drops empty lines, counts each
    * line's corpus-wide frequency by 128-bit digest (the shuffle carries
    * 32-byte keys, never line text), and reports per-doc line counts plus
    * the removal ratio a C4 line-dedup pass would apply.
    */
  def lineDupStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = df
      .select(col(idCol), explode(split(col(textCol), "\n")).as("_ld_line"))
      .filter(length(col("_ld_line")) > 0)
      .select(col(idCol), md5(col("_ld_line")).as("_ld_digest"))
    val freq = lines.groupBy(col("_ld_digest")).agg(count(lit(1)).as("_ld_n"))
    lines.join(freq, Seq("_ld_digest"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("bigint").as("n_lines"),
        sum(when(col("_ld_n") > 1, 1L).otherwise(0L)).cast("bigint")
          .as("n_dup_lines"))
      .withColumn("dup_line_ratio",
        (col("n_dup_lines").cast("double") / col("n_lines").cast("double"))
          .cast("decimal(18,6)"))
  }

  /** FNV-1a 64-bit — a stable, dependency-free token hash for SimHash
    * (explicit implementation so fingerprints never change under us).
    */
  private[operators] def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes("UTF-8")
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** 64-bit SimHash of a token sequence: per-bit majority vote of token
    * hashes.
    */
  private[operators] def simHash64(toks: Seq[String]): Long = {
    val votes = new Array[Int](64)
    toks.foreach { t =>
      val h = fnv1a64(t)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
        bit += 1
      }
    }
    var sig = 0L
    var bit = 0
    while (bit < 64) {
      if (votes(bit) > 0) sig |= (1L << bit)
      bit += 1
    }
    sig
  }

  // asNonNullable for the same reason as simHash128Udf below; d3's plan
  // is clean today only because posexplode sits between the UDF and the
  // join keys, and this keeps it clean if the banding shape changes.
  private val simHashUdf = udf { (toks: Seq[String]) =>
    simHash64(if (toks == null) Nil else toks) // null text → empty-doc hash
  }.asNonNullable()

  /** (id, simhash) fingerprints. */
  def simHashes(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc"),
      simHashUdf(tokens(col(textCol))).as("simhash"))

  /** splitmix64 finalizer (public-domain mixing constants): full-
    * avalanche scramble, used to derive the low half's per-token hash
    * from the high half's without a second hash pass or allocation.
    */
  private def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** 128-bit SimHash as two 64-bit halves voted in ONE token pass: the
    * high half votes on fnv1a64(token), the low half on its splitmix64
    * scramble — full-avalanche, so the halves' bits are mutually
    * decorrelated without hashing twice or allocating salted token
    * copies (this UDF fingerprints the whole corpus for d3b; per-token
    * work is the dominant cost).
    */
  private[operators] def simHash128(toks: Seq[String]): (Long, Long) = {
    val votesHi = new Array[Int](64)
    val votesLo = new Array[Int](64)
    toks.foreach { t =>
      val h1 = fnv1a64(t)
      val h2 = mix64(h1)
      var bit = 0
      while (bit < 64) {
        if (((h1 >>> bit) & 1L) == 1L) votesHi(bit) += 1
        else votesHi(bit) -= 1
        if (((h2 >>> bit) & 1L) == 1L) votesLo(bit) += 1
        else votesLo(bit) -= 1
        bit += 1
      }
    }
    var hi = 0L; var lo = 0L; var bit = 0
    while (bit < 64) {
      if (votesHi(bit) > 0) hi |= (1L << bit)
      if (votesLo(bit) > 0) lo |= (1L << bit)
      bit += 1
    }
    (hi, lo)
  }

  // asNonNullable: the function NEVER returns null (null text → the
  // empty-doc fingerprint). Without it, the banding join's not-null key
  // constraints propagate as isnotnull(UDF(...)) DATA FILTERS at the
  // scan — re-fingerprinting each row purely to decide null-ness (d3b's
  // plan carried 12 UDF references instead of 4; measured 1.6× at sf1).
  // UdfRefilterSpec now sweeps the whole catalog for this plan shape.
  private val simHash128Udf = udf { (toks: Seq[String]) =>
    simHash128(if (toks == null) Nil else toks)
  }.asNonNullable()

  /** The (doc, simhash, band, bv) 16-bit band-bucket keys of
    * [[simHashPairs]].
    */
  private[graft] def simHashBandedKeys(df: DataFrame, idCol: String,
                                       textCol: String): DataFrame =
    simHashes(df, idCol, textCol).select(col("doc"), col("simhash"),
      posexplode(array((0 until 4).map(i =>
        shiftrightunsigned(col("simhash"), i * 16).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("band", "bv")))

  /** (doc, sh_hi, sh_lo) 128-bit fingerprints for [[simHashPairs128]]. */
  def simHashes128(df: DataFrame, idCol: String,
                   textCol: String): DataFrame =
    df.select(col(idCol).as("doc"),
        simHash128Udf(tokens(col(textCol))).as("f"))
      .select(col("doc"), col("f._1").as("sh_hi"), col("f._2").as("sh_lo"))

  /** SimHash near-dup pairs with hamming distance ≤ `maxHamming` (≤ 3).
    *
    * The 64-bit fingerprint is cut into 4 16-bit bands; by pigeonhole any
    * pair within hamming distance 3 agrees on ≥1 band, so the band-bucket
    * join has **exact recall** — no probabilistic misses — while shuffling
    * only (band, value) keys.
    *
    * REGIME BOUND (measured round 12, the fz1 lesson applied here): a
    * 16-bit band has only 65 536 buckets, so on a low-entropy or merely
    * LARGE corpus the buckets crowd and the band join's candidate volume
    * (Σ bucketsize²) reverts toward n²/2^16-class — probed at 26·rows on
    * sf0.1 documents but 373·rows at sf1 (~143× pairs per 10× docs)
    * while wall-clock still read an innocent 3×. This ceiling is
    * INHERENT to exact hamming≤3 recall over a 64-bit fingerprint (the
    * pigeonhole needs ≥4 bands and 64 bits only give 16-bit bands); the
    * corpus-scale path is [[simHashPairs128]], whose 5-piece/C(5,2)
    * COMBINATION banding keeps the exact-recall construction while
    * requiring ~51 bits of agreement per key (budget-pinned flat in
    * `LshBucketBudgetSpec`). Prefer it beyond ~10⁵ docs; this form
    * remains for the 64-bit fingerprint contract.
    */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-band pigeonhole guarantee holds up to 3")
    val banded = simHashBandedKeys(df, idCol, textCol)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv")
          && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** [[simHashPairs]] over the 128-bit fingerprint with COMBINATION
    * banding — the corpus-scale twin. Naive wider bands don't survive a
    * low-entropy corpus: measured here, the 64-bit form's 16-bit
    * buckets ran 26·rows → 373·rows across sf0.1→sf1 (~143× pairs per
    * 10× docs), and even 32-bit single-piece bands still grew 1.75 →
    * 10.4 — fingerprints of long docs converge toward the vocabulary's
    * per-bit CONSENSUS, so whole uncontested windows coincide across
    * distinct fingerprints (99.8% of sf1 fingerprints are distinct; the
    * crowding is window agreement, not duplication). The fix is the
    * classic multi-index Hamming-search pigeonhole over PIECE
    * COMBINATIONS: split the 128 bits into 5 pieces (26/26/26/25/25);
    * ≤ 3 errors damage ≤ 3 pieces, leaving ≥ 2 clean, so any pair
    * within hamming 3 agrees EXACTLY on at least one of the C(5,2)=10
    * piece pairs. Each doc emits 10 (combo, joined-pieces) keys — ~51
    * bits of required agreement per key vs 32 for single-piece bands —
    * and the bucket join keeps exact recall (no-false-negative key
    * construction: key equality ⇔ both pieces equal) while candidate
    * volume stays near-linear on the same corpus (budget-pinned in
    * `LshBucketBudgetSpec`). The finer fingerprint also makes
    * hamming ≤ 3 over 128 bits a strictly tighter near-dup criterion
    * than over 64, which is why this is a twin (d3b) rather than a
    * drop-in replacement — identical-text pairs (hamming 0, the oracle
    * surface) are found by both.
    */
  def simHashPairs128(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      "5-piece / 2-clean combination guarantee holds up to 3")
    val banded = simHashBandedKeys128(df, idCol, textCol)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv")
          && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        (bit_count(col("a.sh_hi").bitwiseXOR(col("b.sh_hi"))) +
          bit_count(col("a.sh_lo").bitwiseXOR(col("b.sh_lo"))))
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** The 5 pieces of the 128-bit fingerprint (26/26/26/25/25 bits,
    * covering all 128 exactly; piece 2 spans the hi/lo boundary). Each
    * value fits an Int.
    */
  private[operators] def hammingPieces(hi: Long, lo: Long): Array[Int] =
    Array(
      ((hi >>> 38) & 0x3FFFFFFL).toInt, // hi bits 63..38 (26)
      ((hi >>> 12) & 0x3FFFFFFL).toInt, // hi bits 37..12 (26)
      (((hi & 0xFFFL) << 14) | (lo >>> 50)).toInt, // hi 11..0 + lo 63..50 (26)
      ((lo >>> 25) & 0x1FFFFFFL).toInt, // lo bits 49..25 (25)
      (lo & 0x1FFFFFFL).toInt) // lo bits 24..0 (25)

  /** The 10 combination keys for one fingerprint: for every piece pair
    * (i, j), i < j, the combo id i*5+j with both piece values packed
    * into one long (pieces are < 2^26, so `(p_i << 26) | p_j` is
    * injective — equal key ⇔ both pieces equal; zero false negatives).
    */
  private val combo128Udf = udf { (hi: Long, lo: Long) =>
    val p = hammingPieces(hi, lo)
    val out = new Array[(Int, Long)](10)
    var k = 0
    var i = 0
    while (i < 5) {
      var j = i + 1
      while (j < 5) {
        out(k) = (i * 5 + j, (p(i).toLong << 26) | p(j).toLong)
        k += 1
        j += 1
      }
      i += 1
    }
    out.toSeq
  }.asNonNullable() // never null — see simHash128Udf's constraint note

  /** (doc, sh_hi, sh_lo, band, bv) rows — [[simHashPairs128]]'s exact
    * combination-band key expression, `private[graft]` so
    * `LshBucketBudgetSpec` audits the production key (the
    * [[bandedKeys]] discipline). `band` is the combo id (which piece
    * pair), `bv` the packed piece values.
    */
  private[graft] def simHash128BandKeys(sigs: DataFrame): DataFrame =
    sigs.select(col("doc"), col("sh_hi"), col("sh_lo"),
        explode(combo128Udf(col("sh_hi"), col("sh_lo"))).as("c"))
      .select(col("doc"), col("sh_hi"), col("sh_lo"),
        col("c._1").as("band"), col("c._2").as("bv"))

  /** [[simHash128BandKeys]] end-to-end from the raw corpus. */
  private[graft] def simHashBandedKeys128(df: DataFrame, idCol: String,
                                          textCol: String): DataFrame =
    simHash128BandKeys(simHashes128(df, idCol, textCol))

  /** PREFIX-BLOCKED fuzzy record linkage — the fz1 query's shape as a
    * reusable entry point: match each query string against the corpus
    * records sharing its first `prefixLen` characters, keeping pairs
    * within edit distance `maxEdit`. Blocking turns the would-be cross
    * join into an equi-join over small buckets (candidate volume
    * Σ blocksize², not |queries|·|corpus|) at the price of missing
    * matches whose corruption falls INSIDE the prefix — so `prefixLen`
    * must be chosen from the corruption model (fz1: the planted
    * corruption drops character 15, so 14 chars survive verbatim), and
    * it should be the MAXIMAL invariant prefix: key entropy is what
    * keeps the join linear (the round-12 lesson — an 8-char key
    * saturated a ~31-word vocabulary and went quadratic with n behind
    * a benign wall-clock).
    *
    * Output: (`qIdCol`, match_id, edit_distance) — one row per
    * (query, corpus record) pair within `maxEdit`. The columns this
    * join REFERENCES must not collide across the two frames (each
    * side's id/text columns must be absent from the other side; the
    * join keeps both sides in scope for the levenshtein projection) —
    * enforced with a `require` at the API boundary, because the
    * failure mode is otherwise an ambiguous-reference
    * AnalysisException deep inside the join rather than an actionable
    * message. Shared column names the join never touches are fine.
    *
    * The edit distance is computed ONCE in a projection then filtered:
    * it is the dominant per-pair cost and Spark does not CSE a filter
    * expression with a later select's copy.
    */
  def prefixBlockedLinkage(queries: DataFrame, qIdCol: String,
                           qTextCol: String,
                           corpus: DataFrame, idCol: String, textCol: String,
                           prefixLen: Int, maxEdit: Int): DataFrame = {
    require(prefixLen >= 1, s"prefixLen must be >= 1: $prefixLen")
    require(maxEdit >= 0, s"maxEdit must be >= 0: $maxEdit")
    locally {
      // Fail fast only on collisions the join actually REFERENCES —
      // a shared passenger column the plan never touches is legal
      // (Spark raises ambiguity on reference, not on presence), so
      // rejecting ANY shared name would break valid callers. The
      // referenced set: each side's id/text columns must not exist on
      // the other side (covers qIdCol == idCol), and `edit_distance`
      // must not be present on BOTH sides (the withColumn replace
      // would be ambiguous). Case-insensitive like Spark's default
      // resolution.
      val qCols = queries.columns.map(_.toLowerCase).toSet
      val cCols = corpus.columns.map(_.toLowerCase).toSet
      val collide =
        Seq(qIdCol, qTextCol).map(_.toLowerCase).filter(cCols) ++
          Seq(idCol, textCol).map(_.toLowerCase).filter(qCols) ++
          (if (qCols("edit_distance") && cCols("edit_distance"))
            Seq("edit_distance") else Nil)
      require(collide.isEmpty,
        s"queries and corpus must not share the columns this join " +
          s"references (ambiguous in the join/projection); colliding: " +
          s"${collide.distinct.mkString(", ")}")
    }
    queries.join(corpus,
        substring(col(qTextCol), 1, prefixLen)
          === substring(col(textCol), 1, prefixLen))
      .withColumn("edit_distance",
        levenshtein(col(qTextCol), col(textCol)).cast("int"))
      .filter(col("edit_distance") <= maxEdit)
      .select(col(qIdCol), col(idCol).as("match_id"), col("edit_distance"))
  }
}
