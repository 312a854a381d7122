package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Bucket-crowding budgets for the hash-bucketed dedup joins —
  * [[FuzzyBlockingBudgetSpec]]'s cost model applied to the other three
  * blocked-join families: d2/il1/mh1/dc1's MinHash band buckets,
  * d3b's SimHash combination bands, and d4's shingle inverted index.
  * Each join's candidate volume is Σ bucketsize² over its keys:
  * hash-spread keys stay near-singleton (volume ≈ rows), while
  * crowding — a corpus drifting toward boilerplate, a collapsing
  * vocabulary, a too-coarse banding — reverts the join toward n² with
  * no plan-shape change. fz1's prefix key (and d3's 16-bit bands) hid
  * exactly this shape from the wall-clock sweep; this spec pins every
  * bucket family to the same falsifiable number, over the EXACT key
  * expressions the production joins use ([[TextDedup.bandedKeys]],
  * [[TextDedup.simHash128BandKeys]], [[TextDedup.shingleIndex]]).
  *
  * Budget calibration: with 5-shingles and 16×2 banding the harness
  * corpora measure volume/rows 1.10 at sf0.1 and 1.06 at sf1 — FLAT
  * across the 10× step (contrast fz1's pre-fix 1.43→17.0): hash-spread
  * signatures keep buckets near-singleton, and the planted ~4%
  * near-dups + ~0.2% exact dups collide in pairs (the operator's
  * recall working as intended), not crowds. Budget 4 is ~3.6× headroom;
  * a corpus whose buckets crowd past it has left the "near-dups are a
  * vanishing fraction" regime the operator's scale argument assumes,
  * and should fail loudly rather than quietly square its shuffle.
  */
class LshBucketBudgetSpec extends SparkSpec {

  private val factor = 4L

  /** Candidate volume of d2's band self-join over `dir`'s documents,
    * normalized per banded key row (n·bands rows feed the join).
    */
  private def bucketVolume(dir: String): (Long, Long) = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val sigs = TextDedup.minHashSignatures(
      TextDedup.shingleSets(docs, "doc_id", "text", n = 5), numHashes = 32)
    val banded = TextDedup.bandedKeys(sigs, bands = 16, r = 2)
      .select(struct(col("band"), col("bh")).as("k"))
    (BlockingReference.candidatePairVolume(
      banded, col("k"), banded, col("k")),
      banded.count())
  }

  test("d2's LSH buckets stay inside the crowding budget at sf0.1") {
    val (vol, rows) = bucketVolume("/root/testdata/sf0.1")
    info(f"sf0.1: volume $vol over $rows banded rows -> " +
      f"factor ${vol.toDouble / rows}%.2f")
    assert(vol <= factor * rows,
      s"LSH bucket volume $vol exceeds budget ${factor}·$rows — buckets " +
        "are crowding (BlockingReference.blockProfile names the hot ones)")
  }

  test("d2's LSH buckets stay inside the crowding budget at sf1") {
    assume(graft.Sf1Tier.available(spark),
      "sf1 tier generation skipped via SPARK_GRAFT_SKIP_SF1=1")
    val (vol, rows) = bucketVolume(graft.Sf1Tier.dir)
    info(f"sf1: volume $vol over $rows banded rows -> " +
      f"factor ${vol.toDouble / rows}%.2f")
    assert(vol <= factor * rows,
      s"LSH bucket volume $vol exceeds budget ${factor}·$rows at sf1")
  }

  /** d3b's combination-band buckets, same accounting. The probes that
    * shaped d3b: the 64-BIT form's 16-bit buckets measured 26·rows
    * (sf0.1) → 373·rows (sf1) — ~143× pairs per 10× docs, quadratic
    * behind a 3× wall-clock — and a first-cut 32-bit single-piece
    * banding STILL grew 1.75 → 10.4, because long docs' fingerprints
    * converge toward the vocabulary's per-bit consensus and whole
    * uncontested windows coincide across distinct fingerprints. The
    * shipped 5-piece/C(5,2) combination banding (~51 bits of required
    * agreement per key) measures 1.02 → 1.08 — flat — and this test
    * pins it there. The 64-bit form's crowding is its documented regime
    * bound (simHashPairs scaladoc), not a budget — its ceiling is
    * inherent, the budget belongs on the scale path.
    */
  private def simhashWideVolume(dir: String): (Long, Long) = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val banded = TextDedup.simHash128BandKeys(
      TextDedup.simHashes128(docs, "doc_id", "text"))
      .select(struct(col("band"), col("bv")).as("k"))
    (BlockingReference.candidatePairVolume(banded, col("k"), banded, col("k")),
      banded.count())
  }

  test("d3b's combination bands stay inside the crowding budget at sf0.1") {
    val (vol, rows) = simhashWideVolume("/root/testdata/sf0.1")
    info(f"sf0.1: volume $vol over $rows banded rows -> " +
      f"factor ${vol.toDouble / rows}%.2f")
    assert(vol <= factor * rows,
      s"simhash128 bucket volume $vol exceeds budget ${factor}·$rows")
  }

  test("d3b's combination bands stay inside the crowding budget at sf1") {
    assume(graft.Sf1Tier.available(spark),
      "sf1 tier generation skipped via SPARK_GRAFT_SKIP_SF1=1")
    val (vol, rows) = simhashWideVolume(graft.Sf1Tier.dir)
    info(f"sf1: volume $vol over $rows banded rows -> " +
      f"factor ${vol.toDouble / rows}%.2f")
    assert(vol <= factor * rows,
      s"simhash128 bucket volume $vol exceeds budget ${factor}·$rows at sf1")
  }

  /** d4's inverted-index self-join, same accounting: candidate volume is
    * Σ df² over shingle hashes. High-order shingles (5-grams) keep df
    * near 1 on natural text; a drifting corpus (template boilerplate, a
    * collapsing vocabulary) concentrates df and reverts the join toward
    * n², measured here so the operator fails loudly when the regime
    * changes instead of silently squaring. With this, all three dedup
    * blocked-join families (prefix, LSH bands, inverted index) carry
    * the same frozen pair-volume bound.
    */
  private def shingleVolume(dir: String): (Long, Long) = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val idx = TextDedup.shingleIndex(docs, "doc_id", "text", n = 5)
    (BlockingReference.candidatePairVolume(idx, col("sh"), idx, col("sh")),
      idx.count())
  }

  test("d4's shingle inverted index stays inside the crowding budget " +
    "at sf0.1") {
    val (vol, rows) = shingleVolume("/root/testdata/sf0.1")
    info(f"sf0.1: volume $vol over $rows index rows -> " +
      f"factor ${vol.toDouble / rows}%.2f")
    assert(vol <= factor * rows,
      s"shingle-index volume $vol exceeds budget ${factor}·$rows — " +
        "document-frequency is concentrating (hot shingles: see bp1)")
  }

  test("d4's shingle inverted index stays inside the crowding budget " +
    "at sf1") {
    assume(graft.Sf1Tier.available(spark),
      "sf1 tier generation skipped via SPARK_GRAFT_SKIP_SF1=1")
    val (vol, rows) = shingleVolume(graft.Sf1Tier.dir)
    info(f"sf1: volume $vol over $rows index rows -> " +
      f"factor ${vol.toDouble / rows}%.2f")
    assert(vol <= factor * rows,
      s"shingle-index volume $vol exceeds budget ${factor}·$rows at sf1")
  }

  test("a boilerplate-dominated corpus TRIPS the crowding budget") {
    // 2000 docs, 90% sharing one text: every band key of the duplicated
    // doc collides with all its copies — volume ≈ bands·(0.9n)² ≫
    // factor·(n·bands). The drift the budget exists to catch.
    val docs = spark.range(2000).select(col("id").as("doc_id"),
      when(col("id") % 10 === 0,
        concat(lit("unique doc "), col("id").cast("string"),
          lit(" with its own words")))
        .otherwise(lit("the same boilerplate body every crawl fetch " +
          "returned for this host"))
        .as("text"))
    val sigs = TextDedup.minHashSignatures(
      TextDedup.shingleSets(docs, "doc_id", "text", n = 5), numHashes = 32)
    val banded = TextDedup.bandedKeys(sigs, bands = 16, r = 2)
      .select(struct(col("band"), col("bh")).as("k"))
    val vol = BlockingReference.candidatePairVolume(
      banded, col("k"), banded, col("k"))
    val rows = banded.count()
    assert(vol > factor * rows,
      s"the budget must flag the crowded corpus (volume $vol over " +
        s"$rows rows) — if this fails the invariant is vacuous")
  }
}
