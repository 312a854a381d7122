package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** fz1's candidate-pair budget as a FAILING invariant (round-12 close of
  * the SCALE_SF1.md watch item): the prefix-blocked fuzzy join measured
  * 9.9× wall-clock at 10× documents — read then as "at the linear
  * bound", but wall-clock was HIDING the true shape (scan overhead
  * dominates at these sizes; see `factor`'s history note — the pair
  * volume was growing ~118× per 10×). This spec freezes the real cost
  * model: the blocked join's candidate-pair volume
  * ([[BlockingReference.candidatePairVolume]]) must stay within
  * `factor`·|documents| on the harness tiers, and a planted degenerate
  * prefix must TRIP the same check — proving the invariant detects the
  * failure mode it exists for, not just that today's data is friendly.
  */
class FuzzyBlockingBudgetSpec extends SparkSpec {

  /** Volume budget: candidate pairs ≤ factor·n. Measured with the
    * round-12 14-char block key: factor 0.18 at sf0.1 and 0.87 at sf1
    * (911→4097 and 1824→22871 distinct blocks). 4 is ~4.6× headroom
    * over the worse tier while orders of magnitude under the ~n²/10
    * degenerate regime this spec exists to catch. History that proves
    * the invariant earns its keep: the ORIGINAL 8-char key measured
    * factor 1.43 at sf0.1 but 17.0 at sf1 — the ~31-word synthetic
    * vocabulary saturates an 8-char prefix space, so blocks grew with n
    * and the join was quadratic-with-small-constant while every
    * plan-shape audit stayed green. This spec caught it on first run;
    * the fix (block on the full corruption-invariant prefix) is in
    * fz1's comment. The same saturation would eventually reach any
    * fixed prefix on this vocabulary — tripping this budget is exactly
    * how it announces itself.
    */
  private val factor = 4L

  /** fz1's EXACT blocking shape (TrainPrepQueries keeps the join; this
    * mirrors its inputs and key expressions verbatim so the audited
    * volume is the audited query's).
    */
  private def volumeAndN(dir: String): (Long, Long) = {
    val titles = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), substring(col("text"), 1, 30).as("title"))
    val batch = titles.filter(col("doc_id") % 10 === 0)
      .select(concat(substring(col("title"), 1, 14),
        substring(col("title"), 16, 30)).as("q_title"))
    val vol = BlockingReference.candidatePairVolume(
      batch, substring(col("q_title"), 1, 14),
      titles, substring(col("title"), 1, 14))
    (vol, titles.count())
  }

  test("fz1 blocking stays inside its candidate-pair budget at sf0.1") {
    val (vol, n) = volumeAndN("/root/testdata/sf0.1")
    info(f"sf0.1: volume $vol over n=$n -> measured factor ${vol.toDouble / n}%.2f")
    assert(vol <= factor * n,
      s"fz1 candidate-pair volume $vol exceeds budget ${factor}·$n — " +
        "the blocking prefix has degraded (see BlockingReference.blockProfile " +
        "for the hot blocks)")
  }

  test("fz1 blocking stays inside its candidate-pair budget at sf1") {
    assume(graft.Sf1Tier.available(spark),
      "sf1 tier generation skipped via SPARK_GRAFT_SKIP_SF1=1")
    val (vol, n) = volumeAndN(graft.Sf1Tier.dir)
    info(f"sf1: volume $vol over n=$n -> measured factor ${vol.toDouble / n}%.2f")
    assert(vol <= factor * n,
      s"fz1 candidate-pair volume $vol exceeds budget ${factor}·$n at sf1")
  }

  test("a degenerate blocking key TRIPS the budget (the invariant detects " +
    "the failure mode, not just friendly data)") {
    // every title opens with the same 22 chars (≥ the 14-char block
    // key) — the hot-prefix drift this budget exists to
    // catch (one dominant boilerplate pattern, an empty-field default,
    // a language whose titles all open identically). Volume becomes
    // |batch|·n ≈ n²/10 ≫ factor·n.
    val n = 5000L
    val titles = spark.range(n).select(col("id").as("doc_id"),
      concat(lit("SAME BOILERPLATE HEAD "), col("id").cast("string"))
        .as("title"))
    val batch = titles.filter(col("doc_id") % 10 === 0)
      .select(col("title").as("q_title"))
    val vol = BlockingReference.candidatePairVolume(
      batch, substring(col("q_title"), 1, 14),
      titles, substring(col("title"), 1, 14))
    assert(vol == (n / 10L) * n, s"planted degenerate volume: $vol")
    assert(vol > factor * n,
      "the budget must flag the degenerate key — if this fails the " +
        "invariant is vacuous")
  }

  test("blockProfile attributes the volume to the hot block, heaviest first") {
    import spark.implicits._
    val left = Seq("aa", "aa", "ab", null).toDF("k")
    val right = Seq("aa", "ab", "ab", "zz", null).toDF("k")
    val profDf = BlockingReference.blockProfile(
      left, col("k"), right, col("k"))
    // pairs is DOUBLE by design: a >3e9-row degenerate block would make
    // a long n·n throw under ANSI (Spark 4 default) or wrap — pass the
    // budget OPEN — under non-ANSI; the double product can do neither
    // (exact to 2^53, order-preserving beyond). Plan-level guarantee:
    assert(profDf.schema("pairs").dataType ==
      org.apache.spark.sql.types.DoubleType)
    val prof = profDf.as[(String, Long, Long, Double)].collect()
    // aa: 2×1=2, ab: 1×2=2; zz right-only → absent; null keys produce
    // NO pairs (SQL = never matches null — matching every production
    // join audited by this tool)
    assert(prof.toSet == Set(("aa", 2L, 1L, 2.0), ("ab", 1L, 2L, 2.0)))
    assert(prof.head._4 == 2.0)
    assert(BlockingReference.candidatePairVolume(
      left, col("k"), right, col("k")) == 4L)
  }

  test("prefixBlockedLinkage: colliding column names fail fast at the " +
    "API boundary, not as an ambiguous-reference AnalysisException " +
    "inside the join") {
    val corpus = spark.range(10).select(col("id").as("doc_id"),
      md5(col("id").cast("string")).as("title"))
    // same names both sides — the realistic mistake (joining a frame
    // against a filtered copy of itself without renaming)
    val e = intercept[IllegalArgumentException] {
      TextDedup.prefixBlockedLinkage(corpus, "doc_id", "title",
        corpus, "doc_id", "title", prefixLen = 4, maxEdit = 2)
    }
    assert(e.getMessage.contains("must not share the columns this join " +
      "references"), e.getMessage)
    assert(e.getMessage.contains("doc_id"), e.getMessage)
    // resolution is case-insensitive by default — so is the require
    val shouting = corpus.select(col("doc_id").as("Q_ID"),
      col("title").as("q_title"))
    val e2 = intercept[IllegalArgumentException] {
      TextDedup.prefixBlockedLinkage(shouting, "Q_ID", "q_title",
        corpus.withColumnRenamed("doc_id", "q_id"), "q_id", "title",
        prefixLen = 4, maxEdit = 2)
    }
    assert(e2.getMessage.contains("q_id"), e2.getMessage)
    // the require covers only columns the join REFERENCES: a shared
    // passenger column the plan never touches stays legal (Spark
    // raises ambiguity on reference, not presence — rejecting any
    // shared name would break valid callers)
    val qWithTs = corpus.select(col("doc_id").as("q_id"),
      col("title").as("q_title"), lit("2026-01-01").as("ingest_ts"))
    val cWithTs = corpus.withColumn("ingest_ts", lit("2026-01-02"))
    val okRows = TextDedup.prefixBlockedLinkage(qWithTs, "q_id", "q_title",
      cWithTs, "doc_id", "title", prefixLen = 4, maxEdit = 0)
    assert(okRows.count() == 10) // every record matches itself exactly
  }
}
