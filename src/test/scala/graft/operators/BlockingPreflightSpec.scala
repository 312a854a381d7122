package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The production pair-volume preflight (`maxPairFactor` →
  * [[BlockingBudget.preflight]]) on every blocked-join entry point —
  * the round-13 wiring of the spec-side budgets
  * ([[FuzzyBlockingBudgetSpec]], `LshBucketBudgetSpec`) into the
  * operators themselves, so a SCHEDULED job can fail fast on corpus
  * drift instead of silently squaring its shuffle.
  *
  * Per family this spec proves all four contract points:
  * (1) a PLANTED crowding corpus (boilerplate-identical text — every
  * signature lands in the same buckets, volume ~n² against an O(n)
  * budget) FAILS the preflight, and the error names the hot block
  * (the [[BlockingReference.blockProfile]] attribution — the operator
  * tells you WHICH key went hot, not just that one did);
  * (2) a benign corpus PASSES with the spec-calibrated factor and
  * returns the identical result as the unguarded call;
  * (3) the default (`None`) runs the planted corpus WITHOUT the guard
  * — opt-in means oracle plans and legacy callers are untouched;
  * (4) the SHARED-MATERIALIZATION cache contract (round 14 — the
  * measured fix for the guard's ~1.8× premium): a passing guarded LSH
  * call persists its banded-keys frame so the returned join reads the
  * guard's one materialization instead of re-deriving
  * signatures+banding; the cache is RELEASED by `.unpersist()` on an
  * equivalently-constructed public banded-keys frame (the CacheManager
  * matches plans structurally — this is the caller's documented
  * handle), and a FAILING preflight releases it before throwing, so
  * the failure path leaks nothing. The il2/`bloomNewDocs` pattern:
  * a documented caller-released cache, audited HERE rather than in
  * `CacheLeakSpec`'s allowlist because the guard is opt-in and no
  * catalog query constructs with it. `prefixBlockedLinkage` is the
  * deliberate exception — its guard stays self-scoped (persisting
  * slim prefix keys; sharing would require caching corpus-sized TEXT
  * for the levenshtein join), proven leak-free on both paths.
  */
class BlockingPreflightSpec extends SparkSpec {

  import spark.implicits._
  import org.apache.spark.sql.graftbridge.SpecBridge

  private def assertCacheEmpty(clue: String): Unit =
    assert(SpecBridge.cacheIsEmpty(spark), clue)

  /** ~n² crowding: every doc is the same boilerplate text, so every
    * signature/fingerprint/prefix collides. The drift mode the
    * preflight exists for (one dominant template, an empty-field
    * default, a collapsing vocabulary).
    */
  private def plantedCrowd(n: Int) =
    spark.range(n).select(col("id").as("doc_id"),
      lit("the same boilerplate head every document shares verbatim")
        .as("text"))

  /** Benign corpus: distinct texts over a varied vocabulary — buckets
    * stay near-singleton (plus the planted pair the operators should
    * still find).
    */
  private def benign(n: Int) =
    spark.range(n).select(col("id").as("doc_id"),
      concat(lit("document number "), col("id").cast("string"),
        lit(" talks about topic "), (col("id") * 37 % 101).cast("string"),
        lit(" in its own distinct words "),
        md5(col("id").cast("string"))).as("text"))

  private def assertTrips(body: => Any, op: String): Unit = {
    val e = intercept[IllegalStateException](body)
    assert(e.getMessage.contains(s"$op blocking preflight failed"),
      e.getMessage)
    assert(e.getMessage.contains("hottest blocks:"), e.getMessage)
    // the attribution names at least one block with its pair count —
    // the "WHICH key went hot" half of the contract
    assert(e.getMessage.contains("pairs)"), e.getMessage)
  }

  test("minHashLshPairs: planted crowding fails the preflight with the " +
    "hot bucket named; default off runs it; benign passes unchanged") {
    spark.catalog.clearCache()
    val crowd = plantedCrowd(200)
    assertTrips(
      TextDedup.minHashLshPairs(crowd, "doc_id", "text",
        maxPairFactor = Some(4.0)),
      "minHashLshPairs")
    assertCacheEmpty("a FAILED preflight must release the shared " +
      "banding cache before throwing — no join is returned to read it")
    // default None: same corpus, no guard — the call constructs and runs
    val unguarded = TextDedup.minHashLshPairs(crowd, "doc_id", "text")
    assert(unguarded.count() == 200L * 199 / 2) // all-identical: every pair
    assertCacheEmpty("the unguarded call must not cache")
    val ok = TextDedup.minHashLshPairs(benign(200), "doc_id", "text",
      maxPairFactor = Some(4.0))
    // contract point (4): the passing guard left the banding cache the
    // returned join reads — documented, caller-released
    assert(!SpecBridge.cacheIsEmpty(spark),
      "a passing guarded call must leave the shared banding cache for " +
        "the returned join to read")
    val plain = TextDedup.minHashLshPairs(benign(200), "doc_id", "text")
    assert(ok.collect().toSet == plain.collect().toSet)
    // the documented release handle: unpersist an equivalently-
    // constructed public banded-keys frame — plan-matched by the
    // CacheManager, no reference to the operator's internal val needed
    TextDedup.minHashBandedKeys(benign(200), "doc_id", "text").unpersist()
    assertCacheEmpty("the public banded-keys handle must release the " +
      "guard's cache (equivalent-plan unpersist)")
  }

  test("crossMinHashLshPairs: planted crowding fails the preflight; " +
    "benign batch-vs-corpus passes with the guard on") {
    spark.catalog.clearCache()
    val corpus = plantedCrowd(200)
    val batch = plantedCrowd(20)
    assertTrips(
      TextDedup.crossMinHashLshPairs(corpus, batch, "doc_id", "text",
        maxPairFactor = Some(4.0)),
      "crossMinHashLshPairs")
    assertCacheEmpty("a failed cross preflight must release BOTH sides'" +
      " banding caches before throwing")
    val ok = TextDedup.crossMinHashLshPairs(benign(200), benign(20),
      "doc_id", "text", maxPairFactor = Some(4.0))
    val plain = TextDedup.crossMinHashLshPairs(benign(200), benign(20),
      "doc_id", "text")
    assert(ok.collect().toSet == plain.collect().toSet)
    // release both sides through the documented handle
    TextDedup.minHashBandedKeys(benign(200), "doc_id", "text").unpersist()
    TextDedup.minHashBandedKeys(benign(20), "doc_id", "text").unpersist()
    assertCacheEmpty("both cross-side caches must release via the handle")
  }

  test("simHashPairs: planted crowding fails the preflight (the 16-bit " +
    "band regime check, now enforceable at the call site)") {
    spark.catalog.clearCache()
    assertTrips(
      TextDedup.simHashPairs(plantedCrowd(200), "doc_id", "text",
        maxPairFactor = Some(4.0)),
      "simHashPairs")
    assertCacheEmpty("failed simHashPairs preflight must release its cache")
    // 32, not 4: even this varied corpus measures ~19·rows — 16-bit
    // bands crowd on any shared-template text (the documented regime
    // bound that motivated simHashPairs128, visible here in miniature);
    // the budget a 64-bit caller can hold is correspondingly looser
    val ok = TextDedup.simHashPairs(benign(200), "doc_id", "text",
      maxPairFactor = Some(32.0))
    val plain = TextDedup.simHashPairs(benign(200), "doc_id", "text")
    assert(ok.collect().toSet == plain.collect().toSet)
    TextDedup.simHashBandedKeys(benign(200), "doc_id", "text").unpersist()
    assertCacheEmpty("simHashPairs guard cache must release via its handle")
  }

  test("simHashPairs128: planted crowding fails the preflight over the " +
    "combination-band keys; benign passes unchanged") {
    spark.catalog.clearCache()
    assertTrips(
      TextDedup.simHashPairs128(plantedCrowd(200), "doc_id", "text",
        maxPairFactor = Some(4.0)),
      "simHashPairs128")
    assertCacheEmpty("failed 128-bit preflight must release its cache")
    val ok = TextDedup.simHashPairs128(benign(200), "doc_id", "text",
      maxPairFactor = Some(4.0))
    val plain = TextDedup.simHashPairs128(benign(200), "doc_id", "text")
    assert(ok.collect().toSet == plain.collect().toSet)
    TextDedup.simHashBandedKeys128(benign(200), "doc_id", "text").unpersist()
    assertCacheEmpty("simHashPairs128 guard cache must release via its " +
      "handle")
  }

  test("prefixBlockedLinkage: a degenerate shared prefix fails the " +
    "preflight (fz1's production guard); the corruption-model prefix " +
    "passes and matches the unguarded result") {
    // every title opens with the same >=14 chars — the
    // FuzzyBlockingBudgetSpec planted shape, now tripping INSIDE the
    // operator instead of only in the audit
    spark.catalog.clearCache()
    val n = 2000
    val titles = spark.range(n).select(col("id").as("doc_id"),
      concat(lit("SAME BOILERPLATE HEAD "), col("id").cast("string"))
        .as("title"))
    val queries = titles.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("q_id"), col("title").as("q_title"))
    assertTrips(
      TextDedup.prefixBlockedLinkage(queries, "q_id", "q_title",
        titles, "doc_id", "title", prefixLen = 14, maxEdit = 2,
        maxPairFactor = Some(4.0)),
      "prefixBlockedLinkage")
    // benign: distinct prefixes, titles EXACTLY 30 chars (the fz1
    // shape — dropping char 15 must leave edit distance 1, which a
    // longer tail would inflate past maxEdit)
    val good = spark.range(n).select(col("id").as("doc_id"),
      substring(md5(col("id").cast("string")), 1, 30).as("title"))
    val goodQ = good.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("q_id"),
        concat(substring(col("title"), 1, 14), substring(col("title"), 16, 30))
          .as("q_title"))
    val ok = TextDedup.prefixBlockedLinkage(goodQ, "q_id", "q_title",
      good, "doc_id", "title", prefixLen = 14, maxEdit = 2,
      maxPairFactor = Some(4.0))
    // the deliberate NON-shared family: its guard persists only slim
    // prefix keys and releases them before returning (sharing would
    // have to cache corpus-sized text), so BOTH paths are leak-free
    assertCacheEmpty("prefixBlockedLinkage's guard is self-scoped — " +
      "no cache may survive the call on either path")
    val plain = TextDedup.prefixBlockedLinkage(goodQ, "q_id", "q_title",
      good, "doc_id", "title", prefixLen = 14, maxEdit = 2)
    assert(ok.collect().toSet == plain.collect().toSet)
    assert(plain.count() >= n / 10) // every query finds its canonical
  }

  test("releasingGuardCaches: a loop of guarded calls over CHANGING " +
    "inputs leaks nothing (the loan-pattern mechanism on top of the " +
    "caller-releases contract)") {
    spark.catalog.clearCache()
    // per-batch ingest shape: each iteration's corpus differs, so each
    // guarded call persists a NEW plan — without the wrapper these
    // would accumulate across the loop
    (1 to 3).foreach { i =>
      val batch = benign(100 + i)
      val n = TextDedup.releasingGuardCaches(
          TextDedup.minHashBandedKeys(batch, "doc_id", "text")) {
        TextDedup.minHashLshPairs(batch, "doc_id", "text",
          maxPairFactor = Some(4.0)).count()
      }
      assertCacheEmpty(s"iteration $i must release its guard cache")
      // behavior, not just leakage: the guarded count equals the
      // unguarded one on the same batch
      val plain = TextDedup.minHashLshPairs(batch, "doc_id", "text").count()
      assert(n == plain, s"iteration $i: guarded $n vs unguarded $plain")
    }
    // safe around a tripping guard too: the failure path already
    // released, so the wrapper's unpersist is a no-op, and the
    // exception propagates
    intercept[IllegalStateException] {
      TextDedup.releasingGuardCaches(
          TextDedup.minHashBandedKeys(plantedCrowd(150), "doc_id", "text")) {
        TextDedup.minHashLshPairs(plantedCrowd(150), "doc_id", "text",
          maxPairFactor = Some(4.0)).count()
      }
    }
    assertCacheEmpty("tripping guard inside the wrapper leaks nothing")
  }

  test("releasingGuardCaches: a body that returns the LAZY Dataset is " +
    "rejected by mechanism (the consume contract, enforced) — and the " +
    "caches are still released") {
    spark.catalog.clearCache()
    val batch = benign(120)
    val e = intercept[IllegalArgumentException] {
      TextDedup.releasingGuardCaches(
          TextDedup.minHashBandedKeys(batch, "doc_id", "text")) {
        // the misuse the round-14 doc could only shout about: the lazy
        // frame escapes the wrapper, its cache is gone before any action
        TextDedup.minHashLshPairs(batch, "doc_id", "text",
          maxPairFactor = Some(4.0))
      }
    }
    assert(e.getMessage.contains("returned a lazy Dataset"), e.getMessage)
    assertCacheEmpty("the rejecting wrapper must still release the cache")
    // the container smuggle: (count, df) and Some(df) are the same
    // misuse one tuple deeper — the shallow traversal catches both
    val e2 = intercept[IllegalArgumentException] {
      TextDedup.releasingGuardCaches(
          TextDedup.minHashBandedKeys(batch, "doc_id", "text")) {
        val df = TextDedup.minHashLshPairs(batch, "doc_id", "text",
          maxPairFactor = Some(4.0))
        (df.count(), df)
      }
    }
    assert(e2.getMessage.contains("inside a tuple"), e2.getMessage)
    assertCacheEmpty("the tuple-rejecting wrapper still releases")
    val e3 = intercept[IllegalArgumentException] {
      TextDedup.releasingGuardCaches(
          TextDedup.minHashBandedKeys(batch, "doc_id", "text")) {
        Some(TextDedup.minHashLshPairs(batch, "doc_id", "text",
          maxPairFactor = Some(4.0)))
      }
    }
    assert(e3.getMessage.contains("lazy Dataset"), e3.getMessage)
    assertCacheEmpty("the Option-rejecting wrapper still releases")
    // non-Dataset results pass through unchanged (the documented use)
    val n = TextDedup.releasingGuardCaches(
        TextDedup.minHashBandedKeys(batch, "doc_id", "text")) {
      TextDedup.minHashLshPairs(batch, "doc_id", "text",
        maxPairFactor = Some(4.0)).count()
    }
    assert(n == TextDedup.minHashLshPairs(batch, "doc_id", "text").count())
    assertCacheEmpty("the passing wrapper releases as before")
    // a collect()ed Array[Row] is CONSUMED data — the Row exemption
    // keeps the check from rejecting (or pointlessly walking) real use
    val rows = TextDedup.releasingGuardCaches(
        TextDedup.minHashBandedKeys(batch, "doc_id", "text")) {
      TextDedup.minHashLshPairs(batch, "doc_id", "text",
        maxPairFactor = Some(4.0)).collect()
    }
    assert(rows.length.toLong == n)
    assertCacheEmpty("collected rows pass the consume check")
  }

  test("releasingGuardCaches: deferred producers are rejected WITHOUT " +
    "being forced — toLocalIterator, Iterator, infinite LazyList, view") {
    spark.catalog.clearCache()
    val batch = benign(130)
    def guarded[T](body: => T): T =
      TextDedup.releasingGuardCaches(
          TextDedup.minHashBandedKeys(batch, "doc_id", "text")) { body }
    // toLocalIterator: a java.util.Iterator, not an Iterable — it defers
    // one Spark job PER PARTITION past the cache release, and carries no
    // Dataset for the traversal to find; the one accidental lazy escape
    // the round-15 check missed
    val e = intercept[IllegalArgumentException] {
      guarded {
        TextDedup.minHashLshPairs(batch, "doc_id", "text",
          maxPairFactor = Some(4.0)).toLocalIterator()
      }
    }
    assert(e.getMessage.contains("toLocalIterator"), e.getMessage)
    assertCacheEmpty("the iterator-rejecting wrapper still releases")
    // deferred producers are rejected without traversal: an INFINITE
    // LazyList proves the check cannot be forcing it (the advice-caught
    // hazard — i.exists on a lazy collection evaluates it on the driver,
    // inside the require, before the caches release)
    intercept[IllegalArgumentException] { guarded { LazyList.from(1) } }
    intercept[IllegalArgumentException] { guarded { Iterator(1, 2, 3) } }
    intercept[IllegalArgumentException] { guarded { Seq(1, 2, 3).view } }
    assertCacheEmpty("deferred-producer rejections still release")
    // eager collections of consumed data still pass
    assert(guarded { List(1L, 2L) } == List(1L, 2L))
    assertCacheEmpty("eager results pass as before")
  }

  test("guard-cache accumulation past the threshold warns on stderr " +
    "naming the release mechanisms; a single guarded call stays silent " +
    "even beside unrelated persists") {
    spark.catalog.clearCache()
    // the review finding frozen: the warning counts OUTSTANDING GUARD
    // caches only — unrelated deliberate persists (il2's bloom gate, a
    // user's own caches, a parallel suite in the shared test session)
    // must not trip it after one guarded call. The first cut counted
    // sc.getPersistentRDDs.size and false-alarmed exactly here.
    val bystanders = (1 to 3).map(i => benign(200 + i).persist())
    bystanders.foreach(_.count()) // materialized, like a real user cache
    try {
      val quiet = new java.io.ByteArrayOutputStream()
      Console.withErr(quiet) {
        TextDedup.minHashLshPairs(benign(101), "doc_id", "text",
          maxPairFactor = Some(4.0))
      }
      assert(!quiet.toString.contains("releasingGuardCaches"),
        s"one guarded call must not warn: ${quiet.toString}")
      // the leak shape: three MORE guarded calls over changing inputs
      // with no release — the fourth outstanding guard cache crosses the
      // threshold
      val noisy = new java.io.ByteArrayOutputStream()
      Console.withErr(noisy) {
        (2 to 4).foreach(i =>
          TextDedup.minHashLshPairs(benign(100 + i), "doc_id", "text",
            maxPairFactor = Some(4.0)))
      }
      val warned = noisy.toString
      assert(warned.contains("minHashLshPairs") &&
        warned.contains("releasingGuardCaches"), s"expected the " +
        s"accumulation warning naming the release mechanisms, got: $warned")
      assert(warned.contains("4 guard banded-keys caches"),
        s"the count must be the guard caches, not every persist: $warned")
      (1 to 4).foreach(i =>
        TextDedup.minHashBandedKeys(benign(100 + i), "doc_id", "text")
          .unpersist())
    } finally bystanders.foreach(_.unpersist())
    assertCacheEmpty("all four accumulated guard caches release via handles")
  }

  test("released guard caches leave the accumulation count: a loop that " +
    "DOES release (the loan wrapper) never warns, however long it runs") {
    spark.catalog.clearCache()
    val quiet = new java.io.ByteArrayOutputStream()
    Console.withErr(quiet) {
      (1 to 6).foreach { i =>
        val batch = benign(300 + i)
        TextDedup.releasingGuardCaches(
            TextDedup.minHashBandedKeys(batch, "doc_id", "text")) {
          TextDedup.minHashLshPairs(batch, "doc_id", "text",
            maxPairFactor = Some(4.0)).count()
        }
      }
    }
    assert(!quiet.toString.contains("releasingGuardCaches"),
      s"a releasing loop must never warn (its outstanding count is " +
        s"always 1): ${quiet.toString}")
    assertCacheEmpty("the releasing loop leaks nothing")
  }

  test("preflightSelf's one-pass accounting equals the general " +
    "candidatePairVolume on the same frame and key (the self-join " +
    "specialization the LSH guards run)") {
    // mixed block sizes incl. a hot one, plus null keys (excluded by
    // both forms — SQL equality never matches null)
    val frame = spark.range(100).select(
      when(col("id") < 60, lit("hot"))
        .when(col("id") < 80, concat(lit("b"), (col("id") % 5).cast("string")))
        .otherwise(lit(null)).as("k"))
    val general = BlockingReference.candidatePairVolume(
      frame, col("k"), frame, col("k"))
    assert(general == 60L * 60 + 5L * (4L * 4)) // 3620
    // preflightSelf reports the same volume in its failure message
    val e = intercept[IllegalStateException] {
      BlockingBudget.preflightSelf(frame, col("k"), 1.0, "equiv")
    }
    assert(e.getMessage.contains(s"candidate-pair volume $general"),
      e.getMessage)
    // and the same refRows denominator: 80 non-null-keyed rows
    assert(e.getMessage.contains("x 80 rows"), e.getMessage)
    // a budget just above volume/refRows passes
    BlockingBudget.preflightSelf(frame, col("k"), general / 80.0 + 0.01,
      "equiv")
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
