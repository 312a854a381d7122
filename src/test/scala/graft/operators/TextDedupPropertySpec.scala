package graft.operators

import graft.SparkSpec
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based characterization of the text-dedup operators on random
  * near-duplicate corpora: each base document spawns one-token-mutated
  * variants, so the generated corpus is dense in exactly the boundary
  * cases the operators exist for (hamming 1-3 twins, high-but-not-1
  * Jaccard pairs, exact copies). Every property states the operator's
  * FULL output contract against an in-memory reference, not just a
  * containment:
  *
  *  - `jaccardPairs` = all id-ordered pairs with shingle-set Jaccard ≥ t,
  *    values included (reference Jaccard over distinct shingle STRINGS —
  *    equal strings hash equal, distinct strings distinct at 64 bits);
  *  - `simHashPairs`/`simHashPairs128` = all pairs within hamming ≤ 3 of
  *    the corresponding fingerprint (the pigeonhole banding's exact-recall
  *    claim, checked pair-for-pair against brute force);
  *  - `minHashLshPairs` = band-collision candidates ∩ exact Jaccard ≥ t,
  *    with band collision decided in memory by raw signature-slice
  *    equality (band-hash equality ⇔ slice equality at 64 bits).
  */
class TextDedupPropertySpec extends SparkSpec {
  import spark.implicits._

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(5)

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(params, prop)
    assert(res.passed, res.status.toString) // status carries the counterexample
  }

  private val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")

  // 4 independent bases + 6 near-duplicate variants (one token swapped)
  private val corpusGen: Gen[List[(Long, String)]] = {
    val docGen = for {
      len <- Gen.choose(4, 8)
      toks <- Gen.listOfN(len, Gen.oneOf(vocab))
    } yield toks
    for {
      bases <- Gen.listOfN(4, docGen)
      variants <- Gen.listOfN(6, for {
        b <- Gen.oneOf(bases)
        pos <- Gen.choose(0, 63)
        w <- Gen.oneOf(vocab)
      } yield b.updated(pos % b.length, w))
    } yield (bases ++ variants).zipWithIndex
      .map { case (t, i) => (i.toLong, t.mkString(" ")) }
  }

  // the operators' exact tokenization: lowercase, split on single spaces,
  // empty tokens kept (split limit -1)
  private def toks(text: String): Seq[String] =
    text.toLowerCase.split(" ", -1).toSeq

  private def shingleSet(text: String, n: Int): Set[String] = {
    val t = toks(text)
    if (t.length < n) Set.empty
    else t.sliding(n).map(_.mkString(" ")).toSet
  }

  private def jac(a: Set[String], b: Set[String]): Double = {
    val inter = (a & b).size
    if (a.isEmpty && b.isEmpty) 0.0 // align with CurationPropertySpec's copy
    else inter.toDouble / (a.size + b.size - inter).toDouble
  }

  test("jaccardPairs = exactly the pairs with shingle Jaccard ≥ t, values too") {
    val (n, t) = (2, 0.3)
    check(Prop.forAll(corpusGen) { docs =>
      val got = TextDedup
        .jaccardPairs(docs.toDF("doc_id", "text"), "doc_id", "text", n, t)
        .as[(Long, Long, BigDecimal)].collect()
        .map { case (a, b, j) => (a, b, j.doubleValue) }.toSet
      val expected = (for {
        i <- docs.indices; j <- (i + 1) until docs.length
        sa = shingleSet(docs(i)._2, n); sb = shingleSet(docs(j)._2, n)
        if (sa & sb).nonEmpty
        jv = jac(sa, sb) if jv >= t
      } yield (docs(i)._1, docs(j)._1,
        BigDecimal(jv).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .doubleValue)).toSet
      got == expected
    })
  }

  test("simHashPairs = exactly the pairs within hamming ≤ 3 (64-bit)") {
    check(Prop.forAll(corpusGen) { docs =>
      val got = TextDedup
        .simHashPairs(docs.toDF("doc_id", "text"), "doc_id", "text", 3)
        .as[(Long, Long, Int)].collect().toSet
      val sigs = docs.map { case (id, t) => id -> TextDedup.simHash64(toks(t)) }
      val expected = (for {
        i <- sigs.indices; j <- (i + 1) until sigs.length
        d = java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2) if d <= 3
      } yield (sigs(i)._1, sigs(j)._1, d)).toSet
      got == expected
    })
  }

  test("simHashPairs128 = exactly the pairs within hamming ≤ 3 (128-bit)") {
    check(Prop.forAll(corpusGen) { docs =>
      val got = TextDedup
        .simHashPairs128(docs.toDF("doc_id", "text"), "doc_id", "text", 3)
        .as[(Long, Long, Int)].collect().toSet
      val sigs = docs.map { case (id, t) =>
        id -> TextDedup.simHash128(toks(t))
      }
      val expected = (for {
        i <- sigs.indices; j <- (i + 1) until sigs.length
        d = java.lang.Long.bitCount(sigs(i)._2._1 ^ sigs(j)._2._1) +
          java.lang.Long.bitCount(sigs(i)._2._2 ^ sigs(j)._2._2)
        if d <= 3
      } yield (sigs(i)._1, sigs(j)._1, d)).toSet
      got == expected
    })
  }

  // second corpus with a disjoint id space, built from the SAME vocab so
  // cross-corpus overlap actually occurs
  private val benchGen: Gen[List[(Long, String)]] = corpusGen.map(
    _.take(5).map { case (id, t) => (100L + id, t) })

  test("crossJaccardPairs = exactly the cross pairs with Jaccard ≥ t") {
    val (n, t) = (2, 0.3)
    check(Prop.forAll(corpusGen, benchGen) { (train, bench) =>
      val got = TextDedup.crossJaccardPairs(
        train.toDF("doc_id", "text"), bench.toDF("doc_id", "text"),
        "doc_id", "text", n, t)
        .select("train_id", "bench_id").as[(Long, Long)].collect().toSet
      val expected = (for {
        (ta, tt) <- train; (ba, bt) <- bench
        sa = shingleSet(tt, n); sb = shingleSet(bt, n)
        if (sa & sb).nonEmpty && jac(sa, sb) >= t
      } yield (ta, ba)).toSet
      got == expected
    })
  }

  test("crossMinHashLshPairs = cross band-collisions ∩ exact Jaccard ≥ t") {
    val (n, numHashes, bands, t) = (2, 8, 4, 0.3)
    val r = numHashes / bands
    check(Prop.forAll(corpusGen, benchGen) { (corpus, batch) =>
      val cDf = corpus.toDF("doc_id", "text")
      val bDf = batch.toDF("doc_id", "text")
      val got = TextDedup.crossMinHashLshPairs(cDf, bDf,
        "doc_id", "text", n, numHashes, bands, t)
        .select("corpus_id", "batch_id").as[(Long, Long)].collect().toSet
      val cSigs = TextDedup.minHashSignatures(TextDedup.shingleSets(cDf,
        "doc_id", "text", n), numHashes).as[(Long, Seq[Long])].collect().toMap
      val bSigs = TextDedup.minHashSignatures(TextDedup.shingleSets(bDf,
        "doc_id", "text", n), numHashes).as[(Long, Seq[Long])].collect().toMap
      val expected = (for {
        (ca, ct) <- corpus; (ba, bt) <- batch
        sa <- cSigs.get(ca); sb <- bSigs.get(ba)
        if (0 until bands).exists(b =>
          sa.slice(b * r, (b + 1) * r) == sb.slice(b * r, (b + 1) * r))
        if jac(shingleSet(ct, n), shingleSet(bt, n)) >= t
      } yield (ca, ba)).toSet
      got == expected
    })
  }

  test("ngramCollisions = per-doc distinct-window intersection counts") {
    val n = 2
    check(Prop.forAll(corpusGen, benchGen) { (corpus, bench) =>
      val got = TextDedup.ngramCollisions(
        corpus.toDF("doc_id", "text"), bench.toDF("doc_id", "text"),
        "doc_id", "text", n)
        .as[(Long, Long)].collect().toMap
      val benchSet = bench.map(b => shingleSet(b._2, n))
        .foldLeft(Set.empty[String])(_ | _)
      val expected = corpus.flatMap { case (id, t) =>
        val k = (shingleSet(t, n) & benchSet).size.toLong
        if (k > 0) Some(id -> k) else None
      }.toMap
      got == expected
    })
  }

  test("minHashLshPairs = band-collision candidates ∩ exact Jaccard ≥ t") {
    val (n, numHashes, bands, t) = (2, 8, 4, 0.3)
    val r = numHashes / bands
    check(Prop.forAll(corpusGen) { docs =>
      val df = docs.toDF("doc_id", "text")
      val got = TextDedup
        .minHashLshPairs(df, "doc_id", "text", n, numHashes, bands, t)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      // band collision decided on the operator's own signatures by RAW
      // slice equality — this pins the banding join + verify stage
      val sigs = TextDedup.minHashSignatures(
        TextDedup.shingleSets(df, "doc_id", "text", n), numHashes)
        .as[(Long, Seq[Long])].collect().toMap
      val expected = (for {
        i <- docs.indices; j <- (i + 1) until docs.length
        (ia, ib) = (docs(i)._1, docs(j)._1)
        sa <- sigs.get(ia); sb <- sigs.get(ib)
        if (0 until bands).exists(b =>
          sa.slice(b * r, (b + 1) * r) == sb.slice(b * r, (b + 1) * r))
        if jac(shingleSet(docs(i)._2, n), shingleSet(docs(j)._2, n)) >= t
      } yield (ia, ib)).toSet
      got == expected
    })
  }

  test("set-derived MinHash signatures == per-hash min of xxhash64(i, sh) " +
      "over the exploded shingles, bit for bit") {
    import org.apache.spark.sql.functions._
    val numHashes = 8
    // reference: the per-hash min over the exploded (doc, sh) index
    def exploded(df: org.apache.spark.sql.DataFrame, n: Int) =
      TextDedup.shingleIndex(df, "doc_id", "text", n).groupBy(col("doc"))
        .agg(array((0 until numHashes).map(i =>
          min(xxhash64(lit(i), col("sh")))): _*).as("sig"))
        .as[(Long, Seq[Long])].collect().toMap
    def fromSets(df: org.apache.spark.sql.DataFrame, n: Int) =
      TextDedup.minHashSignatures(
        TextDedup.shingleSets(df, "doc_id", "text", n), numHashes)
        .as[(Long, Seq[Long])].collect().toMap
    check(Prop.forAll(corpusGen) { docs =>
      val df = docs.toDF("doc_id", "text")
      fromSets(df, 2) == exploded(df, 2)
    })
    val harness = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val sigs = fromSets(harness, 5)
    assert(sigs.nonEmpty && sigs == exploded(harness, 5))
  }
}
