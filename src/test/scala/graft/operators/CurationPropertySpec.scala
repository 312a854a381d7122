package graft.operators

import graft.SparkSpec
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based characterization of the end-to-end curation composition:
  * the one-DAG pipeline must equal the stage-by-stage set logic computed
  * in memory from independently-collected per-document attributes —
  * exact-dedup survivors (min id per identical text), near-dup drops
  * (greater id of every band-collision pair with shingle Jaccard ≥ t,
  * collisions decided by raw signature-slice equality), then the quality
  * and language gates on the per-row values. This pins the COMPOSITION
  * (join/anti-join/filter plumbing and its survival through Catalyst's
  * whole-pipeline optimization) rather than re-testing the per-row
  * heuristics, which have their own characterization specs. The
  * generated corpora straddle every gate: exact copies, one-token
  * variants (near-dup candidates), docs under the 5-token shingle
  * minimum (excluded from pairing but not from dedup), stopword-bearing
  * texts above the quality cut and marker-free texts below it.
  */
class CurationPropertySpec extends SparkSpec {
  import spark.implicits._

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(4)

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(params, prop)
    assert(res.passed, res.status.toString) // status carries the counterexample
  }

  // en markers/stopwords ("the", "a", "of", "and") vs neutral words: their
  // mix decides both gates; short docs (< 5 tokens) dodge the shingler
  private val vocab =
    Vector("the", "a", "of", "and", "zebra", "quark", "flint", "mossy")

  private val corpusGen: Gen[List[(Long, String)]] = {
    val docGen = for {
      len <- Gen.choose(4, 10)
      toks <- Gen.listOfN(len, Gen.oneOf(vocab))
    } yield toks
    for {
      bases <- Gen.listOfN(5, docGen)
      copies <- Gen.listOfN(2, Gen.oneOf(bases)) // exact duplicates
      variants <- Gen.listOfN(4, for {
        b <- Gen.oneOf(bases)
        pos <- Gen.choose(0, 63)
        w <- Gen.oneOf(vocab)
      } yield b.updated(pos % b.length, w))
    } yield (bases ++ copies ++ variants).zipWithIndex
      .map { case (t, i) => (i.toLong, t.mkString(" ")) }
  }

  private def jac(a: Set[String], b: Set[String]): Double = {
    val inter = (a & b).size
    if (a.isEmpty && b.isEmpty) 0.0
    else inter.toDouble / (a.size + b.size - inter).toDouble
  }

  test("curate = exact-dedup ∘ near-dup-drop ∘ quality gate ∘ lang gate") {
    val (n, numHashes, bands, minJaccard) = (5, 32, 16, 0.5)
    val r = numHashes / bands
    check(Prop.forAll(corpusGen) { docs =>
      val df = docs.toDF("doc_id", "text")
      val got = Curation.curate(df, "doc_id", "text")
        .select("doc_id", "quality", "lang_guess")
        .as[(Long, BigDecimal, String)].collect()
        .map { case (id, q, l) => id -> ((q.doubleValue, l)) }.toMap

      // independently-collected per-row attributes (single projections,
      // no composition involved)
      val attrs = df.select($"doc_id",
        graft.functions.TextAnalysis.qualityScore($"text")
          .cast("decimal(18,6)"),
        graft.functions.TextAnalysis.languageId($"text"))
        .as[(Long, BigDecimal, String)].collect()
        .map { case (id, q, l) => id -> ((q, l)) }.toMap
      val sigs = TextDedup
        .minHashSignatures(TextDedup.shingleSets(df, "doc_id", "text", n),
          numHashes)
        .as[(Long, Seq[Long])].collect().toMap

      val shingle = docs.map { case (id, t) =>
        val toks = t.toLowerCase.split(" ", -1).toSeq
        id -> (if (toks.length < n) Set.empty[String]
               else toks.sliding(n).map(_.mkString(" ")).toSet)
      }.toMap
      val exactSurvivors = docs.groupBy(_._2).values
        .map(_.map(_._1).min).toSet
      val drops = (for {
        i <- docs.indices; j <- (i + 1) until docs.length
        (ia, ib) = (docs(i)._1, docs(j)._1)
        sa <- sigs.get(ia); sb <- sigs.get(ib)
        if (0 until bands).exists(b =>
          sa.slice(b * r, (b + 1) * r) == sb.slice(b * r, (b + 1) * r))
        if jac(shingle(ia), shingle(ib)) >= minJaccard
      } yield ib).toSet
      val expected = docs.map(_._1).filter { id =>
        val (q, l) = attrs(id)
        exactSurvivors(id) && !drops(id) &&
          q >= BigDecimal("0.4") && l == "en"
      }.map(id => id -> ((attrs(id)._1.doubleValue, attrs(id)._2))).toMap
      got == expected
    })
  }
}
