package graft.operators

import graft.SparkSpec
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based characterization of the retrieval family against an
  * in-memory reference that reproduces the documented scoring contract
  * LITERALLY — the Lucene idf variant, per-term contributions rounded to
  * DECIMAL(18,6) HALF_UP, the exact decimal sum, (score desc, doc_id)
  * ranking, k cap — on random corpora that include repeated terms
  * (tf > 1), shared vocabulary across docs (df > 1), stopword-like terms
  * (df = N), empty tokens from doubled separators, and queries with
  * no matching document.
  */
class RetrievalPropertySpec extends SparkSpec {
  import spark.implicits._

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(5)

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(params, prop)
    assert(res.passed, res.status.toString) // status carries the counterexample
  }

  // small vocab with an empty token: "" in a joined text produces doubled
  // spaces, which the whitespace tokenizer keeps as empty-string terms
  private val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "")

  private val docsGen: Gen[List[(Long, String)]] =
    Gen.listOfN(8, for {
      len <- Gen.choose(3, 7)
      toks <- Gen.listOfN(len, Gen.oneOf(vocab))
    } yield toks.mkString(" ")).map(_.zipWithIndex.map {
      case (t, i) => (i.toLong, t)
    })

  private val queriesGen: Gen[List[(Long, String)]] =
    Gen.listOfN(3, for {
      len <- Gen.choose(1, 3)
      toks <- Gen.listOfN(len, Gen.oneOf(vocab))
    } yield toks.mkString(" ")).map(_.zipWithIndex.map {
      case (t, i) => (100L + i, t)
    })

  private def toks(text: String): Seq[String] =
    text.toLowerCase.split(" ", -1).toSeq

  /** The documented BM25 contract, computed in memory. */
  private def refBm25(docs: Seq[(Long, String)], queries: Seq[(Long, String)],
                      k: Int, k1: Double = 1.2, b: Double = 0.75)
      : Set[(Long, Long, Int, Double)] = {
    val tf = docs.map { case (id, t) =>
      id -> toks(t).groupBy(identity).map { case (w, o) => w -> o.length.toLong }
    }.toMap
    val dl = docs.map { case (id, t) => id -> toks(t).length.toLong }.toMap
    val n = docs.length.toLong
    val avgdl = dl.values.sum.toDouble / n.toDouble
    val dfreq = tf.values.flatMap(_.keys).groupBy(identity)
      .map { case (w, o) => w -> o.size.toLong }
    queries.flatMap { case (qid, qt) =>
      val scored = docs.flatMap { case (did, _) =>
        val contribs = toks(qt).distinct.flatMap { term =>
          tf(did).get(term).map { f =>
            val idf = math.log(1.0 +
              (n.toDouble - dfreq(term).toDouble + 0.5)
                / (dfreq(term).toDouble + 0.5))
            val tfp = f.toDouble * (k1 + 1.0) /
              (f.toDouble + k1 * ((1.0 - b) + b * (dl(did).toDouble / avgdl)))
            BigDecimal(idf * tfp).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          }
        }
        if (contribs.isEmpty) None else Some(did -> contribs.sum)
      }
      scored.sortBy { case (did, s) => (-s, did) }.take(k).zipWithIndex
        .map { case ((did, s), i) => (qid, did, i + 1, s.doubleValue) }
    }.toSet
  }

  test("bm25TopK = the documented scoring contract, ranks and scores included") {
    check(Prop.forAll(docsGen, queriesGen, Gen.choose(1, 5)) { (docs, qs, k) =>
      val got = Retrieval.bm25TopK(docs.toDF("doc_id", "text"),
        qs.toDF("qid", "qtext"), "doc_id", "text", "qid", "qtext", k)
        .as[(Long, Long, Int, Double)].collect().toSet
      val expected = refBm25(docs, qs, k)
      // ranks/pairs exact; scores via the same decimal→double conversion
      got.map(r => (r._1, r._2, r._3)) ==
        expected.map(r => (r._1, r._2, r._3)) &&
        got.forall { case (q, d, _, s) =>
          expected.exists(e => e._1 == q && e._2 == d &&
            math.abs(e._4 - s) <= 1e-9)
        }
    })
  }

  test("evalTopK = first-relevant-rank / MRR-convention reference") {
    val resultsGen = Gen.listOfN(12, for {
      q <- Gen.choose(0L, 3L); d <- Gen.choose(0L, 9L); r <- Gen.choose(1, 5)
    } yield (q, d, r)).map(_.distinctBy(t => (t._1, t._2)))
    val qrelsGen = Gen.listOfN(6, for {
      q <- Gen.choose(0L, 4L); d <- Gen.choose(0L, 9L)
    } yield (q, d)).map(_.distinct)
    check(Prop.forAll(resultsGen, qrelsGen) { (results, qrels) =>
      val got = Retrieval.evalTopK(results.toDF("qid", "doc_id", "rank"),
        qrels.toDF("qid", "rel_doc"))
        .as[(Long, Option[Int], Double, Boolean)].collect().toSet
      val expected = qrels.map(_._1).distinct.map { q =>
        val rel = qrels.filter(_._1 == q).map(_._2).toSet
        val ranks = results.filter(r => r._1 == q && rel(r._2)).map(_._3)
        val best = if (ranks.isEmpty) None else Some(ranks.min)
        (q, best, best.fold(0.0)(r => 1.0 / r.toDouble), best.nonEmpty)
      }.toSet
      got == expected
    })
  }
}
