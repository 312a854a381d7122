package graft.operators

import graft.SparkSpec
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based characterization of the SemDeDup family on random
  * embedding corpora: the operators' full output contract — every
  * cluster-co-located pair at or above the cosine threshold, exactly
  * once, with the DECIMAL(18,4) cosine — recomputed in memory from the
  * operators' own (deterministic, seeded) cluster memberships plus a
  * brute-force cosine. Pinning against the memberships (rather than
  * re-deriving k-means) scopes the property to what the operators ADD
  * over the quantizer: the within-cell / cross-cell pair enumeration,
  * the self/ordering guards, the overlap dedup, and the threshold
  * semantics under ties.
  */
class SemanticDedupPropertySpec extends SparkSpec {
  import spark.implicits._

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(4)

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(params, prop)
    assert(res.passed, res.status.toString) // status carries the counterexample
  }

  private def vecsGen(count: Int, firstId: Long): Gen[List[(Long, Array[Float])]] =
    Gen.listOfN(count, Gen.listOfN(4, Gen.choose(-3, 3).map(_.toFloat))
      .suchThat(_.exists(_ != 0f)))
      .map(_.zipWithIndex.map { case (v, i) => (firstId + i, v.toArray) })

  // the native kernel's strict left-fold, in memory
  private def cosRef(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    a.indices.foreach { i =>
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).doubleValue

  test("semanticDupPairs = co-clustered pairs with cosine ≥ t, exactly once") {
    val (c, probes, t) = (3, 2, 0.8)
    check(Prop.forAll(vecsGen(12, 0L)) { vs =>
      val df = vs.toDF("vec_id", "embedding")
      val got = SemanticDedup
        .semanticDupPairs(df, "vec_id", "embedding", c, t, probes)
        .as[(Long, Long, BigDecimal)].collect()
        .map { case (a, b, cos) => (a, b, cos.doubleValue) }
      // the operator's own deterministic memberships (same args, same seed)
      val (_, members) = Similarity
        .ivfIndexAndMembers(df, "vec_id", "embedding", c, probes)
      val cells = members.select("vid", "cluster").as[(Long, Long)]
        .collect().groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).toSet }
      val vecs = vs.toMap
      val expected = (for {
        i <- vs.indices; j <- (i + 1) until vs.length
        (ia, ib) = (vs(i)._1, vs(j)._1)
        if (cells(ia) & cells(ib)).nonEmpty
        cos = cosRef(vecs(ia), vecs(ib)) if cos >= t
      } yield (ia, ib, round4(cos))).toList
      got.sorted.toList == expected.sorted && got.length == got.distinct.length
    })
  }

  test("incrementalPairs = batch×corpus co-clustered pairs with cosine ≥ t") {
    val (c, probes, t) = (3, 2, 0.8)
    check(Prop.forAll(vecsGen(10, 0L), vecsGen(4, 6L)) { (corpus, batch) =>
      // overlapping id ranges on purpose: the self-pair guard (same id on
      // both sides never matches) is part of the contract
      val cDf = corpus.toDF("vec_id", "embedding")
      val bDf = batch.toDF("vec_id", "embedding")
      val got = SemanticDedup
        .incrementalPairs(cDf, bDf, "vec_id", "embedding", c, t, probes)
        .as[(Long, Long, BigDecimal)].collect()
        .map { case (n, m, cos) => (n, m, cos.doubleValue) }
      val (index, corpusMembers) = Similarity
        .ivfIndexAndMembers(cDf, "vec_id", "embedding", c, probes)
      val cCells = corpusMembers.select("vid", "cluster").as[(Long, Long)]
        .collect().groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).toSet }
      val bCells = Similarity
        .clusterAssignments(index, bDf, "vec_id", "embedding", probes)
        .select("vid", "cluster").as[(Long, Long)]
        .collect().groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).toSet }
      val expected = (for {
        (bid, bv) <- batch; (cid, cv) <- corpus
        if bid != cid && (bCells(bid) & cCells(cid)).nonEmpty
        cos = cosRef(bv, cv) if cos >= t
      } yield (bid, cid, round4(cos))).toList
      got.sorted.toList == expected.sorted && got.length == got.distinct.length
    })
  }
}
