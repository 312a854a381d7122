package graft.operators

import graft.SparkSpec
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Randomized guarantees of the sketch family (the planted-set specs pin
  * hand-built cases; these pin the CONTRACTS on arbitrary streams):
  *
  *  - Count–Min: the one-sided Cormode–Muthukrishnan guarantee — the
  *    merged per-group estimate is NEVER below the true count, and never
  *    above truth + ε·N (deterministic here: the depth-7/seed-42 array is
  *    fixed, so the "with probability" clause is a fixed outcome per
  *    key set, asserted exactly);
  *  - Theta: below 2^lgK retained, per-group estimates, unions and
  *    intersections are EXACT on random sets — the exact-mode regime
  *    every catalog consumer (ag2's companion, th1) relies on.
  */
class SketchPropertySpec extends SparkSpec {
  import spark.implicits._

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(6)

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(params, prop)
    assert(res.passed, res.status.toString) // status carries the counterexample
  }

  test("CountMin: estimate ≥ truth always, ≤ truth + ε·N on random streams") {
    val rowsGen = Gen.listOfN(60,
      Gen.zip(Gen.choose(0, 2), Gen.choose(0L, 19L)))
    check(Prop.forAll(rowsGen) { rows =>
      val sk = CountMin.groupSketches(rows.toDF("g", "k"), "g", "k")
      val keys = (0L to 20L).toSeq // incl. a key absent from the stream
      val (est, bound) = CountMin.estimateKeys(sk, keys)
      val truth = rows.groupBy(_._2).map { case (k, o) => k -> o.length.toLong }
      keys.forall { k =>
        val t = truth.getOrElse(k, 0L)
        est(k) >= t && est(k) <= t + bound
      }
    })
  }

  test("Theta: group estimates and set algebra are exact below 2^lgK") {
    val rowsGen = Gen.listOfN(50,
      Gen.zip(Gen.oneOf("a", "b"), Gen.choose(0L, 30L)))
      .suchThat(rs => rs.exists(_._1 == "a") && rs.exists(_._1 == "b"))
    check(Prop.forAll(rowsGen) { rows =>
      val sk = ThetaReference
        .groupSketches(rows.toDF("g", "k"), "g", "k")
      val setA = rows.collect { case ("a", k) => k }.toSet
      val setB = rows.collect { case ("b", k) => k }.toSet
      def exact(d: Double) = math.round(d)
      exact(sk("a").getEstimate) == setA.size.toLong &&
        exact(sk("b").getEstimate) == setB.size.toLong &&
        exact(ThetaReference.unionEstimate(sk("a"), sk("b"))) ==
          (setA | setB).size.toLong &&
        exact(ThetaReference.intersectionEstimate(sk("a"), sk("b"))) ==
          (setA & setB).size.toLong
    })
  }
}
