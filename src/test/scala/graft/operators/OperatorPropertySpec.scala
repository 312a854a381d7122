package graft.operators

import graft.SparkSpec
import org.scalacheck.{Gen, Prop, Test => SCTest}
import java.sql.Timestamp

/** Property-based checks: the distributed operators must equal a
  * straightforward in-memory reference on arbitrary small inputs — keys and
  * timestamps are drawn from tiny domains to force collisions, boundary
  * gaps, and empty-match cases that fixed fixtures miss.
  */
class OperatorPropertySpec extends SparkSpec {
  import spark.implicits._

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(6)

  private def check(prop: Prop): Unit =
    assert(SCTest.check(params, prop).passed)

  // (key, id, tsSeconds) with small key/time domains
  private val rowsGen: Gen[List[(Long, Long, Long)]] =
    Gen.listOfN(25, for {
      k <- Gen.choose(0L, 3L)
      id <- Gen.choose(0L, 1000000L)
      t <- Gen.choose(0L, 20L) // small domain → frequent gap boundaries
    } yield (k, id, t)).map(_.distinctBy(_._2))

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  test("as-of join equals the in-memory reference (property)") {
    val prop = Prop.forAll(rowsGen, rowsGen) { (ls, rs0) =>
      val rs = rs0.distinctBy(r => (r._1, r._3)) // unique (key, ts): the
      // match at equal timestamps is otherwise unspecified on both sides
      val left = ls.map { case (k, id, t) => (id, k, ts(t)) }
        .toDF("lid", "k", "lts")
      val right = rs.map { case (k, id, t) => (k, id, ts(t)) }
        .toDF("k", "rid", "rts")
      val got = AsOfJoin.asOf(left, right, "k", "lts", "rts",
        Seq("rid"), joinType = "left")
        .select("lid", "rid").as[(Long, Option[Long])].collect().toMap
      val expected = ls.map { case (k, id, t) =>
        id -> rs.filter(r => r._1 == k && r._3 <= t)
          .sortBy(_._3).lastOption.map(_._2)
      }.toMap
      // inner = left minus the unmatched rows, same matches; compared as
      // sorted rows (not a map) so duplicated emissions can't hide
      val gotInner = AsOfJoin.asOf(left, right, "k", "lts", "rts",
        Seq("rid"), joinType = "inner")
        .select("lid", "rid").as[(Long, Long)].collect().toList.sorted
      got == expected &&
        gotInner == expected.collect { case (id, Some(r)) => (id, r) }
          .toList.sorted
    }
    check(prop)
  }

  test("self interval pairs equal the in-memory reference (property)") {
    val gap = 5L
    val prop = Prop.forAll(rowsGen) { rows =>
      val df = rows.map { case (k, id, t) => (k, id, ts(t)) }
        .toDF("k", "id", "t")
      val got = RangeJoin.pairsWithinGap(df, "k", "id", "t", gap)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val expected = (for {
        a <- rows; b <- rows
        if a._1 == b._1 && b._3 - a._3 >= 0 && b._3 - a._3 <= gap
        if b._3 > a._3 || (b._3 == a._3 && b._2 > a._2)
      } yield (a._2, b._2)).toSet
      got == expected
    }
    check(prop)
  }

  test("two-relation interval join equals the in-memory reference (property)") {
    val gap = 5L
    val prop = Prop.forAll(rowsGen, rowsGen) { (ls, rs) =>
      val left = ls.map { case (k, id, t) => (k, id, ts(t)) }
        .toDF("k", "lid", "lt")
      val right = rs.map { case (k, id, t) => (k, id, ts(t)) }
        .toDF("k", "rid", "rt")
      val got = RangeJoin.joinWithinGap(left, right, "k",
        "lid", "lt", "rid", "rt", gap)
        .select("lid", "rid").as[(Long, Long)].collect().toSet
      val expected = (for {
        a <- ls; b <- rs
        if a._1 == b._1 && a._3 - b._3 >= 0 && a._3 - b._3 <= gap
      } yield (a._2, b._2)).toSet
      got == expected
    }
    check(prop)
  }

  test("block-pair near-dup join emits each qualifying pair once (property)") {
    val vecGen: Gen[List[(Long, Array[Float])]] =
      Gen.listOfN(12, for {
        id <- Gen.choose(0L, 1000000L)
        v <- Gen.listOfN(4, Gen.choose(-5, 5).map(_.toFloat))
        if v.exists(_ != 0f) // zero vectors have undefined cosine (null)
      } yield (id, v.toArray)).map(_.distinctBy(_._1))
    // the same strict left-fold the native kernel evaluates —
    // needed because -1 (the lowest CONTRACTUAL threshold; out-of-range
    // sentinels are require-rejected) can exclude antiparallel pairs
    // whose cosine rounds a ulp below -1
    def cosRef(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i =>
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val prop = Prop.forAll(vecGen, Gen.choose(1, 5)) { (vs, blocks) =>
      val df = vs.toDF("vec_id", "embedding")
      val got = Similarity
        .cosineNearDupPairs(df, "vec_id", "embedding", -1.0, nBlocks = blocks)
        .select("id_a", "id_b").as[(Long, Long)].collect().toList
      val expected = (for {
        i <- vs.indices; j <- (i + 1) until vs.length
        if cosRef(vs(i)._2, vs(j)._2) >= -1.0
      } yield {
        val (a, b) = (vs(i)._1, vs(j)._1)
        (math.min(a, b), math.max(a, b))
      }).toList
      // every qualifying unordered pair exactly once
      got.sorted == expected.sorted
    }
    check(prop)
  }

  test("ngram_counts equals an in-memory reference on arbitrary text") {
    // tiny alphabet + explicit empty tokens/case variance: adjacent
    // separators, leading/trailing spaces, and repeated grams all occur
    val tokenGen = Gen.oneOf("a", "B", "ab", "", "ба")
    val textGen = Gen.listOfN(8, tokenGen).map(_.mkString(" "))
    val prop = Prop.forAll(Gen.listOfN(6, textGen), Gen.choose(1, 3)) {
      (texts, n) =>
        val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        val got = df.select($"doc_id",
          org.apache.spark.sql.functions.explode(
            graft.functions.NgramCounts.ngramCounts($"text", n)).as("tc"))
          .select($"doc_id", $"tc.gram", $"tc.cnt")
          .as[(Long, String, Int)].collect().toSet
        val expected = texts.zipWithIndex.flatMap { case (t, i) =>
          val toks = t.toLowerCase.split(" ", -1).toSeq
          toks.sliding(n).filter(_.length == n).map(_.mkString(" "))
            .toList.groupBy(identity)
            .map { case (g, occ) => (i.toLong, g, occ.length) }
        }.toSet
        got == expected
    }
    check(prop)
  }
}
