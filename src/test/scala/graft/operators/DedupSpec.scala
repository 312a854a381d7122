package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Dedup-operator semantics on controlled corpora + the harness documents
  * table: exact groups, Jaccard math, MinHash-LSH recall vs the exact
  * pairs, SimHash pigeonhole recall vs brute-force hamming.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")

  test("exact dedup groups duplicates under one canonical id") {
    val df = Seq((1L, "aa bb cc"), (2L, "aa bb cc"), (3L, "zz yy"))
      .toDF("doc_id", "text")
    val groups = TextDedup.exactDupGroups(df, "doc_id", "text")
      .select("canonical_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(groups == Set((1L, 2L), (3L, 1L)))
  }

  test("jaccard math on a hand-computed pair") {
    // 2-gram shingles: a={ab,bc,cd}, b={ab,bc,ce} → |∩|=2, |∪|=4 → 0.5
    val df = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    val pairs = TextDedup.jaccardPairs(df, "doc_id", "text", n = 2,
      minJaccard = 0.1).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getDecimal(2).doubleValue() == 0.5)
  }

  test("stripPrefix renames only prefixed columns; collisions fail fast") {
    val df = Seq((1L, 2.0, "x")).toDF("id", "mat_price", "mat_name")
    val out = Projections.stripPrefix(df, "mat_")
    assert(out.columns.toSeq == Seq("id", "price", "name"))
    val clash = Seq((1L, 2.0)).toDF("price", "mat_price")
    assertThrows[IllegalArgumentException] {
      Projections.stripPrefix(clash, "mat_")
    }
  }

  test("dataset split is deterministic with sane proportions") {
    val a = Splits.assignSplit(docs.select($"doc_id"), "doc_id")
      .as[(Long, String)].collect().toMap
    val b = Splits.assignSplit(docs.select($"doc_id"), "doc_id")
      .as[(Long, String)].collect().toMap
    assert(a == b) // pure function of the id
    val n = a.size.toDouble
    val train = a.values.count(_ == "train") / n
    assert(train > 0.6 && train < 0.95, s"train fraction $train off 0.8")
    assert(a.values.toSet == Set("train", "validation", "test"))
  }

  test("corpus mixing keeps sources at their sampling rates, deterministically") {
    val src = docs.select($"doc_id", $"source")
    val mixed = Splits.mixBySource(src, "doc_id", "source",
      Map("src0" -> 100, "src1" -> 0), defaultPct = 50)
    val bySrc = mixed.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    val total = src.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    assert(bySrc("src0") == total("src0")) // 100% kept
    assert(!bySrc.contains("src1"))        // 0% kept
    val others = total.keySet -- Set("src0", "src1")
    val keptFrac = others.toSeq.map(s => bySrc.getOrElse(s, 0L)).sum.toDouble /
      others.toSeq.map(total).sum
    assert(keptFrac > 0.3 && keptFrac < 0.7, s"~50% expected, got $keptFrac")
    // deterministic: second evaluation is identical
    assert(Splits.mixBySource(src, "doc_id", "source",
      Map("src0" -> 100, "src1" -> 0), defaultPct = 50)
      .as[(Long, String)].collect().toSet ==
      mixed.as[(Long, String)].collect().toSet)
  }

  test("stratified sample: n per stratum, deterministic, layout-immune") {
    val src = docs.select($"doc_id", $"source")
    val a = Splits.stratifiedSample(src, "source", "doc_id", n = 5)
      .as[(Long, String, Int)].collect().toSet
    // exactly 5 per source, ranks 1..5
    a.groupBy(_._2).foreach { case (s, rows) =>
      assert(rows.size == 5, s"stratum $s")
      assert(rows.map(_._3) == Set(1, 2, 3, 4, 5), s"stratum $s ranks")
    }
    // identical under a different physical layout
    val b = Splits.stratifiedSample(src.repartition(7), "source", "doc_id", 5)
      .as[(Long, String, Int)].collect().toSet
    assert(a == b)
  }

  test("cross-corpus contamination finds only true train↔benchmark overlap") {
    val train = Seq((1L, "a b c d e f"), (2L, "x y z w q r"))
      .toDF("doc_id", "text")
    val bench = Seq((10L, "a b c d e f"), (11L, "k l m n o p"))
      .toDF("doc_id", "text")
    val got = TextDedup.crossJaccardPairs(train, bench, "doc_id", "text")
      .select("train_id", "bench_id", "jaccard").collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 10L)))
    assert(got.head.getDecimal(2).doubleValue() == 1.0) // identical docs
  }

  test("minhash-LSH finds exactly the exact-Jaccard pairs on the corpus") {
    val exact = TextDedup.jaccardPairs(docs, "doc_id", "text")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = TextDedup.minHashLshPairs(docs, "doc_id", "text")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty) // planted near-dups exist
    assert(lsh == exact)   // verify step kills FPs; banding recalls all
  }

  test("simhash bands recall every pair with hamming ≤ 3 (pigeonhole)") {
    val sigs = TextDedup.simHashes(docs, "doc_id", "text")
      .as[(Long, Long)].collect()
    val brute = (for {
      (a, ha) <- sigs; (b, hb) <- sigs if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (a, b, d)).toSet
    val banded = TextDedup.simHashPairs(docs, "doc_id", "text")
      .as[(Long, Long, Int)].collect().toSet
    assert(banded == brute)
    assert(brute.nonEmpty) // near-dup docs land within hamming 3
  }

  test("simhash128 combination bands recall every pair with hamming ≤ 3 " +
    "over the wide fingerprint (5-piece / 2-clean pigeonhole)") {
    val sigs = TextDedup.simHashes128(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect()
    val brute = (for {
      (a, hiA, loA) <- sigs; (b, hiB, loB) <- sigs if a < b
      d = java.lang.Long.bitCount(hiA ^ hiB) +
        java.lang.Long.bitCount(loA ^ loB) if d <= 3
    } yield (a, b, d)).toSet
    val banded = TextDedup.simHashPairs128(docs, "doc_id", "text")
      .as[(Long, Long, Int)].collect().toSet
    assert(banded == brute)
    // exact dups land at hamming 0 under any width; the wide metric is
    // strictly tighter, so its pair set is a subset of the 64-bit one
    assert(brute.nonEmpty)
    val narrow = TextDedup.simHashPairs(docs, "doc_id", "text")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(banded.map(p => (p._1, p._2)).subsetOf(narrow))
  }

  test("shingles are distinct n-grams in order-insensitive set form") {
    val sh = Seq((1L, "x y x y x")).toDF("doc_id", "text")
      .select(TextDedup.shingles(col("text"), 2).as("s"))
      .as[Seq[String]].head()
    assert(sh.toSet == Set("x y", "y x"))
  }
}
