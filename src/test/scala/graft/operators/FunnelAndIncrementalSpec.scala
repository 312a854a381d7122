package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class FilterFunnelSpec extends SparkSpec {
  import spark.implicits._

  private val rules = Seq(
    FilterFunnel.Rule("positive", col("v") > 0),
    FilterFunnel.Rule("small", col("v") < 10),
    FilterFunnel.Rule("even", col("v") % 2 === 0))

  test("per-rule accounting matches hand-computed funnel") {
    // v: -1 drops at positive; 11,13 drop at small; 3,5 drop at even; 2,4 pass
    val df = Seq(-1L, 11L, 13L, 3L, 5L, 2L, 4L).toDF("v")
    val got = FilterFunnel.funnelReport(df, rules)
      .orderBy("step").as[(Int, String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1, "positive", 7L, 1L, 6L),
      (2, "small", 6L, 2L, 4L),
      (3, "even", 4L, 2L, 2L)))
  }

  test("NULL predicate evaluations count as drops, not silent passes") {
    val df = Seq(Some(2L), None, Some(4L)).toDF("v")
    val got = FilterFunnel.funnelReport(df,
      Seq(FilterFunnel.Rule("positive", col("v") > 0)))
      .as[(Int, String, Long, Long, Long)].head()
    assert(got == ((1, "positive", 3L, 1L, 2L)))
  }

  test("survivors == composed filters, and report n_out agrees") {
    val df = Seq(-1L, 11L, 13L, 3L, 5L, 2L, 4L).toDF("v")
    val sur = FilterFunnel.survivors(df, rules).as[Long].collect().toSet
    assert(sur == Set(2L, 4L))
    val lastOut = FilterFunnel.funnelReport(df, rules)
      .orderBy(col("step").desc).select("n_out").as[Long].head()
    assert(lastOut == sur.size.toLong)
  }
}

class IncrementalLshSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")

  test("cross LSH == exact cross-Jaccard on the harness corpus") {
    // every harness cross pair sits far above the 16x2-band miss regime,
    // so the LSH + exact-verify output must equal the full inverted-index
    // cross scan, row for row
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    val batch = docs.filter($"doc_id" % 10 === 0)
    val exact = TextDedup.crossJaccardPairs(corpus, batch, "doc_id", "text")
      .select($"train_id".as("corpus_id"), $"bench_id".as("batch_id"),
        $"jaccard")
      .as[(Long, Long, java.math.BigDecimal)].collect()
      .map(t => (t._1, t._2, t._3.toString)).toSet
    val lsh = TextDedup.crossMinHashLshPairs(corpus, batch, "doc_id", "text")
      .as[(Long, Long, java.math.BigDecimal)].collect()
      .map(t => (t._1, t._2, t._3.toString)).toSet
    assert(lsh == exact, s"missed: ${exact -- lsh}, extra: ${lsh -- exact}")
    assert(lsh.nonEmpty)
  }

  test("gopher funnel: each rule drops its designed offender in order") {
    import graft.functions.{BigramStats, TextAnalysis}
    val docs = Seq(
      (1L, "a b"),                                         // too short
      (2L, Seq.fill(12)("absolutelyenormousword").mkString(" ")), // mean len
      (3L, Seq.fill(10)("foo bar").mkString(" ")),         // bigram dup
      (4L, "the quick brown fox jumps over a lazy dog of wonder and glory"),
      (5L, "zulu xray yankee victor whiskey tango sierra romeo quebec papa")
    ).toDF("doc_id", "text")
    val bs = BigramStats.bigramStats(col("text"))
    val report = FilterFunnel.funnelReport(docs, Seq(
      FilterFunnel.Rule("token_count",
        TextAnalysis.tokenCount(col("text")).between(10, 100000)),
      FilterFunnel.Rule("mean_token_len",
        TextAnalysis.meanTokenLength(col("text")).between(2.0, 12.0)),
      FilterFunnel.Rule("bigram_dup",
        bs.getField("n_grams") > 0 &&
          ((bs.getField("n_grams") - bs.getField("n_distinct"))
            .cast("double") / bs.getField("n_grams").cast("double"))
            <= lit(0.3)),
      FilterFunnel.Rule("stopword_floor",
        TextAnalysis.markerCount(col("text"),
          Seq("the", "a", "of", "and")) >= 2)))
      .select($"rule", $"n_in", $"n_dropped", $"n_out")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(report("token_count") == (("token_count", 5L, 1L, 4L)))
    assert(report("mean_token_len") == (("mean_token_len", 4L, 1L, 3L)))
    assert(report("bigram_dup") == (("bigram_dup", 3L, 1L, 2L)))
    assert(report("stopword_floor") == (("stopword_floor", 2L, 1L, 1L)))
  }

  test("13-gram collisions flag a planted verbatim quote, nothing else") {
    val span = (1 to 13).map(i => s"w$i").mkString(" ")  // the quoted item
    val corpus = Seq(
      (1L, s"intro text here $span and a long tail of words"),
      (2L, "completely unrelated content with no overlap at all")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, s"benchmark question $span answer"))
      .toDF("doc_id", "text")
    val got = TextDedup.ngramCollisions(corpus, bench, "doc_id", "text",
      n = 13)
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == Set(1L), s"only the quoting doc flags: $got")
    assert(got(1L) == 1L, "exactly the one shared window")
  }

  test("from-index cross LSH == the direct text-side path, roundtripped") {
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    val batch = docs.filter($"doc_id" % 10 === 0)
    TextDedup.saveLshIndexBucketed(corpus, "doc_id", "text",
      tablePrefix = "graft_inc_lsh", nBuckets = 4)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, java.math.BigDecimal)].collect()
        .map(t => (t._1, t._2, t._3.toString)).toSet
    val direct = norm(
      TextDedup.crossMinHashLshPairs(corpus, batch, "doc_id", "text"))
    val fromIndex = norm(TextDedup.crossLshPairsFromBandedIndex(spark,
      "graft_inc_lsh", batch, "doc_id", "text"))
    assert(fromIndex == direct,
      s"missed: ${direct -- fromIndex}, extra: ${fromIndex -- direct}")
    assert(fromIndex.nonEmpty)
  }

  test("topShingles ranks by document frequency with shingle tie-break") {
    val df = Seq(
      (1L, "a b c d e x"), (2L, "a b c d e y"), (3L, "a b c d e z"),
      (4L, "p q r s t u")).toDF("doc_id", "text")
    val got = NgramStats.topShingles(df, "doc_id", "text", n = 5, k = 3)
      .as[(String, Long)].collect().toSeq
    // "a b c d e" appears in 3 docs; every other shingle in exactly 1 —
    // rank 2 and 3 go to the lexicographically first singletons
    assert(got.head == (("a b c d e", 3L)))
    assert(got.tail.map(_._2).forall(_ == 1L))
    assert(got.tail.map(_._1) == got.tail.map(_._1).sorted)
  }
}
