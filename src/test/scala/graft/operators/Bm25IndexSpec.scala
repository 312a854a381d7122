package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Bucketed-postings-index contract (the round-16 bucketed-index pattern
  * applied to retrieval): [[Retrieval.bm25TopKFromIndex]] must be
  * frame-identical to [[Retrieval.bm25TopK]] on the same corpus and
  * queries, the `term` bucketing must actually ELIDE the postings-side
  * exchanges (pinned by count on unexecuted frames — the AQE
  * final-plan double-count lesson), the meta row is read by name and
  * validated loudly, and rebuild-over-existing works.
  */
class Bm25IndexSpec extends SparkSpec {

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("text"))

  private lazy val qs = docs.filter(col("doc_id") < 5)
    .select(col("doc_id").as("qid"),
      array_join(slice(graft.functions.TextAnalysis.tokens(col("text")),
        1, 6), " ").as("qtext"))

  private def hashExchanges(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange hashpartitioning"))

  test("from-index ranking is frame-identical to the from-text form, " +
      "on both query-terms routes") {
    Retrieval.savePostingsIndexBucketed(docs, "doc_id", "text",
      tablePrefix = "graft_bm25b_spec", nBuckets = 4)
    val direct = Retrieval.bm25TopK(docs, qs, "doc_id", "text",
      "qid", "qtext", k = 10).collect().map(_.toSeq).toSet
    assert(direct.nonEmpty)
    def fromIndex(route: Option[Boolean]) =
      Retrieval.bm25TopKFromIndex(spark, "graft_bm25b_spec", qs,
        "qid", "qtext", k = 10, broadcastQueryTerms = route)
        .collect().map(_.toSeq).toSet
    assert(fromIndex(None) == direct)
    assert(fromIndex(Some(true)) == direct)
    assert(fromIndex(Some(false)) == direct)
    // the meta row carries the corpus totals and the tokenizer identity
    val meta = spark.table("graft_bm25b_spec_meta").collect()
    assert(meta.length == 1)
    assert(meta(0).getAs[Long]("n_docs") == docs.count())
  }

  test("the term bucketing elides the postings-side exchanges: strictly " +
      "fewer exchanges than the from-text form") {
    Retrieval.savePostingsIndexBucketed(docs, "doc_id", "text",
      tablePrefix = "graft_bm25b_spec2", nBuckets = 4)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // same forced route both sides so the only difference is the
      // storage layout; unexecuted frames (the AQE double-count lesson)
      val eText = hashExchanges(Retrieval.bm25TopK(docs, qs, "doc_id",
        "text", "qid", "qtext", k = 10,
        broadcastQueryTerms = Some(true)))
      val eIndex = hashExchanges(Retrieval.bm25TopKFromIndex(spark,
        "graft_bm25b_spec2", qs, "qid", "qtext", k = 10,
        broadcastQueryTerms = Some(true)))
      assert(eIndex < eText,
        s"bucketed postings must elide corpus-side exchanges: " +
          s"from-text $eText vs from-index $eIndex")
    }
  }

  test("meta is read by name, and corrupt meta fails loudly") {
    Retrieval.savePostingsIndexBucketed(docs, "doc_id", "text",
      tablePrefix = "graft_bm25b_spec3", nBuckets = 2)
    val expected = Retrieval.bm25TopKFromIndex(spark, "graft_bm25b_spec3",
      qs, "qid", "qtext", k = 10).collect().map(_.toSeq).toSet
    // a reordered hand-built meta must not swap n_docs into sum_dl (the
    // column require checks a SET; reads are by NAME)
    val m = spark.table("graft_bm25b_spec3_meta").collect()(0)
    spark.sql("CREATE OR REPLACE TEMP VIEW graft_bm25b_spec3_meta AS " +
      s"SELECT '${m.getAs[String]("tokenizer")}' AS tokenizer, " +
      s"CAST(${m.getAs[Long]("sum_dl")} AS BIGINT) AS sum_dl, " +
      s"CAST(${m.getAs[Long]("n_docs")} AS BIGINT) AS n_docs")
    try {
      val reordered = Retrieval.bm25TopKFromIndex(spark,
        "graft_bm25b_spec3", qs, "qid", "qtext", k = 10)
        .collect().map(_.toSeq).toSet
      assert(reordered == expected)
    } finally spark.sql("DROP VIEW IF EXISTS graft_bm25b_spec3_meta")
    // a tokenizer-scheme mismatch refuses to score incomparable tf/df
    spark.sql("CREATE OR REPLACE TEMP VIEW graft_bm25b_spec3_meta AS " +
      "SELECT CAST(10 AS BIGINT) AS n_docs, CAST(100 AS BIGINT) AS sum_dl, " +
      "'bpe-v2' AS tokenizer")
    val eTok = intercept[IllegalArgumentException] {
      Retrieval.bm25TopKFromIndex(spark, "graft_bm25b_spec3", qs,
        "qid", "qtext", k = 10)
    }
    assert(eTok.getMessage.contains("tokenizer"), eTok.getMessage)
    // degenerate totals fail before they divide into avgdl
    spark.sql("CREATE OR REPLACE TEMP VIEW graft_bm25b_spec3_meta AS " +
      "SELECT CAST(0 AS BIGINT) AS n_docs, CAST(0 AS BIGINT) AS sum_dl, " +
      "'whitespace-lower-unigram' AS tokenizer")
    val eZero = intercept[IllegalArgumentException] {
      Retrieval.bm25TopKFromIndex(spark, "graft_bm25b_spec3", qs,
        "qid", "qtext", k = 10)
    }
    assert(eZero.getMessage.contains("corrupt bm25 meta"), eZero.getMessage)
    spark.sql("DROP VIEW IF EXISTS graft_bm25b_spec3_meta")
    // wrong column set fails with the shape message, not a miscast read
    spark.sql("CREATE OR REPLACE TEMP VIEW graft_bm25b_bad_meta AS " +
      "SELECT 1 AS wrong")
    val eCols = intercept[IllegalArgumentException] {
      Retrieval.bm25TopKFromIndex(spark, "graft_bm25b_bad", qs,
        "qid", "qtext", k = 10)
    }
    assert(eCols.getMessage.contains("meta table"), eCols.getMessage)
    spark.sql("DROP VIEW IF EXISTS graft_bm25b_bad_meta")
  }

  test("doclen is DERIVED from postings (dl == Σ tf == size(tokens)), " +
      "null-text docs are absent from doclen but counted in meta, and " +
      "frame identity holds on such a corpus (round 18: one corpus " +
      "tokenize pass)") {
    import spark.implicits._
    // real-data equality first: stored dl must equal the in-plan
    // size(tokens) for every document (the tokenizer preserves empty
    // tokens, so any non-null text has >= 1 token and a doclen row)
    Retrieval.savePostingsIndexBucketed(docs, "doc_id", "text",
      tablePrefix = "graft_bm25b_spec5", nBuckets = 4)
    val stored = spark.table("graft_bm25b_spec5_doclen").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dl")).toMap
    val expected = docs.select(col("doc_id"),
        size(graft.functions.TextAnalysis.tokens(col("text")))
          .cast("long").as("dl"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dl"))
      .toMap
    assert(stored == expected, "derived dl must equal size(tokens) per doc")
    // a corpus with a NULL text and an empty text: "" still tokenizes to
    // one (empty) token; only the null-text doc lacks postings/doclen
    val corpus = Seq(
      (1L, "alpha beta alpha"),
      (2L, null.asInstanceOf[String]),
      (3L, "beta gamma"),
      (4L, "")).toDF("doc_id", "text")
    Retrieval.savePostingsIndexBucketed(corpus, "doc_id", "text",
      tablePrefix = "graft_bm25b_spec6", nBuckets = 2)
    val dl6 = spark.table("graft_bm25b_spec6_doclen").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dl")).toMap
    assert(dl6 == Map(1L -> 3L, 3L -> 2L, 4L -> 1L),
      s"null-text doc must be absent, empty-text doc present: $dl6")
    val meta6 = spark.table("graft_bm25b_spec6_meta").collect()(0)
    // n_docs counts ALL docs (avgdl and idf's N depend on it) — the
    // docs.count() in the build, not the doclen row count
    assert(meta6.getAs[Long]("n_docs") == 4L)
    assert(meta6.getAs[Long]("sum_dl") == 6L)
    val qs6 = Seq((10L, "alpha"), (11L, "gamma beta")).toDF("qid", "qtext")
    val direct = Retrieval.bm25TopK(corpus, qs6, "doc_id", "text",
      "qid", "qtext", k = 5).collect().map(_.toSeq).toSet
    val fromIdx = Retrieval.bm25TopKFromIndex(spark, "graft_bm25b_spec6",
      qs6, "qid", "qtext", k = 5).collect().map(_.toSeq).toSet
    assert(direct.nonEmpty && fromIdx == direct,
      "from-index scores must match from-text on a corpus with null-text docs")
  }

  test("rebuild over an existing index overwrites cleanly") {
    Retrieval.savePostingsIndexBucketed(docs, "doc_id", "text",
      tablePrefix = "graft_bm25b_spec4", nBuckets = 4)
    Retrieval.savePostingsIndexBucketed(docs.limit(100), "doc_id", "text",
      tablePrefix = "graft_bm25b_spec4", nBuckets = 2)
    val meta = spark.table("graft_bm25b_spec4_meta").collect()
    assert(meta.length == 1 && meta(0).getAs[Long]("n_docs") == 100L)
    assert(Retrieval.bm25TopKFromIndex(spark, "graft_bm25b_spec4", qs,
      "qid", "qtext", k = 10).count() > 0)
  }

  test("table prefixes are validated as identifiers before any DDL") {
    val eSave = intercept[IllegalArgumentException] {
      Retrieval.savePostingsIndexBucketed(docs, "doc_id", "text",
        tablePrefix = "bad-prefix; DROP TABLE x", nBuckets = 2)
    }
    assert(eSave.getMessage.contains("table prefix"), eSave.getMessage)
    val eLoad = intercept[IllegalArgumentException] {
      Retrieval.bm25TopKFromIndex(spark, "bad prefix", qs, "qid",
        "qtext", k = 10)
    }
    assert(eLoad.getMessage.contains("table prefix"), eLoad.getMessage)
    // the IVF and semantic savers share the same validation
    val eIvf = intercept[IllegalArgumentException] {
      Similarity.loadIvfIndexFromTables(spark, "bad-prefix")
    }
    assert(eIvf.getMessage.contains("table prefix"), eIvf.getMessage)
    val eSem = intercept[IllegalArgumentException] {
      SemanticDedup.saveSemanticIndexBucketed(docs, "doc_id", "text",
        nClusters = 4, assignProbes = 1, tablePrefix = "bad prefix",
        nBuckets = 2)
    }
    assert(eSem.getMessage.contains("table prefix"), eSem.getMessage)
  }
}
