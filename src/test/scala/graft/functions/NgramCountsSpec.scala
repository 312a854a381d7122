package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** NgramCounts value-equivalence: the native doc-local frequency table
  * must reproduce the explode + groupBy pipeline exactly (it replaced
  * that pipeline under tf1 / bm25_1 / ppl1), including empty-token and
  * short-doc edges, and its plan must be shuffle-free.
  */
class NgramCountsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select($"doc_id", $"text")

  private def native(df: DataFrame, n: Int): Set[(Long, String, Long)] =
    df.select($"doc_id",
      explode(NgramCounts.ngramCounts($"text", n)).as("_tc"))
      .select($"doc_id", $"_tc.gram", $"_tc.cnt".cast("long"))
      .as[(Long, String, Long)].collect().toSet

  private def declarative(df: DataFrame, n: Int): Set[(Long, String, Long)] = {
    val toks = split(lower($"text"), " ")
    val grams = if (n == 1) toks else {
      val m = greatest(size(toks) - (n - 1), lit(0))
      zip_with(slice(toks, lit(1), m), slice(toks, lit(2), m),
        (a, b) => concat_ws(" ", a, b))
    }
    df.select($"doc_id", explode(grams).as("gram"))
      .groupBy($"doc_id", $"gram").agg(count(lit(1)).as("cnt"))
      .as[(Long, String, Long)].collect().toSet
  }

  test("n=1 equals explode+groupBy on the harness corpus") {
    assert(native(docs, 1) == declarative(docs, 1))
  }

  test("n=2 equals the bigram explode+groupBy on the harness corpus") {
    assert(native(docs, 2) == declarative(docs, 2))
  }

  test("empty tokens, repeats, and case fold match split semantics") {
    val df = Seq((1L, "A  b a B"), (2L, " x"), (3L, "")).toDF("doc_id", "text")
    assert(native(df, 1) == declarative(df, 1))
    assert(native(df, 2) == declarative(df, 2))
  }

  test("fewer than n tokens yields no rows; null text yields no rows") {
    val df = Seq((1L, Some("solo")), (2L, None)).toDF("doc_id", "text")
    assert(native(df, 2).isEmpty)
    assert(native(df, 1) == Set((1L, "solo", 1L)))
  }

  test("the postings build is a pure projection: zero exchanges") {
    val plan = docs.select($"doc_id",
      explode(NgramCounts.ngramCounts($"text", 1)).as("_tc"))
      .select($"doc_id", $"_tc.gram", $"_tc.cnt")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("SQL surface: ngram_counts registered and literal-checked") {
    SparkSpec.injectExtensions(spark)
    val rows = spark.sql(
      "SELECT inline(ngram_counts('b a b', 1))").as[(String, Int)]
      .collect().toSeq
    assert(rows == Seq(("b", 2), ("a", 1)))
    val err = intercept[Exception] {
      spark.sql("SELECT ngram_counts('x', cast(rand()*2 as int))").collect()
    }
    assert(err.getMessage.contains("integer literal"), err.getMessage)
  }

  test("counts are first-occurrence ordered and deterministic") {
    val out = Seq((1L, "b a b a b")).toDF("doc_id", "text")
      .select(NgramCounts.ngramCounts($"text", 1).as("tc"))
      .as[Seq[(String, Int)]].collect().head
    assert(out == Seq(("b", 3), ("a", 2)))
  }
}
