package graft.functions

import graft.SparkSpec
import graft.operators.NgramStats
import org.apache.spark.sql.functions._

class BigramStatsSpec extends SparkSpec {
  import spark.implicits._

  /** The declarative pipeline the native expression replaced — kept here
    * as the equivalence reference.
    */
  private def viaExplode(df: org.apache.spark.sql.DataFrame,
                         idCol: String): org.apache.spark.sql.DataFrame =
    df.filter(size(split(lower(col("text")), " ")) >= 2)
      .select(col(idCol), explode(NgramStats.bigrams(col("text"))).as("gram"))
      .groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(
        sum(col("c")).as("n_grams"),
        max(col("c")).as("max_c"),
        count(lit(1)).as("n_distinct"))
      .select(col(idCol),
        col("n_grams").cast("bigint").as("n_grams"),
        (col("max_c").cast("double") / col("n_grams").cast("double"))
          .as("top_frac"),
        ((col("n_grams") - col("n_distinct")).cast("double")
          / col("n_grams").cast("double")).as("dup_frac"))

  private def asMap(df: org.apache.spark.sql.DataFrame) =
    df.as[(Long, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

  test("native repetitionStats == explode+groupBy pipeline on the corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    assert(asMap(NgramStats.repetitionStats(docs, "doc_id", "text"))
      == asMap(viaExplode(docs, "doc_id")))
  }

  test("hand-computed stats and edge cases") {
    val df = Seq((1L, "a b a b a"), (2L, "x y"), (3L, "solo"), (4L, "t t t"))
      .toDF("doc_id", "text")
    val got = asMap(NgramStats.repetitionStats(df, "doc_id", "text"))
    // doc 1: grams [a b, b a, a b, b a] → n=4, max=2, distinct=2
    assert(got(1L) == ((4L, 0.5, 0.5)))
    assert(got(2L) == ((1L, 1.0, 0.0)))
    assert(!got.contains(3L)) // <2 tokens excluded
    assert(got(4L) == ((2L, 1.0, 0.5))) // [t t, t t] → max 2, distinct 1
  }

  test("the operator is a shuffle-free projection now") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val p = NgramStats.repetitionStats(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
  }

  test("SQL surface: bigram_stats registered") {
    SparkSpec.injectExtensions(spark)
    val row = spark.sql(
      "SELECT s.* FROM (SELECT bigram_stats('x y x y x') AS s)")
      .as[(Long, Long, Long)].collect().head
    assert(row == ((4L, 2L, 2L)))
  }
}
