package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The native shingle-hash expression must be VALUE-identical to the
  * declarative pipeline it replaces (`explode(shingles(text, n))` →
  * `xxhash64(shingle_string)`): same XXH64, same seed, and the in-place
  * byte-range trick (a window joined by single spaces == the substring
  * between its outer token boundaries) must hold for every split edge
  * case — empty tokens, leading/trailing spaces, multibyte UTF-8.
  */
class ShingleHashesSpec extends SparkSpec {
  import spark.implicits._

  private def viaStrings(df: org.apache.spark.sql.DataFrame,
                         n: Int): Map[Long, Set[Long]] =
    df.select($"doc_id",
      explode(graft.operators.TextDedup.shingles($"text", n)).as("s"))
      .select($"doc_id", xxhash64($"s").as("h"))
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap

  private def viaNative(df: org.apache.spark.sql.DataFrame,
                        n: Int): Map[Long, Set[Long]] =
    df.select($"doc_id",
      explode(ShingleHashes.shingleHashes($"text", n)).as("h"))
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap

  test("hash sets equal the string-pipeline hashes on the harness corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    Seq(1, 2, 5).foreach { n =>
      assert(viaNative(docs, n) == viaStrings(docs, n), s"n=$n")
    }
  }

  test("split edge cases: empty tokens, leading/trailing/adjacent spaces") {
    val df = Seq(
      (1L, "a b c"), (2L, " a b"), (3L, "a  b c "), (4L, ""),
      (5L, "   "), (6L, "single"), (7L, "UPPER Case MiXeD x"))
      .toDF("doc_id", "text")
    Seq(1, 2, 3).foreach { n =>
      assert(viaNative(df, n) == viaStrings(df, n), s"n=$n")
    }
  }

  test("fewer than n tokens yields empty; null text yields no rows") {
    val df = Seq((1L, Some("a b")), (2L, None)).toDF("doc_id", "text")
    val got = df.select($"doc_id",
      explode(ShingleHashes.shingleHashes($"text", 5)).as("h")).count()
    assert(got == 0)
    val sizes = df.select($"doc_id",
      size(ShingleHashes.shingleHashes($"text", 2)).as("s"))
      .as[(Long, Option[Int])].collect().toMap
    // null text → EMPTY array (non-nullable declaration — a null output
    // would invite constraint-propagated refilters on keyed counts)
    assert(sizes(1L) == Some(1) && sizes(2L) == Some(0))
  }

  test("the expression declares non-nullable (the refilter contract)") {
    val c = ShingleHashes.shingleHashes($"text", 3)
    val df = Seq((1L, Option.empty[String])).toDF("doc_id", "text")
    assert(!df.select(c.as("h")).schema("h").nullable)
  }

  test("SQL surface via extension builder") {
    SparkSpec.injectExtensions(spark)
    Seq((1L, "x y z w v")).toDF("doc_id", "text")
      .createOrReplaceTempView("sh_docs")
    val n = spark.sql(
      "SELECT size(shingle_hashes(text, 5)) FROM sh_docs").as[Int].head()
    assert(n == 1)
  }

  test("codegen stays enabled: the projection compiles to a fused stage") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(ShingleHashes.shingleHashes($"text", 5).as("h"))
    val p = df.queryExecution.executedPlan.toString
    // the '*' prefix is the whole-stage-codegen marker in the simple plan
    // string — the projection carrying the expression must be inside it
    assert(p.linesIterator.exists(l =>
      l.contains("*(") && l.contains("shinglehashes")), p)
  }
}
