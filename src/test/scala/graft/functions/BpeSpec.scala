package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** BpeStats contract checks: the native merge pass must equal the literal
  * String.replace chain over the double-space symbol stream (definitionally
  * what the DuckDB oracle computes), on the harness corpus and adversarial
  * strings; the expression must stay a shuffle-free projection; learning
  * must be deterministic and actually compress.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select($"doc_id", $"text")

  private def nativeCounts(texts: Seq[String],
                           merges: Seq[(String, String)]): Seq[Int] = {
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    df.select($"id", BpeStats.bpeStats($"text", merges).getField("n_bpe"))
      .as[(Long, Int)].collect().sortBy(_._1).map(_._2).toSeq
  }

  test("native n_bpe equals the replace-chain reference on the corpus") {
    val rows = docs.select($"doc_id", $"text",
      BpeStats.bpeStats($"text").getField("n_bpe").as("n_bpe"))
      .as[(Long, String, Int)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, text, n) =>
      assert(n == BpeReference.referenceReplaceChainCount(text), s"doc $id")
    }
  }

  test("adversarial strings: runs, overlaps, unicode, empties, digits") {
    val cases = Seq(
      "", " ", "the", "thethethe", "ananan", "a", "ab", "ererer",
      "the and ing tion tiontion", "ThE AnD", "a1b2c3", "111 222 th3",
      "word-with-dashes under_scores", "日本語 mixed the 日本語",
      "x".repeat(500), "th".repeat(100), "the ".repeat(50).trim)
    val expected = cases.map(t => BpeReference.referenceReplaceChainCount(t))
    assert(nativeCounts(cases, Bpe.defaultMerges) == expected)
  }

  test("n_words and n_chars match the word-regex definition") {
    val rows = Seq((1L, "The cat, the hat! 42x"), (2L, "--- ;; ---"))
      .toDF("doc_id", "text")
      .select($"doc_id", BpeStats.bpeStats($"text").as("b"))
      .select($"doc_id", $"b.n_words", $"b.n_chars", $"b.n_bpe")
      .as[(Long, Int, Int, Int)].collect().sortBy(_._1).toSeq
    // words: the|cat|the|hat|42x → 5 words, 3+3+3+3+3=15 chars
    assert(rows.head == ((1L, 5, 15, rows.head._4)))
    assert(rows(1) == ((2L, 0, 0, 0)))
  }

  test("null text yields null struct; non-string input is rejected") {
    val r = Seq((1L, Some("ab")), (2L, None)).toDF("doc_id", "text")
      .select($"doc_id", BpeStats.bpeStats($"text").as("b"))
      .collect().sortBy(_.getLong(0))
    assert(!r(0).isNullAt(1) && r(1).isNullAt(1))
    val err = intercept[Exception] {
      Seq(1).toDF("x").select(BpeStats.bpeStats($"x")).collect()
    }
    assert(err.getMessage.toLowerCase.contains("string"), err.getMessage)
  }

  test("the stats pass is a pure projection: zero exchanges") {
    val plan = docs.select($"doc_id",
      BpeStats.bpeStats($"text").as("b"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("SQL surface: bpe_stats registered, literal-checked") {
    SparkSpec.injectExtensions(spark)
    // 'the' → single symbol under rules (t,h) then (th,e); 'xz' stays 2
    val r = spark.sql(
      "SELECT b.* FROM (SELECT bpe_stats('the xz') AS b)").collect().head
    assert((r.getInt(0), r.getInt(1), r.getInt(2)) == ((2, 5, 3)))
  }

  test("learned merges: deterministic, compressing, contract-aligned") {
    val m1 = BpeReference.learn(docs, "text", numMerges = 32)
    val m2 = BpeReference.learn(docs, "text", numMerges = 32)
    assert(m1 == m2, "learning must be a pure function of the corpus")
    assert(m1.nonEmpty && m1.size <= 32)
    // applying learned merges must compress vs characters, and the native
    // pass must still equal the replace-chain reference under them
    val sample = docs.limit(20).as[(Long, String)].collect().map(_._2).toSeq
    val native = nativeCounts(sample, m1)
    sample.zip(native).foreach { case (t, n) =>
      assert(n == BpeReference.referenceReplaceChainCount(t, m1))
      val chars = "[a-z0-9]+".r.findAllIn(t.toLowerCase).map(_.length).sum
      assert(n <= chars)
    }
    assert(native.sum < sample.map(t =>
      "[a-z0-9]+".r.findAllIn(t.toLowerCase).map(_.length).sum).sum,
      "32 learned merges must compress the corpus sample")
  }

  test("memoization survives merge-table switches on one thread") {
    val a = nativeCounts(Seq("the cat", "the cat"), Bpe.defaultMerges)
    val b = nativeCounts(Seq("the cat", "the cat"), Vector("t" -> "h"))
    assert(a.head == a(1) && b.head == b(1) && a.head != b.head)
  }
}
