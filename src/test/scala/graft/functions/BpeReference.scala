package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Spec-side BPE references: a corpus-trained merge table (a second
  * input for the native expression besides [[Bpe.defaultMerges]]) and
  * the literal replace-chain count the expression is checked against.
  */
object BpeReference {

  /** Learn a merge table from a corpus: classic BPE training (Sennrich et
    * al. 2016) over the word-frequency table. The distributed part is one
    * word-count aggregation capped at the `maxWords` most frequent words
    * (count-desc, word tie-break — deterministic); the iterative pair
    * counting runs on the driver over that Zipf-bounded table (the same
    * bounded-collect posture as the IVF k-means sample: vocabulary, never
    * corpus, reaches the driver). Ties on pair count break
    * lexicographically, so the learned table is a pure function of the
    * corpus. Training stops early when no pair occurs twice.
    */
  def learn(df: DataFrame, textCol: String, numMerges: Int,
            maxWords: Int = 50000): Vector[(String, String)] = {
    require(numMerges > 0 && maxWords > 0, "numMerges and maxWords must be positive")
    val wf = df
      // group index 0 (whole match): Spark's regexp_extract_all defaults
      // to group 1, which errors on a groupless pattern
      .select(explode(expr(
        s"regexp_extract_all(lower($textCol), '[a-z0-9]+', 0)")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(maxWords)
      .collect()
      .map(r => (r.getString(0).toCharArray.map(String.valueOf), r.getLong(1)))
    val words = wf.map { case (syms, c) =>
      (scala.collection.mutable.ArrayBuffer.from(syms), c)
    }
    val out = Vector.newBuilder[(String, String)]
    var k = 0
    var done = false
    while (k < numMerges && !done) {
      val pairCounts = new java.util.HashMap[(String, String), Long]()
      words.foreach { case (syms, c) =>
        var i = 0
        while (i + 1 < syms.length) {
          pairCounts.merge((syms(i), syms(i + 1)), c, _ + _)
          i += 1
        }
      }
      var best: (String, String) = null
      var bestC = 1L // a pair must occur at least twice to be worth a rule
      pairCounts.forEach { (p, c) =>
        if (c > bestC || (c == bestC && best != null &&
            (p._1 < best._1 || (p._1 == best._1 && p._2 < best._2)))) {
          best = p; bestC = c
        }
      }
      if (best == null) done = true
      else {
        out += best
        val (a, b) = best
        val ab = a + b
        words.foreach { case (syms, _) =>
          var i = 0
          while (i + 1 < syms.length) {
            if (syms(i) == a && syms(i + 1) == b) {
              syms(i) = ab; syms.remove(i + 1)
            }
            // left-to-right non-overlap: a merged symbol is not
            // reconsidered as a left operand in this rule's pass
            i += 1
          }
        }
        k += 1
      }
    }
    out.result()
  }

  /** Reference implementation of the contract via literal `String.replace`
    * over the double-space stream — definitionally what the DuckDB chain
    * computes (`replace` has identical replace-all semantics in Java and
    * DuckDB). [[BpeStats.compute]] is property-checked against this on
    * the harness corpus and adversarial strings.
    */
  def referenceReplaceChainCount(text: String,
                                 merges: Seq[(String, String)] = Bpe.defaultMerges): Int = {
    val words = "[a-z0-9]+".r.findAllIn(text.toLowerCase(java.util.Locale.ROOT)).toVector
    val j = words.mkString("|")
    var s = "  " + j.toCharArray.map(c => s"$c  ").mkString("")
    merges.foreach { case (a, b) => s = s.replace(s" $a  $b ", s" ${a + b} ") }
    val units = "[^ ]+".r.findAllIn(s).length
    units - (j.count(_ == '|'))
  }
}
