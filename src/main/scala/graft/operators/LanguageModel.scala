package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-trained bigram language-model scoring — the classical fluency /
  * perplexity quality signal of a pretraining-data pipeline (the CCNet /
  * Wikipedia-LM filtering recipe, here with the LM trained on the corpus
  * itself so the operator is self-contained): documents whose word
  * transitions are improbable under the corpus's own statistics are
  * gibberish, boilerplate soup, or wrong-language residue, and rank worst.
  *
  * Model: add-one-smoothed bigram LM. For each in-document bigram
  * (w1, w2): `p(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V)` with c(·) corpus
  * occurrence counts and V the unigram vocabulary size. Per-token
  * surprisal is `-ln p = ln((c(w1)+V)/(c(w1 w2)+1))`, per-document
  * surprisal its sum over token positions, and
  * `perplexity = exp(sum/n_bigrams)`. Since c(w1 w2) ≤ heads(w1) ≤ c(w1)
  * and V ≥ 2, every ln argument is > 1 — surprisal is strictly positive
  * and NaN-free by construction.
  *
  * Cross-engine determinism (the Keywords/tf1 scheme): counts are exact
  * integers; each bigram-type surprisal is rounded to DECIMAL(18,6) at
  * the `ln` boundary, multiplied by its integer in-doc multiplicity
  * (exact), and summed as DECIMAL (exact, order-free). The mean is a
  * double division of two exact values, identical on both engines, and
  * the final `exp` — one transcendental of a bit-identical input — is
  * rounded to DECIMAL(18,6) like every other libm output.
  *
  * Shape at scale: two explode+count aggregations over compact keys train
  * the model (bigram counts, unigram counts — map-side combinable); V
  * broadcasts as a 1-row aggregate; scoring joins each document's
  * (doc, bigram, multiplicity) table — already aggregated, so |doc|·|uniq
  * bigrams| not token positions — against the model on the bigram /
  * head-token keys. At 100 TB the model tables are corpus-vocabulary-
  * sized (Zipf: ≪ corpus), the joins are equi-joins on 8-byte-hashable
  * string keys, and nothing touches the driver. Docs with < 2 tokens
  * carry no bigram and are excluded (the gq1 convention).
  */
object LanguageModel {

  /** Per-document bigram-LM scores:
    * (doc_id, n_bigrams BIGINT, sum_surprisal DOUBLE, avg_surprisal
    * DOUBLE, perplexity DOUBLE) — higher = less corpus-typical.
    */
  def bigramSurprisal(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    // doc-grain frequency tables come from the native NgramCounts
    // expression (projections) rather than explode + groupBy(doc, gram) —
    // the per-document model-scoring grain never shuffles; only the
    // vocabulary-sized corpus aggregations do
    val docBi = df
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.NgramCounts.ngramCounts(col(textCol), 2))
          .as("_bc"))
      .select(col("doc_id"), col("_bc.gram").as("bigram"),
        col("_bc.cnt").cast("long").as("m"))
    val biCount = docBi.groupBy(col("bigram")).agg(sum(col("m")).as("c12"))
    val uniCount = df
      .select(explode(graft.functions.NgramCounts.ngramCounts(col(textCol), 1))
        .as("_tc"))
      .select(col("_tc.gram").as("token"), col("_tc.cnt").as("c"))
      .groupBy(col("token")).agg(sum(col("c")).cast("long").as("c1"))
    val vocab = uniCount.agg(count(lit(1)).as("v_total"))
    val surprisal = log(
      (col("c1").cast("double") + col("v_total").cast("double"))
        / (col("c12").cast("double") + lit(1.0)))
      .cast("decimal(18,6)")
    val scored = docBi
      .join(biCount, "bigram")
      .withColumn("_lm_w1", split(col("bigram"), " ").getItem(0))
      .join(uniCount.select(col("token").as("_lm_w1"), col("c1")), "_lm_w1")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("m"),
        (col("m") * surprisal).as("_lm_s"))
    scored.groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_bigrams"), sum(col("_lm_s")).as("_lm_sum"))
      .select(col("doc_id"), col("n_bigrams"),
        col("_lm_sum").cast("double").as("sum_surprisal"),
        (col("_lm_sum").cast("double") / col("n_bigrams").cast("double"))
          .as("avg_surprisal"),
        exp(col("_lm_sum").cast("double") / col("n_bigrams").cast("double"))
          .cast("decimal(18,6)").cast("double").as("perplexity"))
  }
}
