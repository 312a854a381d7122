package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** N-gram repetition statistics and corpus token frequencies — the
  * Gopher-style repetition filters ("fraction of characters in the most
  * common n-gram", "fraction of duplicated n-grams") and the corpus
  * vocabulary report of a training-data pipeline.
  *
  * Shape at scale: both operators explode per-doc n-grams and aggregate —
  * one shuffle keyed on (doc, gram) resp. (token), with map-side partial
  * aggregation, the same posture as the shingle-based dedup family
  * ([[TextDedup]]). Nothing is collected to the driver; the top-k is a
  * `TakeOrderedAndProject` over the aggregated counts.
  */
object NgramStats {

  /** Adjacent-token 2-gram array: zip of the token array with its own tail
    * (codegen'd builtins, no UDF). Empty for docs under 2 tokens.
    */
  def bigrams(text: Column): Column = {
    val toks = TextAnalysis.tokens(text)
    val n = greatest(size(toks) - 1, lit(0))
    zip_with(slice(toks, lit(1), n), slice(toks, lit(2), n),
      (a, b) => concat_ws(" ", a, b))
  }

  /** Per-document Gopher-style repetition stats over 2-grams:
    * `top_frac` = occurrences of the most frequent 2-gram / total 2-grams,
    * `dup_frac` = fraction of 2-gram instances beyond first occurrence.
    * Docs with fewer than 2 tokens carry no 2-grams and are excluded
    * (mirrored by the oracle).
    *
    * The three counts are DOC-LOCAL, so they come from the native
    * [[graft.functions.BigramStats]] expression in one pass — the whole
    * operator is a shuffle-free projection (the old explode + double
    * groupBy form shuffled (doc, gram) rows corpus-wide for per-row
    * arithmetic; spec-asserted equal).
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        graft.functions.BigramStats.bigramStats(col(textCol)).as("bs"))
      // <2 tokens → n_grams 0; null text → null struct: both drop here,
      // matching the old size(tokens)>=2 pre-filter WITHOUT re-splitting
      // the text into a token array per row just to count it
      .filter(col("bs.n_grams") >= 1)
      .select(col(idCol),
        col("bs.n_grams").cast("bigint").as("n_grams"),
        (col("bs.max_c").cast("double") / col("bs.n_grams").cast("double"))
          .as("top_frac"),
        ((col("bs.n_grams") - col("bs.n_distinct")).cast("double")
          / col("bs.n_grams").cast("double")).as("dup_frac"))

  /** Mean corpus frequency of a document's tokens — the integer-exact
    * "fluency proxy" quality signal (a cheap stand-in for LM perplexity:
    * documents of common words score high, gibberish scores ~1). All
    * arithmetic is integer sums + one double division, so any engine
    * reproduces it bit-for-bit — deliberately NOT log-probability, whose
    * `ln` differs across libm builds.
    *
    * Shape: explode → token-count agg → token-keyed equi-join back →
    * doc agg. Three compact-key shuffles, map-side combine on both aggs.
    */
  def meanTokenFrequency(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol),
      explode(TextAnalysis.tokens(col(textCol))).as("token"))
    val freq = tok.groupBy(col("token")).agg(count(lit(1)).as("cf"))
    tok.join(freq, "token")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("cf")).as("sum_cf"))
      .select(col(idCol), col("n_tokens").cast("bigint").as("n_tokens"),
        (col("sum_cf").cast("double") / col("n_tokens").cast("double"))
          .as("mean_token_freq"))
  }

  /** Corpus-wide token frequency top-k with dense ordering: the vocabulary
    * head report. Deterministic tie-break on the token itself.
    */
  def topTokens(df: DataFrame, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(k) // TakeOrderedAndProject: only k rows reach the window below
    counts.withColumn("rank",
      row_number().over(Window.orderBy(col("n_occurrences").desc, col("token")))
        .cast("int"))
  }

  /** Corpus COLLOCATIONS: bigrams that co-occur more often than their
    * parts predict — `lift = p(ab) / (p(a)·p(b))` with `p(ab) = c_ab/T`
    * (T = total bigram instances) and `p(w) = u_w/U` (U = total tokens).
    * The head of this table (high lift, high count) is the
    * multi-word-expression / template-phrase report a curation pipeline
    * uses for tokenizer merges and boilerplate phrase mining. Lift is the
    * exponential of PMI and ranks identically — deliberately no `ln`,
    * whose libm builds differ across engines (the [[meanTokenFrequency]]
    * portability argument).
    *
    * Determinism: all counts are integers; lift is computed as
    * `((c_ab/T) · (U/u_a)) · (U/u_b)` — the staged form keeps magnitudes
    * ~1 so every intermediate is far from the double-rounding cliff, and
    * the fixed association order is mirrored verbatim in the oracle SQL.
    *
    * Shape at scale: one explode+agg per grain (bigram, unigram) with
    * map-side combine, a 3-row… 1-row totals broadcast, and two
    * token-keyed equi-joins of the (already `minCount`-pruned) bigram
    * table against the unigram counts. Nothing driver-side.
    */
  def collocations(df: DataFrame, textCol: String, minCount: Long = 2): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    val toks = TextAnalysis.tokens(col(textCol))
    val totals = df
      .select(size(toks).cast("long").as("nt"))
      .agg(sum(col("nt")).as("u_total"),
        sum(greatest(col("nt") - 1L, lit(0L))).as("t_total"))
    val uni = df.select(explode(toks).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("uc"))
    val bi = df.select(explode(bigrams(col(textCol))).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
      .withColumn("_w1", split(col("bigram"), " ").getItem(0))
      .withColumn("_w2", split(col("bigram"), " ").getItem(1))
    bi
      .join(uni.select(col("token").as("_w1"), col("uc").as("n_first")), "_w1")
      .join(uni.select(col("token").as("_w2"), col("uc").as("n_second")), "_w2")
      .crossJoin(broadcast(totals))
      .select(col("bigram"), col("n_pair"),
        col("n_first"), col("n_second"),
        ((col("n_pair").cast("double") / col("t_total").cast("double"))
          * (col("u_total").cast("double") / col("n_first").cast("double"))
          * (col("u_total").cast("double") / col("n_second").cast("double")))
          .cast("decimal(18,6)").as("lift"))
  }

  /** BOILERPLATE detector: top-k n-gram shingles by DOCUMENT frequency —
    * shingles shared across many documents are headers, licenses,
    * navigation chrome. This is [[TextDedup.jaccardPairs]]'s join-cost
    * profile: a shingle at document frequency f costs f² rows in the
    * dedup self-join, so the head of this table is where that cost sits. Shingle text is carried
    * (a human reads this report), so it shuffles strings — the top-k keeps
    * it bounded; the dedup operators themselves stay on 8-byte hashes.
    */
  def topShingles(df: DataFrame, idCol: String, textCol: String,
                  n: Int, k: Int): DataFrame =
    df.select(col(idCol).as("doc"),
      explode(TextDedup.shingles(col(textCol), n)).as("shingle"))
      .groupBy(col("shingle")).agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("shingle"))
      .limit(k)

  /** Token-distribution DIVERGENCE between two corpus slices — the
    * distribution-shift monitor of a data pipeline: KL(P‖Q) and KL(Q‖P)
    * over the add-one-smoothed unigram distributions of sources `srcP`
    * and `srcQ`. A re-crawl whose token mix drifts from the reference
    * slice, a contaminated source, or a language-mix change all move
    * this number before any model does.
    *
    * `p_t = (c_P(t)+1)/(N_P+V)` over the UNION vocabulary V (smoothing
    * keeps absent-in-one-side terms finite). Cross-engine determinism:
    * counts are exact integers; each signed KL term rounds to
    * DECIMAL(18,12) at the `ln` boundary (the tf1 scheme — signed values
    * change nothing: ties cannot occur on transcendental outputs) and
    * the vocabulary sum is a DECIMAL sum, exact in any order.
    *
    * Shape at scale: doc-local counts ride the native
    * [[graft.functions.NgramCounts]] projection; one (source, token)
    * aggregation, one full-outer equi-join on token, a 1-row totals
    * broadcast, and a 1-row final aggregate. Vocabulary-bounded
    * throughout (Zipf: ≪ corpus).
    */
  def tokenDivergence(df: DataFrame, textCol: String, sourceCol: String,
                      srcP: String, srcQ: String): DataFrame = {
    val counts = df.filter(col(sourceCol).isin(srcP, srcQ))
      .select(col(sourceCol).as("_td_src"),
        explode(graft.functions.NgramCounts.ngramCounts(col(textCol), 1))
          .as("_tc"))
      .select(col("_td_src"), col("_tc.gram").as("token"),
        col("_tc.cnt").cast("long").as("c"))
      .groupBy(col("_td_src"), col("token")).agg(sum(col("c")).as("c"))
    val p = counts.filter(col("_td_src") === srcP)
      .select(col("token"), col("c").as("ca"))
    val q = counts.filter(col("_td_src") === srcQ)
      .select(col("token"), col("c").as("cb"))
    val joined = p.join(q, Seq("token"), "full_outer")
      .select(col("token"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val totals = joined.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
      count(lit(1)).as("v"))
    val pa = (col("ca").cast("double") + lit(1.0)) /
      (col("na").cast("double") + col("v").cast("double"))
    val qb = (col("cb").cast("double") + lit(1.0)) /
      (col("nb").cast("double") + col("v").cast("double"))
    joined.crossJoin(broadcast(totals))
      .select((pa * log(pa / qb)).cast("decimal(18,12)").as("_td_pq"),
        (qb * log(qb / pa)).cast("decimal(18,12)").as("_td_qp"))
      .agg(count(lit(1)).cast("bigint").as("n_vocab"),
        sum(col("_td_pq")).cast("double").as("kl_pq"),
        sum(col("_td_qp")).cast("double").as("kl_qp"))
  }
}
