package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** Full-text retrieval scoring — Okapi BM25 (Robertson & Zaragoza 2009),
  * the ranking function behind Lucene/Elasticsearch and the lexical half
  * of every retrieval-augmented pipeline. In a training-data context this
  * is the workhorse for (a) mining query→document supervision pairs at
  * corpus scale and (b) the lexical baseline that embedding retrieval
  * ([[Similarity]]) is measured against.
  *
  * Scoring (the Lucene idf variant, strictly positive):
  * `score(q,d) = Σ_{t∈q} ln(1 + (N - df + 0.5)/(df + 0.5))
  *               · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))`
  * over DISTINCT query terms (bag-of-words queries; repeating a term in a
  * short query is noise, not signal).
  *
  * Cross-engine determinism (the Keywords/tf1 scheme, extended to a SUM):
  * each per-term contribution is rounded to DECIMAL(18,6) — a few-ulp
  * cross-libm `ln` divergence survives rounding only within ulps of a
  * 0.5e-6 boundary, which transcendental outputs hit with ~1e-10
  * probability — and the per-(query,doc) score is then a DECIMAL sum,
  * exact in ANY reduction order. Ranking compares the decimal (never the
  * re-cast double) with a doc-id tie-break, so rank and score are both
  * engine-portable. idf ≥ 0 always ((N-df+0.5)/(df+0.5) > 0 ⇒ argument
  * > 1), so HALF_UP and half-away-from-zero coincide.
  *
  * Shape at scale: this is the inverted-index join — postings
  * (doc, term, tf) meet the query term list on the term key. Two
  * map-side-combinable aggregations build postings and df; corpus size
  * and total length broadcast as a 1-row aggregate; the query side of
  * the postings join is SIZED against the shared broadcast budget
  * (bounded query sets broadcast and the postings side never moves
  * except the one (term) shuffle; a corpus-scale mined-query batch takes
  * the shuffled term join instead of an executor OOM — see
  * [[bm25Rank]]). A stopword-grade term with df≈N produces a posting
  * row per document it touches — cap the query side (or pre-filter
  * df/N > maxDf terms) when queries may contain stopwords; idf already
  * scores such terms near 0.
  */
object Retrieval {

  /** Top-`k` documents per query under BM25.
    * Output: (qid, doc_id, rank INT, score DOUBLE). Documents sharing no
    * term with a query never pair with it (inner inverted-index join);
    * a query whose terms appear nowhere yields no rows.
    *
    * @param broadcastQueryTerms force the postings join's query-terms
    *   side on (`Some(true)`) or off (`Some(false)`) the broadcast;
    *   `None` (default) MEASURES the pre-distinct exploded (qid, term)
    *   side — one eager MAP-ONLY aggregation at plan-construction time
    *   returning row count and summed term bytes, an upper bound on
    *   the distinct payload the join actually ships — against
    *   [[Broadcasts.QueryBroadcastBudgetBytes]]. The distinct side
    *   itself executes exactly once, inside the join (see
    *   [[bm25Rank]]). Loop callers with known-bounded query sets
    *   should pass `Some(true)` and stay fully lazy (the
    *   [[Similarity]] route-count contract). Results are
    *   hash-identical either way; only the physical exchange differs.
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame,
               docId: String, textCol: String,
               qId: String, qTextCol: String, k: Int,
               k1: Double = 1.2, b: Double = 0.75,
               broadcastQueryTerms: Option[Boolean] = None): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    // postings come from the native NgramCounts expression (a projection)
    // rather than explode + groupBy(doc, term) — the inverted-index build
    // drops its (doc, term) exchange (value-equivalence spec-asserted)
    val postings = docs
      .select(col(docId).as("doc_id"),
        explode(graft.functions.NgramCounts.ngramCounts(col(textCol), 1))
          .as("_tc"))
      .select(col("doc_id"), col("_tc.gram").as("term"),
        col("_tc.cnt").cast("long").as("tf"))
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val docLen = docs.select(col(docId).as("doc_id"),
      size(toks).cast("long").as("dl"))
    val totals = docLen.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    bm25Rank(postings, dfreq, docLen, totals,
      qTermsRaw(queries, qId, qTextCol), k, k1, b, broadcastQueryTerms)
  }

  /** The exploded (qid, term) side of the inverted-index join, BEFORE
    * the duplicate-dropping `distinct()` ([[bm25Rank]] applies it). Kept
    * pre-distinct so the auto route's size estimate can aggregate a
    * frame whose execution is a map-only pass — aggregating the distinct
    * form would execute the query side's shuffle once for the estimate
    * and again for the join (the round-17 shape round 18 removed).
    */
  private def qTermsRaw(queries: DataFrame, qId: String,
                        qTextCol: String): DataFrame =
    queries
      .select(col(qId).as("qid"),
        explode(TextAnalysis.tokens(col(qTextCol))).as("term"))

  /** The BM25 scoring core of [[bm25TopK]], over operands built
    * in-plan from raw text.
    *
    * JOIN ROUTING (round 17 — the last ungated caller-proportional
    * broadcast hint in the API): the query-terms side used to carry an
    * UNCONDITIONAL `broadcast` hint — right for the bounded query sets
    * `bm25_1`/`mrr1` ship, fatal for a batch-scoring caller (score every
    * doc against 10M mined queries, ~20 distinct terms each → a 200M-row
    * hashed relation shipped to every executor), while the plain
    * shuffled join on `term` handles that shape with one exchange per
    * side. Same cure as [[Similarity]]'s round-16 `ivfScored` fix,
    * with the estimate MEASURED rather than assumed (see the route
    * below): the asymmetric-failure rationale (OOM fatal vs extra
    * exchange slow) lives on [[Broadcasts.QueryBroadcastBudgetBytes]].
    */
  private def bm25Rank(postings: DataFrame, dfreq: DataFrame,
                       docLen: DataFrame, totals: DataFrame,
                       qtRaw: DataFrame,
                       k: Int, k1: Double, b: Double,
                       broadcastQueryTerms: Option[Boolean]): DataFrame = {
    // duplicate (qid, term) pairs dropped HERE, once, inside the joined
    // plan — the estimate below never touches this frame, so its
    // distinct exchange executes exactly once per action (round 18; the
    // round-17 estimate aggregated the distinct form, so every
    // default-route caller paid the query side's distinct shuffle twice,
    // estimate + join)
    val qt = qtRaw.distinct()
    val qSide = broadcastQueryTerms match {
      case Some(true)  => broadcast(qt)
      case Some(false) => qt
      case None =>
        // one aggregation measures the payload — row count AND summed
        // term bytes — where ivfScored can multiply rows by a KNOWN row
        // width (dim doubles), a term string has no a-priori width: a
        // bytes/row constant would under-gate a query set of
        // pathological giant "terms" (no-whitespace documents) into an
        // oversized broadcast. Same single-job cost as a bare count;
        // octet_length so multi-byte text counts as the bytes the
        // hashed relation will actually hold. No maxRows fast path
        // here: the explode behind qt hides any provable bound from
        // Catalyst, and a row bound alone cannot bound STRING bytes.
        //
        // The aggregation runs over the PRE-DISTINCT side: a map-only
        // pass (scan + partial agg + a 1-row final exchange — no term
        // data ever shuffles, and qt's distinct does not execute here)
        // yielding an UPPER bound on the distinct payload, since
        // dropping duplicate (qid, term) pairs can only shrink both
        // rows and bytes. A query set whose duplicates would have fit
        // post-distinct may therefore over-route to the shuffled join —
        // slow-not-fatal, the same side of the asymmetry the budget
        // itself errs toward (Broadcasts.QueryBroadcastBudgetBytes);
        // a caller who knows the distinct side is bounded forces
        // Some(true), the designed escape.
        val est = qtRaw.agg(count(lit(1)).as("n"),
          coalesce(sum(octet_length(col("term"))), lit(0L)).as("b")).head()
        // + qid long / pointers / row overhead per hashed-relation row
        val bytes = est.getLong(1) + est.getLong(0) * 48L
        if (bytes <= Broadcasts.QueryBroadcastBudgetBytes) broadcast(qt)
        else qt
    }
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5))
        / (col("df").cast("double") + lit(0.5)))
    val tfPart = (col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / avgdl)))
    val contrib = postings
      .join(qSide, "term")
      .join(dfreq, "term")
      .join(docLen, "doc_id")
      .crossJoin(broadcast(totals))
      .select(col("qid"), col("doc_id"),
        (idf * tfPart).cast("decimal(18,6)").as("_bm_c"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("_bm_d").desc, col("doc_id"))
    contrib
      .groupBy(col("qid"), col("doc_id")).agg(sum(col("_bm_c")).as("_bm_d"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("doc_id"), col("rank"),
        col("_bm_d").cast("double").as("score"))
  }

  /** Retrieval EVALUATION over a ranked result list — the metric half of
    * a retriever pipeline (MRR and hit-rate are how BM25 and the
    * embedding retrievers ([[Similarity]]) get compared at corpus scale).
    *
    * `results` is any (qid, doc_id, rank) ranking ([[bm25TopK]],
    * [[Similarity.bruteForceTopK]] renamed, …); `qrels` is the relevance
    * set (qid, rel_doc), many rows per query allowed. Per query:
    * `best_rank` = rank of the first relevant hit (null if none
    * retrieved), `rr` = 1/best_rank (0.0 on a miss — the MRR convention),
    * `hit` = any relevant doc retrieved. Queries present only in `qrels`
    * still report (rr 0) — a retriever that drops a query entirely must
    * not inflate the mean.
    *
    * Determinism: rr = 1.0/rank is one IEEE division of exact integers.
    * Shape at scale: one equi-join on (qid, doc) and one (qid) min-agg —
    * both on compact keys; results are already k-bounded per query.
    */
  def evalTopK(results: DataFrame, qrels: DataFrame): DataFrame = {
    val hits = results
      .join(qrels.select(col("qid"), col("rel_doc")),
        results("qid") === qrels("qid")
          && col("doc_id") === col("rel_doc"))
      .select(results("qid").as("qid"), col("rank"))
      .groupBy(col("qid")).agg(min(col("rank")).cast("int").as("best_rank"))
    qrels.select(col("qid")).distinct()
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), col("best_rank"),
        when(col("best_rank").isNotNull,
          lit(1.0) / col("best_rank").cast("double")).otherwise(lit(0.0))
          .as("rr"),
        col("best_rank").isNotNull.as("hit"))
  }
}
