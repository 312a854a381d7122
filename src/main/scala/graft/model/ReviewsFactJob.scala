package graft.model

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{GameConstants, PipelineConfig, TableStore}
import graft.ai.{AiFunctions, SentimentScorer}
import graft.ingest.{CsvSource, Schemas}

/** Reviews-fact ETL ≙ `/root/reference/src/notebooks/modelling/
  * reviews_fact.py:113-186`:
  *
  * scan reviews.csv → spam filters (F1) → project/rename (P1) → anti-join
  * against the existing fact so each review is scored exactly once (J2,
  * `reviews_fact.py:150-153`) → take one batch → sentiment-score under the
  * null/empty guard (U1/F4) → sponsored down-weighting (C3/C4) → append.
  *
  * Scoring is batched ([[graft.ai.AiFunctions.withSentimentBatched]]): one
  * scorer per partition streams the batch through
  * [[graft.ai.SentimentScorer.scoreBatch]], so an HTTP scorer sends one
  * request per chunk of texts rather than one per row, the form sentiment
  * scoring takes at scale. The batch stays in the single
  * partition its `limit` leaves: spreading it over more partitions would
  * run more scorers at once for little gain on a daily delta, at the cost
  * of memory.
  *
  * Two deliberate fixes over the reference (SURVEY.md §2.8, §4):
  *  - the reference batches with bare `limit(batch_size)` (non-deterministic)
  *    and recomputes the scored frame between `count()` and the write,
  *    re-invoking the non-deterministic UDF; we order by the key before the
  *    limit and score *after* the batch is fixed, so each run is
  *    deterministic and each key is scored at most once;
  *  - the batch frame is cached before the count+write double use.
  *
  * Scale: the anti-join reads only the key column of the fact (column
  * pruning); at 100TB the fact side is large on both sides of the anti-join
  * → sort-merge, with AQE free to pick broadcast when the new extract is a
  * small daily delta.
  */
final class ReviewsFactJob(spark: SparkSession, store: TableStore,
                           config: PipelineConfig, scorer: SentimentScorer) {

  /** Returns the number of appended rows. */
  def run(): Long = {
    val raw = CsvSource.read(spark,
      s"${config.rawLocation}/reviews.csv", Schemas.reviews)

    // F1 — `reviews_fact.py:129-133`
    val filtered = raw
      .filter(col("author_playtime_at_review") > 0
        && col("author_playtime_forever") > 1)
      .filter(col("written_during_early_access") === false)

    // P1 — `reviews_fact.py:137-146`
    val projected = filtered.select(
      col("appid"),
      col("recommendationid"),
      col("language"),
      col("timestamp_updated").as("updated_at"),
      col("received_for_free").as("sponsored_review"),
      col("comment_count"),
      col("author_playtime_forever"),
      col("author_playtime_at_review"),
      col("review_text"))

    // J2 incremental anti-join — `reviews_fact.py:150-153`
    val fresh =
      if (store.exists("fact", "reviews")) {
        val existingKeys = store.load("fact", "reviews")
          .select(GameConstants.ReviewId)
        projected.join(existingKeys, Seq(GameConstants.ReviewId), "left_anti")
      } else projected

    // deterministic batch (§2.8 fix), fixed BEFORE scoring, then cached
    val batch = fresh
      .orderBy(GameConstants.ReviewId)
      .limit(config.batchSize)
      .cache()

    // U1 under F4 null-guard — `reviews_fact.py:103-109`; C3/C4 weighting —
    // `reviews_fact.py:157-167`
    val sc = scorer
    val scored = AiFunctions.withSentimentBatched(batch, "review_text",
        "sentiment_score", () => sc)
      .withColumn("sentiment_score",
        when(col("review_text").isNull || col("review_text") === "", lit(0))
          .otherwise(col("sentiment_score")))
      .withColumn("weighted_score",
        when(col("sponsored_review"), col("sentiment_score") * 0.5)
          .otherwise(col("sentiment_score") * 1.0))

    // ≙ `reviews_fact.py:177` batch math — counted on the cached batch:
    // the scoring `mapPartitions` cannot be column-pruned, so counting the
    // scored frame would score every row a second time
    val n = batch.count()
    store.save(scored, "fact", "reviews", SaveMode.Append) // `reviews_fact.py:186`
    batch.unpersist()
    n
  }
}
