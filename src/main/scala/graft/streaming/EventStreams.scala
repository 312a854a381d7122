package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-time window operators whose expressions run unchanged on a
  * batch frame or a stream.
  *
  * The reference is pure batch: its "streaming-ness" is the daily
  * anti-join + append increment (SURVEY.md §2.8). The catalog runs these
  * operators on batch frames (st1, st5); with a watermark they also run
  * as a stream, and `EventStreamsSpec` checks that the streamed result
  * equals the batch one.
  */
object EventStreams {

  /** Tumbling event-time window counts with watermark (streaming) —
    * identical expressions work on a batch frame, which is how the oracle
    * validates it.
    */
  def windowedCounts(events: DataFrame, windowLength: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark)
              else events
    // value cast hoisted below the aggregate (r20, guide §1.2): an agg
    // child re-evaluates per update-expression reference — in a
    // stateful streaming agg that is per row per micro-batch
    src.withColumn("_dv", col("value").cast("decimal(18,6)"))
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("_dv")).cast("decimal(18,6)").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
  }

  /** Stream-static enrichment (§2.7 extension): the event stream joined
    * to a slowly-changing dimension (customer→nation), then windowed per
    * nation. The dim side is BATCH — Spark re-reads it per micro-batch
    * (no state, no watermark needed on the static side), which is how a
    * 100 TB deployment enriches a click stream with a reference table.
    * Join strategy is deliberately size-based, NOT hinted: while the
    * dim sits under the broadcast threshold the stream shuffles nothing
    * for the join (broadcast hash); once a growing user dim outgrows
    * it, the join degrades to a per-micro-batch shuffle — slower but
    * alive, where a forced broadcast would OOM a months-lived job (see
    * the inline note at the join). Only the windowed agg keeps state,
    * bounded by the watermark. The identical expressions run on a batch
    * events frame — the catalog's oracle-checked twin
    * (`st5_stream_static_enrich`).
    */
  def nationWindowedActivity(events: DataFrame, customer: DataFrame,
                             nation: DataFrame,
                             windowLength: String = "1 day",
                             watermark: String = "2 hours"): DataFrame = {
    val dim = customer
      .select(col("c_custkey"), col("c_nationkey"))
      .join(nation.select(col("n_nationkey"), col("n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as("user_id"), col("n_name"))
    val src = if (events.isStreaming) events.withWatermark("ts", watermark)
              else events
    // the user dim derives from CUSTOMER, which grows with the user
    // base: no broadcast HINT (a hint forces the static side into every
    // executor at ANY size — the latent OOM of long-lived streaming
    // enrichment jobs, where the dim only ever grows). Unhinted, the
    // stream-static join broadcasts while the dim sits under the size
    // threshold and shuffles per micro-batch once it outgrows it —
    // slower but alive, and the right default for a job that runs for
    // months
    // value cast hoisted below the aggregate — see windowedCounts
    src.join(dim, Seq("user_id"))
      .withColumn("_dv", col("value").cast("decimal(18,6)"))
      .groupBy(window(col("ts"), windowLength), col("n_name"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("_dv")).cast("decimal(18,6)").as("sum_value"))
      .select(col("window.start").as("window_start"), col("n_name"),
        col("n_events"), col("sum_value"))
  }
}
