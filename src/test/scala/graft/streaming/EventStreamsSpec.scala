package graft.streaming

import graft.SparkSpec
import graft.queries.QueryUtil
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Streaming semantics: the window operators' streaming plans equal their
  * batch-equivalent results, and the watermark drops late data.
  */
class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private lazy val batchEvents = QueryUtil.events(spark, sf)

  /** The harness events file as a file-source stream, `ts` normalized
    * like the batch frame.
    */
  private def eventStream(prefix: String): DataFrame = {
    val dir = tempDir(prefix)
    Files.copy(Paths.get(s"$sf/events.parquet"), dir.toPath.resolve("e.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    QueryUtil.normalizeTs(spark.readStream
      .schema(spark.read.parquet(s"$sf/events.parquet").schema)
      .parquet(dir.toString))
  }

  test("streaming windowed counts == batch windowed counts") {
    val batch = EventStreams.windowedCounts(batchEvents)
      .collect().map(_.toSeq).toSet

    // file streams need a directory source
    val q = EventStreams.windowedCounts(eventStream("graft-win-src"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("win_out").collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("watermark drops late data in windowed streaming aggregation") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val agg = EventStreams.windowedCounts(df, "1 hour", watermark = "1 hour")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()
    try {
      def t(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:30:00")
      input.addData((t(1), "click", 1.0), (t(2), "click", 1.0))
      q.processAllAvailable()
      // advance the watermark far past hour 1's window…
      input.addData((t(6), "click", 1.0))
      q.processAllAvailable()
      // …then a very late hour-1 event: must be dropped, not re-counted
      input.addData((t(1), "click", 99.0))
      q.processAllAvailable()
      input.addData((t(9), "click", 1.0)) // close hour-6 window
      q.processAllAvailable()
      val rows = spark.table("late_out")
        .select("window_start", "n").as[(java.sql.Timestamp, Long)]
        .collect().toMap
      assert(rows(java.sql.Timestamp.valueOf("2024-01-01 01:00:00")) == 1L,
        "late row must not inflate the closed hour-1 window")
    } finally q.stop()
  }

  test("session_window merges events EXACTLY one gap apart (st6 contract)") {
    // Spark's merge rule is sessionStart <= currentSessionEnd: an event
    // landing exactly at last+gap still merges. The st6 oracle's lag
    // reconstruction must therefore use `> gap`, not `>= gap`.
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:30:00")), // == gap
      (1L, java.sql.Timestamp.valueOf("2024-01-01 01:00:01"))  // > gap
    ).toDF("user_id", "ts")
    val sessions = df
      .groupBy($"user_id", session_window($"ts", "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select($"session_window.start", $"n")
      .as[(java.sql.Timestamp, Long)].collect().toMap
    assert(sessions(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")) == 2L,
      "exactly-gap event must merge into the first session")
    assert(sessions(java.sql.Timestamp.valueOf("2024-01-01 01:00:01")) == 1L)
  }

  test("stream-static enrichment == batch enrichment (same expressions)") {
    val customer = spark.read.parquet(s"$sf/customer.parquet")
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    val batch = EventStreams.nationWindowedActivity(batchEvents,
      customer, nation).collect().map(_.toSeq).toSet

    val q = EventStreams.nationWindowedActivity(
      eventStream("graft-enrich-src"), customer, nation)
      .writeStream.outputMode("complete")
      .format("memory").queryName("enrich_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("enrich_out").collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }
}
