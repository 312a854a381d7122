package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Bucketized range join == naive inequality join, including pairs that
  * straddle a bucket boundary.
  */
class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  test("bucketized pairs == naive inequality join on the corpus") {
    val gapS = 21600L // 6h — the harness events are sparse per user
    val events = graft.queries.QueryUtil.events(spark, "/root/testdata/sf0.001")
      .filter($"event_type" === "error")
    val bucketized = RangeJoin.pairsWithinGap(events, "user_id", "event_id",
      "ts", maxGapSeconds = gapS)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet

    val e = events.select($"user_id", $"event_id", unix_micros($"ts").as("us"))
    val naive = e.as("a").join(e.as("b"),
      col("a.user_id") === col("b.user_id")
        && (col("b.us") - col("a.us")).between(0, gapS * 1000000L)
        && (col("b.us") > col("a.us")
          || (col("b.us") === col("a.us")
            && col("b.event_id") > col("a.event_id"))))
      .select(col("a.event_id"), col("b.event_id"))
      .as[(Long, Long)].collect().toSet

    assert(bucketized == naive)
    assert(naive.nonEmpty)
    // boundary coverage: some pair must actually straddle adjacent buckets
    val usById = e.select("event_id", "us").as[(Long, Long)].collect().toMap
    val straddling = bucketized.exists { case (a, b) =>
      usById(a) / (gapS * 1000000L) != usById(b) / (gapS * 1000000L)
    }
    assert(straddling, "test data should include a bucket-straddling pair")
  }

  test("hand-built boundary case: equal ts, exact gap, just-over gap") {
    def ts(s: String) = Timestamp.valueOf(s)
    val df = Seq(
      (1L, 9L, ts("2024-01-01 00:00:00")),
      (2L, 9L, ts("2024-01-01 00:00:00")),  // equal ts → tie by id
      (3L, 9L, ts("2024-01-01 00:05:00")),  // exactly the gap: included
      (4L, 9L, ts("2024-01-01 00:10:00.000001")), // just over vs 3
      (5L, 8L, ts("2024-01-01 00:00:01"))   // other key
    ).toDF("event_id", "user_id", "ts")
    val got = RangeJoin.pairsWithinGap(df, "user_id", "event_id", "ts", 300)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }
}
