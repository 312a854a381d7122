package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bucketized range (interval) join.
  *
  * Spark plans a bare inequality join as a nested-loop — quadratic and
  * broadcast-bound. The scalable form quantizes time into buckets of the
  * interval width: a pair within `maxGapSeconds` always spans at most one
  * bucket boundary, so probing each event's own and next bucket finds
  * every candidate with an equi-join (hash-partitioned on (key, bucket) —
  * one shuffle), and the exact interval predicate then filters candidates.
  */
object RangeJoin {

  /** All same-key event pairs (first, second by time, id tie-break) with
    * 0 ≤ t₂−t₁ ≤ maxGapSeconds.
    */
  /** Shared gap validation + µs conversion: 0 would divide by zero in the
    * bucket expressions (ANSI runtime error); the upper bound keeps
    * gapUs = maxGapSeconds·10⁶ inside Long.
    */
  private[graft] def gapMicros(maxGapSeconds: Long): Long = {
    require(maxGapSeconds > 0 && maxGapSeconds <= 9_000_000_000_000L,
      s"maxGapSeconds must be in (0, 9e12], got $maxGapSeconds")
    maxGapSeconds * 1000000L
  }

  /** `(later − earlier)` µs difference as the shared `gap_seconds` output. */
  private def gapSeconds(laterUs: Column, earlierUs: Column): Column =
    ((laterUs - earlierUs) / 1000000L).cast("decimal(18,6)").as("gap_seconds")

  def pairsWithinGap(df: DataFrame, keyCol: String, idCol: String,
                     tsCol: String, maxGapSeconds: Long): DataFrame = {
    val gapUs = gapMicros(maxGapSeconds)
    val base = df.select(col(keyCol).as("k"), col(idCol).as("id"),
      unix_micros(col(tsCol)).as("us"))
      .withColumn("bucket", floor(col("us") / gapUs))

    // earlier side probes its own and the next bucket; the later event of a
    // qualifying pair lives in exactly one of them, so each pair matches once
    val probed = base
      .withColumn("probe", explode(array(col("bucket"), col("bucket") + 1)))
      .select(col("k"), col("id").as("id_a"), col("us").as("us_a"),
        col("probe"))
    val later = base.select(col("k"), col("id").as("id_b"),
      col("us").as("us_b"), col("bucket").as("probe"))

    probed.join(later, Seq("k", "probe"))
      .filter((col("us_b") - col("us_a")).between(0, gapUs)
        && (col("us_b") > col("us_a")
          || (col("us_b") === col("us_a") && col("id_b") > col("id_a"))))
      .select(col("k").as(keyCol), col("id_a"), col("id_b"),
        gapSeconds(col("us_b"), col("us_a")))
  }

  /** Attribution-shape interval join between two relations: each left row
    * pairs with the same-key right rows whose timestamp lies in the
    * lookback window `[leftTs − maxGapSeconds, leftTs]` (e.g. purchases
    * joined to the clicks that preceded them).
    *
    * Same bucketization as [[pairsWithinGap]]: a right row lands in one
    * gap-width bucket, and a qualifying right row lies in the left row's
    * bucket or the previous one, so probing both finds every candidate
    * with a single (key, bucket) equi-join shuffle — no nested-loop plan —
    * and the exact interval predicate filters candidates. A left row's two
    * probes are distinct buckets, so no pair is produced twice.
    */
  def joinWithinGap(left: DataFrame, right: DataFrame, keyCol: String,
                    leftIdCol: String, leftTsCol: String,
                    rightIdCol: String, rightTsCol: String,
                    maxGapSeconds: Long): DataFrame = {
    val gapUs = gapMicros(maxGapSeconds)
    val l = left.select(col(keyCol).as("k"), col(leftIdCol).as("lid"),
      unix_micros(col(leftTsCol)).as("lus"))
      .withColumn("probe", explode(array(
        floor(col("lus") / gapUs) - 1, floor(col("lus") / gapUs))))
    val r = right.select(col(keyCol).as("k"), col(rightIdCol).as("rid"),
      unix_micros(col(rightTsCol)).as("rus"))
      .withColumn("probe", floor(col("rus") / gapUs))
    l.join(r, Seq("k", "probe"))
      .filter((col("lus") - col("rus")).between(0, gapUs))
      .select(col("k").as(keyCol), col("lid").as(leftIdCol),
        col("rid").as(rightIdCol),
        gapSeconds(col("lus"), col("rus")))
  }
}
