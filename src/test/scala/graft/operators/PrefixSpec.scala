package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class PrefixSpec extends SparkSpec {
  import spark.implicits._

  // adversarial: one heavily skewed group, a NULL group key (the window
  // treats nulls as one partition — these operators must too), zero
  // values, null values, non-contiguous ids — every value derived from a
  // hash so layout can't hide an ordering bug
  private def data = {
    val rows = for {
      g <- 0 until 5
      i <- 0 until (if (g == 0) 2000 else 50 * (g + 1))
    } yield {
      val h = (i * 2654435761L + g * 97L) & 0x7fffffffL
      val v: java.lang.Long =
        if (h % 13 == 0) null else Long.box(h % 40) // nulls + zeros
      val grp = if (g == 4) null else s"g$g"        // null group key
      (grp, g * 1000000L + h % 500000L, v)          // non-contiguous ids
    }
    // ids must be unique per group for a deterministic running sum
    rows.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
      .toDF("grp", "id", "v")
  }

  private def genericInclusive(df: org.apache.spark.sql.DataFrame) = {
    val w = Window.partitionBy(col("grp")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("run",
      coalesce(sum(coalesce(col("v"), lit(0L))).over(w), lit(0L)))
  }

  test("distributed running sum equals the single-window sum exactly") {
    val df = data
    val expect = genericInclusive(df)
      .select("grp", "id", "run").as[(String, Long, Long)].collect().toSet
    for (bands <- Seq(2, 16, 64)) {
      val got = Prefix.runningSum(df, "grp", "id", "v", "run", bands)
        .select("grp", "id", "run").as[(String, Long, Long)].collect().toSet
      assert(got == expect,
        s"bands=$bands: diff=${(got -- expect).take(5)}")
    }
  }

  test("bands actually bound the per-task sort: max band ≪ skewed group") {
    // probe the banding the operator derives (same cut + band expressions)
    val df = data.filter(col("grp") === "g0")
    val n = df.count()
    val banded = df
      .join(broadcast(df.groupBy(col("grp")).agg(percentile_approx(col("id"),
        array((1 until 16).map(i => lit(i / 16.0)): _*), lit(10000))
        .as("cuts"))), Seq("grp"))
      .withColumn("band",
        coalesce(size(filter(col("cuts"), c => col("id") > c)), lit(0)))
      .groupBy("band").count()
    val biggest = banded.agg(max("count")).as[Long].head()
    assert(biggest < n / 4,
      s"largest band $biggest of $n — percentile cuts not spreading")
  }

  test("packScaled pack ids are bit-identical to packContiguous") {
    val df = data.withColumnRenamed("v", "n_tokens")
    val a = Packing.packContiguous(df, "grp", "id", "n_tokens", 64L)
      .select("grp", "id", "pack_id").as[(String, Long, Long)].collect().toSet
    for (bands <- Seq(2, 64)) {
      val b = Packing.packScaled(df, "grp", "id", "n_tokens", 64L, bands)
        .select("grp", "id", "pack_id").as[(String, Long, Long)].collect().toSet
      assert(b == a, s"bands=$bands: diff=${(b -- a).take(5)}")
    }
  }

  test("distributed rank equals the single-window row_number exactly") {
    // ties on v are totalized by the id tie-break — both forms must agree
    val df = data.withColumn("score",
      coalesce(col("v") % 7, lit(null).cast("long")))
    val w = Window.partitionBy(col("grp")).orderBy(col("score"), col("id"))
    val expect = df.withColumn("r", row_number().over(w).cast("bigint"))
      .select("grp", "id", "r").as[(String, Long, Long)].collect().toSet
    for (bands <- Seq(2, 16)) {
      val got = Prefix.rankWithTotals(df, "grp", col("score"),
        Seq(col("id")), "r", bands)
        .select("grp", "id", "r").as[(String, Long, Long)].collect().toSet
      assert(got == expect, s"bands=$bands: diff=${(got -- expect).take(5)}")
    }
  }

  test("distributed ntile equals the window ntile, including n < k groups") {
    val df = data.unionByName(
      Seq(("tiny", 1L, Long.box(5L)), ("tiny", 2L, Long.box(9L)))
        .toDF("grp", "id", "v")) // 2 rows, k up to 7: n < k exercised
    val w = Window.partitionBy(col("grp")).orderBy(col("v"), col("id"))
    for (k <- Seq(3, 4, 7)) {
      val expect = df.withColumn("t", ntile(k).over(w).cast("int"))
        .select("grp", "id", "t").as[(String, Long, Int)].collect().toSet
      val got = Prefix.ntileByScore(df, "grp", col("v"), Seq(col("id")),
        k, "t")
        .select("grp", "id", "t").as[(String, Long, Int)].collect().toSet
      assert(got == expect, s"k=$k: diff=${(got -- expect).take(5)}")
    }
  }

  test("reserved names on the input are rejected loudly") {
    val base = Seq(("g", 1L, 2L)).toDF("grp", "id", "v")
    Seq("_ps_band", "_ps_cuts", "_ps_bs", "_ps_off", "run").foreach { r =>
      val ex = intercept[IllegalArgumentException] {
        Prefix.runningSum(base.withColumn(r, lit(0L)), "grp", "id", "v", "run")
      }
      assert(ex.getMessage.contains(r))
    }
    // ntile's OUT column must be rejected too, not silently overwritten
    val ex = intercept[IllegalArgumentException] {
      Prefix.ntileByScore(base.withColumn("quartile", lit(1)),
        "grp", col("v"), Seq(col("id")), 4, "quartile")
    }
    assert(ex.getMessage.contains("quartile"))
  }
}
