package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Theta sketches: partition-merge invariance, exact-mode equality with
  * true counts, intersection/union correctness on planted sets, and the
  * scale-shape contract — the sketch build is an IN-PLAN aggregate, so
  * driver materialization is G-bounded (final blobs, not G×P partials).
  */
class ThetaSpec extends SparkSpec {
  import spark.implicits._

  test("sketch build is in-plan: ObjectHashAggregate partial+final, " +
    "driver sees exactly G rows") {
    val df = ((0L until 500L).map(("a", _)) ++
      (0L until 300L).map(("b", _))).toDF("grp", "k").repartition(8)
    val frame = ThetaSketches.groupSketchFrame(df, "grp", "k")
    val plan = frame.queryExecution.executedPlan.toString
    // the aggregate (with its partial-merge) lives in the plan …
    assert(plan.contains("theta_sketch_agg"), plan)
    assert(plan.contains("ObjectHashAggregate"), plan)
    // … so what reaches the driver is one FINAL blob per group, however
    // many partitions fed it
    val rows = frame.collect()
    assert(rows.length == 2, "G groups -> G rows, independent of P=8")
  }

  test("edge shapes: empty input -> no groups; null keys don't count; " +
    "null group sketches like any other") {
    val empty = spark.range(0).selectExpr("'g' AS grp", "id AS k")
    assert(ThetaReference.groupSketches(empty, "grp", "k").isEmpty)
    // 3 real keys + nulls in both positions
    val df = Seq(("a", Some(1L)), ("a", Some(2L)), ("a", None),
      (null.asInstanceOf[String], Some(7L)), (null, Some(8L)))
      .toDF("grp", "k")
    val sk = ThetaReference.groupSketches(df, "grp", "k")
    assert(sk("a").getEstimate == 2.0, "null key must not count")
    assert(sk(null).getEstimate == 2.0, "null group must sketch normally")
  }

  test("planted sets: intersection and union estimates are exact below 2^lgK") {
    // A = [0, 1000), B = [600, 1600) → |A∩B| = 400, |A∪B| = 1600
    val df = ((0L until 1000L).map(("a", _)) ++
      (600L until 1600L).map(("b", _))).toDF("grp", "k")
    val sk = ThetaReference.groupSketches(df, "grp", "k")
    assert(sk("a").getEstimate == 1000.0)
    assert(sk("b").getEstimate == 1000.0)
    assert(ThetaReference.intersectionEstimate(sk("a"), sk("b")) == 400.0)
    assert(ThetaReference.unionEstimate(sk("a"), sk("b")) == 1600.0)
  }

  test("union lgK is a floor: a default-12 union of lgK-16 sketches past " +
    "4096 retained entries stays EXACT (the closed foot-gun)") {
    // A = [0, 6000), B = [4000, 10000) at lgK=16: exact mode, 6000
    // retained each — a 12-CAPPED union (nominal 4096 < 12000 combined)
    // would downsample and almost surely miss |A∪B| = 10000 exactly;
    // the floor semantics auto-raise to ceil(log2(12000)) = 14 and the
    // union stays exact at the DEFAULT, through both the driver helper
    // and the in-plan scalar expression
    val df = ((0L until 6000L).map(("a", _)) ++
      (4000L until 10000L).map(("b", _))).toDF("grp", "k")
    val sk16 = ThetaReference.groupSketches(df, "grp", "k", lgK = 16)
    assert(ThetaReference.unionEstimate(sk16("a"), sk16("b")) == 10000.0)
    val skF = ThetaSketches.groupSketchFrame(df, "grp", "k", lgK = 16)
    SparkSpec.injectExtensions(spark)
    val inPlan = skF.as("x").join(skF.as("y"), col("x.grp") < col("y.grp"))
      .select(expr("theta_union_estimate(x.theta, y.theta)").as("uni"))
      .as[Double].collect()
    assert(inPlan.toSeq == Seq(10000.0))
    // the floor itself: a caller's larger lgK is respected, the cap holds
    assert(graft.operators.ThetaSetEstimates.effectiveLgK(0L, 12) == 12)
    assert(graft.operators.ThetaSetEstimates.effectiveLgK(1L, 4) == 4)
    assert(graft.operators.ThetaSetEstimates.effectiveLgK(4096L, 12) == 12)
    assert(graft.operators.ThetaSetEstimates.effectiveLgK(4097L, 12) == 13)
    assert(graft.operators.ThetaSetEstimates.effectiveLgK(12000L, 16) == 16)
    assert(graft.operators.ThetaSetEstimates.effectiveLgK(Long.MaxValue, 12)
      == 26)
    // the floor must not quietly clamp a typo'd request: the driver
    // helper validates the range like the SQL form does
    val bad = intercept[IllegalArgumentException](
      ThetaReference.unionEstimate(sk16("a"), sk16("b"), lgK = 30))
    assert(bad.getMessage.contains("lgK out of range"), bad.getMessage)
  }

  test("estimates are partitioning-invariant (merge order can't matter)") {
    val df = (0L until 3000L).map(("g", _)).toDF("grp", "k")
    val e1 = ThetaReference.groupSketches(df.repartition(1), "grp", "k")("g")
      .getEstimate
    val e32 = ThetaReference.groupSketches(df.repartition(32), "grp", "k")("g")
      .getEstimate
    assert(e1 == e32)
    assert(e1 == 3000.0) // still in exact mode at lgK=12
  }

  test("estimation mode (beyond 2^lgK retained): th1's 5% tolerance holds") {
    // th1's lgK=16 ceiling note reasons about the regime PAST ~65k
    // distinct/group, where the sketch estimates instead of counting.
    // Plant it directly: two 1M-key sets overlapping in 300k. All values
    // are deterministic (fixed murmur seed), so the asserts can be tight:
    // RSE at lgK=16 is ~0.4%, the asserted 2% (marginals/union) and 5%
    // (intersection — error concentrates there at small overlap
    // fractions) are the documented th1 tolerances with headroom.
    val df = spark.range(1000000L).selectExpr("'a' AS grp", "id AS k")
      .union(spark.range(700000L, 1700000L)
        .selectExpr("'b' AS grp", "id AS k"))
    val sk = ThetaReference.groupSketches(df, "grp", "k", lgK = 16)
    assert(sk("a").isEstimationMode && sk("b").isEstimationMode,
      "1M distinct at lgK=16 must be past exact mode")
    assert(math.abs(sk("a").getEstimate - 1e6) <= 0.02 * 1e6)
    assert(math.abs(sk("b").getEstimate - 1e6) <= 0.02 * 1e6)
    val inter = ThetaReference.intersectionEstimate(sk("a"), sk("b"))
    assert(math.abs(inter - 300000.0) <= 0.05 * 300000.0,
      s"intersection estimate $inter vs 300000")
    val uni = ThetaReference.unionEstimate(sk("a"), sk("b"), lgK = 16)
    assert(math.abs(uni - 1700000.0) <= 0.02 * 1700000.0,
      s"union estimate $uni vs 1700000")
  }

  test("sketch-as-data: per-group blobs persist to parquet and reload " +
    "into the same algebra (any-range overlap without a rescan)") {
    // the hll1/cms1 pattern for theta: store per-scope sketches once,
    // answer later set questions from the stored table
    val df = ((0L until 1000L).map(("a", _)) ++
      (600L until 1600L).map(("b", _))).toDF("grp", "k")
    val dir = new java.io.File(tempDir("graft-theta-store"), "sketches")
      .getAbsolutePath
    ThetaSketches.groupSketchFrame(df, "grp", "k").write.parquet(dir)
    val loaded = spark.read.parquet(dir).collect().map { r =>
      r.getString(0) -> org.apache.datasketches.theta.Sketches
        .wrapCompactSketch(org.apache.datasketches.memory.Memory.wrap(
          r.getAs[Array[Byte]](1)))
    }.toMap
    assert(ThetaReference.intersectionEstimate(loaded("a"), loaded("b")) == 400.0)
    assert(ThetaReference.unionEstimate(loaded("a"), loaded("b")) == 1600.0)
    // blobs are canonical (ordered compact form): reload == fresh build
    val fresh = ThetaReference.groupSketches(df, "grp", "k")
    assert(loaded("a").toByteArray.toSeq == fresh("a").toByteArray.toSeq)
  }

  test("in-plan set algebra: sketch table joined against itself, scalar " +
    "estimates equal the driver helpers") {
    // the overlap-matrix shape: persistable G-row sketch table, self-join,
    // one scalar expression per pair — zero driver-side sketch arithmetic
    val df = ((0L until 1000L).map(("a", _)) ++
      (600L until 1600L).map(("b", _))).toDF("grp", "k")
    val sk = ThetaSketches.groupSketchFrame(df, "grp", "k")
    SparkSpec.injectExtensions(spark)
    val out = sk.as("x").join(sk.as("y"), col("x.grp") < col("y.grp"))
      .select(
        ThetaSketches.thetaIntersectEstimate(
          col("x.theta"), col("y.theta")).as("inter"),
        expr("theta_union_estimate(x.theta, y.theta)").as("uni"),
        expr("theta_difference_estimate(x.theta, y.theta)").as("diff"))
      .as[(Double, Double, Double)].collect()
    assert(out.toSeq == Seq((400.0, 1600.0, 600.0)))
  }

  test("SQL-only path: theta_sketch_agg through the scalar set ops in " +
    "one statement") {
    SparkSpec.injectExtensions(spark)
    ((0L until 1000L).map(("a", _)) ++ (600L until 1600L).map(("b", _)))
      .toDF("grp", "k").createOrReplaceTempView("theta_sql_in")
    val rows = spark.sql(
      """WITH sk AS (SELECT grp, theta_sketch_agg(k) AS theta
        |            FROM theta_sql_in GROUP BY grp)
        |SELECT theta_intersect_estimate(x.theta, y.theta) AS inter,
        |       theta_union_estimate(x.theta, y.theta, 12) AS uni,
        |       theta_difference_estimate(x.theta, y.theta) AS diff
        |FROM sk x JOIN sk y ON x.grp < y.grp""".stripMargin)
      .as[(Double, Double, Double)].collect()
    assert(rows.toSeq == Seq((400.0, 1600.0, 600.0)))
  }

  test("scalar set ops: null sketch -> null estimate; non-binary input " +
    "rejected at analysis") {
    val sk = ThetaSketches.groupSketchFrame(
      (0L until 10L).map(("a", _)).toDF("grp", "k"), "grp", "k")
      .withColumn("missing", lit(null).cast("binary"))
    val r = sk.select(ThetaSketches.thetaIntersectEstimate(
      col("theta"), col("missing"))).collect()
    assert(r.forall(_.isNullAt(0)), "null sketch must estimate null")
    SparkSpec.injectExtensions(spark)
    val ex = intercept[Exception] {
      sk.select(expr("theta_union_estimate(theta, grp)")).collect()
    }
    assert(ex.getMessage.contains("theta_union_estimate"), ex.getMessage)
  }

  test("harness events: sketch overlap == exact overlap in exact mode") {
    val e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val sk = ThetaReference.groupSketches(e, "event_type", "user_id")
    val du = e.select($"event_type", $"user_id").distinct()
    val exact = du.as("a")
      .join(du.as("b"), col("a.user_id") === col("b.user_id")
        && col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type"), col("b.event_type"))
      .agg(count(lit(1)).as("n"))
      .as[(String, String, Long)].collect()
    assert(exact.nonEmpty)
    exact.foreach { case (ta, tb, n) =>
      assert(ThetaReference.intersectionEstimate(sk(ta), sk(tb)) == n.toDouble,
        s"$ta ∩ $tb")
    }
  }
}
