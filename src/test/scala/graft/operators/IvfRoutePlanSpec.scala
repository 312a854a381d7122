package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{array, col, lit, sin}

/** Plan shape of [[Similarity.ivfTopK]]'s round-16 query-side routing:
  * a bounded query slice broadcasts (the pre-gate plan, the catalog
  * posture), a corpus-scale query side takes the shuffled equi-join
  * instead of an executor-OOM broadcast — pinned against the SAME
  * constant the route reads ([[Broadcasts.QueryBroadcastBudgetBytes]]),
  * and results are hash-identical on both shapes.
  *
  * Spark's own statistics-driven broadcast is disabled inside these
  * tests (autoBroadcastJoinThreshold = -1): every synthetic frame here
  * is tiny by CBO estimates, so with it on BOTH routes would plan a
  * BroadcastHashJoin and the assertions would read the estimator, not
  * our hint. At real scale the estimator sees real sizes; what the spec
  * must pin is exactly the part we control — hint present below the
  * budget, absent above it.
  */
class IvfRoutePlanSpec extends SparkSpec {

  private def withAutoBroadcastOff[T](body: => T): T =
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))

  private lazy val index =
    Similarity.ivfIndex(emb, "vec_id", "embedding", nCentroids = 4)

  /** Deterministic n-row dim-64 query frame (the synth recipe of the
    * SCALE_SF1.md §Round-15 guard measurement) — only its ROW COUNT
    * matters to the route.
    */
  private def synthQueries(n: Long): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      array((0 until 64).map(i =>
        sin(col("id") * lit(0.61 + i * 0.137) + lit(i))): _*)
        .as("embedding"))

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("auto route: bounded query slice keeps the broadcast hint") {
    withAutoBroadcastOff {
      val p = planOf(Similarity.ivfTopK(index, emb.limit(20), "vec_id",
        "embedding", k = 3, nProbe = 2))
      assert(p.contains("BroadcastHashJoin"),
        s"small query side must broadcast:\n$p")
    }
  }

  test("auto route: query side past the budget takes the equi-join " +
      "and the two-stage top-k") {
    withAutoBroadcastOff {
      // 60k rows × nProbe 2 × (64·8 + 64) B/row ≈ 69 MB > the 64 MiB
      // budget — one row-count step past the broadcast bar
      val p = planOf(Similarity.ivfTopK(index, synthQueries(60000L),
        "vec_id", "embedding", k = 3, nProbe = 2))
      assert(!p.contains("BroadcastHashJoin"),
        s"corpus-scale query side must NOT broadcast:\n$p")
      // the shuffled path adds the per-(bucket, query) partial top-k
      assert(p.contains("lr"), s"expected the partial top-k column:\n$p")
    }
  }

  test("forced routes override the size estimate both ways") {
    withAutoBroadcastOff {
      val forcedOff = planOf(Similarity.ivfTopK(index, emb.limit(20),
        "vec_id", "embedding", k = 3, nProbe = 2,
        broadcastQueries = Some(false)))
      assert(!forcedOff.contains("BroadcastHashJoin"),
        s"Some(false) must drop the hint:\n$forcedOff")
      val forcedOn = planOf(Similarity.ivfTopK(index, synthQueries(60000L),
        "vec_id", "embedding", k = 3, nProbe = 2,
        broadcastQueries = Some(true)))
      assert(forcedOn.contains("BroadcastHashJoin"),
        s"Some(true) must keep the hint:\n$forcedOn")
    }
  }

  test("auto route with a proven row bound stays fully lazy: a " +
      "limit-bounded query slice broadcasts with NO job at " +
      "plan-construction time (the round-17 maxRows fast path)") {
    withAutoBroadcastOff {
      val qs = emb.limit(20) // GlobalLimit => optimizedPlan.maxRows = 20
      qs.queryExecution.optimizedPlan // settle analysis outside the window
      val before =
        spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
      val df = Similarity.ivfTopK(index, qs, "vec_id", "embedding",
        k = 3, nProbe = 2)
      val after =
        spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
      assert(after == before,
        s"proven-bound auto route must not count at construction: " +
          s"$before -> $after")
      // and it chose the broadcast (the bound fits the budget)
      assert(planOf(df).contains("BroadcastHashJoin"))
    }
  }

  test("results are hash-identical across the two join shapes") {
    val qs = emb.limit(40)
    def run(b: Boolean) =
      Similarity.ivfTopK(index, qs, "vec_id", "embedding", k = 5,
        nProbe = 2, broadcastQueries = Some(b))
        .orderBy(col("qid"), col("rank"))
        .collect().map(_.toString).toSeq
    assert(run(true) == run(false),
      "broadcast and equi-join shapes must return identical rows")
  }

  test("contrastivePairs: the anchor-id broadcast is size-gated the " +
      "same way (the positives semi-join must not OOM on a corpus-scale " +
      "anchor set)") {
    withAutoBroadcastOff {
      // bounded anchors: both positives joins keep the hint
      val small = planOf(Similarity.contrastivePairs(emb, "vec_id",
        "embedding", emb.limit(10), k = 2, threshold = 0.8, dim = 64))
      assert(small.contains("BroadcastHashJoin"),
        s"bounded anchor ids must broadcast:\n$small")
      // 2.2M anchors × 32 B ≈ 70 MB > the 64 MiB budget — the id hint
      // drops; the only BroadcastHashJoins in this plan are the aIds
      // joins, so their absence is the routing (the brute-force
      // negative side is a BroadcastNestedLoopJoin by contract)
      val big = planOf(Similarity.contrastivePairs(emb, "vec_id",
        "embedding", synthQueries(2200000L), k = 2, threshold = 0.8,
        dim = 64))
      assert(!big.contains("BroadcastHashJoin"),
        s"corpus-scale anchor ids must NOT broadcast:\n$big")
    }
  }

  test("equi-join path: partial top-k adds no exchange over the " +
      "scored pair stream") {
    withAutoBroadcastOff {
      val p = planOf(Similarity.ivfTopK(index, synthQueries(60000L),
        "vec_id", "embedding", k = 3, nProbe = 2))
      val exchanges = p.linesIterator
        .count(_.contains("Exchange hashpartitioning"))
      // corpus side + query side of the equi-join + the final per-qid
      // window = 3; a fourth would mean the (probe, qid) partial window
      // re-shuffled the full scored stream (the KnnPlanSpec invariant)
      assert(exchanges <= 3, s"expected ≤3 hash exchanges, got $exchanges:\n" +
        p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    }
  }
}
