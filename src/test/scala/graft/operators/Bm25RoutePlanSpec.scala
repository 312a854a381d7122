package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat, concat_ws, lit}

/** Plan shape of [[Retrieval.bm25TopK]]'s round-17 query-terms routing —
  * the `IvfRoutePlanSpec` contract applied to the last ungated
  * caller-proportional broadcast hint in the API: a bounded query set
  * broadcasts its (qid, term) side (the pre-gate plan, the
  * `bm25_1`/`mrr1` posture), a corpus-scale mined-query batch takes the
  * shuffled `term` join instead of an executor-OOM broadcast — pinned
  * against the same constant the route reads
  * ([[Broadcasts.QueryBroadcastBudgetBytes]]) — and results are
  * hash-identical on both shapes.
  *
  * Spark's own statistics-driven broadcast is disabled inside the plan
  * tests (autoBroadcastJoinThreshold = -1): every synthetic frame here
  * is tiny by CBO estimates, so with it on BOTH routes would plan a
  * BroadcastHashJoin and the assertions would read the estimator, not
  * our hint. With it off, the qTerms join is the ONLY possible
  * BroadcastHashJoin in the plan (the df/doc-length joins are
  * sort-merge, the totals cross-join is a nested-loop broadcast), so
  * BroadcastHashJoin presence IS the routing.
  */
class Bm25RoutePlanSpec extends SparkSpec {

  private def withAutoBroadcastOff[T](body: => T): T =
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))

  private lazy val smallQueries =
    docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), col("text").as("qtext"))

  /** n queries × 3 UNIQUE terms each — only the distinct (qid, term)
    * row count matters to the route (each term embeds the qid, so the
    * distinct side is exactly 3n rows).
    */
  private def synthQueries(n: Long): DataFrame =
    spark.range(n).select(col("id").as("qid"),
      concat_ws(" ",
        concat(lit("ta"), col("id")),
        concat(lit("tb"), col("id")),
        concat(lit("tc"), col("id"))).as("qtext"))

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def run(qs: DataFrame, route: Option[Boolean]): DataFrame =
    Retrieval.bm25TopK(docs, qs, "doc_id", "text", "qid", "qtext",
      k = 10, broadcastQueryTerms = route)

  test("auto route: bounded query set keeps the broadcast hint") {
    withAutoBroadcastOff {
      val p = planOf(run(smallQueries, None))
      assert(p.contains("BroadcastHashJoin"),
        s"small query-terms side must broadcast:\n$p")
    }
  }

  test("auto route: query-terms side past the budget takes the " +
      "shuffled term join") {
    withAutoBroadcastOff {
      // 600k queries × 3 distinct terms = 1.8M rows × 48 B row
      // overhead ≈ 86 MB before the ~14 MB of measured term bytes —
      // clearly past the 64 MiB budget (the route MEASURES rows and
      // octet_length, so the margin is computed, not guessed)
      val p = planOf(run(synthQueries(600000L), None))
      assert(!p.contains("BroadcastHashJoin"),
        s"corpus-scale query-terms side must NOT broadcast:\n$p")
    }
  }

  test("forced routes override the size estimate both ways") {
    withAutoBroadcastOff {
      val forcedOff = planOf(run(smallQueries, Some(false)))
      assert(!forcedOff.contains("BroadcastHashJoin"),
        s"Some(false) must drop the hint:\n$forcedOff")
      val forcedOn = planOf(run(synthQueries(600000L), Some(true)))
      assert(forcedOn.contains("BroadcastHashJoin"),
        s"Some(true) must keep the hint:\n$forcedOn")
    }
  }

  test("auto route: giant terms route by MEASURED bytes, not row count " +
      "(a no-whitespace corpus must not sneak under a bytes/row guess)") {
    withAutoBroadcastOff {
      // 3k queries × 1 term each — but each "term" is a ~32 KB blob:
      // ~96 MB of term bytes on 3k rows. A 64 B/row estimate would
      // read ~0.2 MB and broadcast; the measured octet_length routes
      // it to the shuffle.
      import org.apache.spark.sql.functions.repeat
      val giant = spark.range(3000).select(col("id").as("qid"),
        repeat(concat(lit("x"), col("id")), 8000).as("qtext"))
      val p = planOf(Retrieval.bm25TopK(docs, giant, "doc_id", "text",
        "qid", "qtext", k = 10))
      assert(!p.contains("BroadcastHashJoin"),
        s"giant-term query side must NOT broadcast:\n$p")
    }
  }

  test("results are hash-identical across the two join shapes") {
    def rows(b: Boolean) = run(smallQueries, Some(b))
      .orderBy(col("qid"), col("rank"))
      .collect().map(_.toString).toSeq
    val viaBc = rows(true)
    assert(viaBc.nonEmpty)
    assert(viaBc == rows(false),
      "broadcast and shuffled shapes must return identical rankings")
  }

  test("forced routes stay fully lazy: no job runs at plan-construction " +
      "time (the loop-caller contract)") {
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    run(smallQueries, Some(true))
    run(smallQueries, Some(false))
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(after == before,
      s"forced routes must not run jobs at construction: $before -> $after")
  }

  test("auto route estimate is ONE map-only job — the query side's " +
      "distinct never executes at plan-construction time (round 18; the " +
      "round-17 estimate aggregated the distinct form, paying its " +
      "shuffle twice per action)") {
    withAutoBroadcastOff {
      val tracker = spark.sparkContext.statusTracker
      val before = tracker.getJobIdsForGroup(null).toSet
      run(synthQueries(2000L), None)
      val newJobs = tracker.getJobIdsForGroup(null).toSet -- before
      // AQE materializes one job per EXCHANGE plus the result job (and
      // re-lists reused map stages under fresh skipped stage IDs, so
      // stage-ID counting over-counts) — the job count is the exchange
      // count plus one. The map-only estimate has exactly one exchange
      // (the 1-row final agg): 2 jobs. An estimate that executed qt's
      // distinct would materialize that exchange too: 3 jobs — the
      // round-17 shape this test exists to keep out.
      assert(newJobs.nonEmpty && newJobs.size <= 2,
        s"auto route estimate must not execute qt's distinct exchange: " +
          s"ran ${newJobs.size} jobs ($newJobs), expected <= 2")
    }
  }

  test("the estimate's pre-distinct bound errs toward the shuffle: a " +
      "duplicate-heavy query set whose DISTINCT side would fit routes " +
      "to the shuffled join (slow-not-fatal, the budget's own asymmetry)") {
    withAutoBroadcastOff {
      import org.apache.spark.sql.functions.repeat
      // 200 queries × 10k copies of the same term: distinct side is 200
      // rows (~10 KB), pre-distinct is 2M rows × 48 B overhead ≈ 96 MB —
      // past the 64 MiB budget, so the conservative bound takes the
      // shuffle; a caller who knows the distinct side is bounded forces
      // Some(true), the designed escape
      val dupHeavy = spark.range(200).select(col("id").as("qid"),
        repeat(lit("dup "), 10000).as("qtext"))
      val p = planOf(run(dupHeavy, None))
      assert(!p.contains("BroadcastHashJoin"),
        s"pre-distinct bound must route duplicate-heavy sets to the " +
          s"shuffle:\n$p")
    }
  }

  test("auto route's bounded-set physical plan is identical to the " +
      "forced-broadcast plan (the estimate changes no plan, only the " +
      "route decision)") {
    withAutoBroadcastOff {
      def norm(p: String): String = p
        .replaceAll("#\\d+", "#x")
        .replaceAll("plan_id=\\d+", "plan_id=x")
        .replaceAll("\\[id=#?x?\\d*\\]", "[id=x]")
      val auto = norm(planOf(run(smallQueries, None)))
      val forced = norm(planOf(run(smallQueries, Some(true))))
      assert(auto == forced,
        s"bounded-set auto plan must match the forced broadcast plan:\n" +
          s"AUTO:\n$auto\nFORCED:\n$forced")
    }
  }
}
