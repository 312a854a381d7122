package graft.queries

import org.apache.spark.sql.functions._
import QueryUtil._

/** Sketch/statistics extensions beyond the reference surface: Count–Min
  * point-frequency estimation with sketch merge (the frequency complement
  * to hll1's distinct-count scheme) and distributed PCA (single-pass
  * covariance → driver eigen-solve → in-plan projection), the embedding
  * post-processing step of a training-data pipeline.
  *
  * Oracle scheme for engine-internal numerics (the ag2/sim2 pattern): the
  * sketch estimate and the eigenpair are not SQL-reproducible, so the
  * emitted surface is the mathematical guarantee each must satisfy,
  * as booleans DuckDB reproduces as literal TRUE, alongside exact
  * relational columns (counts) both engines compute independently.
  */
object SketchStatQueries {

  val queries: Map[String, Q] = Map(
    // Count–Min sketch: per-event-type sketches (native codegen'd
    // aggregate, map-side combinable), merged driver-side (KB blobs —
    // the "per-day sketches, any-range query" pattern), point-queried
    // for the exact top-5 users. CM guarantees: never underestimates;
    // overestimates by ≤ ε·N (here deterministic for the fixed seed,
    // and width 2000 = ⌈2/ε⌉ ≫ distinct users, so collisions are rare).
    "cms1_count_min" -> ((s, d) => {
      import s.implicits._
      // Null policy mirrors ThetaReference.groupSketches: a null user_id
      // carries no identity to count, and would NPE the getLong unbox
      // below — exclude it from both the sketch and the exact top-5
      // (the oracle filters identically).
      val e = events(s, d).filter(col("user_id").isNotNull)
      val sketches = graft.operators.CountMin.groupSketches(
        e, "event_type", "user_id")
      val top = e.groupBy(col("user_id"))
        .agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("user_id"))
        .limit(5).collect()
      val keys = top.map(_.getLong(0)).toIndexedSeq
      val (est, bound) = graft.operators.CountMin.estimateKeys(
        sketches, keys)
      top.toIndexedSeq.map { r =>
        val k = r.getLong(0)
        val n = r.getLong(1)
        (k, n, est(k) >= n, est(k) <= n + bound)
      }.toDF("user_id", "exact_n", "never_under", "within_eps")
    }),

    // Theta-sketch source overlap, END-TO-END IN-PLAN: per-event-type
    // sketches of the user set (native typed-imperative aggregate, KB
    // blobs), pairwise INTERSECTION estimates via the scalar
    // `theta_intersect_estimate` expression over the broadcast G-row
    // sketch table — the set-algebra question HLL cannot answer without
    // a join, computed distributed with ZERO driver-side sketch
    // arithmetic (r11 collected the blobs and looped; the overlap
    // matrix now scales to any number of stored sketch pairs). Exact
    // overlaps ride alongside relationally (the same inner-join both
    // engines compute); distinct users ≪ 2^lgK here, so the sketch is
    // in exact mode and the 5%+2-absolute tolerance is structurally
    // safe. lgK=16 keeps exact mode through ~65k distinct users/type
    // (covers sf1's ~15k; at sf0.1 it's ~1.5k) — beyond that the sketch
    // estimates, where small-overlap intersection error can exceed this
    // bound; compact sketches size by RETAINED entries, so the larger
    // capacity costs nothing here.
    "th1_theta_overlap" -> ((s, d) => {
      import graft.operators.ThetaSketches
      val e = events(s, d)
      val du = e.select(col("event_type"), col("user_id")).distinct()
      val exact = du.as("a")
        .join(du.as("b"), col("a.user_id") === col("b.user_id")
          && col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("type_a"),
          col("b.event_type").as("type_b"))
        .agg(count(lit(1)).as("exact_overlap"))
      val sk = ThetaSketches.groupSketchFrame(
        e, "event_type", "user_id", lgK = 16)
      // G-row sketch table joined in twice by equi-key (broadcast — the
      // sketch side is group-grain by construction), one scalar
      // intersection estimate per surviving pair
      exact
        .join(broadcast(sk.select(col("grp").as("type_a"),
          col("theta").as("_th_a"))), "type_a")
        .join(broadcast(sk.select(col("grp").as("type_b"),
          col("theta").as("_th_b"))), "type_b")
        .select(col("type_a"), col("type_b"), col("exact_overlap"),
          (abs(ThetaSketches.thetaIntersectEstimate(
              col("_th_a"), col("_th_b")) - col("exact_overlap"))
            <= greatest(lit(2.0), col("exact_overlap") * 0.05))
            .as("est_ok"))
    }),

    // Distributed PCA, dominant component: one aggregator pass builds the
    // 64×64 covariance (17 KB buffer/task), power iteration solves the
    // top eigenpair driver-side (corpus-size-independent), and a second
    // codegen'd pass measures per-vector energy along it. Booleans are
    // mathematical identities of the same moments (mean ‖x−μ‖² = trace;
    // mean ((x−μ)·v)² = vᵀΣv = λ̂; λ̂ ≤ λ₁ ≤ trace), so they hold at any
    // SF up to float noise — 1e-6 relative tolerance vs ~1e-12 observed.
    "pca1_top_component" -> ((s, d) => {
      val (en, sum) = graft.operators.Pca.topComponentEnergies(
        table(s, d, "embeddings"), "vec_id", "embedding", dim = 64)
      val a = en.agg(avg(col("total")).as("mt"),
        avg(col("along_top")).as("mtop")).head()
      val (mt, mtop) = (a.getDouble(0), a.getDouble(1))
      def close(x: Double, y: Double) =
        math.abs(x - y) <= 1e-6 * math.max(1.0, math.abs(y))
      s.range(1).select(
        lit(sum.n).as("n_vecs"),
        lit(close(mt, sum.trace)).as("energy_is_trace"),
        lit(close(mtop, sum.lambda)).as("top_energy_is_lambda"),
        lit(sum.lambda >= sum.maxDiag * (1.0 - 1e-6)).as("top_dominates_axes"),
        lit(sum.lambda > 0.0 && sum.lambda <= sum.trace * (1.0 + 1e-6))
          .as("var_reduced"))
    })
  )

  val oracle: Map[String, String] = Map(
    "cms1_count_min" ->
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n,
        | TRUE AS never_under, TRUE AS within_eps
        |FROM events WHERE user_id IS NOT NULL GROUP BY user_id
        |ORDER BY exact_n DESC, user_id LIMIT 5""".stripMargin,
    "pca1_top_component" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
        | TRUE AS energy_is_trace, TRUE AS top_energy_is_lambda,
        | TRUE AS top_dominates_axes, TRUE AS var_reduced
        |FROM embeddings""".stripMargin,
    "th1_theta_overlap" ->
      """WITH du AS (SELECT DISTINCT event_type, user_id FROM events)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        | CAST(COUNT(*) AS BIGINT) AS exact_overlap, TRUE AS est_ok
        |FROM du a JOIN du b
        | ON a.user_id = b.user_id AND a.event_type < b.event_type
        |GROUP BY 1, 2""".stripMargin
  )
}
