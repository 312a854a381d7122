package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.streaming.EventStreams
import QueryUtil._

/** Event-stream batch-equivalents (the same expressions the streaming path
  * runs — SURVEY.md §2.7 extension), JSON extraction promoted into the plan
  * (the reference parses JSON driver-side in the UDF body,
  * `reviews_fact.py:76-89`), set operations, rollup, and distinct-agg
  * coverage.
  */
object StreamMiscQueries {

  val queries: Map[String, Q] = Map(
    // tumbling event-time window aggregation — the exact frame the
    // streaming windowedCounts produces
    "st1_window_agg" -> ((s, d) =>
      EventStreams.windowedCounts(events(s, d))),

    // gap-based sessionization, window-function form
    "st2_sessionization" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      events(s, d)
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("new_session",
          when(col("prev_us").isNull
            || unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1)
            .otherwise(0))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).cast("int").as("n_sessions"),
          count(lit(1)).as("n_events"))
    }),

    // JSON field extraction in-plan (C7/U1 JSON parsing, promoted)
    "js1_json_extract" -> ((s, d) =>
      events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n_with_k"),
          sum(col("k")).cast("bigint").as("sum_k"))),

    // set operations: (BUILDING ∩ has-P-order) ∪ (AUTOMOBILE ∖ has-P-order)
    "so1_set_ops" -> ((s, d) => {
      val cust = table(s, d, "customer")
      val pOrders = table(s, d, "orders")
        .filter(col("o_orderstatus") === "P")
        .select(col("o_custkey").as("c_custkey"))
      val building = cust.filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val auto = cust.filter(col("c_mktsegment") === "AUTOMOBILE")
        .select("c_custkey")
      // .distinct() for UNION (not UNION ALL) parity with the oracle SQL
      building.intersect(pOrders).union(auto.except(pOrders)).distinct()
    }),

    // hierarchical rollup with subtotal rows
    "ag1_rollup" -> ((s, d) =>
      table(s, d, "nation")
        .join(broadcast(table(s, d, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .join(table(s, d, "customer"),
          col("c_nationkey") === col("n_nationkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"))),

    // list-agg: the reference sketches "tags as a list per app"
    // (`analysis.sql:15`) but never implements it — per-order sorted brand
    // list (string-joined for engine-stable comparison)
    "la1_list_agg" -> ((s, d) =>
      table(s, d, "lineitem")
        // part grows linearly with SF (200k·SF rows): no broadcast HINT
        // (forced build side = latent scale OOM); size-based planning
        // broadcasts while small, shuffles at scale (see h2)
        .join(table(s, d, "part"),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_orderkey"))
        .agg(array_join(sort_array(collect_list(col("p_brand"))), ",")
          .as("brands"))),

    // generator/UDTF surface: explode tokens → corpus term frequencies
    "g1_explode_tokens" -> ((s, d) =>
      table(s, d, "documents")
        .select(explode(split(lower(col("text")), " ")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 100)),

    // range join: same-user error pairs within a 6-hour interval,
    // bucketized equi-join form (one shuffle; the oracle is the naive
    // inequality join)
    "rj1_range_join" -> ((s, d) =>
      graft.operators.RangeJoin.pairsWithinGap(
        events(s, d).filter(col("event_type") === "error"),
        keyCol = "user_id", idCol = "event_id", tsCol = "ts",
        maxGapSeconds = 21600)),

    // as-of join: each purchase matched to the user's latest prior click
    // (composed window form — one shuffle; DuckDB's native ASOF JOIN is
    // the oracle)
    "aj1_asof_join" -> ((s, d) => {
      val e = events(s, d)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("purchase_ts"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      graft.operators.AsOfJoin.asOf(purchases, clicks,
        keyCol = "user_id", leftTsCol = "purchase_ts",
        rightTsCol = "click_ts", rightCols = Seq("click_id", "click_ts"))
    }),

    // two-relation interval join, bucketized (a bare interval predicate
    // plans as a nested loop)
    "st4_interval_join" -> ((s, d) => {
      val e = events(s, d)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      graft.operators.RangeJoin.joinWithinGap(purchases, clicks, "user_id",
        "purchase_id", "purchase_ts", "click_id", "click_ts",
        maxGapSeconds = 21600L)
    }),

    // full cube with all subtotal combinations
    "ag3_cube" -> ((s, d) =>
      table(s, d, "orders")
        // money cast hoisted below the aggregate (r20, guide §1.2): an
        // aggregate child re-evaluates per update-expression reference,
        // and CUBE additionally EXPANDS each input row into 4 grouping
        // sets first — in-agg, the BigDecimal-allocating cast ran up to
        // ~8-12× per input row; projected once, the Expand copies a
        // ready decimal
        .withColumn("_dprice", dec(col("o_totalprice")))
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          dec(sum(col("_dprice"))).as("sum_price"))),

    // schema-full JSON parsing (from_json → typed struct), the in-plan
    // form of the reference's UDF-side json.loads
    "js2_from_json" -> ((s, d) =>
      events(s, d)
        .withColumn("parsed",
          from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.IntegerType)))))
        .groupBy(col("event_type"))
        .agg(avg(col("parsed.k")).as("avg_k"),
          min(col("parsed.k")).as("min_k"),
          max(col("parsed.k")).as("max_k"))),

    // HLL++ approximate distinct — the estimate itself is engine-specific,
    // so the oracle-checked surface is the relational assertion: the
    // estimate must sit within 25% (5σ of the sketch's 5% rsd — the bound
    // must hold on ANY dataset, not just fixtures, so it is set where a
    // correct sketch essentially cannot violate it) of the exact count,
    // emitted as a boolean that DuckDB reproduces as literal TRUE
    "ag2_approx_distinct" -> ((s, d) => {
      // r20 (guide §2.3 "aggregate before you shuffle"): TWO distinct
      // aggregates in one agg make Spark EXPAND the input 3× (one copy
      // per distinct clause) before the shuffle — at scale that triples
      // the bytes of the widest shuffle in the query. Splitting into two
      // dedup-then-count aggregations joined on the (6-row) group key
      // computes the IDENTICAL result: count(col) over the deduped frame
      // is countDistinct by definition, and approx_count_distinct is
      // duplicate-insensitive (HLL registers are a pure function of the
      // distinct value set), so running it over the deduped frame leaves
      // the estimate bit-identical. Measured 1.34 s → 0.60 s at sf0.1,
      // exceptAll-equal both directions.
      val li = table(s, d, "lineitem")
      val parts = li.select(col("l_returnflag"), col("l_partkey")).distinct()
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("apx"),
          count(col("l_partkey")).as("exact_parts"))
      val orders = li.select(col("l_returnflag"), col("l_orderkey")).distinct()
        .groupBy(col("l_returnflag"))
        .agg(count(col("l_orderkey")).as("exact_orders"))
      parts.join(orders, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("exact_orders"),
          (abs(col("apx") - col("exact_parts")).cast("double")
            / col("exact_parts").cast("double") <= 0.25)
            .as("within_25pct"))
    }),

    // SKETCH-AS-DATA: per-group HLL sketches built once, then MERGED to
    // answer the global distinct question WITHOUT rescanning the base
    // data (hll_union_agg over the stored sketch column) — the
    // production pattern for "distinct users over any date range" at
    // 100TB: per-day sketches persist as a tiny table and any window is
    // a sketch merge, not a scan. Emitted surface: within-5% booleans vs
    // exact (ag2 scheme; the datasketches estimate is deterministic for
    // a given dataset, and HLL lgK=12's ~1.6% rsd puts 5% at ~3σ —
    // verified green at sf0.001/0.01/0.1).
    "hll1_sketch_reuse" -> ((s, d) => {
      val orders = table(s, d, "orders")
      val sketches = orders.groupBy(col("o_orderpriority"))
        .agg(hll_sketch_agg(col("o_custkey")).as("sk"),
          countDistinct(col("o_custkey")).as("exact"))
      val per = sketches.select(col("o_orderpriority").as("scope"),
        (abs(hll_sketch_estimate(col("sk")).cast("double")
          - col("exact").cast("double"))
          <= col("exact").cast("double") * 0.05).as("within_5pct"))
      val glob = sketches
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        .crossJoin(broadcast(
          orders.agg(countDistinct(col("o_custkey")).as("exact"))))
        .select(lit("ALL").as("scope"),
          (abs(col("est").cast("double") - col("exact").cast("double"))
            <= col("exact").cast("double") * 0.05).as("within_5pct"))
      per.unionByName(glob)
    }),

    // approximate percentile (the A5 100TB path: one pass, mergeable
    // sketch, vs the exact sort-based percentile) — same verdict scheme.
    // The assertion is a true invariant: percentile_approx returns an
    // observed value, so it always lies in [min, max] (an IQR bound would
    // NOT be invariant — the interpolated exact quartiles of a 2-element
    // group can exclude every observed value).
    "a5b_median_approx" -> ((s, d) =>
      table(s, d, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          percentile_approx(col("n_chars"), lit(0.5), lit(10000)).as("am"),
          min(col("n_chars")).as("lo"),
          max(col("n_chars")).as("hi"))
        .select(col("lang"), col("n_docs"),
          (col("am") >= col("lo") && col("am") <= col("hi"))
            .as("within_range"))),

    // running aggregation window (rowsBetween frame)
    "w2_running_sum" -> ((s, d) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      table(s, d, "lineitem")
        .filter(col("l_suppkey") <= 10)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          sum(col("l_quantity").cast("decimal(18,2)")).over(w)
            .cast("decimal(18,2)").as("running_qty"))
    }),

    // regex tokenization (the BPE-ish path of token counting)
    "t5_regex_tokens" -> ((s, d) =>
      events(s, d) // reuse events for a second text-ish column domain
        .select(col("event_id"),
          size(regexp_extract_all(col("props"), lit("[a-z0-9]+"), lit(0)))
            .cast("int").as("n_word_tokens"))),

    // sliding event-time windows (1h length, 30m slide): each event lands
    // in two windows; same expressions serve the streaming path
    "st3_sliding_window" -> ((s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"))),

    // stream-static enrichment: event stream ⋈ broadcast dim (customer→
    // nation), daily windows per nation — batch twin of the streaming
    // plan (EventStreamsSpec runs the identical expressions on a
    // MemoryStream and asserts equality)
    "st5_stream_static_enrich" -> ((s, d) =>
      EventStreams.nationWindowedActivity(events(s, d),
        table(s, d, "customer"), table(s, d, "nation"))),

    // NATIVE session windows (the built-in operator; st2 is the
    // window-function form): per-user gap-separated sessions as first-class
    // groups. Boundary semantics MATCH st2: Spark merges sessions when
    // sessionStart <= currentSessionEnd (verified against 4.1.2's
    // UpdatingSessionsIterator and a live run), so an event landing
    // EXACTLY at the gap still merges — a new session needs diff > gap,
    // and the oracle's lag rule mirrors with `> gap`.
    "st6_session_window" -> ((s, d) =>
      events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("n_events"))),

    // relational PIVOT (long → wide): per-user event-type counts as
    // columns. The value list is EXPLICIT — the implicit form runs a
    // distinct-scan job just to discover column names, which at 100 TB
    // is a full extra pass; with the list the pivot is one partial-agg
    // shuffle, exactly a groupBy with five conditional counts (which is
    // also the portable oracle formulation).
    "pv1_pivot" -> ((s, d) =>
      events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        // fill scoped to the pivoted counts: an unscoped fill would also
        // rewrite a NULL user_id group key to 0, diverging from the
        // oracle's GROUP BY (which preserves NULL keys)
        .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))
        .select(col("user_id"), col("click").as("n_click"),
          col("error").as("n_error"), col("purchase").as("n_purchase"),
          col("signup").as("n_signup"), col("view").as("n_view"))),

    // relational UNPIVOT / melt (wide → long): the inverse reshape, via
    // the native unpivot operator (a Generate, not a self-union — ONE
    // scan of the wide table regardless of how many columns melt)
    "pv2_unpivot" -> ((s, d) =>
      table(s, d, "part")
        .select(col("p_partkey"), col("p_retailprice"),
          col("p_size").cast("double").as("p_size"))
        .unpivot(Array(col("p_partkey")),
          Array(col("p_retailprice"), col("p_size")), "attr", "val")),

    // time-series RESAMPLE with gap fill: each user's event history on a
    // contiguous daily grid (sequence + explode), missing days zero-
    // filled — the feature-engineering shape for per-entity activity
    // series at scale (grid size is bounded by the date span, the
    // explode is partition-local, and the left join is co-keyed)
    "ts1_resample_gaps" -> ((s, d) => {
      val e = events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
      val grid = e.groupBy(col("user_id"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"))).as("day"))
      val daily = e
        // value cast hoisted below the aggregate — see ag3 (guide §1.2)
        .withColumn("_dv", col("value").cast("decimal(18,6)"))
        .groupBy(col("user_id"), col("day"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("_dv")).as("sv"))
      grid.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          coalesce(col("n_events"), lit(0L)).cast("bigint").as("n_events"),
          coalesce(col("sv"), lit(0).cast("decimal(18,6)"))
            .cast("decimal(18,6)").as("sum_value"))
    })
  )

  val oracle: Map[String, String] = Map(
    "st1_window_agg" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        | CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "st2_sessionization" ->
      """WITH x AS (SELECT user_id, event_id, epoch_us(ts) us,
        |  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) prev_us
        | FROM events)
        |SELECT user_id,
        | CAST(SUM(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END) AS INTEGER) AS n_sessions,
        | CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM x GROUP BY 1""".stripMargin,
    "js1_json_extract" ->
      """SELECT event_type,
        | CAST(COUNT(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS n_with_k,
        | CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
        |FROM events GROUP BY 1""".stripMargin,
    "so1_set_ops" ->
      """(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        | INTERSECT
        | SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
        |UNION
        |(SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        | EXCEPT
        | SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')""".stripMargin,
    "ag2_approx_distinct" ->
      """SELECT l_returnflag,
        | CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
        | TRUE AS within_25pct
        |FROM lineitem GROUP BY 1""".stripMargin,
    "a5b_median_approx" ->
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, TRUE AS within_range
        |FROM documents GROUP BY 1""".stripMargin,
    // literal-TRUE scheme: one row per priority plus the merged-sketch ALL
    "hll1_sketch_reuse" ->
      """SELECT o_orderpriority AS scope, TRUE AS within_5pct
        |FROM orders GROUP BY 1
        |UNION ALL
        |SELECT 'ALL', TRUE""".stripMargin,
    "ag1_rollup" ->
      """SELECT r_name, n_name, CAST(COUNT(*) AS BIGINT) AS n_customers
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        | JOIN customer ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin,
    "la1_list_agg" ->
      """SELECT l_orderkey,
        | array_to_string(list_sort(list(p_brand)), ',') AS brands
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY l_orderkey""".stripMargin,
    "g1_explode_tokens" ->
      """SELECT token, CAST(COUNT(*) AS BIGINT) AS n
        |FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
        |GROUP BY token HAVING COUNT(*) >= 100""".stripMargin,
    "rj1_range_join" ->
      """SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
        | CAST(CAST((epoch_us(b.ts) - epoch_us(a.ts)) / 1000000 AS DECIMAL(18,6)) AS DOUBLE) AS gap_seconds
        |FROM (SELECT * FROM events WHERE event_type = 'error') a
        |JOIN (SELECT * FROM events WHERE event_type = 'error') b
        | ON a.user_id = b.user_id
        | AND epoch_us(b.ts) - epoch_us(a.ts) BETWEEN 0 AND 21600000000
        | AND (b.ts > a.ts OR (b.ts = a.ts AND b.event_id > a.event_id))""".stripMargin,
    "st4_interval_join" ->
      """SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
        | CAST(CAST((epoch_us(p.ts) - epoch_us(c.ts)) / 1000000 AS DECIMAL(18,6)) AS DOUBLE) AS gap_seconds
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        | ON p.user_id = c.user_id
        | AND epoch_us(p.ts) - epoch_us(c.ts) BETWEEN 0 AND 21600000000""".stripMargin,
    "aj1_asof_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
        | c.event_id AS click_id, c.ts AS click_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
        | ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin,
    "ag3_cube" ->
      """SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
    "js2_from_json" ->
      """SELECT event_type,
        | AVG(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS avg_k,
        | CAST(MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS min_k,
        | CAST(MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
        |FROM events GROUP BY 1""".stripMargin,
    "w2_running_sum" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        | CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
        |   PARTITION BY l_suppkey
        |   ORDER BY l_shipdate, l_orderkey, l_linenumber
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(18,2)) AS DOUBLE) AS running_qty
        |FROM lineitem WHERE l_suppkey <= 10""".stripMargin,
    "t5_regex_tokens" ->
      """SELECT event_id,
        | CAST(len(regexp_extract_all(props, '[a-z0-9]+')) AS INTEGER) AS n_word_tokens
        |FROM events""".stripMargin,
    // window [s, s+1h) on the 30-min grid contains t iff
    // s ∈ {floor30(t), floor30(t) − 30min}. floor30 via naive-timestamp
    // arithmetic only — epoch/to_timestamp round-trips shift under a
    // non-UTC DuckDB session timezone.
    "st5_stream_static_enrich" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, n_name,
        | CAST(COUNT(*) AS BIGINT) AS n_events,
        | CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1, 2""".stripMargin,
    "st6_session_window" ->
      """WITH l AS (SELECT user_id, ts,
        |  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        | FROM events),
        |x AS (SELECT user_id, ts, CASE WHEN prev IS NULL
        |  OR epoch_us(ts) - prev > 1800000000 THEN 1 ELSE 0 END AS new_s FROM l),
        |y AS (SELECT user_id, ts, SUM(new_s) OVER (PARTITION BY user_id
        |  ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM x)
        |SELECT user_id, MIN(ts) AS session_start,
        | CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM y GROUP BY user_id, sid""".stripMargin,
    "pv1_pivot" ->
      """SELECT user_id,
        | CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS n_click,
        | CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS n_error,
        | CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase,
        | CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT) AS n_signup,
        | CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS n_view
        |FROM events GROUP BY user_id""".stripMargin,
    "pv2_unpivot" ->
      """SELECT p_partkey, 'p_retailprice' AS attr, p_retailprice AS val FROM part
        |UNION ALL
        |SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part""".stripMargin,
    "ts1_resample_gaps" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day, value FROM events),
        |b AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM e GROUP BY 1),
        |g AS (SELECT user_id, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |   CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM b),
        |dly AS (SELECT user_id, day, CAST(COUNT(*) AS BIGINT) AS n,
        |   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS sv
        | FROM e GROUP BY 1, 2)
        |SELECT g.user_id, g.day,
        | CAST(COALESCE(dly.n, 0) AS BIGINT) AS n_events,
        | CAST(CAST(COALESCE(dly.sv, 0) AS DECIMAL(18,6)) AS DOUBLE) AS sum_value
        |FROM g LEFT JOIN dly ON g.user_id = dly.user_id AND g.day = dly.day""".stripMargin,
    "st3_sliding_window" ->
      """WITH g AS (SELECT ts, event_type,
        |  date_trunc('hour', ts) + CASE WHEN minute(ts) >= 30
        |    THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END AS f30 FROM events)
        |SELECT window_start, event_type, CAST(COUNT(*) AS BIGINT) AS n FROM (
        |  SELECT f30 AS window_start, event_type FROM g
        |  UNION ALL
        |  SELECT f30 - INTERVAL 30 MINUTE AS window_start, event_type FROM g
        |) GROUP BY 1, 2""".stripMargin
  )
}
