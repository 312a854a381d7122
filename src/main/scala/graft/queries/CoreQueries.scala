package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import QueryUtil._

/** Relational-operator parity catalog: one oracle-checked query per operator
  * row of SURVEY.md §2 (projections P*, filters F*, joins J*, aggregates A*,
  * sort/limit/window §2.5, scalar functions C*), expressed on the harness
  * star schema (TESTDATA.md). Reference citations are into
  * `/root/reference/` per SURVEY.md §2.
  */
object CoreQueries {

  val queries: Map[String, Q] = Map(
    // P1 — select + rename (`reviews_fact.py:137-146`)
    "p1_project_rename" -> ((s, d) =>
      table(s, d, "lineitem").select(
        col("l_orderkey").as("order_id"),
        col("l_linenumber").as("line_no"),
        col("l_returnflag").as("flag"))),

    // P3 — withColumn derived expression (`reviews_fact.py:162-167`)
    "p3_derived_column" -> ((s, d) =>
      table(s, d, "lineitem")
        .withColumn("revenue",
          dec(col("l_extendedprice") * (lit(1) - col("l_discount")), 4))
        .select(col("l_orderkey"), col("l_linenumber"), col("revenue"))),

    // P4 — fillna defaults (`auxillary_dims.py:124-126`)
    "p4_fillna" -> ((s, d) =>
      table(s, d, "customer")
        .na.fill(Map[String, Any]("c_acctbal" -> 0.0,
          "c_mktsegment" -> "UNKNOWN"))
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))),

    // F1 — conjunctive spam filter shape (`reviews_fact.py:129-133`)
    "f1_conj_filter" -> ((s, d) =>
      table(s, d, "lineitem")
        .filter(col("l_quantity") >= 45 && col("l_discount") >= 0.05)
        .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))),

    // F2 — isin membership filter (`auxillary_dims.py:118`, `utilities.py:11`)
    "f2_isin_filter" -> ((s, d) =>
      table(s, d, "part")
        .filter(col("p_brand").isin("Brand#1", "Brand#12", "Brand#22")
          && col("p_size").between(5, 25))
        .select(col("p_partkey"), col("p_brand"), col("p_size"))),

    // F3 — disjunctive validity filter (`auxillary_dims.py:128-130`)
    "f3_disjunctive_filter" -> ((s, d) =>
      table(s, d, "orders")
        .filter((col("o_orderstatus") === "F" && col("o_totalprice") > 150000)
          || col("o_orderstatus") === "P")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))),

    // F4 — null/empty guard via CASE WHEN (`reviews_fact.py:104-109`)
    "f4_null_guard" -> ((s, d) =>
      table(s, d, "documents").select(
        col("doc_id"),
        when(col("text").isNull || col("text") === "", lit(0))
          .otherwise(length(col("text"))).cast("int").as("text_len"))),

    // F5 — not-null filter (`data_quality.py:42`, `semantic_layer.sql:14`)
    "f5_notnull_filter" -> ((s, d) =>
      events(s, d)
        .filter(col("props").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))),

    // J1 — left-outer dim flatten; small side broadcasts
    // (`auxillary_dims.py:92-97`)
    "j1_left_join" -> ((s, d) =>
      table(s, d, "supplier").join(
        broadcast(table(s, d, "nation")),
        col("s_nationkey") === col("n_nationkey"), "left")
        .select(col("s_suppkey"), col("s_name"), col("n_name"))),

    // J2 — left-anti incremental dedup (`reviews_fact.py:151-153`):
    // orders with no high-quantity line yet = "not yet processed" shape
    "j2_anti_join" -> ((s, d) =>
      table(s, d, "orders").join(
        table(s, d, "lineitem").filter(col("l_quantity") >= 48)
          .select(col("l_orderkey").as("o_orderkey")),
        Seq("o_orderkey"), "left_anti")
        .select(col("o_orderkey"), col("o_custkey"))),

    // J3 — inner equi join + ORDER BY (`analysis.sql:20-21`)
    "j3_inner_join_orderby" -> ((s, d) =>
      table(s, d, "nation").join(
        broadcast(table(s, d, "region")),
        col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"), col("r_name"))
        .orderBy(col("n_nationkey"))),

    // J4 — multi-way star chain, reorder left to Catalyst
    // (`analysis.sql:51-59`)
    "j4_star_chain" -> ((s, d) =>
      table(s, d, "orders")
        .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"), "left")
        .join(broadcast(table(s, d, "nation")), col("c_nationkey") === col("n_nationkey"), "left")
        .join(broadcast(table(s, d, "region")), col("n_regionkey") === col("r_regionkey"), "left")
        // money cast hoisted below the aggregate (r20, guide §1.2): an
        // aggregate child re-evaluates at every update-expression
        // reference, so the BigDecimal-allocating double→decimal cast
        // ran 2-3× per row inside the agg; projected once instead
        // (measured on the a1 shape: 2.83 s in-agg vs 1.66 s projected)
        .withColumn("_dprice", dec(col("o_totalprice")))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          dec(sum(col("_dprice"))).as("sum_totalprice"))),

    // A1-A4 — grouped aggregate suite: COUNT(*), AVG, conditional SUM
    // (`semantic_layer.sql:77-90`); TPC-H Q1 shape. The two money casts
    // are pre-projected below the aggregate — see j4's note (guide §1.2)
    "a1_group_agg" -> ((s, d) =>
      table(s, d, "lineitem")
        .withColumn("_dqty", dec(col("l_quantity")))
        .withColumn("_dprice", dec(col("l_extendedprice")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          dec(sum(col("_dqty"))).as("sum_qty"),
          dec(sum(col("_dprice"))).as("sum_base"),
          avg(col("l_quantity")).as("avg_qty"),
          sum(when(col("l_discount") > 0.05, 1).otherwise(0)).as("n_discounted"),
          (sum(when(col("l_discount") > 0.05, 1).otherwise(0)).cast("double")
            / count(lit(1)).cast("double")).cast("decimal(18,6)").as("pct_discounted"))),

    // A5 — exact percentile / median (`semantic_layer.sql:91-93`)
    "a5_median" -> ((s, d) =>
      table(s, d, "documents")
        .groupBy(col("lang"))
        .agg(percentile(col("n_chars"), lit(0.5)).cast("decimal(18,4)")
          .as("median_chars"))),

    // A7 — DISTINCT (`analysis.sql:25`)
    "a7_distinct" -> ((s, d) =>
      table(s, d, "customer").select(col("c_mktsegment").as("segment")).distinct()),

    // A8 — uniqueness check via groupBy-count (`data_quality.py:25-29`)
    "a8_duplicate_keys" -> ((s, d) =>
      table(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > 1)),

    // A9 — range check (`data_quality.py:30-35`)
    "a9_range_check" -> ((s, d) =>
      table(s, d, "lineitem")
        .agg(sum(when(!col("l_discount").between(0, 0.08), 1).otherwise(0))
          .as("n_violations"))),

    // §2.5 — global sort + limit → TakeOrderedAndProject
    // (`analysis.sql:21,37`)
    "s1_topk" -> ((s, d) =>
      table(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice"))),

    // §2.5 — window function (row_number dedup-to-latest; DQ/top-k pattern)
    "w1_row_number" -> ((s, d) =>
      table(s, d, "orders")
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey").as("latest_order"),
          col("o_orderdate").as("latest_date"))),

    // C1-C6 — scalar function suite: CONCAT, LENGTH, CASE WHEN, arithmetic,
    // comparison, boolean algebra (`auxillary_dims.py:19-27,127-130`,
    // `semantic_layer.sql:84-92`)
    "c1_scalar_suite" -> ((s, d) =>
      table(s, d, "part").select(
        col("p_partkey"),
        concat(col("p_brand"), lit("-"), col("p_type")).as("tag"),
        length(col("p_name")).cast("int").as("name_len"),
        when(col("p_size") > 25, "L")
          .when(col("p_size") > 10, "M")
          .otherwise("S").as("size_class"),
        dec(col("p_retailprice") * lit(0.5), 4).as("half_price"),
        ((col("p_size") > 25 && col("p_retailprice") > 1000.0)
          || col("p_type") === "PROMO").as("flagged")))
  )

  val oracle: Map[String, String] = Map(
    "p1_project_rename" ->
      "SELECT l_orderkey AS order_id, l_linenumber AS line_no, l_returnflag AS flag FROM lineitem",
    "p3_derived_column" ->
      "SELECT l_orderkey, l_linenumber, CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS DOUBLE) AS revenue FROM lineitem",
    "p4_fillna" ->
      "SELECT c_custkey, COALESCE(c_acctbal, 0.0) AS c_acctbal, COALESCE(c_mktsegment, 'UNKNOWN') AS c_mktsegment FROM customer",
    "f1_conj_filter" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity >= 45 AND l_discount >= 0.05 AND l_shipdate < TIMESTAMP '1997-01-01'",
    "f2_isin_filter" ->
      "SELECT p_partkey, p_brand, p_size FROM part WHERE p_brand IN ('Brand#1','Brand#12','Brand#22') AND p_size BETWEEN 5 AND 25",
    "f3_disjunctive_filter" ->
      "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE (o_orderstatus = 'F' AND o_totalprice > 150000) OR o_orderstatus = 'P'",
    "f4_null_guard" ->
      "SELECT doc_id, CAST(CASE WHEN text IS NULL OR text = '' THEN 0 ELSE length(text) END AS INTEGER) AS text_len FROM documents",
    "f5_notnull_filter" ->
      "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM events WHERE props IS NOT NULL GROUP BY event_type",
    "j1_left_join" ->
      "SELECT s_suppkey, s_name, n_name FROM supplier LEFT JOIN nation ON s_nationkey = n_nationkey",
    "j2_anti_join" ->
      "SELECT o_orderkey, o_custkey FROM orders WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 48)",
    "j3_inner_join_orderby" ->
      "SELECT n_nationkey, n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey ORDER BY n_nationkey",
    "j4_star_chain" ->
      """SELECT r_name, n_name, CAST(COUNT(*) AS BIGINT) AS n_orders,
        | CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_totalprice
        | FROM orders
        | LEFT JOIN customer ON o_custkey = c_custkey
        | LEFT JOIN nation ON c_nationkey = n_nationkey
        | LEFT JOIN region ON n_regionkey = r_regionkey
        | GROUP BY r_name, n_name""".stripMargin,
    "a1_group_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_base,
        | AVG(l_quantity) AS avg_qty,
        | CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_discounted,
        | CAST(CAST(CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS pct_discounted
        | FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "a5_median" ->
      "SELECT lang, CAST(CAST(quantile_cont(n_chars, 0.5) AS DECIMAL(18,4)) AS DOUBLE) AS median_chars FROM documents GROUP BY lang",
    "a7_distinct" ->
      "SELECT DISTINCT c_mktsegment AS segment FROM customer",
    "a8_duplicate_keys" ->
      "SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n FROM orders GROUP BY o_custkey HAVING COUNT(*) > 1",
    "a9_range_check" ->
      "SELECT CAST(SUM(CASE WHEN NOT (l_discount BETWEEN 0 AND 0.08) THEN 1 ELSE 0 END) AS BIGINT) AS n_violations FROM lineitem",
    "s1_topk" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    "w1_row_number" ->
      """SELECT o_custkey, o_orderkey AS latest_order, o_orderdate AS latest_date FROM (
        | SELECT o_custkey, o_orderkey, o_orderdate,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        | FROM orders) WHERE rn = 1""".stripMargin,
    "c1_scalar_suite" ->
      """SELECT p_partkey,
        | p_brand || '-' || p_type AS tag,
        | CAST(length(p_name) AS INTEGER) AS name_len,
        | CASE WHEN p_size > 25 THEN 'L' WHEN p_size > 10 THEN 'M' ELSE 'S' END AS size_class,
        | CAST(CAST(p_retailprice * 0.5 AS DECIMAL(18,4)) AS DOUBLE) AS half_price,
        | (p_size > 25 AND p_retailprice > 1000.0) OR p_type = 'PROMO' AS flagged
        | FROM part""".stripMargin
  )
}
