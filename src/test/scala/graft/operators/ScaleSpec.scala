package graft.operators

import graft.SparkSpec
import graft.core.{PipelineConfig, TableStore}
import graft.core.TableStoreFixtures._
import org.apache.spark.sql.functions._

/** The 100TB levers, regression-checked: salting preserves results,
  * bucketed joins are shuffle-free, partitioned tables prune at the scan,
  * and the native cosine expression matches the declarative math inside
  * codegen.
  */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("saltedJoin == plain join, row for row") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select($"l_orderkey", $"l_quantity")
    val ord = spark.read.parquet(s"$sf/orders.parquet")
      .select($"o_orderkey".as("l_orderkey"), $"o_custkey")
    val plain = li.join(ord, Seq("l_orderkey")).collect().map(_.toSeq)
    val salted = Skew.saltedJoin(li, ord, Seq("l_orderkey"), saltFactor = 8)
      .collect().map(_.toSeq)
    assert(salted.groupBy(identity).view.mapValues(_.size).toMap
      == plain.groupBy(identity).view.mapValues(_.size).toMap)
  }

  test("saltedSumCount == direct groupBy aggregation") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val direct = li.groupBy($"l_returnflag")
      .agg(sum($"l_quantity").as("s"), count(lit(1)).as("n"))
      .as[(String, Double, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    val salted = Skew.saltedSumCount(li, Seq("l_returnflag"), "l_quantity", 8)
      .as[(String, Double, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(salted == direct)
  }

  test("salting bounds any reducer's share of a planted power-law key") {
    // one key (= -1) absorbs 20% of the rows — the shape salting exists
    // for. Keyed partitioning alone pins that 20% on ONE reducer; the
    // salted sub-key spreads it to ~1/saltFactor per reducer.
    val n = 20000L
    val df = spark.range(n).select(
      when($"id" % 5 === 0, -1L).otherwise($"id").as("k"), lit(1L).as("v"))
    def maxShare(parted: org.apache.spark.sql.DataFrame): Double =
      parted.groupBy(spark_partition_id().as("p"))
        .agg(count(lit(1)).as("c")).agg(max($"c"))
        .as[Long].head.toDouble / n
    assert(maxShare(df.repartition(32, $"k")) >= 0.20)
    val salted = df.withColumn("_salt", floor(rand(42) * 32).cast("long"))
    assert(maxShare(salted.repartition(32, $"k", $"_salt")) <= 0.10)
    // and the bounded-share plan still aggregates exactly
    val got = Skew.saltedSumCount(df, Seq("k"), "v", 32)
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    val want = df.groupBy($"k")
      .agg(sum($"v").as("s"), count(lit(1)).as("c"))
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got == want)
  }

  test("bucketed co-located join plans without a shuffle exchange") {
    val config = PipelineConfig(catalog = "bk")
    val store = new TableStore(spark, config)
    try {
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
      val ord = spark.read.parquet(s"$sf/orders.parquet")
        .select("o_orderkey", "o_totalprice")
      store.saveBucketed(li, "fact", "li_b", 4, Seq("l_orderkey"))
      store.saveBucketed(ord, "fact", "ord_b", 4, Seq("o_orderkey"))
      val joined = store.load("fact", "li_b").hint("merge")
        .join(store.load("fact", "ord_b"),
          col("l_orderkey") === col("o_orderkey"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"), s"bucketed join must not shuffle:\n$p")
    } finally store.dropAll()
  }

  test("partitioned fact prunes partitions at the scan") {
    val config = PipelineConfig(catalog = "pt")
    val store = new TableStore(spark, config)
    try {
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
        .withColumn("ship_year", year($"l_shipdate"))
      store.savePartitioned(li, "fact", "li_p", Seq("ship_year"))
      val q = store.load("fact", "li_p").filter($"ship_year" === 1995)
        .select("l_orderkey")
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("PartitionFilters: [isnotnull(ship_year"), p)
      assert(q.count() > 0)
    } finally store.dropAll()
  }

  test("AQE splits a planted hot key: skew=true in the final plan, result exact") {
    // 90% of the big side lands on key 0 — without the skew split that
    // whole key is one straggler task; with AQE skew-join the sort-merge
    // join must mark the partition skewed and subdivide it. Thresholds are
    // lowered so the split triggers at test scale (the same mechanism
    // fires at 100TB with the defaults); broadcast is disabled because a
    // broadcast join would dodge the skew path entirely.
    withConf(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val big = spark.range(200000).select(
        when($"id" % 10 =!= 0, 0L).otherwise($"id" % 1000).as("k"),
        $"id".as("payload"))
      val dim = spark.range(1000).select($"id".as("k"), ($"id" * 2).as("v"))
      val joined = big.join(dim, "k")
      // execute THIS frame (count() would plan a separate query and leave
      // joined's adaptive plan unfinalized)
      assert(joined.collect().length == 200000) // split changes partitioning only
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE did not mark the hot-key join skewed:\n$p")
    }
  }

  test("native cosine expression == declarative HOF math, and codegens") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", Similarity.toDouble($"embedding").as("v"))
    val a = emb.filter($"vec_id" === 0).select($"v".as("va"))
    val pairs = emb.crossJoin(a)
      .select(
        Similarity.cosine($"v", $"va").as("native"),
        (CosineReference.dot($"v", $"va")
          / (CosineReference.l2Norm($"v") * CosineReference.l2Norm($"va"))).as("hof"))
      .as[(Double, Double)].collect()
    pairs.foreach { case (n, h) => assert(n == h, s"$n != $h") } // bit-equal
    // SQL surface, through the builder GraftExtensions injects
    SparkSpec.injectExtensions(spark)
    emb.createOrReplaceTempView("emb_cs")
    val viaSql = spark.sql(
      "SELECT cosine_sim(a.v, b.v) FROM emb_cs a JOIN emb_cs b ON b.vec_id = 1 WHERE a.vec_id = 2")
      .as[Double].head()
    assert(!viaSql.isNaN && viaSql >= -1.0 && viaSql <= 1.0)
  }
}
