package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Locally-generated sf1-class data tier — 10× sf0.1 (embeddings 4×, the
  * family's per-tier growth) with the same schemas and value domains as
  * the driver-generated `/root/testdata` tiers, so [[graft.queries.ScalingAudit]]
  * can sweep sf0.1→sf1 and the theta estimation-mode regime has data to
  * run against.
  *
  * THIS TIER IS FOR SCALE MEASUREMENT ONLY — it is seeded and
  * deterministic (every value is derived from xxhash64(id, salt), so the
  * content is independent of partitioning and cluster size), but it is
  * NOT the driver's generator: row-level values differ from what a
  * hypothetical driver sf1 would hold, correctness oracles never run
  * against it, and it is never committed (170 MB-class; see .gitignore).
  *
  * Distribution notes (matched against sf0.1 probes, see SCALE.md §sf1):
  * events carry 15 users/1k-events (th1's lgK=16 note reasons about
  * sf1's ~15k distinct users — preserved), documents use the same
  * ~31-token vocabulary with ~4% planted shared-prefix near-dups and
  * ~0.2% exact dups, embeddings are unit-norm 64-d with 10 weak label
  * clusters (centers ~0.1 apart, intra-cluster σ≈0.125/dim).
  *
  * Run: `sbt "Test/runMain graft.TestDataGen [outDir] [scale]"`
  * (default `local-data/sf1`, scale=10 relative to sf0.1).
  */
object TestDataGen {

  /** Deterministic uniform double in [0,1) from an id column + salt. */
  private def u(id: Column, salt: Int): Column =
    pmod(xxhash64(id, lit(salt)), lit(1000000000L)) / 1e9

  /** Deterministic uniform long in [0, n) from an id column + salt. */
  private def uLong(id: Column, salt: Int, n: Long): Column =
    pmod(xxhash64(id, lit(salt)), lit(n))

  private def pick(id: Column, salt: Int, values: Seq[String]): Column = {
    val arr = array(values.map(lit): _*)
    element_at(arr, (uLong(id, salt, values.length) + 1).cast("int"))
  }

  private def round2(c: Column): Column = round(c, 2)

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("local-data/sf1")
    val scale = if (args.length > 1) args(1).toDouble else 10.0
    val spark = graft.core.Sessions.builder(cores = 8,
      appName = "graft-testdata-gen").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    generate(spark, outDir, scale)
    spark.stop()
    println(s"sf1-class tier written to $outDir")
  }

  /** `scale` is relative to sf0.1 (10 → sf1); fractional scales give
    * proportionally tiny tiers for fast spec runs.
    */
  def generate(spark: SparkSession, outDir: String, scale: Double): Unit = {
    def n(base: Long): Long = math.max(1L, math.round(base * scale))
    val nCustomer = n(15000L)
    val nSupplier = n(1000L)
    val nPart = n(20000L)
    val nOrders = n(150000L)
    val nEvents = n(100000L)
    val nUsers = n(1500L)
    val nDocs = n(5000L)
    // embeddings grow 4× per tier (500 → 2000 → 8000), not 10×
    val nVecs = if (scale == 10.0) 8000L else n(2000L)

    def save(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    save(spark.createDataFrame(regions.zipWithIndex.map {
      case (n, i) => (i, n)
    }).toDF("r_regionkey", "r_name"), "region", 1)

    save(spark.range(25).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")), "nation", 1)

    save(spark.range(nCustomer).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      uLong(col("id"), 11, 25).cast("int").as("c_nationkey"),
      round2(u(col("id"), 12) * 10999.65 - 999.85).as("c_acctbal"),
      pick(col("id"), 13, Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "MACHINERY", "HOUSEHOLD")).as("c_mktsegment")), "customer", 4)

    save(spark.range(nSupplier).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      uLong(col("id"), 21, 25).cast("int").as("s_nationkey"),
      round2(u(col("id"), 22) * 10999.65 - 999.85).as("s_acctbal")),
      "supplier", 1)

    val adjs = Seq("large", "hot", "blue", "small", "cold", "red", "green",
      "shiny", "dark", "light")
    val nouns = Seq("ring", "bolt", "gear", "valve", "wheel", "pin", "rod",
      "plate", "cap", "screw")
    save(spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat(pick(col("id"), 31, adjs), lit(" "),
        pick(col("id"), 32, nouns)).as("p_name"),
      concat(lit("Brand#"), uLong(col("id"), 33, 25) + 1).as("p_brand"),
      pick(col("id"), 34, Seq("SMALL", "MEDIUM", "LARGE", "ECONOMY",
        "STANDARD", "PROMO")).as("p_type"),
      (uLong(col("id"), 35, 50) + 1).cast("int").as("p_size"),
      round2(lit(900.0) + (col("id") % 20000) * 0.1).as("p_retailprice")),
      "part", 4)

    val orders = spark.range(nOrders).select(
      col("id").as("o_orderkey"),
      uLong(col("id"), 41, nCustomer).as("o_custkey"),
      pick(col("id"), 42, Seq("O", "P", "F")).as("o_orderstatus"),
      round2(u(col("id"), 43) * 498991.27 + 1001.91).as("o_totalprice"),
      // uniform over 1995-01-01 .. 2001-08-01 (2404 days), date-rounded
      timestamp_seconds(lit(788918400L) +
        uLong(col("id"), 44, 2404L) * 86400L)
        .cast("timestamp_ntz").as("o_orderdate"),
      pick(col("id"), 45, Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    save(orders, "orders", 8)

    // ~4 lines/order via explode of a deterministic 1..7 count
    save(orders.select(col("o_orderkey"), col("o_orderdate"),
        explode(sequence(lit(1),
          (uLong(col("o_orderkey"), 51, 7) + 1).cast("int")))
          .as("l_linenumber"))
      .withColumn("lid", col("o_orderkey") * 8 + col("l_linenumber"))
      .select(
        col("o_orderkey").as("l_orderkey"),
        uLong(col("lid"), 52, nPart).as("l_partkey"),
        uLong(col("lid"), 53, nSupplier).as("l_suppkey"),
        col("l_linenumber"),
        (uLong(col("lid"), 54, 50) + 1).cast("double").as("l_quantity"),
        round2((uLong(col("lid"), 54, 50) + 1) *
          (lit(900.0) + uLong(col("lid"), 55, 12000L) * 0.1))
          .as("l_extendedprice"),
        (uLong(col("lid"), 56, 11) * 0.01).as("l_discount"),
        (uLong(col("lid"), 57, 9) * 0.01).as("l_tax"),
        pick(col("lid"), 58, Seq("A", "N", "R")).as("l_returnflag"),
        pick(col("lid"), 59, Seq("O", "F")).as("l_linestatus"),
        timestamp_seconds(unix_timestamp(col("o_orderdate")) +
          (uLong(col("lid"), 60, 95L) + 1) * 86400L)
          .cast("timestamp_ntz").as("l_shipdate")),
      "lineitem", 8)

    // events: ts increases with event_id (~26 s mean gap over 30 days)
    val spanSec = 30L * 86400L
    save(spark.range(nEvents).select(
      col("id").as("event_id"),
      // driver parquet carries timestamp[us] WITHOUT timezone -> NTZ
      timestamp_seconds(lit(1704067200L) +
        col("id") * spanSec / nEvents +
        uLong(col("id"), 61, 30L)).cast("timestamp_ntz").as("ts"),
      uLong(col("id"), 62, nUsers).as("user_id"),
      pick(col("id"), 63, Seq("view", "click", "purchase", "signup",
        "error")).as("event_type"),
      round2(-log(lit(1.0) - u(col("id"), 64)) * 50.0).as("value"),
      format_string("{\"k\": %d}", uLong(col("id"), 65, 100))
        .as("props")), "events", 4)

    save(documents(spark, nDocs), "documents", 4)
    save(embeddings(spark, nVecs), "embeddings", 2)
    // completion marker, written LAST: a crash mid-generation must not
    // leave a tier that [[Sf1Tier.available]] would trust — the dc2/sim4
    // marker-written-last discipline for compute-if-absent state
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outDir, "_TIER_COMPLETE"),
      s"scale=$scale\n")
  }

  /** Documents over the testdata tiers' ~31-token vocabulary. Near-dup
    * structure: doc_id ≡ 1 (mod 25) reuses the previous doc's token
    * stream but replaces its last 3 tokens (shared-prefix near-dup,
    * ~4%); doc_id ≡ 2 (mod 625) is an exact copy of doc_id−2 (~0.16%).
    */
  private def documents(spark: SparkSession, n: Long): DataFrame = {
    val vocab = Array("spark", "batch", "line", "column", "order", "sort",
      "value", "scan", "hash", "group", "fast", "slow", "small", "part",
      "query", "table", "vector", "agg", "filter", "customer", "stream",
      "key", "the", "window", "join", "a", "g", "shuffle", "plan", "row",
      "cache")
    // ~40% en, ~15% each de/fr/zh/es (the sf0.1 mix)
    val langs = Array("en", "en", "en", "en", "en", "en", "en", "en",
      "de", "de", "de", "fr", "fr", "fr", "zh", "zh", "zh", "es", "es",
      "es")
    val gen = (docId: Long) => {
      // content seed: near-dups share the base doc's stream, exact dups
      // copy it outright
      val base =
        if (docId % 625 == 2 && docId >= 2) docId - 2
        else if (docId % 25 == 1 && docId >= 1) docId - 1
        else docId
      val mutateTail = base != docId && docId % 625 != 2
      val h0 = base * 0x9E3779B97F4A7C15L
      val nToks = 8 + java.lang.Long.remainderUnsigned(
        h0 ^ (h0 >>> 31), 108L).toInt
      val sb = new StringBuilder
      var i = 0
      while (i < nToks) {
        val src = if (mutateTail && i >= nToks - 3) docId else base
        val h = (src * 0x9E3779B97F4A7C15L + i * 0xC2B2AE3D27D4EB4FL)
        val w = vocab(java.lang.Long.remainderUnsigned(
          h ^ (h >>> 29), vocab.length.toLong).toInt)
        if (i > 0) sb.append(' ')
        sb.append(w)
        i += 1
      }
      sb.toString
    }
    val lh = (docId: Long) => {
      val h = docId * 0xFF51AFD7ED558CCDL
      langs(java.lang.Long.remainderUnsigned(h ^ (h >>> 33),
        langs.length.toLong).toInt)
    }
    import spark.implicits._
    spark.range(n).as[Long].map { id =>
      val t = gen(id)
      (id, t, lh(id), s"src${(id * 31) % 20}", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Unit-norm 64-d embeddings in 10 weak clusters (matches the probed
    * sf0.1 geometry: center spacing ~0.1, intra σ≈0.125/dim).
    */
  private def embeddings(spark: SparkSession, n: Long): DataFrame = {
    val dim = 64
    val centers = Array.tabulate(10) { l =>
      val r = new java.util.Random(9000L + l)
      val c = Array.fill(dim)(r.nextGaussian().toFloat)
      val nm = math.sqrt(c.map(x => x * x.toDouble).sum).toFloat
      c.map(x => x / nm * 0.07f)
    }
    import spark.implicits._
    spark.range(n).as[Long].map { id =>
      val r = new java.util.Random(id) // deterministic per row
      val label = r.nextInt(10)
      val c = centers(label)
      val v = Array.tabulate(dim)(d =>
        c(d) + r.nextGaussian().toFloat * 0.125f)
      val nm = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      (id, v.map(_ / nm), label)
    }.toDF("vec_id", "embedding", "label")
  }
}
