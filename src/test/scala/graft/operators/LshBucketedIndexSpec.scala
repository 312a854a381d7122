package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Bucketed-LSH-index contract (the il1 ingest loop's storage layout):
  * parameters live with the index, results are frame-identical to the
  * in-plan cross form, and the two corpus-side joins actually ride the
  * bucket layout (exchange elision pinned by count on unexecuted
  * frames — the AQE final-plan double-count lesson).
  */
class LshBucketedIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("text"))
  private lazy val batch = docs.filter($"doc_id" % 10 === 0)

  private def hashExchanges(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange hashpartitioning"))

  test("banded-index pairs == in-plan cross pairs; parameters come " +
      "from the meta table; malformed tables fail loudly") {
    TextDedup.saveLshIndexBucketed(docs, "doc_id", "text",
      tablePrefix = "graft_lshb_spec", nBuckets = 4)
    val viaIndex = TextDedup.crossLshPairsFromBandedIndex(spark,
      "graft_lshb_spec", batch, "doc_id", "text", minJaccard = 0.4)
    val direct = TextDedup.crossMinHashLshPairs(docs, batch,
      "doc_id", "text", minJaccard = 0.4)
    assert(viaIndex.collect().map(_.toSeq).toSet ==
      direct.collect().map(_.toSeq).toSet)
    // the meta table carries the build parameters
    val meta = spark.table("graft_lshb_spec_meta").collect()
    assert(meta.map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq ==
      Seq((5, 32, 16)))
    // a missing/malformed meta table fails loudly, not with empty pairs
    spark.sql("CREATE OR REPLACE TEMP VIEW graft_lshb_bad_meta AS " +
      "SELECT 1 AS wrong")
    val e = intercept[IllegalArgumentException] {
      TextDedup.crossLshPairsFromBandedIndex(spark, "graft_lshb_bad",
        batch, "doc_id", "text")
    }
    assert(e.getMessage.contains("meta table"), e.getMessage)
  }

  test("both corpus-side joins ride the buckets: strictly fewer " +
      "exchanges than the in-plan cross form") {
    TextDedup.saveLshIndexBucketed(docs, "doc_id", "text",
      tablePrefix = "graft_lshb_spec2", nBuckets = 4)
    def direct = TextDedup.crossMinHashLshPairs(docs, batch, "doc_id", "text")
    def viaIndex = TextDedup.crossLshPairsFromBandedIndex(
      spark, "graft_lshb_spec2", batch, "doc_id", "text")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val eDirect = hashExchanges(direct)
      val eBucketed = hashExchanges(viaIndex)
      assert(eBucketed < eDirect,
        s"bucketed banded+sets must elide corpus-side exchanges: " +
          s"in-plan $eDirect vs bucketed $eBucketed")
    }
    // and the two forms agree on the pairs themselves
    assert(direct.collect().map(_.toSeq).toSet ==
      viaIndex.collect().map(_.toSeq).toSet)
  }

  test("corrupt meta parameters fail loudly, not with wrong banding") {
    // bands=0 would divide by zero; bands that don't divide num_hashes
    // (32/5 → r=6, 30 hashes covered) would band the batch differently
    // from the stored corpus and return wrong/empty pairs silently —
    // the load must mirror the save-side requires
    spark.sql("CREATE OR REPLACE TEMP VIEW graft_lshb_corrupt_meta AS " +
      "SELECT 5 AS n, 32 AS num_hashes, 0 AS bands")
    val eZero = intercept[IllegalArgumentException] {
      TextDedup.crossLshPairsFromBandedIndex(spark, "graft_lshb_corrupt",
        batch, "doc_id", "text")
    }
    assert(eZero.getMessage.contains("corrupt lsh meta"), eZero.getMessage)
    spark.sql("CREATE OR REPLACE TEMP VIEW graft_lshb_corrupt_meta AS " +
      "SELECT 5 AS n, 32 AS num_hashes, 5 AS bands")
    val eDiv = intercept[IllegalArgumentException] {
      TextDedup.crossLshPairsFromBandedIndex(spark, "graft_lshb_corrupt",
        batch, "doc_id", "text")
    }
    assert(eDiv.getMessage.contains("corrupt lsh meta"), eDiv.getMessage)
    spark.sql("DROP VIEW IF EXISTS graft_lshb_corrupt_meta")
  }

  test("table prefixes are validated as identifiers before any DDL") {
    // the prefix is interpolated into DROP TABLE and saveAsTable, whose
    // identifier parsing can diverge — metacharacters must fail fast
    val e = intercept[IllegalArgumentException] {
      TextDedup.saveLshIndexBucketed(docs, "doc_id", "text",
        tablePrefix = "bad-prefix; DROP TABLE x", nBuckets = 2)
    }
    assert(e.getMessage.contains("table prefix"), e.getMessage)
    val eLoad = intercept[IllegalArgumentException] {
      TextDedup.crossLshPairsFromBandedIndex(spark, "bad prefix",
        batch, "doc_id", "text")
    }
    assert(eLoad.getMessage.contains("table prefix"), eLoad.getMessage)
  }

  test("rebuild over an existing bucketed index overwrites cleanly") {
    TextDedup.saveLshIndexBucketed(docs, "doc_id", "text",
      tablePrefix = "graft_lshb_spec3", nBuckets = 4)
    TextDedup.saveLshIndexBucketed(docs, "doc_id", "text",
      tablePrefix = "graft_lshb_spec3", nBuckets = 2, numHashes = 16,
      bands = 8)
    val meta = spark.table("graft_lshb_spec3_meta").collect()
    assert(meta.map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq ==
      Seq((5, 16, 8)))
    // and the rebuilt index still answers correctly at its parameters
    val pairs = TextDedup.crossLshPairsFromBandedIndex(spark,
      "graft_lshb_spec3", batch, "doc_id", "text", minJaccard = 0.4)
    val direct = TextDedup.crossMinHashLshPairs(docs, batch, "doc_id",
      "text", numHashes = 16, bands = 8, minJaccard = 0.4)
    assert(pairs.collect().map(_.toSeq).toSet ==
      direct.collect().map(_.toSeq).toSet)
    // parameters are read BY NAME: a meta with reordered columns (the
    // column require checks a SET) must not swap n/bands into wrong
    // roles — a temp view shadows the meta table with reversed order
    spark.sql("CREATE OR REPLACE TEMP VIEW graft_lshb_spec3_meta AS " +
      "SELECT 8 AS bands, 5 AS n, 16 AS num_hashes")
    try {
      val reordered = TextDedup.crossLshPairsFromBandedIndex(spark,
        "graft_lshb_spec3", batch, "doc_id", "text", minJaccard = 0.4)
      assert(reordered.collect().map(_.toSeq).toSet ==
        pairs.collect().map(_.toSeq).toSet)
    } finally spark.sql("DROP VIEW IF EXISTS graft_lshb_spec3_meta")
  }
}
