package graft

import org.apache.spark.sql.types.StructType

/** The sf1 tier's credibility rests on two properties this spec pins:
  * (1) SCHEMA PARITY — every generated table carries exactly the driver
  * tiers' column names and types, so catalog queries run unchanged;
  * (2) DETERMINISM — content is a pure function of (id, salt), so the
  * same scale regenerates byte-identical data regardless of
  * partitioning or cluster size (the property that makes sweep numbers
  * reproducible). Runs at scale=0.02 (~12k lineitem) so the whole check
  * is seconds, not minutes.
  */
class TestDataGenSpec extends SparkSpec {

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private lazy val genDir = {
    val dir = tempDir("graft-testdatagen").getAbsolutePath
    TestDataGen.generate(spark, dir, scale = 0.02)
    dir
  }

  private def normalize(s: StructType): Seq[(String, String)] =
    s.fields.map(f => (f.name, f.dataType.simpleString)).toSeq

  test("every table matches the driver tier's schema (names + types)") {
    tables.foreach { t =>
      val ref = spark.read
        .parquet(s"/root/testdata/sf0.01/$t.parquet").schema
      val gen = spark.read.parquet(s"$genDir/$t.parquet").schema
      assert(normalize(gen) == normalize(ref), s"schema drift in $t")
    }
  }

  test("completion marker is present after generate (Sf1Tier's gate key)") {
    assert(new java.io.File(genDir, "_TIER_COMPLETE").isFile,
      "generate must leave the _TIER_COMPLETE marker (written last)")
  }

  test("content is a pure function of ids: regeneration is identical") {
    val dir2 = tempDir("graft-testdatagen-b").getAbsolutePath
    TestDataGen.generate(spark, dir2, scale = 0.02)
    // order-free content compare on the two most derivation-heavy tables
    Seq("documents", "lineitem").foreach { t =>
      val a = spark.read.parquet(s"$genDir/$t.parquet")
      val b = spark.read.parquet(s"$dir2/$t.parquet")
      assert(a.count() == b.count(), t)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$t must regenerate byte-identically")
    }
  }

  test("planted document structure survives: near-dups and exact dups") {
    val docs = spark.read.parquet(s"$genDir/documents.parquet")
    val nDocs = docs.count()
    val exactDups = nDocs - docs.select("text").distinct().count()
    assert(exactDups > 0, "exact duplicates must be planted")
    // shared-prefix near-dups: doc_id ≡ 1 (mod 25) shares its
    // predecessor's prefix
    import org.apache.spark.sql.functions._
    val prefixGroups = docs
      .select(substring(col("text"), 1, 40).as("p"))
      .groupBy("p").count().filter(col("count") > 1).count()
    assert(prefixGroups > exactDups,
      "shared-prefix near-dup groups beyond the exact dups must exist")
    // n_chars is the true length (the driver tiers' invariant)
    assert(docs.filter(length(col("text")) =!= col("n_chars")).count() == 0)
  }
}
