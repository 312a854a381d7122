package graft.core

import graft.SparkSpec
import graft.pipeline.{Pipeline, Stage}
import org.apache.spark.sql.functions._

/** A partition-scoped overwrite (an upsert's touched partitions, a
  * partition compaction's publish) reads its mode from the target table's
  * `partitionOverwriteMode` storage property, never from the session's
  * `spark.sql.sources.partitionOverwriteMode`: concurrent pipeline stages
  * upserting into separate partitioned tables each replace only their
  * touched partitions and leave the conf as they found it, whatever the
  * caller set it to.
  */
class PartitionOverwriteSpec extends SparkSpec {
  import spark.implicits._

  private val Key = "spark.sql.sources.partitionOverwriteMode"
  private def keySet: Option[String] = spark.conf.getAll.get(Key)

  test("same-wave upserts into partitioned tables keep untouched partitions") {
    val store = new TableStore(spark, PipelineConfig(
      catalog = "graftc", schema = s"pow_${System.nanoTime()}"))
    val tables = Seq("a", "b")
    // partitions p = 0..3, 50 rows each; upserts touch only p = 0 and 1
    tables.foreach(t => store.savePartitioned(
      spark.range(200).select($"id", lit(0L).as("v"), ($"id" % 4).as("p")),
      "dim", t, Seq("p")))
    val rounds = 6
    assert(keySet.isEmpty)
    Pipeline.run(tables.map(t => Stage(t)(() =>
      (1 to rounds).foreach { r =>
        store.upsert(spark.range(200).where($"id" % 4 === r % 2)
          .select($"id", lit(r.toLong).as("v"), ($"id" % 4).as("p")),
          "dim", t, Seq("id"))
      })))
    assert(keySet.isEmpty, s"$Key left set to $keySet")
    tables.foreach { t =>
      val byP = store.load("dim", t).groupBy("p")
        .agg(count(lit(1)).as("n"), max("v").as("v"))
        .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      // the last rounds touching p = 0 and p = 1 are 6 and 5
      assert(byP == Map(0L -> (50L, 6L), 1L -> (50L, 5L),
        2L -> (50L, 0L), 3L -> (50L, 0L)), s"table $t")
    }
    tables.foreach(store.drop("dim", _))
  }

  private def overwriteMode(fqn: String): Option[String] =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(fqn))
      .storage.properties.get("partitionOverwriteMode")

  private def fileDigests(fqn: String, part: String): Map[String, Seq[Byte]] =
    spark.table(fqn).inputFiles.filter(_.contains(part)).map { u =>
      val p = java.nio.file.Paths.get(new java.net.URI(u).getPath)
      u -> java.security.MessageDigest.getInstance("MD5")
        .digest(java.nio.file.Files.readAllBytes(p)).toSeq
    }.toMap

  private def newStore(tag: String) = new TableStore(spark, PipelineConfig(
    catalog = "graftc", schema = s"${tag}_${System.nanoTime()}"))

  /** 300 rows over p = 0..2, four files per partition. */
  private def seed = spark.range(300)
    .select($"id", lit(0L).as("v"), ($"id" % 3).as("p")).repartition(4)

  private def rows(fqn: String): Set[(Long, Long, Long)] =
    spark.table(fqn).as[(Long, Long, Long)].collect().toSet

  for (mode <- Seq("static", "dynamic"))
    test(s"under a caller's $mode conf, upsert and compactPartitions " +
        "leave untouched partitions byte-identical") {
      withConf(Key -> mode) {
        val store = newStore(s"pow_$mode")
        store.savePartitioned(seed, "dim", "t", Seq("p"))
        val fqn = store.fqn("dim", "t")
        val untouched = fileDigests(fqn, "p=1") ++ fileDigests(fqn, "p=2")
        assert(untouched.size == 8)
        store.upsert(spark.range(0, 30, 3)
          .select($"id", lit(1L).as("v"), lit(0L).as("p")), "dim", "t", Seq("id"))
        assert(fileDigests(fqn, "p=1") ++ fileDigests(fqn, "p=2") == untouched)
        val (_, after) =
          Compaction.compactPartitions(spark, fqn, "p = 0", targetRows = 1000)
        assert(after == 1)
        assert(fileDigests(fqn, "p=1") ++ fileDigests(fqn, "p=2") == untouched)
        assert(rows(fqn) == (0L until 300L)
          .map(i => (i, if (i < 30 && i % 3 == 0) 1L else 0L, i % 3)).toSet)
        assert(keySet.contains(mode))
        store.drop("dim", "t")
      }
    }

  test("the up1/up2/cp1/cp2 answers do not depend on the session's " +
      "partitionOverwriteMode") {
    val dir = "/root/testdata/sf0.001"
    val names = Seq("up1_upsert", "up2_upsert_partitioned", "cp1_compaction",
      "cp2_compact_partitions")
    def answers() = names.map(n => n -> graft.SparkEntry.queries(n)(spark, dir)
      .collect().map(_.toSeq.mkString("|")).sorted.toSeq).toMap
    val default = answers()
    assert(default.values.forall(_.nonEmpty))
    for (mode <- Seq("static", "dynamic"))
      assert(withConf(Key -> mode)(answers()) == default, mode)
  }

  test("a table created without the property is upgraded in place by its " +
      "first upsert and keeps its other partitions") {
    val store = newStore("powraw")
    val fqn = store.fqn("dim", "raw")
    seed.write.format("parquet").partitionBy("p").saveAsTable(fqn)
    assert(overwriteMode(fqn).isEmpty)
    val untouched = fileDigests(fqn, "p=1") ++ fileDigests(fqn, "p=2")
    withConf(Key -> "static") {
      store.upsert(Seq((3L, 7L, 0L)).toDF("id", "v", "p"), "dim", "raw",
        Seq("id"))
    }
    assert(overwriteMode(fqn).contains("dynamic"))
    assert(fileDigests(fqn, "p=1") ++ fileDigests(fqn, "p=2") == untouched)
    assert(rows(fqn) == (0L until 300L)
      .map(i => (i, if (i == 3L) 7L else 0L, i % 3)).toSet)
    store.drop("dim", "raw")
  }

  test("compactPartitions upgrades a table created without the property") {
    val store = newStore("powcp")
    val fqn = store.fqn("dim", "raw")
    seed.write.format("parquet").partitionBy("p").saveAsTable(fqn)
    val untouched = fileDigests(fqn, "p=1") ++ fileDigests(fqn, "p=2")
    withConf(Key -> "static") {
      Compaction.compactPartitions(spark, fqn, "p = 0", targetRows = 1000)
    }
    assert(overwriteMode(fqn).contains("dynamic"))
    assert(fileDigests(fqn, "p=1") ++ fileDigests(fqn, "p=2") == untouched)
    assert(rows(fqn) == (0L until 300L).map(i => (i, 0L, i % 3)).toSet)
    store.drop("dim", "raw")
  }

  test("savePartitioned stamps the property again after an Overwrite " +
      "re-creates the table") {
    val store = newStore("powre")
    val fqn = store.fqn("dim", "t")
    store.savePartitioned(seed, "dim", "t", Seq("p"))
    assert(overwriteMode(fqn).contains("dynamic"))
    withConf(Key -> "static") {
      store.savePartitioned(seed.where($"p" =!= 2), "dim", "t", Seq("p"))
      assert(overwriteMode(fqn).contains("dynamic"))
      // the Overwrite replaced the whole table, partition 2 included
      assert(rows(fqn).map(_._3) == Set(0L, 1L))
      val untouched = fileDigests(fqn, "p=1")
      store.upsert(Seq((3L, 7L, 0L)).toDF("id", "v", "p"), "dim", "t",
        Seq("id"))
      assert(fileDigests(fqn, "p=1") == untouched)
    }
    store.drop("dim", "t")
  }
}
