package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CompactionSpec extends SparkSpec {
  import spark.implicits._

  test("compaction reduces file count, preserves content, stays queryable") {
    val store = new TableStore(spark, PipelineConfig(
      catalog = "graftc",
      schema = s"compact_${System.nanoTime()}"))
    val df = spark.range(1000)
      .select(col("id"), (col("id") % 7).as("v"))
      .repartition(8)
    store.save(df, "tmp", "compact_src")
    val fqn = store.fqn("tmp", "compact_src")
    assert(spark.table(fqn).inputFiles.length == 8)

    val (before, after) = Compaction.compactTable(spark, fqn, targetRows = 1000)
    assert(before == 8 && after == 1, s"files $before -> $after")
    val got = spark.table(fqn).as[(Long, Long)].collect().toSet
    assert(got == (0L until 1000L).map(i => (i, i % 7)).toSet)
    // the staging table is gone after the swap
    assert(!spark.catalog.tableExists(s"${fqn}__compact"))
  }

  test("a leftover __old from a mid-swap crash self-heals on retry") {
    val store = new TableStore(spark, PipelineConfig(
      catalog = "graftc",
      schema = s"heal_${System.nanoTime()}"))
    store.save(spark.range(100).toDF("id").repartition(4), "tmp", "t")
    val fqn = store.fqn("tmp", "t")
    // simulate run-1 dying after the renames but before DROP __old
    spark.range(100).toDF("id").write.mode("overwrite")
      .format("parquet").saveAsTable(s"${fqn}__old")
    val (_, after) = Compaction.compactTable(spark, fqn, targetRows = 1000)
    assert(after == 1)
    assert(!spark.catalog.tableExists(s"${fqn}__old"))
    assert(spark.table(fqn).count() == 100)
  }

  test("a concurrent append trips the abort guard and restores the original") {
    val store = new TableStore(spark, PipelineConfig(
      catalog = "graftc",
      schema = s"race_${System.nanoTime()}"))
    store.save(spark.range(100).toDF("id").repartition(4), "tmp", "t")
    val fqn = store.fqn("tmp", "t")
    val ex = intercept[IllegalStateException] {
      Compaction.compactTable(spark, fqn, targetRows = 1000,
        beforeSwap = () => spark.range(100, 110).toDF("id")
          .write.mode("append").format("parquet").saveAsTable(fqn))
    }
    assert(ex.getMessage.contains("quiesce"))
    // original (with the appended rows) is back under its name; stage gone
    assert(spark.table(fqn).count() == 110)
    assert(!spark.catalog.tableExists(s"${fqn}__compact"))
    assert(!spark.catalog.tableExists(s"${fqn}__old"))
    // and a quiesced retry succeeds
    val (_, after) = Compaction.compactTable(spark, fqn, targetRows = 1000)
    assert(after == 1 && spark.table(fqn).count() == 110)
  }

  test("self-heal refuses to drop __old when fqn content diverged") {
    val store = new TableStore(spark, PipelineConfig(
      catalog = "graftc",
      schema = s"healrace_${System.nanoTime()}"))
    // scenario: a crashed run left the authoritative copy under __old and
    // a racing writer re-created fqn with DIFFERENT (partial) content —
    // the old code DROPped __old here, silently losing the real table
    store.save(spark.range(100).toDF("id"), "tmp", "t")
    val fqn = store.fqn("tmp", "t")
    spark.range(50).toDF("id").write.mode("overwrite")
      .format("parquet").saveAsTable(s"${fqn}__old")
    val ex = intercept[IllegalStateException] {
      Compaction.compactTable(spark, fqn, targetRows = 1000)
    }
    assert(ex.getMessage.contains("reconcile manually"))
    // nothing was dropped: both copies still reachable
    assert(spark.catalog.tableExists(fqn))
    assert(spark.catalog.tableExists(s"${fqn}__old"))
  }

  test("self-heal refuses the automatic DROP when both copies read empty " +
      "(two (0,0) summaries are not PROOF — a rename-stranded partitioned " +
      "table also reads as 0 rows)") {
    val store = new TableStore(spark, PipelineConfig(
      catalog = "graftc", schema = s"healempty_${System.nanoTime()}"))
    store.save(spark.range(0).toDF("id"), "tmp", "t")
    val fqn = store.fqn("tmp", "t")
    spark.range(0).toDF("id").write.mode("overwrite")
      .format("parquet").saveAsTable(s"${fqn}__old")
    val ex = intercept[IllegalStateException] {
      Compaction.compactTable(spark, fqn, targetRows = 1000)
    }
    assert(ex.getMessage.contains("cannot PROVE"), ex.getMessage)
    // nothing dropped: both copies still reachable for manual reconciliation
    assert(spark.catalog.tableExists(fqn))
    assert(spark.catalog.tableExists(s"${fqn}__old"))
  }

  test("self-heal refuses the automatic DROP when __old is partitioned, " +
      "even with matching summaries (a pre-guard crashed run's __old may " +
      "be the only complete copy)") {
    val store = new TableStore(spark, PipelineConfig(
      catalog = "graftc", schema = s"healpart_${System.nanoTime()}"))
    val df = spark.range(6).select(col("id"), (col("id") % 2).as("p"))
    store.save(df, "tmp", "t")
    val fqn = store.fqn("tmp", "t")
    df.write.mode("overwrite").format("parquet")
      .partitionBy("p").saveAsTable(s"${fqn}__old")
    val ex = intercept[IllegalStateException] {
      Compaction.compactTable(spark, fqn, targetRows = 1000)
    }
    assert(ex.getMessage.contains("partitioned"), ex.getMessage)
    assert(spark.catalog.tableExists(fqn))
    assert(spark.catalog.tableExists(s"${fqn}__old"))
  }

  test("self-heal refuses the automatic DROP on map-typed schemas even " +
      "with equal nonzero counts (the degraded fingerprint proves " +
      "nothing about content — ADVICE r18)") {
    val store = new TableStore(spark, PipelineConfig(
      catalog = "graftc", schema = s"healmap_${System.nanoTime()}"))
    // same COUNT, different CONTENT, map column: the degraded summary
    // (count, 0, unproven) compares equal — pre-fix this auto-dropped
    // __old, which could be the only complete copy
    store.save(spark.range(5)
      .select(col("id"), map(lit("k"), col("id")).as("m")), "tmp", "t")
    val fqn = store.fqn("tmp", "t")
    spark.range(100, 105)
      .select(col("id"), map(lit("k"), col("id")).as("m"))
      .write.format("parquet").saveAsTable(s"${fqn}__old")
    val ex = intercept[IllegalStateException] {
      Compaction.compactTable(spark, fqn, targetRows = 1000)
    }
    assert(ex.getMessage.contains("cannot PROVE") &&
      ex.getMessage.contains("map-typed"), ex.getMessage)
    assert(spark.catalog.tableExists(fqn))
    assert(spark.catalog.tableExists(s"${fqn}__old"))
  }

  test("a same-cardinality overwrite during compaction trips the guard") {
    val store = new TableStore(spark, PipelineConfig(
      catalog = "graftc",
      schema = s"mut_${System.nanoTime()}"))
    store.save(spark.range(100).toDF("id").repartition(4), "tmp", "t")
    val fqn = store.fqn("tmp", "t")
    // same row COUNT (100), different content — a count-only guard passes
    // this and silently publishes the stale staged copy
    val ex = intercept[IllegalStateException] {
      Compaction.compactTable(spark, fqn, targetRows = 1000,
        beforeSwap = () => spark.range(200, 300).toDF("id")
          .write.mode("overwrite").format("parquet").saveAsTable(fqn))
    }
    assert(ex.getMessage.contains("quiesce"))
    // the overwritten table (the writer's version) is back under its name
    assert(spark.table(fqn).agg(min(col("id"))).head().getLong(0) == 200L)
    assert(!spark.catalog.tableExists(s"${fqn}__compact"))
    assert(!spark.catalog.tableExists(s"${fqn}__old"))
  }

  test("map-typed columns still compact (fingerprint degrades to count)") {
    // Spark's hash expressions reject MapType — the guard must fall back
    // to cardinality-only instead of failing the whole compaction
    val store = new TableStore(spark, PipelineConfig(
      catalog = "graftc",
      schema = s"maps_${System.nanoTime()}"))
    store.save(spark.range(100)
      .select(col("id"), map(lit("k"), col("id")).as("m"))
      .repartition(4), "tmp", "t")
    val fqn = store.fqn("tmp", "t")
    val (before, after) = Compaction.compactTable(spark, fqn, targetRows = 1000)
    assert(before == 4 && after == 1)
    assert(spark.table(fqn).count() == 100)
  }

  test("identifier parts are validated before SQL interpolation") {
    intercept[IllegalArgumentException] {
      Compaction.compactTable(spark, "bad name; drop", targetRows = 10)
    }
  }

  private def fileDigests(fqn: String, part: String): Map[String, Seq[Byte]] =
    spark.table(fqn).inputFiles.filter(_.contains(part)).map { u =>
      val p = java.nio.file.Paths.get(new java.net.URI(u).getPath)
      u -> java.security.MessageDigest.getInstance("MD5")
        .digest(java.nio.file.Files.readAllBytes(p)).toSeq
    }.toMap

  private def fragmentedStore(tag: String): (TableStore, String) = {
    val store = new TableStore(spark, PipelineConfig(
      catalog = "graftc", schema = s"${tag}_${System.nanoTime()}"))
    // repartition(4) before partitionBy → 4 files in each of 3 partitions
    store.savePartitioned(spark.range(300)
      .select(col("id"), (col("id") % 3).as("p")).repartition(4),
      "tmp", "t", Seq("p"))
    (store, store.fqn("tmp", "t"))
  }

  test("per-partition compaction rewrites only the selected partitions") {
    val (_, fqn) = fragmentedStore("partc")
    val before1 = fileDigests(fqn, "p=1")
    val before2 = fileDigests(fqn, "p=2")
    assert(fileDigests(fqn, "p=0").size == 4)
    val (before, after) =
      Compaction.compactPartitions(spark, fqn, "p = 0", targetRows = 1000)
    assert(before == 4 && after == 1, s"files $before -> $after")
    // untouched partitions: identical file paths AND bytes
    assert(fileDigests(fqn, "p=1") == before1)
    assert(fileDigests(fqn, "p=2") == before2)
    // content fully preserved
    val got = spark.table(fqn).as[(Long, Long)].collect().toSet
    assert(got == (0L until 300L).map(i => (i, i % 3)).toSet)
    assert(!spark.catalog.tableExists(s"${fqn}__compact"))
  }

  test("a write racing partition compaction aborts with nothing modified") {
    val (_, fqn) = fragmentedStore("partrace")
    val allBefore = fileDigests(fqn, "/p=")
    val ex = intercept[IllegalStateException] {
      Compaction.compactPartitions(spark, fqn, "p = 0", targetRows = 1000,
        afterStage = () => spark.range(1000, 1001)
          .select(col("id"), lit(0L).as("p"))
          .write.mode("append").format("parquet").insertInto(fqn))
    }
    assert(ex.getMessage.contains("quiesce"))
    assert(!spark.catalog.tableExists(s"${fqn}__compact"))
    // the racing append survives; nothing else changed
    assert(spark.table(fqn).count() == 301)
    // a quiesced retry then succeeds
    val (_, after) =
      Compaction.compactPartitions(spark, fqn, "p = 0", targetRows = 1000)
    assert(after == 1 && spark.table(fqn).count() == 301)
    // untouched partitions stayed byte-identical through abort AND retry
    assert(fileDigests(fqn, "p=1") == allBefore.filter(_._1.contains("p=1")))
  }

  test("a MID-PUBLISH crash (stage + __publish marker, live slice left " +
      "short) self-heals by re-publishing the authoritative stage") {
    val (store, fqn) = fragmentedStore("partheal")
    // simulate: a prior compactPartitions of p=0 staged + verified,
    // created its publish marker, then crashed mid-overwrite leaving
    // p=0 short and the full slice in __compact
    spark.table(fqn).where("p = 0").write.format("parquet")
      .partitionBy("p").saveAsTable(s"${fqn}__compact")
    spark.sql(s"CREATE TABLE ${fqn}__publish (pending INT) USING parquet")
    withConf("spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      spark.table(fqn).where("p = 0 AND id < 10")
        .write.mode("overwrite").insertInto(fqn)
    }
    assert(spark.table(fqn).count() < 300) // p=0 is short: crash simulated
    // while the marker stands, every mutator refuses loudly — a merge
    // computed from the short slice would bake the loss into real data
    val eu = intercept[IllegalStateException] {
      store.upsert(Seq((500L, 0L)).toDF("id", "p"), "tmp", "t", Seq("id"))
    }
    assert(eu.getMessage.contains("pending"), eu.getMessage)
    val ec = intercept[IllegalStateException] {
      Compaction.compactTable(spark, fqn, targetRows = 1000)
    }
    assert(ec.getMessage.contains("pending"), ec.getMessage)
    // compacting a DIFFERENT slice first restores p=0 from the stage
    val (_, after) =
      Compaction.compactPartitions(spark, fqn, "p = 1", targetRows = 1000)
    assert(after == 1)
    val got = spark.table(fqn).as[(Long, Long)].collect().toSet
    assert(got == (0L until 300L).map(i => (i, i % 3)).toSet)
    assert(!spark.catalog.tableExists(s"${fqn}__compact"))
    assert(!spark.catalog.tableExists(s"${fqn}__publish"))
    // and the gate lifts once the resume cleared the marker
    store.upsert(Seq((500L, 0L)).toDF("id", "p"), "tmp", "t", Seq("id"))
    assert(spark.table(fqn).count() == 301)
  }

  test("a pre-publish __compact leftover must NOT revert writes that " +
      "landed after the crash (stage discarded, not re-published)") {
    val (store, fqn) = fragmentedStore("stalestage")
    // simulate: a prior compactPartitions staged the full slice and
    // crashed BEFORE starting its publish (no publish marker) — the
    // live table is intact and authoritative
    spark.table(fqn).write.format("parquet")
      .partitionBy("p").saveAsTable(s"${fqn}__compact")
    // a later writer moves key 0 from p=0 to p=1 — content the stale
    // stage still holds in its pre-upsert arrangement
    store.upsert(Seq((0L, 1L)).toDF("id", "p"), "tmp", "t", Seq("id"))
    def p0() = spark.table(fqn).where("id = 0").select("p")
      .as[Long].collect().toSeq
    assert(p0() == Seq(1L))
    // resuming compaction must not publish the pre-upsert stage over it
    Compaction.compactPartitions(spark, fqn, "p = 2", targetRows = 1000)
    assert(p0() == Seq(1L),
      "stale pre-publish stage was re-published, reverting the upsert")
    assert(spark.table(fqn).count() == 300)
    assert(!spark.catalog.tableExists(s"${fqn}__compact"))
  }

  test("a full OVERWRITE supersedes a crashed publish (marker + stage " +
      "cleared, resume cannot clobber it); APPEND refuses") {
    val (store, fqn) = fragmentedStore("superpub")
    // dangling mid-publish crash state
    spark.table(fqn).write.format("parquet")
      .partitionBy("p").saveAsTable(s"${fqn}__compact")
    spark.sql(s"CREATE TABLE ${fqn}__publish (pending INT) USING parquet")
    // append-mode save composes with the possibly-partial live table:
    // must refuse like every other mutator
    val ea = intercept[IllegalStateException] {
      store.savePartitioned(Seq((500L, 0L)).toDF("id", "p"), "tmp", "t",
        Seq("p"), org.apache.spark.sql.SaveMode.Append)
    }
    assert(ea.getMessage.contains("pending"), ea.getMessage)
    // a full overwrite REPLACES the table: the crashed compaction's
    // stage and marker refer to dead state and must be cleared, so a
    // later compaction cannot re-publish stale partitions over it
    store.savePartitioned(Seq((1000L, 0L), (1001L, 1L)).toDF("id", "p"),
      "tmp", "t", Seq("p"))
    assert(!spark.catalog.tableExists(s"${fqn}__publish"))
    assert(!spark.catalog.tableExists(s"${fqn}__compact"))
    Compaction.compactPartitions(spark, fqn, "p >= 0", targetRows = 1000)
    assert(spark.table(fqn).as[(Long, Long)].collect().toSet ==
      Set((1000L, 0L), (1001L, 1L)))
  }

  test("a superseding overwrite that FAILS mid-write keeps the __publish " +
      "gate standing (ADVICE r19: the marker must not lift before the " +
      "write succeeds); a successful retry clears it") {
    val (store, fqn) = fragmentedStore("superfail")
    // dangling mid-publish crash state: marker + stage
    spark.table(fqn).write.format("parquet")
      .partitionBy("p").saveAsTable(s"${fqn}__compact")
    spark.sql(s"CREATE TABLE ${fqn}__publish (pending INT) USING parquet")
    // a superseding overwrite whose evaluation throws mid-write — the
    // pre-fix code dropped marker AND stage before saveAsTable ran, so
    // this crash left the possibly-partial table silently mergeable
    val failing = spark.range(10)
      .map(i => { if (i > 5) throw new RuntimeException("mid-write crash"); i })
      .select(col("value").as("id"), (col("value") % 3).as("p"))
    intercept[Exception] {
      store.savePartitioned(failing, "tmp", "t", Seq("p"))
    }
    // the in-doubt gate must still stand: marker present, mutators refuse
    assert(spark.catalog.tableExists(s"${fqn}__publish"),
      "__publish marker must survive a failed superseding overwrite")
    val ea = intercept[IllegalStateException] {
      store.savePartitioned(Seq((500L, 0L)).toDF("id", "p"), "tmp", "t",
        Seq("p"), org.apache.spark.sql.SaveMode.Append)
    }
    assert(ea.getMessage.contains("pending"), ea.getMessage)
    // retrying the overwrite succeeds and only THEN lifts the gate
    store.savePartitioned(Seq((1000L, 0L)).toDF("id", "p"), "tmp", "t",
      Seq("p"))
    assert(!spark.catalog.tableExists(s"${fqn}__publish"))
    assert(!spark.catalog.tableExists(s"${fqn}__compact"))
    assert(store.load("tmp", "t").as[(Long, Long)].collect().toSet ==
      Set((1000L, 0L)))
  }

  test("compactTable refuses bucketed targets with the saveBucketed " +
      "pointer; on a partitioned AND bucketed table the bucket guard " +
      "fires first and names both layout facts instead of directing the " +
      "caller to compactPartitions (which cannot preserve bucketing)") {
    val store = new TableStore(spark, PipelineConfig(
      catalog = "graftc", schema = s"buck_${System.nanoTime()}"))
    val bOnly = store.fqn("tmp", "bonly")
    spark.range(100).toDF("id").write.format("parquet")
      .bucketBy(4, "id").saveAsTable(bOnly)
    val e1 = intercept[IllegalArgumentException] {
      Compaction.compactTable(spark, bOnly, targetRows = 1000)
    }
    assert(e1.getMessage.contains("saveBucketed"), e1.getMessage)
    assert(!e1.getMessage.contains("also partitioned"), e1.getMessage)
    val both = store.fqn("tmp", "both")
    spark.range(100).select(col("id"), (col("id") % 3).as("p"))
      .write.format("parquet").partitionBy("p").bucketBy(4, "id")
      .saveAsTable(both)
    val e2 = intercept[IllegalArgumentException] {
      Compaction.compactTable(spark, both, targetRows = 1000)
    }
    assert(e2.getMessage.contains("saveBucketed"), e2.getMessage)
    assert(e2.getMessage.contains("also partitioned"), e2.getMessage)
    assert(!e2.getMessage.contains("use compactPartitions"), e2.getMessage)
    // both tables untouched by the refusals
    assert(spark.table(bOnly).count() == 100)
    assert(spark.table(both).count() == 100)
  }

  test("compactPartitions refuses bucketed targets (its dynamic-overwrite " +
      "publish would silently lose the bucketing)") {
    val store = new TableStore(spark, PipelineConfig(
      catalog = "graftc", schema = s"buckp_${System.nanoTime()}"))
    val fqn = store.fqn("tmp", "t")
    spark.range(100).select(col("id"), (col("id") % 3).as("p"))
      .write.format("parquet").partitionBy("p").bucketBy(4, "id")
      .saveAsTable(fqn)
    val ex = intercept[IllegalArgumentException] {
      Compaction.compactPartitions(spark, fqn, "p = 0", targetRows = 1000)
    }
    assert(ex.getMessage.contains("saveBucketed"), ex.getMessage)
    assert(spark.table(fqn).count() == 100)
  }

  test("compactPartitions refuses unpartitioned tables") {
    val store = new TableStore(spark, PipelineConfig(
      catalog = "graftc", schema = s"partflat_${System.nanoTime()}"))
    store.save(spark.range(10).toDF("id"), "tmp", "t")
    val ex = intercept[IllegalArgumentException] {
      Compaction.compactPartitions(spark, store.fqn("tmp", "t"),
        "1 = 1", targetRows = 10)
    }
    assert(ex.getMessage.contains("compactTable"))
  }

  test("target above row count compacts to a single file") {
    val store = new TableStore(spark, PipelineConfig(
      catalog = "graftc",
      schema = s"compact1_${System.nanoTime()}"))
    store.save(spark.range(50).toDF("id").repartition(4), "tmp", "tiny")
    val fqn = store.fqn("tmp", "tiny")
    val (_, after) = Compaction.compactTable(spark, fqn, targetRows = 1000000)
    assert(after == 1)
    assert(spark.table(fqn).count() == 50)
  }
}
