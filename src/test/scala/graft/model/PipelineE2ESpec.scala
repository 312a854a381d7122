package graft.model

import graft.SparkSpec
import graft.ai.{DeterministicRubricScorer, DictionaryTranslator}
import graft.core.{PipelineConfig, TableStore}
import graft.pipeline.{Pipeline, Stage}
import graft.quality._
import graft.semantic.{Dimension, Measure, MetricJoin, MetricView}
import org.apache.spark.sql.functions._

/** End-to-end reference-pipeline semantics over the FIXTURES.md CSVs:
  * the §7.2 minimum slice (dims + fact + DQ + metric query) plus the
  * behavioral invariants SURVEY.md §5 calls out (anti-join idempotence,
  * batch draining, quality gate).
  */
class PipelineE2ESpec extends SparkSpec {
  import spark.implicits._

  private val rawZone = getClass.getResource("/landing_zone").getPath

  private def freshConfig(batchSize: Int = 50000) = PipelineConfig(
    catalog = "t" + java.util.UUID.randomUUID().toString.replace("-", "").take(8),
    schema = "analytics", rawLocation = rawZone, batchSize = batchSize)

  private val translator = DictionaryTranslator(Map(
    "Akcja" -> "Action", "Przygoda" -> "Adventure",
    "Aktion" -> "Action", "Rollenspiel" -> "RPG"))

  test("GamesDimJob: type filter, price defaults, validity, on_sale, rename") {
    val config = freshConfig()
    val store = new TableStore(spark, config)
    try {
      new GamesDimJob(spark, store, config).run()
      val games = store.load("dim", "games")
      val byId = games.collect().map(r => r.getAs[Long]("appid") -> r).toMap
      // 103 dropped (free but priced — F3), 106 dropped (type music — F2)
      assert(byId.keySet == Set(100L, 101L, 102L, 104L, 105L, 107L))
      assert(byId(100L).getAs[Boolean]("on_sale"))
      assert(!byId(101L).getAs[Boolean]("on_sale"))
      assert(byId(105L).getAs[Boolean]("on_sale"))
      // P4 fills: null currency→USD, null prices→0
      assert(byId(104L).getAs[String]("mat_currency") == "USD")
      assert(byId(107L).getAs[Double]("sale_price") == 0.0)
      // nullable metacritic survives
      assert(byId(104L).isNullAt(byId(104L).fieldIndex("metacritic_score")))
      // renamed columns exist, mat_ prefixes gone (except mat_currency)
      assert(games.columns.contains("supports_windows"))
      assert(!games.columns.contains("mat_initial_price"))
    } finally store.dropAll()
  }

  test("AuxDimsJob: staging, AI translation with NA fallback, J1 flatten") {
    val config = freshConfig()
    val store = new TableStore(spark, config)
    try {
      new AuxDimsJob(spark, store, config, translator).run()
      val cats = store.load("dim", "categories")
        .select("appid", "name").as[(Long, String)].collect().toSet
      // translated names; dictionary miss ("Strategie") → NA
      assert(cats == Set((100L, "Action"), (100L, "Adventure"),
        (101L, "Action"), (102L, "NA")))
      // linkage grain preserved: appid 100 has two genre rows (1:many fan-out)
      val genres = store.load("dim", "genres")
      assert(genres.filter($"appid" === 100L).count() == 2)
      assert(store.load("dim", "developers").count() == 3)
      assert(store.load("dim", "publishers").count() == 2)
    } finally store.dropAll()
  }

  test("ReviewsFactJob: filters, scoring, weighting, idempotent increments") {
    val config = freshConfig()
    val store = new TableStore(spark, config)
    try {
      val job = new ReviewsFactJob(spark, store, config,
        DeterministicRubricScorer())
      val n1 = job.run()
      assert(n1 == 9) // 11 raw - spam row 9 (F1) - early-access row 10 (F1)
      val fact = store.load("fact", "reviews")
      val scores = fact.select("recommendationid", "sentiment_score",
        "weighted_score").as[(Long, Int, Double)].collect()
        .map(t => t._1 -> (t._2, t._3)).toMap
      assert(scores(1L) == (5, 5.0))   // excellent
      assert(scores(2L) == (2, 1.0))   // good+fun, sponsored → halved
      assert(scores(3L) == (-5, -5.0)) // terrible/awful
      assert(scores(4L) == (-2, -2.0)) // crash
      assert(scores(5L)._1 == 0)       // empty text guard
      assert(scores(6L)._1 == 0)       // null text guard
      assert(scores(7L) == (1, 1.0))   // multiline neutral
      assert(scores(11L) == (2, 1.0))  // sponsored halved
      // renamed columns present
      assert(fact.columns.contains("updated_at")
        && fact.columns.contains("sponsored_review"))

      // idempotence (J2): second run appends nothing
      val n2 = job.run()
      assert(n2 == 0)
      assert(store.load("fact", "reviews").count() == 9)
    } finally store.dropAll()
  }

  test("batching drains the backlog ≤ batch_size per run (§2.8)") {
    val config = freshConfig(batchSize = 4)
    val store = new TableStore(spark, config)
    try {
      val job = new ReviewsFactJob(spark, store, config,
        DeterministicRubricScorer())
      assert(job.run() == 4)
      assert(job.run() == 4)
      assert(job.run() == 1)
      assert(job.run() == 0)
      val fact = store.load("fact", "reviews")
      assert(fact.count() == 9)
      assert(fact.select("recommendationid").distinct().count() == 9)
    } finally store.dropAll()
  }

  test("full DAG: dims ∥ fact → quality gate → semantic query (§7.2 slice)") {
    val config = freshConfig()
    val store = new TableStore(spark, config)
    try {
      val order = Pipeline.run(Seq(
        Stage("dimensions")(() => {
          new AuxDimsJob(spark, store, config, translator).run()
          new GamesDimJob(spark, store, config).run()
        }),
        Stage("reviews_fact")(() =>
          new ReviewsFactJob(spark, store, config,
            DeterministicRubricScorer()).run(): Unit),
        Stage("quality_checks", deps = Seq("dimensions", "reviews_fact"))(() =>
          // ≙ data_quality.py:24-35 rules on the fact
          DQEngine.gate(DQEngine.applyChecks(store.load("fact", "reviews"),
            Seq(IsUnique(Seq("recommendationid")),
              IsInRange("weighted_score", -5, 5))))),
        Stage("semantic_layer", deps = Seq("quality_checks"))(() => ())))
      assert(order == Seq("dimensions", "reviews_fact", "quality_checks",
        "semantic_layer"))

      // the analyst path: avg weighted score by genre (§3.3) with the
      // reference's intentional 1:many fan-out
      val reviewMetrics = MetricView(
        source = store.fqn("fact", "reviews"),
        filter = Some("weighted_score IS NOT NULL"),
        joins = Seq(MetricJoin("genres", store.fqn("dim", "genres"),
          "source.appid = genres.appid")),
        dimensions = Seq(
          Dimension("genre", "genres.name", join = Some("genres"))),
        measures = Seq(
          Measure("review_count", "CAST(COUNT(*) AS BIGINT)"),
          Measure("avg_weighted_score", "AVG(weighted_score)")))
      val byGenre = reviewMetrics
        .query(spark, Seq("review_count", "avg_weighted_score"), Seq("genre"))
        .as[(String, Long, Double)].collect()
        .map(t => Option(t._1).getOrElse("<none>") -> (t._2, t._3)).toMap
      // appid 100 (5.0, 1.0) + appid 101 (-5.0, -2.0) fan into Action;
      // RPG gets appid 100 only; no-genre apps land in the null bucket
      assert(byGenre("Action") == (4L, (5.0 + 1.0 - 5.0 - 2.0) / 4))
      assert(byGenre("RPG") == (2L, 3.0))
      assert(byGenre("<none>") == (5L, 0.6))
    } finally store.dropAll()
  }

  test("quality gate blocks downstream stages on violation") {
    val config = freshConfig()
    val store = new TableStore(spark, config)
    try {
      store.save(Seq((1L, 9.9), (1L, 1.0)).toDF("recommendationid",
        "weighted_score"), "fact", "reviews")
      var semanticRan = false
      assertThrows[DQViolationException] {
        Pipeline.run(Seq(
          Stage("quality_checks")(() =>
            DQEngine.gate(DQEngine.applyChecks(store.load("fact", "reviews"),
              Seq(IsUnique(Seq("recommendationid")),
                IsInRange("weighted_score", -5, 5))))),
          Stage("semantic_layer", deps = Seq("quality_checks"))(() =>
            semanticRan = true)))
      }
      assert(!semanticRan)
    } finally store.dropAll()
  }

  test("stages of one wave run concurrently") {
    // serial execution would leave the first stage alone at the barrier
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def meet(): Unit = barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
    val order = Pipeline.run(Seq(
      Stage("left")(() => meet()),
      Stage("right")(() => meet()),
      Stage("after", deps = Seq("left", "right"))(() => ())))
    assert(order == Seq("left", "right", "after"))
  }

  test("a failing stage's sibling finishes, its dependents never start") {
    val siblingDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val downstreamRan = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failure = intercept[DQViolationException] {
      Pipeline.run(Seq(
        Stage("gate")(() => throw new DQViolationException("1 error row")),
        Stage("slow")(() => { Thread.sleep(300); siblingDone.set(true) }),
        Stage("downstream", deps = Seq("gate"))(() => downstreamRan.set(true))))
    }
    assert(failure.getSuppressed.isEmpty)
    assert(siblingDone.get, "the gate's sibling must run to completion")
    assert(!downstreamRan.get)
  }

  test("every failure of a wave reaches the caller, first in declaration order") {
    val e = intercept[IllegalStateException] {
      Pipeline.run(Seq(
        Stage("first")(() => { Thread.sleep(200); throw new IllegalStateException("first") }),
        Stage("second")(() => throw new IllegalArgumentException("second"))))
    }
    assert(e.getMessage == "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
  }

  test("stage threads see the caller's local properties") {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentHashMap[String, String]()
    def jobGroupInTask(stage: String): Unit = seen.put(stage,
      sc.parallelize(Seq(1), 1)
        .map(_ => org.apache.spark.TaskContext.get().getLocalProperty("spark.jobGroup.id"))
        .collect().head)
    sc.setJobGroup("pipeline-spec-group", "local-property inheritance")
    try Pipeline.run(Seq(
      Stage("a")(() => jobGroupInTask("a")),
      Stage("b")(() => jobGroupInTask("b"))))
    finally sc.clearJobGroup()
    assert(seen.get("a") == "pipeline-spec-group")
    assert(seen.get("b") == "pipeline-spec-group")
  }

  test("the returned order is declaration order, whichever stage finishes first") {
    val secondDone = new java.util.concurrent.CountDownLatch(1)
    val finished = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val order = Pipeline.run(Seq(
      Stage("first")(() => {
        assert(secondDone.await(30, java.util.concurrent.TimeUnit.SECONDS))
        finished.add("first")
      }),
      Stage("second")(() => { finished.add("second"); secondDone.countDown() })))
    assert(finished.toArray.toSeq == Seq("second", "first"))
    assert(order == Seq("first", "second"))
  }

  test("Runner serializes runs: a trigger during a run queues, FIFO (§2.10)") {
    val runner = new Pipeline.Runner(maxConcurrent = 1)
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    lazy val second: Seq[Stage] =
      Seq(Stage("s2")(() => order += "second"))
    val first = Seq(Stage("s1") { () =>
      order += "first-start"
      // a cron tick landing mid-run: must queue, not interleave
      runner.submit(second)
      order += "first-end"
    })
    runner.submit(first)
    assert(order.toSeq == Seq("first-start", "first-end", "second"))
    assert(runner.completedRuns == Seq(Seq("s1"), Seq("s2")))
  }

  test("Runner: a failed run records its error and does not drop queued runs") {
    val runner = new Pipeline.Runner(maxConcurrent = 1)
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    lazy val queued: Seq[Stage] = Seq(Stage("ok")(() => order += "ok"))
    runner.submit(Seq(Stage("boom") { () =>
      runner.submit(queued) // trigger lands mid-run…
      sys.error("stage failure")  // …then the active run fails
    }))
    assert(order.toSeq == Seq("ok"), "queued run must still execute")
    assert(runner.completedRuns == Seq(Seq("ok")))
    assert(runner.failedRuns.size == 1)
  }

  test("batch landing recovers a table whose catalog entry was lost") {
    val config = freshConfig()
    val store = new TableStore(spark, config)
    try {
      val df0 = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
        .withColumn("ingest_batch", lit(0L))
      store.saveBatchPartition(df0, "fact", "recov", "ingest_batch")
      assert(store.load("fact", "recov").count() == 2)

      // simulate a JVM restart with an in-memory metastore: catalog entry
      // gone, warehouse directory intact (stash files, drop, restore)
      val wh = spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:")
      val dbDir = s"${config.catalog}_${config.schema}".toLowerCase + ".db"
      val loc = java.nio.file.Paths.get(wh, dbDir, "fact_recov")
      val stash = java.nio.file.Files.createTempDirectory("graft-stash")
        .resolve("fact_recov")
      org.apache.commons.io.FileUtils.copyDirectory(loc.toFile, stash.toFile)
      spark.sql(s"DROP TABLE ${store.fqn("fact", "recov")}")
      org.apache.commons.io.FileUtils.copyDirectory(stash.toFile, loc.toFile)

      val df1 = Seq((3L, "c")).toDF("id", "s")
        .withColumn("ingest_batch", lit(1L))
      store.saveBatchPartition(df1, "fact", "recov", "ingest_batch")
      val got = store.load("fact", "recov")
      assert(got.count() == 3, "batch 0 preserved + batch 1 landed")
      // replaying batch 1 stays idempotent through the recovered table
      store.saveBatchPartition(df1, "fact", "recov", "ingest_batch")
      assert(store.load("fact", "recov").count() == 3)
    } finally store.dropAll()
  }

  test("raw layer registers as queryable raw_* views (S7 catalog face)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-raw").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/things.csv"), "id,name\n1,alpha\n2,beta\n")
    val store = new TableStore(spark, freshConfig())
    try {
      val views = store.registerRaw(dir)
      assert(views == Seq("raw_things"))
      assert(spark.sql("SELECT count(*) FROM raw_things").head().getLong(0) == 2)
    } finally store.dropAll()
  }

  test("CSV reader handles multiline + escaped quotes (S1 option set)") {
    val raw = graft.ingest.CsvSource.read(spark, s"$rawZone/reviews.csv",
      graft.ingest.Schemas.reviews)
    assert(raw.count() == 11)
    val multi = raw.filter($"recommendationid" === 7L)
      .select("review_text").as[String].head()
    assert(multi.contains("\n") && multi.contains("\"quoted\""))
  }
}
