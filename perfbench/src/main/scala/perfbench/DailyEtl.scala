package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ai.{DeterministicRubricScorer, DictionaryTranslator, HttpLlmScorer, SentimentScorer}
import graft.core.{PipelineConfig, TableStore}
import graft.model.{AuxDimsJob, GamesDimJob, ReviewsFactJob}
import graft.pipeline.{Pipeline, Stage}
import graft.quality.{DQEngine, IsInRange, IsUnique}
import graft.semantic.ReviewMetrics

/** The reference job's stages as one `Pipeline.run`: aux dims, games dim
  * and reviews fact, then the DQ gate, then the metric view and catalog
  * comments. Shared by `daily_etl` (one run per day) and by the one-time
  * publish of `metric_queries`.
  */
final class ReferenceJob(spark: SparkSession, store: TableStore,
                         config: PipelineConfig, translator: DictionaryTranslator,
                         scorer: SentimentScorer, tracer: Tracer) {
  var appended = 0L

  private val rules = Seq(IsUnique(Seq("recommendationid")),
    IsInRange("weighted_score", -5, 5))

  def stages: Seq[Stage] = Seq(
    Stage("aux_dims")(() => tracer.span("model.aux_dims", "model")(
      new AuxDimsJob(spark, store, config, translator).run())),
    Stage("games_dim")(() => tracer.span("model.games_dim", "model")(
      new GamesDimJob(spark, store, config).run())),
    Stage("reviews_fact")(() => appended = tracer.span("model.reviews_fact", "model")(
      new ReviewsFactJob(spark, store, config, scorer).run())),
    Stage("data_quality", deps = Seq("aux_dims", "games_dim", "reviews_fact"))(() =>
      tracer.span("quality.gate", "quality")(
        DQEngine.gate(DQEngine.applyChecks(store.load("fact", "reviews"), rules)))),
    Stage("semantic_layer", deps = Seq("data_quality"))(() =>
      tracer.span("semantic.register", "semantic") {
        ReviewMetrics(store).registerView(spark, "review_metrics")
        ReviewMetrics.applyCatalogComments(spark, store)
      }))

  /** Runs the job once; returns the rows appended to the fact. */
  def run(): Long = {
    appended = -1L
    tracer.span("pipeline.run", "pipeline")(Pipeline.run(stages))
    appended
  }
}

object ReferenceJob {
  def config(landing: File, batchSize: Int): PipelineConfig =
    PipelineConfig(catalog = "steam", schema = "analytics",
      rawLocation = landing.getAbsolutePath, batchSize = batchSize)

  /** Fact rows whose sentiment is not the rubric score the stub answers
    * (0 for null or empty text): each is a transport or parsing fallback.
    */
  def misScored(spark: SparkSession, store: TableStore): Long = {
    val rubric = DeterministicRubricScorer()
    val expected = udf((t: String) => if (t == null || t.isEmpty) 0 else rubric.score(t))
    store.load("fact", "reviews")
      .filter(col("sentiment_score") =!= expected(col("review_text"))).count()
  }
}

/** `daily_etl`: the reference job run as a sequence of days. Each day
  * lands a new seeded slice of reviews into the raw zone, then runs the
  * whole job; sentiment goes over HTTP to the loopback stub.
  */
final class DailyEtl(seed: Long, stub: LlmStub) extends Workload {
  val apps = 4000
  val reviewsPerDay = 4000
  /** Days 0-4 pay class loading, code generation and JIT warm-up (day
    * times still fall through day 4); the steady-state metrics use the
    * days after.
    */
  val warmDays = 5

  private var inputs: SteamInputs = _
  private var landing: File = _

  def setup(spark: SparkSession, dir: File): Unit = {
    inputs = new SteamInputs(seed, apps, reviewsPerDay)
    landing = new File(dir, "landing")
    inputs.writeStatic(landing)
  }

  def measure(spark: SparkSession, ctx: RunContext): Unit = {
    val res = ctx.result
    val config = ReferenceJob.config(landing, batchSize = reviewsPerDay * 2)
    val store = new TableStore(spark, config)
    val scorer = new HttpLlmScorer(stub.endpoint, "stub-sentiment", LlmStub.PromptPrefix)
    val job = new ReferenceJob(spark, store, config,
      DictionaryTranslator(inputs.dictionary), scorer, ctx.tracer)

    val days = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Long)]
    var landedSurvivors = 0L
    var requests = 0L
    var scoredRows = 0L
    val (busy0, bytes0, errors0) = (stub.busyNanos.get, stub.bytesIn.get, stub.errors.get)
    var day = 0
    while (ctx.moreOps(day, minOps = warmDays + 3)) {
      val expect = inputs.writeDay(landing, day)
      val req0 = stub.requests.get
      res.attempted += 1
      val (appended, secs) = Stats.timed(ctx.tracer.op("day", s"day-$day")(job.run()))
      requests += stub.requests.get - req0
      scoredRows += expect.scoredRequests
      landedSurvivors += expect.survivors
      res.check(appended == expect.survivors,
        s"day $day appended $appended rows, the generator expects ${expect.survivors}")
      days += ((day, secs, appended))
      day += 1
    }

    val fact = store.load("fact", "reviews")
    val rows = fact.count()
    val keys = fact.select("recommendationid").distinct().count()
    res.check(rows == keys && rows == landedSurvivors,
      s"fact holds $rows rows and $keys keys; the days appended $landedSurvivors")
    val wrong = ReferenceJob.misScored(spark, store)
    res.check(wrong == 0, s"$wrong fact rows carry a fallback sentiment score")

    val steady = days.filter(_._1 >= warmDays)
    val daySecs = steady.map(_._2).toSeq
    val perSec = steady.map(_._3).sum / daySecs.sum
    res.metrics("op_p50_ms") = Stats.median(daySecs) * 1e3
    res.metrics("items_per_s") = perSec
    res.report("etl.day_s") = (Stats.median(daySecs), "s")
    res.report("etl.first_day_s") = (days.head._2, "s")
    res.report("etl.reviews_per_s") = (perSec, "rows/s")
    res.report("etl.days") = (days.length.toDouble, "days")

    res.layer("ai.requests") = requests.toDouble
    res.layer("ai.requests_per_row") = requests.toDouble / math.max(1L, scoredRows)
    res.layer("ai.stub_busy_s") = (stub.busyNanos.get - busy0) / 1e9
    res.layer("ai.errors") = (stub.errors.get - errors0).toDouble
    res.layer("ai.mb_sent") = (stub.bytesIn.get - bytes0) / 1048576.0
  }
}
