package perfbench

import java.io.File

import org.apache.spark.sql.{Row, SparkSession}

import graft.ai.{DeterministicRubricScorer, DictionaryTranslator}
import graft.core.TableStore
import graft.semantic.{MetricView, MetricViewYaml, ReviewMetrics}

/** One analyst request. `kind` is `code` (the code-authored view),
  * `yaml` (the reference's YAML document, parsed per request) or `sql`
  * (SQL text against the registered `review_metrics` view).
  */
final case class MetricRequest(id: Int, kind: String, measures: Seq[String] = Nil,
                               dims: Seq[String] = Nil, where: Option[String] = None,
                               having: Option[String] = None, sql: String = "")

object MetricRequest {
  private val measures = Seq("review_count", "avg_weighted_score", "positive_review_pct",
    "negative_review_pct", "median_review_length")
  private val codeDims = Seq("app_id", "review_language", "review_date", "sponsored",
    "game_name", "release_date", "on_sale", "category", "genre", "publisher", "developer")
  private val yamlDims = Seq("release_date", "review_date", "name", "runs_on_windows",
    "runs_on_mac", "runs_on_linux", "metacritic_score", "developer", "publisher", "genre",
    "category")
  private val fanOut = Set("category", "genre", "publisher", "developer")
  private val wheres = Seq("source.sponsored_review = false", "source.language = 'english'",
    "source.comment_count >= 5", "source.appid <= 800")
  private val sqls = Seq(
    "SELECT genre, SUM(review_count) AS reviews, MAX(avg_weighted_score) AS best " +
      "FROM review_metrics GROUP BY genre",
    "SELECT category, review_language, SUM(review_count) AS reviews FROM review_metrics " +
      "WHERE sponsored = false GROUP BY category, review_language HAVING SUM(review_count) > 10",
    "SELECT on_sale, publisher, SUM(review_count) AS reviews, MIN(negative_review_pct) AS low " +
      "FROM review_metrics GROUP BY on_sale, publisher",
    "SELECT developer, COUNT(*) AS cells, SUM(review_count) AS reviews FROM review_metrics " +
      "WHERE review_language = 'polish' GROUP BY developer")

  /** A seeded pool of distinct requests: 1-3 measures by 0-2 dimensions,
    * over half of those with dimensions on a 1:many aux-dim join, some
    * with `where` or `having`. A fifth go through the YAML document and a
    * tenth are the SQL texts above.
    */
  def pool(seed: Long, size: Int): IndexedSeq[MetricRequest] = {
    import Rng._
    (0 until size).map { i =>
      def h(salt: Int) = mix(seed, 30, i, salt)
      def pickN[T](xs: Seq[T], n: Int, salt: Int): Seq[T] =
        xs.indices.sortBy(j => mix(seed, 31, i, salt, j)).take(n).map(xs)
      val u = unit(h(1))
      if (u < 0.1) MetricRequest(i, "sql", sql = sqls(below(h(2), sqls.length).toInt))
      else {
        val yaml = u < 0.3
        val dimPool = if (yaml) yamlDims else codeDims
        val nDims = below(h(3), 3).toInt
        val dims0 = pickN(dimPool, nDims, 4)
        val dims =
          if (nDims > 0 && unit(h(5)) < 0.35 && !dims0.exists(fanOut))
            dims0.updated(0, pickN(fanOut.toSeq.sorted, 1, 6).head)
          else dims0
        val ms0 = pickN(measures, 1 + below(h(7), 3).toInt, 8)
        val having = if (dims.nonEmpty && unit(h(9)) < 0.2) Some("review_count >= 20") else None
        val ms = if (having.isDefined && !ms0.contains("review_count")) "review_count" +: ms0.take(2)
          else ms0
        val where = if (unit(h(10)) < 0.3) Some(wheres(below(h(11), wheres.length).toInt)) else None
        MetricRequest(i, if (yaml) "yaml" else "code", ms, dims, where, having)
      }
    }
  }
}

/** `metric_queries`: the star is published once during set-up, then one
  * analyst sends a seeded closed-loop stream of metric requests.
  */
final class MetricQueries(seed: Long) extends Workload {
  val apps = 2000
  val reviewsPerDay = 4000
  /** The published fact holds this many days' reviews. */
  val publishedDays = 5
  val poolSize = 48

  private var store: TableStore = _
  private var view: MetricView = _
  private var requests: IndexedSeq[MetricRequest] = _
  private val vars = Map("catalog" -> "spark_catalog", "environment" -> "steam_analytics")

  def setup(spark: SparkSession, dir: File): Unit = {
    // the days are loaded in one run, so none re-lands an earlier review
    val inputs = new SteamInputs(seed, apps, reviewsPerDay, relandShare = 0.0)
    val landing = new File(dir, "landing")
    inputs.writeStatic(landing)
    (0 until publishedDays).foreach(d => inputs.writeDay(landing, d))
    val config = ReferenceJob.config(landing, batchSize = reviewsPerDay * publishedDays)
    store = new TableStore(spark, config)
    new ReferenceJob(spark, store, config, DictionaryTranslator(inputs.dictionary),
      DeterministicRubricScorer(), new Tracer(false, spark.sparkContext)).run()
    view = ReviewMetrics(store)
    requests = MetricRequest.pool(seed, poolSize)
    // warm-up: one request of each kind
    Seq("code", "yaml", "sql").flatMap(k => requests.find(_.kind == k))
      .foreach(r => execute(spark, r, new Tracer(false, spark.sparkContext)))
  }

  private def execute(spark: SparkSession, r: MetricRequest, tracer: Tracer): Array[Row] = {
    val df = r.kind match {
      case "sql" => tracer.span("semantic.compile", "semantic")(spark.sql(r.sql))
      case kind =>
        val v =
          if (kind == "yaml") tracer.span("semantic.yaml_parse", "semantic")(
            MetricViewYaml.parse(ReviewMetrics.yamlDocument, vars))
          else view
        tracer.span("semantic.compile", "semantic")(
          v.query(spark, r.measures, r.dims, r.where, r.having))
    }
    tracer.span("semantic.execute", "semantic")(df.collect())
  }

  /** The request as DuckDB SQL over the published tables. */
  private def oracleSql(r: MetricRequest): String = r.kind match {
    case "sql" => r.sql
    case "code" => view.toSql(r.measures, r.dims, r.where, oracle = true, r.having)
    case "yaml" =>
      MetricViewYaml.parse(ReviewMetrics.yamlDocument, vars)
        .toSql(r.measures, r.dims, r.where, oracle = true, r.having)
        .replace("spark_catalog.", "").replace("PERCENTILE(", "quantile_cont(")
  }

  def measure(spark: SparkSession, ctx: RunContext): Unit = {
    val res = ctx.result
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    val answers = scala.collection.mutable.LinkedHashMap.empty[Int, Array[Row]]
    val t0 = System.nanoTime()
    var n = 0
    while (ctx.moreOps(n, minOps = 100)) {
      val r = requests(Rng.below(Rng.mix(seed, 32, n), requests.length).toInt)
      res.attempted += 1
      val (rows, secs) = Stats.timed(ctx.tracer.op("request", s"req-$n")(execute(spark, r, ctx.tracer)))
      lat += secs
      if (!answers.contains(r.id)) answers(r.id) = rows
      n += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9

    val oracle = answers.toSeq.map { case (id, rows) =>
      val r = requests.find(_.id == id).get
      Map("id" -> id, "kind" -> r.kind, "sql" -> oracleSql(r),
        "rows" -> rows.map(row => row.toSeq.map(Canon.value)))
    }
    res.extra("oracle") = oracle
    res.extra("oracle_view_sql") = view.toSql(view.measures.map(_.name),
      view.dimensions.map(_.name), oracle = true)
    res.extra("warehouse") = new File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")).getAbsolutePath

    val ms = lat.map(_ * 1e3).toSeq
    res.metrics("op_p50_ms") = Stats.median(ms)
    res.metrics("items_per_s") = n / wall
    res.report("mq.p50_ms") = (Stats.median(ms), "ms")
    res.report("mq.p90_ms") = (Stats.quantile(ms, 0.9), "ms")
    res.report("mq.qps") = (n / wall, "requests/s")
    res.report("mq.requests") = (n.toDouble, "requests")
    res.report("mq.distinct_requests") = (answers.size.toDouble, "requests")
    res.report("mq.fact_rows") = (store.load("fact", "reviews").count().toDouble, "rows")
  }
}

/** Canonical JSON-safe form of a result value, matched by the DuckDB check. */
object Canon {
  private val tsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(java.time.ZoneOffset.UTC)

  def value(v: Any): Any = v match {
    case null => null
    case t: java.sql.Timestamp => tsFormat.format(t.toInstant)
    case t: java.time.Instant => tsFormat.format(t)
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case d: java.math.BigDecimal => d.doubleValue
    case d: scala.math.BigDecimal => d.toDouble
    case other => other
  }
}
