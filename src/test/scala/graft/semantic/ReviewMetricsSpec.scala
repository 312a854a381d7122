package graft.semantic

import graft.SparkSpec
import graft.ai.{DeterministicRubricScorer, DictionaryTranslator}
import graft.core.{PipelineConfig, TableStore}
import graft.core.TableStoreFixtures._
import graft.model._

/** The canonical reference semantic model over the fixture pipeline:
  * 11 dims / 5 measures / 5 joins of `semantic_layer.sql:7-94`, plus the
  * K4 catalog comments.
  */
class ReviewMetricsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val store: TableStore = {
    val rawZone = getClass.getResource("/landing_zone").getPath
    val config = PipelineConfig(catalog = "rm", rawLocation = rawZone)
    val st = new TableStore(spark, config)
    st.dropAll()
    val st2 = new TableStore(spark, config)
    new AuxDimsJob(spark, st2, config, DictionaryTranslator(Map(
      "Akcja" -> "Action", "Przygoda" -> "Adventure",
      "Aktion" -> "Action", "Rollenspiel" -> "RPG"))).run()
    new GamesDimJob(spark, st2, config).run()
    new ReviewsFactJob(spark, st2, config, DeterministicRubricScorer()).run()
    st2
  }

  test("canonical view exposes all 11 dims and 5 measures") {
    val v = ReviewMetrics(store)
    assert(v.dimensions.map(_.name) == Seq("app_id", "review_language",
      "review_date", "sponsored", "game_name", "release_date", "on_sale",
      "category", "genre", "publisher", "developer"))
    assert(v.measures.map(_.name) == Seq("review_count",
      "avg_weighted_score", "positive_review_pct", "negative_review_pct",
      "median_review_length"))
  }

  test("analyst query: avg weighted score + pcts by game name") {
    val v = ReviewMetrics(store)
    val rows = v.query(spark,
      Seq("review_count", "avg_weighted_score", "positive_review_pct"),
      Seq("game_name"))
      .as[(String, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // Space Game (appid 100): scores 5.0 and 1.0 → avg 3.0, 100% positive
    assert(rows("Space Game") == ((2L, 3.0, 1.0)))
    // Bad Port (101): -5, -2 → avg -3.5, 0% positive
    assert(rows("Bad Port") == ((2L, -3.5, 0.0)))
  }

  test("median_review_length measure uses exact percentile") {
    val v = ReviewMetrics(store)
    val m = v.query(spark, Seq("median_review_length"), Nil)
      .as[Double].head()
    assert(m > 0)
  }

  test("catalog comments are applied (K4)") {
    ReviewMetrics.applyCatalogComments(spark, store)
    // 'comment' is a reserved property → surfaces as the table comment in
    // DESCRIBE EXTENDED, not in SHOW TBLPROPERTIES
    val ext = spark.sql(
      s"DESCRIBE TABLE EXTENDED ${store.fqn("fact", "reviews")}")
      .as[(String, String, String)].collect()
    assert(ext.exists(r => r._1 == "Comment" && r._2.contains("sentiment")))
    val cols = spark.sql(s"DESCRIBE ${store.fqn("fact", "reviews")}")
      .as[(String, String, String)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(cols("weighted_score").contains("sponsored"))
  }
}
