package graft.model

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{GameConstants, PipelineConfig, TableStore}
import graft.ingest.{CsvSource, Schemas}

/** Games-dimension ETL ≙ `auxillary_dims.py:106-152`:
  * read `applications.csv` → keep game/demo/dlc types (F2) → default
  * prices/currency (P4) → free-game validity filter (F3) → derive `on_sale`
  * (C5) → project/rename stripping `mat_` prefixes (P2) → overwrite
  * `dim_games`.
  */
final class GamesDimJob(spark: SparkSession, store: TableStore,
                        config: PipelineConfig) {

  def run(): Unit = {
    val apps = CsvSource.read(spark,
      s"${config.rawLocation}/applications.csv", Schemas.applications)

    val cleaned = apps
      // F2 — `auxillary_dims.py:118` + `utilities.py:11`
      .filter(col("type").isin(GameConstants.GameTypes: _*))
      // P4 — `auxillary_dims.py:124-126`
      .na.fill(Map[String, Any]("mat_initial_price" -> 0.0,
        "mat_final_price" -> 0.0, "mat_currency" -> "USD"))
      // F3 — `auxillary_dims.py:128-130`
      .filter((col("is_free") && col("mat_initial_price") === 0)
        || !col("is_free"))
      // C5 — `auxillary_dims.py:127`
      .withColumn("on_sale", col("mat_initial_price") > col("mat_final_price"))
      // P2 — `auxillary_dims.py:136-148`
      .select(
        col("appid"),
        col("name"),
        col("release_date"),
        col("mat_supports_windows").as("supports_windows"),
        col("mat_supports_mac").as("supports_mac"),
        col("mat_supports_linux").as("supports_linux"),
        col("mat_final_price").as("sale_price"),
        col("mat_currency"),
        col("metacritic_score"),
        col("on_sale"),
        col("updated_at"))

    store.save(cleaned, "dim", "games")
  }
}
