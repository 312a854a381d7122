package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{GameConstants, PipelineConfig, TableStore}
import graft.ai.LlmClient
import graft.ingest.{CsvSource, LandingZone, Schemas}

/** Auxiliary-dimension ETL ≙ `/root/reference/src/notebooks/modelling/
  * auxillary_dims.py`.
  *
  * Reads every dim/linkage CSV of this run's landing zone as a local
  * frame (the temp views of `auxillary_dims.py:48-69`), translating
  * `categories`/`genres` names to English via the AI function
  * (`auxillary_dims.py:14-27,64-67`), then
  * flattens each linkage × reference pair with a left join to appid-grain
  * `dim_*` tables (`auxillary_dims.py:73-97` — J1).
  *
  * Scale: reference dims are tiny → the flatten join broadcasts; the only
  * shuffle-bearing frame is the linkage scan itself.
  */
final class AuxDimsJob(spark: SparkSession, store: TableStore,
                       config: PipelineConfig, translator: LlmClient) {

  private val translateUdf = {
    val t = translator
    // prompt shape ≙ CONCAT('Task: Translate…', name) — `auxillary_dims.py:19-25`
    udf((name: String) =>
      if (name == null) null else t.query("offline-dict", name))
  }

  /** Linkage-table config ≙ `auxillary_dims.py:73-90`. */
  private val linkageRefs = Map(
    "application_categories" -> ("categories", "category_id"),
    "application_genres" -> ("genres", "genre_id"),
    "application_developers" -> ("developers", "developer_id"),
    "application_publishers" -> ("publishers", "publisher_id"))

  def run(): Unit = {
    val files = LandingZone.route(config.rawLocation)

    // read the reference dims and linkages this landing zone holds
    // (`auxillary_dims.py:48-69`) as local frames: nothing outlives the
    // run, so a file gone from the zone cannot be flattened from an
    // earlier run's state
    val refs: Map[String, DataFrame] = files.collect {
      case LandingZone.StandardDim(path, table) =>
        table -> CsvSource.read(spark, path, Schemas.refDim)
      case LandingZone.TranslatedDim(path, table) =>
        table -> CsvSource.read(spark, path, Schemas.refDim)
          .withColumn("name", translateUdf(col("name")))
    }.toMap
    val links: Map[String, DataFrame] = files.collect {
      case LandingZone.Linkage(path, table, key) =>
        table -> CsvSource.read(spark, path, Schemas.linkage(key))
    }.toMap

    // flatten: linkage LEFT JOIN reference on key = id → dim_* tables
    // (`auxillary_dims.py:92-97`); dims are small → broadcast
    linkageRefs.foreach { case (linkTable, (refTable, key)) =>
      links.get(linkTable).foreach { link =>
        require(refs.contains(refTable), s"landing zone has " +
          s"$linkTable.csv but no $refTable.csv to flatten it with")
        val ref = broadcast(refs(refTable))
        val dim = link.join(ref, link(key) === ref(GameConstants.DimId), "left")
        store.save(dim, "dim", refTable)
      }
    }
  }
}
