package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** End-to-end training-data curation: the dedup, quality and language
  * operators composed into the one-pass pipeline a 100TB pretraining-data
  * job runs —
  *
  *   exact dedup (keep min id per digest)
  *     → near-dup removal (MinHash-LSH pairs, drop the greater id)
  *     → quality gate → language gate
  *
  * Every stage is a declarative plan over the previous one (anti-joins
  * against compact key sets — no driver materialization of documents), so
  * the whole pipeline is one Catalyst-optimized DAG.
  */
object Curation {

  /** Near-dup "drop set": the greater id of every verified near-dup pair.
    * Greedy-by-id is deterministic and keeps exactly one representative of
    * every pairwise-connected group's minimum element chain.
    */
  def nearDupDrops(docs: DataFrame, idCol: String, textCol: String,
                   minJaccard: Double): DataFrame =
    TextDedup.minHashLshPairs(docs, idCol, textCol, minJaccard = minJaccard)
      .select(col("doc_b").as(idCol)).distinct()

  def curate(docs: DataFrame, idCol: String, textCol: String,
             minQuality: Double = 0.4, lang: String = "en",
             minJaccard: Double = 0.5): DataFrame = {
    val quality: Column =
      TextAnalysis.qualityScore(col(textCol)).cast("decimal(18,6)")

    // exact dedup: survivors are the min id of each distinct-text group
    val exactSurvivors = TextDedup
      .exactDupGroups(docs, idCol, textCol)
      .select(col("canonical_id").as(idCol))

    docs
      .join(exactSurvivors, idCol)
      .join(nearDupDrops(docs, idCol, textCol, minJaccard),
        Seq(idCol), "left_anti")
      .withColumn("quality", quality)
      // gate on the rounded decimal so the cut is engine-stable
      .filter(col("quality") >= minQuality)
      .withColumn("lang_guess", TextAnalysis.languageId(col(textCol)))
      .filter(col("lang_guess") === lang)
      .select(col(idCol), col("quality"), col("lang_guess"))
  }
}
