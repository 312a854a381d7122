package graft.core

import graft.SparkSpec
import graft.pipeline.{Pipeline, Stage}
import org.apache.spark.sql.functions._

/** Concurrent pipeline stages share one session, and dynamic partition
  * overwrites set `spark.sql.sources.partitionOverwriteMode` on it for the
  * write: two same-wave stages upserting into separate partitioned tables
  * must each replace only their touched partitions, and leave the conf
  * as they found it.
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
}
