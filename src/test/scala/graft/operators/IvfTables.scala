package graft.operators

import graft.core.IndexTables
import org.apache.spark.sql.SparkSession

/** Loads an index stored by [[Similarity.saveIvfIndexBucketed]] through
  * [[IndexTables.read]], so each table's existence and column set are
  * checked before [[Similarity.loadIvfIndex]] validates the contents.
  */
object IvfTables {
  def load(spark: SparkSession, prefix: String): IvfIndex =
    Similarity.loadIvfIndex(
      IndexTables.read(spark, prefix, "ivf", "centroids",
        "centroid_id", "centroid"),
      IndexTables.read(spark, prefix, "ivf", "vectors",
        "vid", "v", "nrm", "centroid"))
}
