package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Persisted-IVF contract over the stored tables
  * ([[Similarity.saveIvfIndexBucketed]]): the save → load → query path
  * must be frame-identical to querying the in-memory index (same
  * centroids, same assignments, same ranking), the load path must not
  * train, and malformed index tables must fail loudly (the rule the
  * LSH index's stored meta follows), not return silently-wrong neighbors.
  */
class IvfPersistSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
  private lazy val qs = emb.filter($"vec_id" < 8)

  private def prefix =
    s"graft_ivf_spec_${java.util.UUID.randomUUID().toString.replace("-", "")}"

  test("save → load → topk is frame-identical to the in-memory index") {
    val idx = Similarity.ivfIndex(emb, "vec_id", "embedding", nCentroids = 8)
    val mem = Similarity.ivfTopK(idx, qs, "vec_id", "embedding",
      k = 5, nProbe = 4).collect().map(_.toSeq).toSet
    val p = prefix
    Similarity.saveIvfIndexBucketed(idx, p, nBuckets = 4)
    val disk = Similarity.ivfTopKFromIndex(
      spark.table(p + "_centroids"), spark.table(p + "_vectors"),
      qs, "vec_id", "embedding", k = 5, nProbe = 4)
      .collect().map(_.toSeq).toSet
    assert(mem == disk)
    assert(mem.nonEmpty)
  }

  test("loaded centroids reproduce the trained matrix exactly") {
    val idx = Similarity.ivfIndex(emb, "vec_id", "embedding", nCentroids = 8)
    val p = prefix
    Similarity.saveIvfIndexBucketed(idx, p, nBuckets = 4)
    val loaded = IvfTables.load(spark, p)
    assert(loaded.centroids.length == idx.centroids.length)
    idx.centroids.zip(loaded.centroids).foreach { case (a, b) =>
      assert(a.toSeq == b.toSeq) // parquet DOUBLE roundtrip is bit-exact
    }
  }

  test("malformed index tables fail loudly") {
    val idx = Similarity.ivfIndex(emb, "vec_id", "embedding", nCentroids = 8)
    val p = prefix
    Similarity.saveIvfIndexBucketed(idx, p, nBuckets = 4)
    val goodC = spark.table(p + "_centroids")
    val goodV = spark.table(p + "_vectors")
    // wrong vectors table (missing the assignment column)
    val e1 = intercept[IllegalArgumentException] {
      Similarity.loadIvfIndex(goodC, goodV.drop("centroid"))
    }
    assert(e1.getMessage.contains("vectors table"), e1.getMessage)
    // wrong centroid table shape
    val e2 = intercept[IllegalArgumentException] {
      Similarity.loadIvfIndex(goodC.withColumnRenamed("centroid_id", "cid"), goodV)
    }
    assert(e2.getMessage.contains("centroid table"), e2.getMessage)
    // non-dense centroid ids (e.g. a partial write) must not silently
    // mis-route probes
    val e3 = intercept[IllegalArgumentException] {
      Similarity.loadIvfIndex(
        goodC.withColumn("centroid_id", $"centroid_id" + 1), goodV)
    }
    assert(e3.getMessage.contains("dense"), e3.getMessage)
    // empty centroid table
    val e4 = intercept[IllegalArgumentException] {
      Similarity.loadIvfIndex(goodC.filter(lit(false)), goodV)
    }
    assert(e4.getMessage.contains("empty"), e4.getMessage)
    // the table read refuses a missing table and a wrong column set
    val e5 = intercept[IllegalArgumentException] {
      graft.core.IndexTables.read(spark, p + "_absent", "ivf", "centroids",
        "centroid_id", "centroid")
    }
    assert(e5.getMessage.contains("does not exist"), e5.getMessage)
    goodV.withColumn("extra", lit(1)).createOrReplaceTempView(p + "x_vectors")
    goodC.createOrReplaceTempView(p + "x_centroids")
    val e6 = intercept[IllegalArgumentException] {
      IvfTables.load(spark, p + "x")
    }
    assert(e6.getMessage.contains("vectors table"), e6.getMessage)
    Seq("x_vectors", "x_centroids").foreach(t => spark.catalog.dropTempView(p + t))
  }
}
