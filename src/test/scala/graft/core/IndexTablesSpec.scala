package graft.core

import graft.SparkSpec
import graft.operators.Similarity
import graft.tools.SourceSites
import org.apache.spark.sql.functions._

/** The one index publish path: its step order, its rebuild over a
  * directory an in-memory catalog has forgotten, and a sweep that keeps
  * every saver on it.
  */
class IndexTablesSpec extends SparkSpec {
  import spark.implicits._

  test("publish drops every table marker first, then writes in order") {
    val labels = scala.collection.mutable.ArrayBuffer.empty[String]
    BuildSteps.hook = l => labels += l
    try IndexTables.publish(spark, "graft_it_order", "fam")(
      "a" -> IndexTables.single(Seq(1).toDF("x")),
      "b" -> IndexTables.bucketed(Seq(2).toDF("x"), 2, "x"),
      "marker" -> IndexTables.single(Seq(3).toDF("x")))
    finally BuildSteps.hook = _ => ()
    assert(labels.toSeq == Seq("fam:drop_marker", "fam:drop_b", "fam:drop_a",
      "fam:write_a", "fam:write_b", "fam:write_marker"))
    assert(IndexTables.read(spark, "graft_it_order", "fam", "b", "x")
      .as[Int].collect().toSeq == Seq(2))
    val e = intercept[IllegalArgumentException](
      IndexTables.read(spark, "graft_it_order", "fam", "b", "y"))
    assert(e.getMessage.contains("fam b table needs (y)"), e.getMessage)
  }

  test("a rebuild replaces a table directory the catalog has forgotten") {
    // an in-memory catalog loses its tables with the process, but their
    // directories stay in the warehouse: a stray file at each default
    // location stands in for the previous process's build
    val prefix = "graft_it_orphan"
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    Seq("centroids", "vectors").foreach { t =>
      assert(!spark.catalog.tableExists(s"${prefix}_$t"))
      val dir = java.nio.file.Paths.get(warehouse, s"${prefix}_$t")
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.write(dir.resolve("part-stray.parquet"),
        "stale".getBytes)
    }
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = Similarity.ivfIndex(emb, "vec_id", "embedding", nCentroids = 4)
    Similarity.saveIvfIndexBucketed(idx, prefix, nBuckets = 2)
    val loaded = graft.operators.IvfTables.load(spark, prefix)
    assert(loaded.centroids.map(_.toSeq).toSeq == idx.centroids.map(_.toSeq).toSeq)
    assert(loaded.vectors.count() == emb.count())
  }

  test("no operator hand-writes a publish step or a DROP TABLE") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"expected source root at ${root.getAbsolutePath}")
    def files(pattern: String): Seq[String] =
      SourceSites.scanTree(root, pattern.r).map(_.file).distinct
    val steps = files("BuildSteps\\s*\\.\\s*step\\s*\\(")
    assert(steps == Seq("core/IndexTables.scala"), steps)
    val drops = files("(?i)DROP\\s+TABLE").filter(_.startsWith("operators/"))
    assert(drops.isEmpty, drops)
  }
}
