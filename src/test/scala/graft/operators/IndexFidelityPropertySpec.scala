package graft.operators

import graft.SparkSpec
import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.graftbridge.SpecBridge
import org.scalacheck.{Gen, Prop, Test => SCTest}
import java.util.concurrent.atomic.AtomicInteger

/** Save/load fidelity of the bucketed stored indexes on RANDOM inputs —
  * the fixture-based specs pin frame-identity and exchange elision on one
  * corpus shape; these properties pin that the parquet/metastore
  * roundtrip (bucketed layouts, one-row metas read by name, centroid
  * tables) reproduces the in-query results on arbitrary corpora and
  * query/batch sides, including shapes the fixtures don't reach (unicode
  * text, empty tokens, duplicated vectors forcing cosine ties).
  */
class IndexFidelityPropertySpec extends SparkSpec {
  import spark.implicits._

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(3)
  private val runId = new AtomicInteger(0)

  /** Checks `prop`, and that no task failed while it ran: a task that
    * reads a dropped table fails in a job nobody awaits, so the property
    * itself would still pass.
    */
  private def check(prop: Prop): Unit = {
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.reason != Success)
          failures.add(s"stage ${e.stageId}: ${e.reason.toString.take(300)}")
    }
    spark.sparkContext.addSparkListener(listener)
    val res =
      try SCTest.check(params, prop)
      finally {
        SpecBridge.drainListeners(spark)
        spark.sparkContext.removeSparkListener(listener)
      }
    assert(res.passed, res.status.toString) // status carries the counterexample
    assert(failures.isEmpty, failures.toArray.mkString("\n"))
  }

  /** AQE can answer an action before every stage it submitted has
    * finished: once one join side materializes empty, the join becomes an
    * empty relation and the stages already running for the other side
    * (here the scan of `<prefix>_banded`) run out in the background.
    * Dropping a table under them fails their tasks with FILE_NOT_EXIST, so
    * the drop waits for the session's jobs to finish first.
    */
  private def dropAll(prefix: String, suffixes: Seq[String]): Unit = {
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty) {
      assert(System.nanoTime() < deadline, "jobs still running 60 s after the action")
      Thread.sleep(10)
    }
    suffixes.foreach(s => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$s"))
  }

  test("bucketed IVF index roundtrip: ivfTopKFromIndex == in-query ivfTopK") {
    val vecsGen = Gen.listOfN(12, Gen.listOfN(4,
      Gen.choose(-3, 3).map(_.toFloat)).suchThat(_.exists(_ != 0f)))
      .map(_.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) })
    val qGen = Gen.listOfN(3, Gen.listOfN(4,
      Gen.choose(-3, 3).map(_.toFloat)).suchThat(_.exists(_ != 0f)))
      .map(_.zipWithIndex.map { case (v, i) => (100L + i, v.toArray) })
    check(Prop.forAll(vecsGen, qGen, Gen.choose(1, 3)) { (cs, qs, k) =>
      val prefix = s"graft_ivf_fid_${runId.incrementAndGet()}"
      val corpus = cs.toDF("vec_id", "embedding")
      val queries = qs.toDF("vec_id", "embedding")
      val index = Similarity.ivfIndex(corpus, "vec_id", "embedding", 3)
      try {
        Similarity.saveIvfIndexBucketed(index, prefix, nBuckets = 2)
        def rows(df: org.apache.spark.sql.DataFrame) =
          df.as[(Long, Long, Int, BigDecimal)].collect()
            .map { case (q, nb, r, c) => (q, nb, r, c.doubleValue) }.toSet
        val inQuery = rows(Similarity.ivfTopK(index, queries,
          "vec_id", "embedding", k, nProbe = 2))
        val fromTables = rows(Similarity.ivfTopKFromIndex(
          spark.table(s"${prefix}_centroids"),
          spark.table(s"${prefix}_vectors"),
          queries, "vec_id", "embedding", k, nProbe = 2))
        fromTables == inQuery
      } finally dropAll(prefix, Seq("centroids", "vectors"))
    })
  }

  test("bucketed LSH index roundtrip: banded-index pairs == in-plan cross pairs") {
    val vocab = Vector("alpha", "beta", "Σίγμα", "gamma", "delta", "")
    val docsGen = Gen.listOfN(8, Gen.listOfN(6, Gen.oneOf(vocab))
      .map(_.mkString(" ")))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    val batchGen = docsGen.map(_.take(4).map { case (id, t) => (100L + id, t) })
    check(Prop.forAll(docsGen, batchGen) { (corpus, batch) =>
      val prefix = s"graft_lsh_fid_${runId.incrementAndGet()}"
      val cDf = corpus.toDF("doc_id", "text")
      val bDf = batch.toDF("doc_id", "text")
      try {
        TextDedup.saveLshIndexBucketed(cDf, "doc_id", "text", prefix,
          nBuckets = 2, n = 2, numHashes = 8, bands = 4)
        def pairs(df: org.apache.spark.sql.DataFrame) = df
          .select("corpus_id", "batch_id", "jaccard")
          .as[(Long, Long, BigDecimal)].collect()
          .map { case (a, b, j) => (a, b, j.doubleValue) }.toSet
        val inPlan = pairs(TextDedup.crossMinHashLshPairs(cDf, bDf,
          "doc_id", "text", n = 2, numHashes = 8, bands = 4,
          minJaccard = 0.3))
        val fromIndex = pairs(TextDedup.crossLshPairsFromBandedIndex(
          spark, prefix, bDf, "doc_id", "text", minJaccard = 0.3))
        fromIndex == inPlan
      } finally dropAll(prefix, Seq("meta", "banded", "sets"))
    })
  }
}
