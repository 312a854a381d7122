package graft.queries

import graft.SparkSpec

/** mh1 and dc2 probe one stored corpus LSH index, built once per dataset
  * and application, and dc2's converged closure is built once: a second
  * run of either entry publishes nothing and returns the same rows.
  */
class CorpusLshStateSpec extends SparkSpec {
  private val sf = CatalogPlans.defaultSf

  test("mh1 and dc2 build the shared LSH index once and reuse their " +
      "state on a second run") {
    // another suite in this JVM may have run the entries already: drop
    // their scoped tables so the build is observed from absent, once the
    // session's jobs are done (no stage may still read them)
    while (spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty)
      Thread.sleep(10)
    for ((tag, tables) <- Seq("lsh" -> Seq("meta", "banded", "sets"),
                              "dc2" -> Seq("clusters")); t <- tables)
      spark.sql(s"DROP TABLE IF EXISTS ${QueryUtil.scopedTable(spark, sf, tag)}_$t")
    val steps = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    def run(q: String): (Seq[String], Seq[String]) = {
      val before = steps.size
      val rows = graft.SparkEntry.queries(q)(spark, sf).collect()
        .map(_.toString).sorted.toSeq
      (steps.toArray(Array.empty[String]).drop(before).toSeq, rows)
    }
    graft.core.BuildSteps.hook = l => steps.add(l)
    try {
      val (mh1Steps, mh1Rows) = run("mh1_signature_reuse")
      val (mh1Again, mh1RowsAgain) = run("mh1_signature_reuse")
      val (dc2Steps, dc2Rows) = run("dc2_incremental_clusters")
      val (dc2Again, dc2RowsAgain) = run("dc2_incremental_clusters")
      val all = mh1Steps ++ mh1Again ++ dc2Steps ++ dc2Again
      assert(all.count(_ == "lsh:write_sets") == 1, all)
      assert(all.count(_ == "dc2:write_clusters") == 1, all)
      assert(mh1Again.isEmpty && dc2Again.isEmpty, (mh1Again, dc2Again))
      assert(mh1Rows.nonEmpty && mh1Rows == mh1RowsAgain)
      assert(dc2Rows.nonEmpty && dc2Rows == dc2RowsAgain)
    } finally graft.core.BuildSteps.hook = _ => ()
  }
}
