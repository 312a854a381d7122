package graft

/** Plan-dump tool (optimization guide §1/§7.2): writes
  * `explain("formatted")` for every declared catalog query to one file
  * per query, so plan-shape claims (Exchange count, join strategy,
  * PushedFilters/ReadSchema) can be diffed before/after a change and
  * committed as round evidence (`plans/r<N>/<query>_{before,after}.txt`).
  *
  * Usage: `sbt "runMain graft.PlanDump <outDir> [query,query,...]"` with
  * the same `SPARK_GRAFT_SF_DIR` / `SPARK_GRAFT_CPUS` contract and the
  * same [[graft.core.Sessions]] profile as Bench, so the dumped plan is
  * the one the bench actually times (same confs, same AQE seed state).
  * Not a query path: nothing here executes a plan.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft-plans")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val only = args.drop(1).headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/$n.txt"), txt)
        println(s"[plandump] $n ok (${txt.length} chars)")
      } catch { case scala.util.control.NonFatal(e) =>
        // a query that mutates state in construction (upsert/compaction
        // entries) may refuse on a dirty tmp dir; record, don't abort
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/$n.txt"),
          s"PLAN UNAVAILABLE: ${e.getClass.getName}: ${e.getMessage}\n")
        println(s"[plandump] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
    graft.queries.QueryUtil.deleteScopedState(spark)
  }
}
