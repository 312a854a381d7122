package graft.queries

/** Superlinearity sweep — the dc2 lesson made automatic: an operator
  * whose timed cost grows ~quadratically (or with the CORPUS instead of
  * the batch) shows up as runtime growth far beyond the 10× data growth
  * between sf0.01 and sf0.1. The repo caught two such paths by hand
  * (dc2's in-query closure rebuild: 14.2 s; the exact pair join's 89× at
  * 10× corpus); this main sweeps the WHOLE catalog and prints every
  * query whose growth exceeds the suspect threshold.
  *
  * Method: per query per SF, two noop-materialized runs, keep the min
  * (strips one-time JIT/codegen and, for compute-if-absent entries, the
  * state build — so the measured quantity is the operator's steady-state
  * cost, the thing that must stay linear). Fixed overhead (~0.3 s of job
  * scheduling at these SFs) DILUTES real growth, so the 30× flag line is
  * conservative for DOCUMENT/ORDERS-grain queries (those tables grow 10×:
  * a clean quadratic shows 50-90×, linear families measure 1-4×). The
  * EMBEDDINGS table grows only 4× between these SFs (500 → 2000 rows) —
  * its quadratic signature is ~7-16× (the exact `sim5` measures 6.9-8.6×),
  * so embedding-family regressions are judged against the tighter
  * per-family bounds in [[ScalingSpec]], not this report's flag line.
  *
  * Run: `sbt "Test/runMain graft.queries.ScalingAudit [only,names] [loDir hiDir]"`
  * — dirs default to sf0.01/sf0.1. Two args are read as (loDir, hiDir)
  * with no filter (`-` also stands for "no filter" in the 3-arg form);
  * e.g. pass `local-data/sf1` (TestDataGen) as hiDir for the sf0.1→sf1
  * tier (SCALE_SF1.md). A filter that matches no catalog query fails
  * loudly rather than printing an empty report.
  * [[ScalingSpec]] asserts the bound in CI for a bounded set of
  * historically-risky families; this main is the full-catalog report.
  */
object ScalingAudit {

  final case class Measure(name: String, lo: Double, hi: Double) {
    def ratio: Double =
      if (lo > 0 && hi > 0) hi / lo else Double.NaN
    def suspect(threshold: Double): Boolean =
      ratio.isNaN || ratio >= threshold
  }

  /** Best-of-`reps` noop materialization, -1 on failure. NonFatal only —
    * an OOM or interrupt must propagate, not masquerade as a NaN-ratio
    * "suspect" row; and the message is recorded so a crashing query is
    * diagnosable from the CI log rather than indistinguishable from a
    * scaling regression.
    */
  def time(spark: org.apache.spark.sql.SparkSession, name: String,
           dir: String, reps: Int = 2): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      try graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[scaling] $name @ $dir FAILED: " +
          s"${e.getClass.getSimpleName}: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }
    val ts = Seq.fill(reps)(once())
    if (ts.exists(_ < 0)) -1.0 else ts.min
  }

  def sweep(spark: org.apache.spark.sql.SparkSession, names: Seq[String],
            loDir: String, hiDir: String, reps: Int = 2): Seq[Measure] =
    names.map { n =>
      val m = Measure(n, time(spark, n, loDir, reps),
        time(spark, n, hiDir, reps))
      spark.catalog.clearCache()
      System.gc()
      m
    }

  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.builder(cores = 8,
      appName = "graft-scaling-audit").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // 0 args: full catalog, default dirs. 1: filter. 2: (loDir, hiDir).
    // 3: filter + dirs ('-' = no filter).
    val (filterArg, dirArgs) = args.length match {
      case 2 => (None, Some((args(0), args(1))))
      case n if n >= 3 => (Some(args(0)), Some((args(1), args(2))))
      case _ => (args.headOption, None)
    }
    val only = filterArg.filter(_ != "-")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val (loDir, hiDir) = dirArgs.getOrElse(
      ("/root/testdata/sf0.01", "/root/testdata/sf0.1"))
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    only.foreach { o =>
      val unknown = o -- names.toSet
      require(unknown.isEmpty,
        s"filter names match no catalog query: ${unknown.mkString(", ")}")
    }
    val rows = sweep(spark, names, loDir, hiDir)
    val threshold = 30.0
    val (loName, hiName) =
      (new java.io.File(loDir).getName, new java.io.File(hiDir).getName)
    println(f"${"query"}%-32s $loName%8s $hiName%8s ${"ratio"}%7s")
    rows.sortBy(m => -(if (m.ratio.isNaN) Double.MaxValue else m.ratio))
      .foreach { m =>
        val mark = if (m.suspect(threshold)) "  <-- SUSPECT O(n^2)/O(corpus)"
                   else ""
        println(f"${m.name}%-32s ${m.lo}%8.3f ${m.hi}%8.3f ${m.ratio}%7.1f$mark")
      }
    val bad = rows.filter(_.suspect(threshold))
    println(s"\n${rows.length} queries, ${bad.length} suspect (>=${threshold}x " +
      "growth at 10x data, or failed)")
    spark.stop()
  }
}
