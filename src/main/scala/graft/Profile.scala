package graft

import org.apache.spark.scheduler._

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Per-query job/stage profiler (optimization guide §1: measure first).
  *
  * At sf0.1 the whole dataset is ~17 MB, so a catalog query's wall time
  * is dominated by FIXED costs — how many Spark jobs (actions) it fires,
  * how many stages (= exchanges + scans) each runs, and scheduling of
  * how many tasks — not by bytes. Those same counts are the 100 TB
  * story too: an extra action is an extra full pass over the input, an
  * extra exchange is an extra shuffle of it. This tool runs each query
  * exactly the way Bench times it (same session confs, warm second run,
  * noop sink) with a listener attached and prints one line per query:
  *
  *   name wall_s jobs stages tasks taskTime_s shufRead_MB shufWrite_MB input_MB
  *
  * sorted by wall time, plus a total. Queries whose `jobs` is high are
  * paying for eager driver-side actions inside the operator (collects,
  * state writes, AQE materializations); queries whose `stages`/`jobs`
  * ratio is high carry long shuffle chains.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=… sbt "runMain graft.Profile [query,…]"`.
  * Not a query path; the listener only reads scheduler events.
  */
object Profile {
  final class Acc extends SparkListener {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskTimeMs = new AtomicLong
    val shufRead = new AtomicLong
    val shufWrite = new AtomicLong
    val input = new AtomicLong
    val detail = sys.env.get("SPARK_GRAFT_PROFILE_DETAIL").contains("1")
    @volatile var t0 = 0L
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      if (detail) {
        val site = j.stageInfos.lastOption.map(_.name.take(90)).getOrElse("?")
        println(f"[job] +${(System.nanoTime() - t0) / 1e9}%7.3f  #${j.jobId}%-4d " +
          f"stages=${j.stageInfos.size}%-3d $site")
      }
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val sc = s.stageInfo
      tasks.addAndGet(sc.numTasks)
      taskTimeMs.addAndGet(sc.taskMetrics.executorRunTime)
      shufRead.addAndGet(sc.taskMetrics.shuffleReadMetrics.totalBytesRead)
      shufWrite.addAndGet(sc.taskMetrics.shuffleWriteMetrics.bytesWritten)
      input.addAndGet(sc.taskMetrics.inputMetrics.bytesRead)
    }
    def reset(): Unit = {
      jobs.set(0); stages.set(0); tasks.set(0); taskTimeMs.set(0)
      shufRead.set(0); shufWrite.set(0); input.set(0)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val acc = new Acc
    spark.sparkContext.addSparkListener(acc)

    def run(name: String): Unit = {
      spark.sparkContext.setJobDescription(name)
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      spark.sparkContext.setJobDescription(null)
    }
    val only = args.headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))

    val rows = names.flatMap { n =>
      try {
        run(n) // warm run: JIT, codegen, footer caches, one-time state
        spark.catalog.clearCache(); System.gc()
        // settle the listener bus so the warm run's events don't leak
        // into the measured window
        Thread.sleep(200); acc.reset()
        val t0 = System.nanoTime()
        acc.t0 = t0
        run(n)
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200) // let the async listener bus drain
        val r = (n, wall, acc.jobs.get, acc.stages.get, acc.tasks.get,
          acc.taskTimeMs.get / 1e3, acc.shufRead.get / 1e6,
          acc.shufWrite.get / 1e6, acc.input.get / 1e6)
        spark.catalog.clearCache(); System.gc()
        Some(r)
      } catch { case scala.util.control.NonFatal(e) =>
        println(f"[profile] $n FAILED: ${e.getMessage}")
        None
      }
    }
    println(f"${"query"}%-32s ${"wall_s"}%7s ${"jobs"}%5s ${"stg"}%5s " +
      f"${"tasks"}%6s ${"task_s"}%7s ${"shR_MB"}%7s ${"shW_MB"}%7s ${"in_MB"}%7s")
    rows.sortBy(-_._2).foreach { case (n, w, j, st, t, ts, sr, sw, in) =>
      println(f"$n%-32s $w%7.3f $j%5d $st%5d $t%6d $ts%7.2f $sr%7.2f $sw%7.2f $in%7.2f")
    }
    println(f"TOTAL wall ${rows.map(_._2).sum}%.1f s  jobs ${rows.map(_._3).sum}  " +
      f"stages ${rows.map(_._4).sum}  tasks ${rows.map(_._5).sum}")
    spark.stop()
    graft.queries.QueryUtil.deleteScopedState(spark)
  }
}
