package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

trait Workload {
  /** Generates the inputs under `dir` and does the one-time publish or
    * seed; runs on a fresh session.
    */
  def setup(spark: SparkSession, dir: File): Unit

  /** The timed closed loop: one client, next operation after the last. */
  def measure(spark: SparkSession, ctx: RunContext): Unit
}

final class RunContext(val result: RunResult, val tracer: Tracer, seconds: Double) {
  private val t0 = System.nanoTime()

  /** Whether to start operation `done + 1`: until `seconds` have passed,
    * and at least `minOps` operations in any case.
    */
  def moreOps(done: Int, minOps: Int): Boolean =
    done < minOps || (System.nanoTime() - t0) / 1e9 < seconds
}

/** Entry point: `run <workload> <seed> <seconds> <trace 0|1> <workDir>
  * <resultFile>`, `gen <steam|corpus> <seed> <dir>`, or `stub-selftest`.
  */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3
  /** Fixed service time of the loopback sentiment stub: none, so a day's
    * scoring time is the client's request handling, not a simulated model.
    */
  val StubServiceMicros = 0L

  def workload(name: String, seed: Long, stub: LlmStub): Workload = name match {
    case "daily_etl" => new DailyEtl(seed, stub)
    case "metric_queries" => new MetricQueries(seed)
    case "corpus_maintenance" => new CorpusMaintenance(seed)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def main(args: Array[String]): Unit = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    args.toList match {
      case "run" :: name :: seed :: secs :: trace :: work :: out :: Nil =>
        run(name, seed.toLong, secs.toDouble, trace == "1", new File(work), new File(out))
      case "gen" :: kind :: seed :: dir :: Nil => generate(kind, seed.toLong, new File(dir))
      case "stub-selftest" :: Nil => stubSelfTest()
      case _ =>
        System.err.println("usage: run <workload> <seed> <seconds> <0|1> <workDir> <resultFile>" +
          " | gen <steam|corpus> <seed> <dir> | stub-selftest")
        sys.exit(2)
    }
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def run(name: String, seed: Long, seconds: Double, trace: Boolean, work: File,
          out: File): Unit = {
    val stub = new LlmStub(StubServiceMicros, BenchSession.cores)
    val wl = workload(name, seed, stub)
    val res = new RunResult
    var spark: SparkSession = null
    // each set-up starts a fresh session over an empty work directory
    val setups = (0 until SetupReps).map { rep =>
      if (spark != null) spark.stop()
      deleteTree(work)
      work.mkdirs()
      Stats.timed {
        spark = BenchSession.start(work)
        wl.setup(spark, new File(work, "data"))
      }._2
    }
    val tracer = new Tracer(trace, spark.sparkContext)
    try {
      wl.measure(spark, new RunContext(res, tracer, seconds))
      if (trace && name == "corpus_maintenance")
        Kernels.measure(spark, new CorpusInputs(seed, 2000, 0), res)
    } catch {
      case scala.util.control.NonFatal(e) =>
        res.fail(s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    } finally {
      stub.stop()
    }
    res.metrics("setup_s") = Stats.median(setups)
    res.metrics("peak_rss_mb") = Stats.peakRssMb()
    res.report("setup_s") = (Stats.median(setups), "s")
    res.report("peak_rss_mb") = (res.metrics("peak_rss_mb"), "MB")
    res.extra("setup_seconds") = setups
    res.extra("conf") = BenchSession.effectiveConf(spark)
    res.extra("stub_service_ms") = StubServiceMicros / 1e3
    res.extra("spans") = tracer.export()
    tracer.close()
    Json.write(out, res.toMap)
    spark.stop()
  }

  def generate(kind: String, seed: Long, dir: File): Unit = kind match {
    case "steam" =>
      val in = new SteamInputs(seed, 500, 2000)
      in.writeStatic(dir)
      (0 until 3).foreach(d => in.writeDay(dir, d))
    case "corpus" =>
      val in = new CorpusInputs(seed, 3000, 300)
      in.writeCorpus(new File(dir, "corpus"))
      (0 until 2).foreach(r => in.writeBatch(new File(dir, s"batch-$r"), r))
    case other => throw new IllegalArgumentException(s"unknown input kind: $other")
  }

  /** Round trips through `HttpLlmScorer` against the stub: prints the
    * median and p99 in ms and exits non-zero if the median exceeds
    * service time + 5 ms (a delayed-ACK stall costs about 40 ms).
    */
  def stubSelfTest(): Unit = {
    val stub = new LlmStub(StubServiceMicros, BenchSession.cores)
    try {
      val scorer = new graft.ai.HttpLlmScorer(stub.endpoint, "stub", LlmStub.PromptPrefix)
      val rubric = graft.ai.DeterministicRubricScorer()
      val texts = (0 until 400).map(i => s"review $i was ${if (i % 2 == 0) "great" else "boring"}")
      val ms = texts.map { t =>
        val (s, secs) = Stats.timed(scorer.score(t))
        require(s == rubric.score(t), s"stub answered $s for '$t'")
        secs * 1e3
      }.drop(50)
      val batched = scorer.scoreBatch(texts.iterator).toSeq
      require(batched == texts.map(rubric.score), "batched answers differ from the rubric")
      val p50 = Stats.median(ms)
      val p99 = Stats.quantile(ms, 0.99)
      println(f"stub round trip: p50 $p50%.3f ms, p99 $p99%.3f ms, " +
        f"requests ${stub.requests.get}, errors ${stub.errors.get}")
      val bound = StubServiceMicros / 1e3 + 5.0
      if (p50 > bound || stub.errors.get > 0) {
        System.err.println(f"stub round trip p50 $p50%.3f ms exceeds $bound%.1f ms")
        sys.exit(1)
      }
    } finally stub.stop()
  }
}
