package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** The benchmark's session: the same confs `graft.Bench` runs under
  * (`local[nproc]`, shuffle partitions = nproc, AQE on, UTC,
  * `maxPartitionBytes=4m`), plus a warehouse and scratch dir inside the
  * run's work directory so a run never writes outside it.
  */
object BenchSession {

  /** The confs the benchmark shares with `graft.Bench`; reported with the
    * result so a later change to either can be compared against it.
    */
  val sharedKeys: Seq[String] = Seq("spark.master", "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled", "spark.sql.session.timeZone",
    "spark.sql.files.maxPartitionBytes", "spark.sql.legacy.parquet.nanosAsLong",
    "spark.ui.enabled", "spark.sql.autoBroadcastJoinThreshold")

  def cores: Int = Runtime.getRuntime.availableProcessors()

  def start(workDir: File): SparkSession = {
    val n = cores.toString
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(workDir, "spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def effectiveConf(spark: SparkSession): Map[String, String] =
    sharedKeys.map(k => k -> spark.conf.getOption(k).getOrElse("<default>")).toMap
}

/** Minimal JSON writer (the benchmark adds no dependency). */
object Json {
  def str(s: String): String = graft.util.JsonEscape.quote(s)

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(apply).mkString("[", ",", "]")
    case o: Option[_] => o.map(apply).getOrElse("null")
    case other => str(other.toString)
  }

  def write(f: File, v: Any): Unit =
    Files.write(f.toPath, apply(v).getBytes(StandardCharsets.UTF_8))
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Peak resident set of this process (Linux `VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists()) return Runtime.getRuntime.totalMemory() / 1048576.0
    val src = scala.io.Source.fromFile(f)
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Outcome of one run, written as JSON for `run.py` to finish.
  *
  * `metrics` are the end-to-end metrics by the benchmark's shared names;
  * `report` carries the workload's own metric names with units; `layer`
  * holds per-layer counts measured in the JVM (the span-derived numbers
  * are added by `run.py` from `spans`).
  */
final class RunResult {
  var attempted = 0L
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val report = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val extra = scala.collection.mutable.LinkedHashMap.empty[String, Any]

  def fail(msg: String): Unit = failures += msg

  /** Records a failed output check. */
  def check(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)

  def toMap: Map[String, Any] = Map(
    "attempted" -> attempted,
    "failed_checks" -> failures.toSeq,
    "metrics" -> metrics,
    "report" -> report.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
    "layer" -> layer,
    "extra" -> extra)
}
