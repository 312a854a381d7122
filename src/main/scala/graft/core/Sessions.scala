package graft.core

import org.apache.spark.sql.SparkSession

/** The one session profile every entry point runs under: Bench, Verify,
  * Profile, PlanDump, the specs and the test-data generator all build
  * their session here, so a plan measured by one tool is the plan the
  * others run.
  *
  * The profile is local mode: `local[cores]` with `cores` static shuffle
  * partitions, which AQE re-coalesces after each shuffle. Callers add
  * deployment paths only (a warehouse dir), never a conf that changes
  * what a query plans.
  */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, read once: the core count every tool defaults to. */
  private lazy val defaultCores: Int =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The profile's confs for `cores` cores, without `spark.master`. */
  def confs(cores: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    // legacy events.parquet generations carry TIMESTAMP(NANOS) (read as
    // LONG under this flag); current ones ship native µs — see
    // QueryUtil.events, which normalizes either shape to TIMESTAMP
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // local-mode scan parallelism: harness files are a few MB, so the
    // 128MB default gives single-task scans; clusters keep the default
    "spark.sql.files.maxPartitionBytes" -> "4m")

  /** A builder carrying the profile; the caller may add deployment paths
    * and calls `getOrCreate()`.
    */
  def builder(cores: Int = defaultCores,
              appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder().master(s"local[$cores]").appName(appName)
      .config(confs(cores))
}
