package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: the [[graft.core.Sessions]] profile at
  * a fixed 4 cores, so specs do not depend on the host.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Runs `body` with the given session confs set, then restores each key:
    * a key that was set before gets its old value back, one that was not
    * is unset (re-setting the default would pin it explicitly). `getAll`
    * holds only explicitly set keys; `getOption` would report a default.
    */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val set = spark.conf.getAll
    val prev = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]

  /** A fresh directory `<system temp>/<prefix><random>`, deleted with
    * everything in it once the suite's tests have run.
    */
  def tempDir(prefix: String): java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs.add(dir)
    dir
  }

  override def afterAll(): Unit =
    try tempDirs.forEach(d => org.apache.commons.io.FileUtils.deleteDirectory(d))
    finally super.afterAll()
}

object SparkSpec {
  val cores = 4

  /** Register the functions [[GraftExtensions]] injects into `spark`'s
    * function registry, through the injected builders themselves — what
    * `spark.sql.extensions=graft.GraftExtensions` does at session start.
    */
  def injectExtensions(spark: SparkSession): Unit = {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions()(ext)
    org.apache.spark.sql.graftbridge.SpecBridge.registerFunctions(ext, spark)
  }

  /** One session for the whole test JVM; suites share it. Tests fork, so
    * the JVM exits after its suites: a shutdown hook then deletes the
    * session's warehouse and its application-scoped `/tmp` state. It is
    * ordered after Spark's own hook, which stops the context, and before
    * Hadoop closes its cached file systems.
    */
  lazy val session: SparkSession = {
    val warehouse = s"/tmp/graft-test-warehouse-${java.util.UUID.randomUUID()}"
    val s = graft.core.Sessions.builder(cores, "graft-test")
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(() => {
      graft.queries.QueryUtil.deleteScopedState(s)
      val root = new org.apache.hadoop.fs.Path(warehouse)
      root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
    }, org.apache.hadoop.fs.FileSystem.SHUTDOWN_HOOK_PRIORITY + 20)
    s
  }
}
