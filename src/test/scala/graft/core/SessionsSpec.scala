package graft.core

import graft.SparkSpec
import graft.tools.SourceSites

/** Pins the one session profile: its confs are the ones `graft.Bench` has
  * always timed under, the spec session really runs them, no second
  * `SparkSession.builder` can appear beside [[Sessions]], and no library
  * code changes a conf of the session it is handed.
  */
class SessionsSpec extends SparkSpec {

  /** Bench's confs at 4 cores, copied literally from its old builder. */
  private val benchConfs = Map(
    "spark.sql.shuffle.partitions" -> "4",
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.files.maxPartitionBytes" -> "4m")

  test("the profile is Bench's confs, with no broadcast threshold override") {
    assert(Sessions.confs(4) == benchConfs)
    assert(!Sessions.confs(4).contains("spark.sql.autoBroadcastJoinThreshold"))
  }

  test("the spec session runs the profile") {
    assert(spark.sparkContext.master == s"local[${SparkSpec.cores}]")
    Sessions.confs(SparkSpec.cores).foreach { case (k, v) =>
      assert(spark.conf.getOption(k).contains(v), k)
    }
  }

  test("no file under src/ but Sessions.scala builds a session") {
    val root = new java.io.File("src")
    assert(root.isDirectory, s"expected source root at ${root.getAbsolutePath}")
    val pattern = "SparkSession\\s*\\.\\s*builder\\b|^\\s*\\.builder\\s*\\(".r
    val files = SourceSites.scanTree(root, pattern).map(_.file).distinct
    assert(files == Seq("main/scala/graft/core/Sessions.scala"))
  }

  test("no file under src/main but Sessions.scala writes a session conf") {
    val root = new java.io.File("src/main")
    assert(root.isDirectory, s"expected source root at ${root.getAbsolutePath}")
    val pattern = ("\\bconf\\s*\\.\\s*(?:set|unset)\\w*\\s*\\(|" +
      "(?i)\\bsql\\s*\\(\\s*s?\"+\\s*(?:SET|RESET)\\b").r
    val sites = SourceSites.scanTree(root, pattern)
      .filterNot(_.file == "scala/graft/core/Sessions.scala")
    assert(sites.isEmpty, sites.mkString("\n"))
  }

  test("withConf unsets a key that was not set and restores one that was") {
    val unset = "spark.sql.autoBroadcastJoinThreshold"
    val set = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(set)
    assert(!spark.conf.getAll.contains(unset))
    withConf(unset -> "-1", set -> "7") {
      assert(spark.conf.get(unset) == "-1" && spark.conf.get(set) == "7")
    }
    assert(!spark.conf.getAll.contains(unset))
    assert(spark.conf.get(set) == before)
  }
}
