package graft.operators

import graft.SparkSpec
import graft.functions.ShingleHashes
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._

/** The one-pass shape of the MinHash-LSH cross probe, counted in the
  * EXECUTED (final adaptive) plan at sf0.001: each side is shingled once,
  * the stored `_banded` table is scanned once, and the one candidates
  * join shuffles each in-plan side's band keys once. Work the final plan
  * reuses (a `ReusedExchangeExec` stage) counts once, where it first ran.
  *
  * The batch is written to its own parquet directory, so a scan's path
  * tells the sides apart. The cross-form cases plan joins without
  * broadcasts, so every candidates-join input is a visible exchange.
  */
class LshProbePlanShapeSpec extends SparkSpec {

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("text"))
  private lazy val corpus = docs.filter(col("doc_id") % 10 =!= 0)

  /** The batch (doc_id ≡ 0 mod 10) as its own parquet directory. */
  private lazy val batchDir = {
    val path = new java.io.File(tempDir("graft-lsh-shape"), "batch")
      .getAbsolutePath
    docs.filter(col("doc_id") % 10 === 0).write.parquet(path)
    path
  }
  private lazy val batch = spark.read.parquet(batchDir)

  /** Every node the executed plan ran: through the adaptive wrapper and
    * its query stages, but not into a reused exchange.
    */
  private def ran(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => ran(a.executedPlan)
    case s: QueryStageExec => ran(s.plan)
    case _: ReusedExchangeExec => Nil
    case n => n.children.flatMap(ran)
  })

  private def executed(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    ran(df.queryExecution.executedPlan)
  }

  private def shingleRefs(n: SparkPlan): Int =
    n.expressions.map(_.collect { case e: ShingleHashes => e }.size).sum

  private def bandedScans(nodes: Seq[SparkPlan]): Int = nodes.count {
    case s: FileSourceScanExec =>
      s.tableIdentifier.exists(_.table.endsWith("_banded"))
    case _ => false
  }

  private case class Shape(corpusShingles: Int, batchShingles: Int,
                           bandedScans: Int, candidateExchanges: Int)

  private def shape(pairs: DataFrame): Shape = {
    val nodes = executed(pairs)
    def readsBatch(n: SparkPlan) = ran(n).exists {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.exists(_.toString.contains(batchDir))
      case _ => false
    }
    val (batchSide, corpusSide) =
      nodes.filter(shingleRefs(_) > 0).partition(readsBatch)
    Shape(
      corpusShingles = corpusSide.map(shingleRefs).sum,
      batchShingles = batchSide.map(shingleRefs).sum,
      bandedScans = bandedScans(nodes),
      candidateExchanges = nodes.count {
        case e: ShuffleExchangeExec => e.outputPartitioning match {
          case h: HashPartitioning => h.expressions.exists {
            case a: AttributeReference => a.name == "bh"
            case _ => false
          }
          case _ => false
        }
        case _ => false
      })
  }

  test("in-plan cross form: each side shingled once, one candidates join") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val s = shape(TextDedup.crossMinHashLshPairs(corpus, batch,
        "doc_id", "text"))
      assert(s == Shape(corpusShingles = 1, batchShingles = 1,
        bandedScans = 0, candidateExchanges = 2), s)
    }
  }

  test("stored cross form: _banded scanned once, batch shingled once") {
    TextDedup.saveLshIndexBucketed(corpus, "doc_id", "text",
      tablePrefix = "graft_lsh_shape", nBuckets = 4)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val s = shape(TextDedup.crossLshPairsFromBandedIndex(spark,
        "graft_lsh_shape", batch, "doc_id", "text"))
      // the stored (band, bh) buckets take the corpus side of the
      // candidates join: only the batch's band keys shuffle
      assert(s == Shape(corpusShingles = 0, batchShingles = 1,
        bandedScans = 1, candidateExchanges = 1), s)
    }
  }

  test("mh1's executed plan scans _banded once and shingles the batch once") {
    val nodes = executed(graft.SparkEntry.queries("mh1_signature_reuse")(
      spark, "/root/testdata/sf0.001"))
    val shingles = nodes.map(shingleRefs).sum
    assert((bandedScans(nodes), shingles) == (1, 1),
      s"_banded scans ${bandedScans(nodes)}, ShingleHashes references $shingles")
  }
}
