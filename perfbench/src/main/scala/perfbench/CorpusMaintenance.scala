package perfbench

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.core.{Compaction, PipelineConfig, TableStore}
import graft.operators.{Curation, SemanticDedup, TextDedup, VectorStats}

/** `corpus_maintenance`: a documents + embeddings corpus, partitioned by
  * `source`, takes one batch per round: curate it, find its text and
  * semantic duplicates against the corpus, upsert the survivors, compact
  * the recently written partitions every other round, and re-standardize
  * the embeddings over the whole corpus.
  */
final class CorpusMaintenance(seed: Long) extends Workload {
  val corpusDocs = 8000
  val batchDocs = 800
  val compactTargetRows = 4000L
  val semanticThreshold = 0.98

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType), StructField("embedding", ArrayType(FloatType))))

  private var inputs: CorpusInputs = _
  private var store: TableStore = _
  private var dir: File = _
  private def fqn = store.fqn("corpus", "docs")

  def setup(spark: SparkSession, dir: File): Unit = {
    this.dir = dir
    inputs = new CorpusInputs(seed, corpusDocs, batchDocs)
    val in = new File(dir, "corpus_in")
    inputs.writeCorpus(in)
    store = new TableStore(spark, PipelineConfig(catalog = "lake", schema = "corpus"))
    store.savePartitioned(spark.read.schema(schema).json(in.getAbsolutePath),
      "corpus", "docs", Seq("source"))
  }

  private def tableDir(spark: SparkSession): File = {
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $fqn")
      .filter(col("col_name") === "Location").select("data_type").head().getString(0)
    new File(new java.net.URI(loc))
  }

  /** Data files of the table by relative path, with their digests. */
  private def snapshot(root: File): Map[String, (Long, String)] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(root).filter(f => f.getName.endsWith(".parquet")).map { f =>
      val md = MessageDigest.getInstance("MD5").digest(Files.readAllBytes(f.toPath))
      root.toPath.relativize(f.toPath).toString ->
        (f.length, md.map(b => f"$b%02x").mkString)
    }.toMap
  }

  private def partitionOf(path: String): String = path.takeWhile(_ != '/')

  def measure(spark: SparkSession, ctx: RunContext): Unit = {
    val res = ctx.result
    val tracer = ctx.tracer
    val root = tableDir(spark)
    val roundSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val filesPerPartition = scala.collection.mutable.ArrayBuffer.empty[Double]
    val roundDocs = scala.collection.mutable.ArrayBuffer.empty[Int]
    var lshPairs, semPairs, filesWritten, bytesWritten = 0L
    var compactions, filesBefore, filesAfter = 0L
    var expectedRows = corpusDocs.toLong
    var round = 0
    while (ctx.moreOps(round, minOps = 3)) {
      val expect = inputs.writeBatch(new File(dir, s"batch-$round"), round)
      // every other round, once two rounds of upserts have landed
      val compactRound = round > 0 && round % 2 == 0
      val compactSources = (inputs.roundSources(round) ++
        (if (round > 0) inputs.roundSources(round - 1) else Nil)).distinct.sorted
      val predicate = compactSources.map(s => s"'src$s'").mkString("source IN (", ", ", ")")
      val before = snapshot(root)
      res.attempted += 1

      var newSurvivors = 0L
      var batch: DataFrame = null
      val (stats, secs) = Stats.timed(tracer.op("round", s"round-$round") {
        batch = spark.read.schema(schema)
          .json(new File(dir, s"batch-$round").getAbsolutePath)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val corpus = spark.table(fqn)
        val kept = tracer.span("operators.curate", "operators") {
          val k = Curation.curate(batch, "doc_id", "text").select("doc_id")
            .persist(StorageLevel.MEMORY_AND_DISK)
          k.count(); k
        }
        val lsh = tracer.span("operators.cross_lsh", "operators") {
          val p = TextDedup.crossMinHashLshPairs(corpus, batch, "doc_id", "text")
            .filter(col("corpus_id") =!= col("batch_id"))
            .select(col("batch_id").as("doc_id")).persist(StorageLevel.MEMORY_AND_DISK)
          lshPairs += p.count(); p
        }
        val sem = tracer.span("operators.semantic_pairs", "operators") {
          val p = SemanticDedup.incrementalPairs(corpus, batch, "doc_id", "embedding",
              nClusters = 16, threshold = semanticThreshold)
            .filter(col("new_id") =!= col("match_id"))
            .select(col("new_id").as("doc_id")).persist(StorageLevel.MEMORY_AND_DISK)
          semPairs += p.count(); p
        }
        tracer.span("core.upsert", "core") {
          val survivors = batch.join(kept, "doc_id")
            .join(lsh.union(sem).distinct(), Seq("doc_id"), "left_anti")
            .persist(StorageLevel.MEMORY_AND_DISK)
          // the write below invalidates this cache (it reads the table), so
          // the new-id count is taken with the materializing pass
          newSurvivors = survivors.agg(sum(when(col("doc_id") >= expect.firstNewId, 1)
            .otherwise(0))).head().getLong(0)
          store.upsert(survivors, "corpus", "docs", Seq("doc_id"))
          survivors.unpersist()
        }
        if (compactRound) {
          val (b, a) = tracer.span("core.compact", "core")(
            Compaction.compactPartitions(spark, fqn, predicate, compactTargetRows))
          compactions += 1; filesBefore += b; filesAfter += a
        }
        val stats = tracer.span("operators.standardize", "operators")(
          VectorStats.standardize(spark.table(fqn), "doc_id", "embedding")
            .groupBy("dim").agg(avg("z").as("mean"), stddev_pop("z").as("sd"),
              count(lit(1)).as("n")).collect())
        Seq(kept, lsh, sem).foreach(_.unpersist())
        stats
      })
      roundSecs += secs
      roundDocs += batchDocs + expect.rewrites

      // output checks, outside the timed round
      verifyStandardize(stats, round, res)
      batch.unpersist()
      val counts = spark.table(fqn).agg(count(lit(1)), countDistinct("doc_id")).head()
      val (rows, keys) = (counts.getLong(0), counts.getLong(1))
      res.check(rows == expectedRows + newSurvivors,
        s"round $round: $rows rows, expected $expectedRows + $newSurvivors new survivors")
      res.check(keys == rows, s"round $round: doc_id not unique ($keys keys, $rows rows)")
      expectedRows = rows
      val after = snapshot(root)
      val untouched = before.filter { case (p, _) =>
        !compactSources.exists(s => partitionOf(p) == s"source=src$s") }
      res.check(untouched.forall { case (p, v) => after.get(p).contains(v) },
        s"round $round: a partition outside $predicate changed")
      val fresh = after.keySet -- before.keySet
      filesWritten += fresh.size
      bytesWritten += fresh.toSeq.map(after(_)._1).sum
      val parts = after.keys.groupBy(partitionOf)
      filesPerPartition += after.size.toDouble / parts.size
      round += 1
    }

    // round 0 pays class loading and code generation
    val steady = roundSecs.drop(1).toSeq
    val steadyDocs = roundDocs.drop(1).sum.toDouble
    res.metrics("op_p50_ms") = Stats.median(steady) * 1e3
    res.metrics("items_per_s") = steadyDocs / steady.sum
    res.report("corpus.round_s") = (Stats.median(steady), "s")
    res.report("corpus.docs_per_s") = (steadyDocs / steady.sum, "docs/s")
    res.report("corpus.files_per_partition") = (filesPerPartition.sum / filesPerPartition.size, "files")
    res.report("corpus.rounds") = (roundSecs.length.toDouble, "rounds")

    val rounds = roundSecs.length.toDouble
    res.layer("operators.lsh_pairs") = lshPairs / rounds
    res.layer("operators.semantic_pairs_found") = semPairs / rounds
    res.layer("core.files_written") = filesWritten / rounds
    res.layer("core.mb_written") = bytesWritten / rounds / 1048576.0
    res.layer("core.files_before") = if (compactions == 0) 0.0 else filesBefore.toDouble / compactions
    res.layer("core.files_after") = if (compactions == 0) 0.0 else filesAfter.toDouble / compactions
    res.layer("core.files_per_partition") = filesPerPartition.sum / filesPerPartition.size
  }

  /** Standardized embeddings have mean 0 and unit deviation in each
    * non-constant dimension, over every corpus row.
    */
  private def verifyStandardize(stats: Array[org.apache.spark.sql.Row], round: Int,
                                res: RunResult): Unit = {
    res.check(stats.length == inputs.dim, s"round $round: standardize gave ${stats.length} dims")
    stats.foreach { r =>
      val (m, sd) = (r.getDouble(1), r.getDouble(2))
      res.check(math.abs(m) < 1e-6 && (sd == 0.0 || math.abs(sd - 1.0) < 1e-6),
        s"round $round: dim ${r.get(0)} standardized to mean $m, sd $sd")
    }
  }
}
