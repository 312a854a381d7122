package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Crash-injection property over the THREE bucketed index savers (LSH,
  * IVF, semantic), via the [[graft.core.BuildSteps]]
  * seam: a crash injected before EVERY mutating step of a rebuild over
  * an existing complete index must leave the on-disk state in exactly
  * one of two readable conditions —
  *
  *   - crash before the FIRST step (nothing mutated): every consumer
  *     still serves the OLD index, result-identical to pre-rebuild;
  *   - crash anywhere after: every consumer fails LOUDLY (missing
  *     table / corrupt-meta validation) — never a silent readable mix
  *     of the two builds;
  *
  * and re-running the build over any crash state must recover to a
  * clean new index. The per-saver drop-marker-FIRST / write-marker-LAST
  * ordering that makes this true was previously argued in scaladoc
  * only — and the round-18 `_meta` role-swap moved one instance's
  * ordering, which is how orderings rot. The first/last step labels are
  * asserted here too, so reordering a saver's steps fails this spec
  * before it can open a crash window.
  */
class IndexCrashPropertySpec extends SparkSpec {
  import spark.implicits._

  private final class Injected(label: String)
    extends RuntimeException(s"injected crash at step: $label")

  private def withHook[A](h: String => Unit)(f: => A): A = {
    graft.core.BuildSteps.hook = h
    try f finally graft.core.BuildSteps.hook = _ => ()
  }

  /** Run a build recording its step labels (no crash). */
  private def stepLabels(build: () => Unit): Seq[String] = {
    val labels = scala.collection.mutable.ArrayBuffer.empty[String]
    withHook(l => labels += l)(build())
    labels.toSeq
  }

  /** Run a build that crashes before step k (0-based). */
  private def crashAt(k: Int)(build: () => Unit): Unit = {
    var n = 0
    withHook { l =>
      if (n == k) throw new Injected(l)
      n += 1
    }(intercept[Injected](build()))
  }

  /** One saver family: how to build it over a corpus, and a consumer
    * whose canonicalized result set proves which build is being served.
    */
  private final case class Family(
      name: String,
      markerDrop: String, markerWrite: String,
      build: DataFrame => Unit,
      consume: () => Set[Seq[Any]])

  private def canon(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("text"))
  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  private def checkFamily(f: Family, corpusA: DataFrame,
                          corpusB: DataFrame): Unit = {
    // reference: a complete build of A — the "old index" every crash
    // leaves behind or destroys detectably
    f.build(corpusA)
    val resultA = f.consume()
    assert(resultA.nonEmpty,
      s"${f.name}: fixture must produce a nonempty result")
    val labels = stepLabels(() => f.build(corpusA))
    assert(labels.nonEmpty && labels.head == f.markerDrop,
      s"${f.name}: the completeness marker must be dropped FIRST, " +
        s"got ${labels.mkString(" -> ")}")
    assert(labels.last == f.markerWrite,
      s"${f.name}: the completeness marker must be written LAST, " +
        s"got ${labels.mkString(" -> ")}")
    // that label-recording run was itself a complete rebuild of A
    assert(f.consume() == resultA)
    labels.indices.foreach { k =>
      crashAt(k)(() => f.build(corpusB))
      if (k == 0) {
        // nothing mutated yet: the old index must still serve, intact
        assert(f.consume() == resultA,
          s"${f.name}: crash before step 0 must leave the old index " +
            "byte-equivalent")
      } else {
        // some prefix of the rebuild applied: every consumer must fail
        // loudly — a SUCCESSFUL read here is a silent mixed-build index
        val e = intercept[Exception](f.consume())
        assert(
          e.isInstanceOf[org.apache.spark.sql.AnalysisException] ||
            e.isInstanceOf[IllegalArgumentException] ||
            e.isInstanceOf[IllegalStateException],
          s"${f.name}: crash before step $k (${labels(k)}) must fail " +
            s"the load loudly, got ${e.getClass.getName}: ${e.getMessage}")
      }
      // recovery: re-running the build over the crash state must
      // produce a clean, fully readable new index
      f.build(corpusB)
      val resultB = f.consume()
      assert(resultB.nonEmpty, s"${f.name}: recovery build must serve")
      // reset to the A index for the next crash point's k=0 case
      f.build(corpusA)
      assert(f.consume() == resultA)
    }
  }

  test("lsh saver: every crash window loads loudly or serves the old " +
      "index; marker dropped first, written last") {
    val corpusA = docs.limit(30)
    val corpusB = docs.limit(35)
    // same texts as corpus docs under FRESH ids: guarantees jaccard-1.0
    // pairs whatever the self-pair policy, so "serves" is provable
    val batch = docs.limit(5)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    checkFamily(Family(
      "lsh", "lsh:drop_sets", "lsh:write_sets",
      c => TextDedup.saveLshIndexBucketed(c, "doc_id", "text",
        "graft_crash_lsh", nBuckets = 2),
      () => canon(TextDedup.crossLshPairsFromBandedIndex(spark,
        "graft_crash_lsh", batch, "doc_id", "text", minJaccard = 0.2))),
      corpusA, corpusB)
  }

  test("ivf saver: every crash window loads loudly or serves the old " +
      "index; marker dropped first, written last") {
    val corpusA = emb.limit(60)
    val corpusB = emb.limit(80)
    val queries = emb.limit(4)
    checkFamily(Family(
      "ivf", "ivf:drop_vectors", "ivf:write_vectors",
      c => Similarity.saveIvfIndexBucketed(
        Similarity.ivfIndex(c, "vec_id", "embedding", nCentroids = 4),
        "graft_crash_ivf", nBuckets = 2),
      () => canon(Similarity.ivfTopK(
        IvfTables.load(spark, "graft_crash_ivf"),
        queries, "vec_id", "embedding", k = 3, nProbe = 2))),
      corpusA, corpusB)
  }

  test("semantic saver: every crash window loads loudly or serves the " +
      "old index; marker dropped first, written last") {
    val corpusA = emb.limit(60)
    val corpusB = emb.limit(80)
    // corpus vectors under fresh ids: cosine-1.0 matches are guaranteed
    // past the self-pair exclusion, so "serves" is provable
    val batch = emb.limit(4)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    checkFamily(Family(
      "sem", "sem:drop_members", "sem:write_members",
      c => SemanticDedup.saveSemanticIndexBucketed(c, "vec_id",
        "embedding", nClusters = 4, assignProbes = 2,
        "graft_crash_sem", nBuckets = 2),
      () => canon(SemanticDedup.incrementalPairsFromIndex(
        spark.table("graft_crash_sem_centroids"),
        spark.table("graft_crash_sem_members"),
        batch, "vec_id", "embedding", threshold = 0.8))),
      corpusA, corpusB)
  }
}
