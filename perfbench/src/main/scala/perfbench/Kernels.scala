package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{DecimalSum128, MarkerCount, ShingleHashes, TextAnalysis, VectorKernel}

/** Micro-timings of the hot kernels the corpus rounds run, called on the
  * driver thread (one core) over inputs from the corpus generator. Each
  * figure is the best of five passes, in nanoseconds per call.
  */
object Kernels {
  @volatile private var sink = 0.0

  private def best(passes: Int, calls: Int)(body: => Unit): Double =
    (0 until passes).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble / calls
    }.min

  private def dotNs(dim: Int, inputs: CorpusInputs): Double = {
    val vecs = (0 until 256).map { k =>
      val e = inputs.embedding(k.toLong)
      UnsafeArrayData.fromPrimitiveArray(Array.tabulate(dim)(d => e(d % e.length).toDouble))
    }
    val reps = 4000000 / dim
    best(5, reps) {
      var acc = 0.0
      var i = 0
      while (i < reps) { acc += VectorKernel.dot(vecs(i & 255), vecs((i * 7 + 1) & 255)); i += 1 }
      sink += acc
    }
  }

  def measure(spark: SparkSession, inputs: CorpusInputs, res: RunResult): Unit = {
    val d64 = dotNs(64, inputs)
    val d512 = dotNs(512, inputs)
    res.layer("functions.dot64_ns") = d64
    res.layer("functions.dot512_ns") = d512
    // one dot reads two double vectors and does a multiply and an add per element
    res.layer("functions.dot512_gb_per_s") = 2 * 512 * 8 / d512
    res.layer("functions.dot512_gflop_per_s") = 2 * 512 / d512

    val texts = (0 until 2000).map(k => UTF8String.fromString(inputs.text(k.toLong)))
    val bytes = texts.map(_.numBytes.toLong).sum.toDouble
    val shingle = best(5, texts.length) {
      texts.foreach(t => sink += ShingleHashes.compute(t, 5).numElements())
    }
    res.layer("functions.shingle_ns_per_doc") = shingle
    res.layer("functions.shingle_mb_per_s") = bytes / texts.length / shingle * 1e3
    val markers = TextAnalysis.DefaultLangMarkers("en").map(UTF8String.fromString).toArray
    val marker = best(5, texts.length) {
      texts.foreach(t => sink += MarkerCount.countTokens(t, markers))
    }
    res.layer("functions.marker_ns_per_doc") = marker
    res.layer("functions.marker_mb_per_s") = bytes / texts.length / marker * 1e3

    // DecimalSum128 runs inside a whole-stage-codegen aggregate; timed as
    // an aggregate over generated DECIMAL(18,12) rows, scan included
    val rows = 4000000L
    val df = spark.range(rows).select(
      ((col("id") % 1000003) / 1000.0).cast(DecimalType(18, 12)).as("x"))
    df.agg(DecimalSum128.decimalSum128(col("x"))).collect()
    res.layer("functions.decsum_ns_per_row") = best(3, rows.toInt) {
      df.agg(DecimalSum128.decimalSum128(col("x"))).collect()
    }
  }
}
