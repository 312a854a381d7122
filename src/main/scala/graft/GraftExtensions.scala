package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.graftbridge.Bridge
import graft.functions.{BigramStats, BpeStats, DotProduct, MarkerCount, NgramCounts, ShingleHashes}
import graft.operators.{ThetaDifferenceEstimate, ThetaIntersectEstimate, ThetaSetEstimate, ThetaSketchAgg, ThetaUnionEstimate}

/** Session extension entry point: makes the library's native functions
  * available to pure-SQL users via
  * `spark.sql.extensions=graft.GraftExtensions` — no Scala imports needed.
  *
  * (The AI UDFs are registered per-session through `AiFunctions.register`
  * because they carry pluggable client state; native expressions are
  * stateless and belong here.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[DotProduct].getName, "cosine_sim"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 2,
          s"cosine_sim expects 2 arguments, got ${exprs.length}")
        Bridge.analyzerExpression(graft.operators.Similarity.cosine(
          Bridge.column(exprs(0)), Bridge.column(exprs(1))))
      }))
    e.injectFunction((
      new FunctionIdentifier("marker_count"),
      new ExpressionInfo(classOf[MarkerCount].getName, "marker_count"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        MarkerCount.build(exprs)))
    e.injectFunction((
      new FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        ShingleHashes.build(exprs)))
    e.injectFunction((
      new FunctionIdentifier("ngram_counts"),
      new ExpressionInfo(classOf[NgramCounts].getName, "ngram_counts"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        NgramCounts.build(exprs)))
    e.injectFunction((
      new FunctionIdentifier("bigram_stats"),
      new ExpressionInfo(classOf[BigramStats].getName, "bigram_stats"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        BigramStats.build(exprs)))
    e.injectFunction((
      new FunctionIdentifier("bpe_stats"),
      new ExpressionInfo(classOf[BpeStats].getName, "bpe_stats"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        BpeStats.build(exprs)))
    e.injectFunction((
      new FunctionIdentifier("theta_sketch_agg"),
      new ExpressionInfo(classOf[ThetaSketchAgg].getName, "theta_sketch_agg"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        ThetaSketchAgg.build(exprs)))
    e.injectFunction((
      new FunctionIdentifier("theta_intersect_estimate"),
      new ExpressionInfo(classOf[ThetaIntersectEstimate].getName,
        "theta_intersect_estimate"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        ThetaSetEstimate.buildIntersect(exprs)))
    e.injectFunction((
      new FunctionIdentifier("theta_union_estimate"),
      new ExpressionInfo(classOf[ThetaUnionEstimate].getName,
        "theta_union_estimate"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        ThetaSetEstimate.buildUnion(exprs)))
    e.injectFunction((
      new FunctionIdentifier("theta_difference_estimate"),
      new ExpressionInfo(classOf[ThetaDifferenceEstimate].getName,
        "theta_difference_estimate"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        ThetaSetEstimate.buildDifference(exprs)))
  }
}
