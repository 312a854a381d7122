package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge to the `private[sql]` Column↔Expression converters —
  * the standard extension-point shim for libraries that register native
  * Catalyst expressions (Spark 4 removed the public `Column.expr` /
  * `new Column(expr)` surface).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c` converted in full by the active session's converter. A function
    * builder's result goes straight to the analyzer, which does not
    * expand the lazy column nodes [[expression]] leaves for a Dataset to
    * convert.
    */
  def analyzerExpression(c: Column): Expression =
    org.apache.spark.sql.SparkSession.active
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)

  /** Register the functions `ext` has collected into the session's
    * function registry — what a session built with `ext` in
    * `spark.sql.extensions` does at start-up, so a spec can resolve the
    * injected builders on an already-running session.
    */
  def registerFunctions(ext: org.apache.spark.sql.SparkSessionExtensions,
                        spark: org.apache.spark.sql.SparkSession): Unit =
    ext.registerFunctions(spark.sessionState.functionRegistry)

  /** True when the session's CacheManager holds no cached plans — the
    * signal the cache-leak sweep needs ([[graft]]'s persist discipline:
    * an operator that `.persist()`s during construction must either
    * unpersist before returning or document the cache as part of its
    * contract). `DataFrame.persist` REGISTERS in the CacheManager
    * eagerly (materialization is lazy), so this is a plan-time check —
    * no public Catalog API exposes "anything cached?", hence the
    * bridge.
    */
  def cacheIsEmpty(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty
}
