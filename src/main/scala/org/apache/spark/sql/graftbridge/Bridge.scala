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
}
