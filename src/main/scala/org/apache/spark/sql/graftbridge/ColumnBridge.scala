package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4's Column↔Expression converters (`classic.ExpressionUtils`)
  * are `private[sql]`; this bridge re-exports the conversions graft
  * needs for its custom Catalyst expressions and for the logical plans
  * the snapshot layer builds. No Spark internals are
  * modified — this is the sanctioned extension seam (same technique
  * Spark's own connectors use).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c` as the Catalyst expression `spark` would put in a plan — not
    * the opaque wrapper [[expression]] returns.
    */
  def expression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)
}
