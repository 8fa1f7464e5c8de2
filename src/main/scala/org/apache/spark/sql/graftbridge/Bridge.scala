package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Visibility bridge: `ExpressionUtils`/`AbstractDataType` are
  * `private[sql]`, so the engine's custom Catalyst expressions (in
  * graft.plans) route Column<->Expression conversion through this
  * object, which lives inside the org.apache.spark.sql namespace —
  * the same technique Spark-ecosystem extension libraries use.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
