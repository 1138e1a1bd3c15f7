package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Catalyst expression, without a session: the converters
  * Spark's own `functions` use are `private[sql]`, so this shim calls
  * them for `graft.functions.Native`. An aggregate function is wrapped
  * in its aggregate expression, as the analyzer does for a resolved
  * function call.
  */
object GraftColumn {
  def apply(e: Expression): Column = e match {
    case agg: AggregateFunction => ExpressionUtils.column(agg.toAggregateExpression())
    case _ => ExpressionUtils.column(e)
  }

  def expr(c: Column): Expression = ExpressionUtils.expression(c)
}
