package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to `classic.Dataset.ofRows` and `classic.ExpressionUtils`, which
  * are `private[sql]`: building a DataFrame from a custom [[LogicalPlan]]
  * node (graft.plans.AsOfJoinPlan), or a Column from a custom Expression
  * (graft.sources.CqlProtocol.orderKey) or aggregate, has no public
  * constructor in Spark 4.x, so this shim lives in an
  * `org.apache.spark.sql` subpackage — the standard device used by Spark
  * extension libraries.
  */
object GraftShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `f` applied to `c`'s expression, as a Column. */
  def mapExpr(c: Column)(f: Expression => Expression): Column =
    classic.ExpressionUtils.column(f(classic.ExpressionUtils.expression(c)))

  /** The aggregate function `f` builds from `cs`' expressions, as an
    * aggregate Column (graft.streaming.CellMerge). */
  def aggregate(cs: Seq[Column])(f: Seq[Expression] => AggregateFunction): Column =
    classic.ExpressionUtils.column(
      f(cs.map(classic.ExpressionUtils.expression)).toAggregateExpression())
}
