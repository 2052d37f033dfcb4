package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Package bridge: Spark 4 Columns wrap ColumnNodes and the classic
  * Expression↔Column converters are `private[sql]`; this re-exports the
  * conversions graft's kernel calls and custom logical plans need.
  * No Spark internals are modified — this only widens visibility. */
object GraftBridge {
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** DataFrame over a custom [[LogicalPlan]] (e.g. graft.plans.AsOfJoin):
    * `Dataset.ofRows` is `private[sql]`, and the classic session type it
    * takes is what every local/driver session actually is. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Grouping-key floating-point canonicalization (-0.0 ≡ 0.0, NaN) —
    * the same `private[sql]` normalization the stock Aggregation strategy
    * applies before building a physical aggregate. */
  def normalizeFloat(e: Expression): Expression =
    catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)
}
