package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan}
import org.apache.spark.sql.execution.datasources.LogicalRelation

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

  /** `df`'s analyzed plan with each file relation replaced by a slot that
    * keeps only the relation's output attributes: a template that holds
    * no relation and no session, for [[bindTemplate]]. */
  def planTemplate(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed.transformUpWithSubqueries {
      case r: LogicalRelation => RelationSlot(r.output)
    }

  /** A DataFrame of `template` over the relation `source` reads: each slot
    * becomes that relation under the slot's own output attributes, so
    * every operator above it stays resolved as it was, and the plan is
    * marked analyzed instead of going through the analyzer again (the
    * `Dataset`-from-`LogicalPlan` pattern). `source` must be a plain file
    * read whose columns match the slots' names and types. */
  def bindTemplate(template: LogicalPlan, source: DataFrame): DataFrame = {
    val rel = source.queryExecution.analyzed match {
      case r: LogicalRelation => r
      case p => throw new IllegalArgumentException(
        s"bindTemplate: the source is not a file read:\n$p")
    }
    val bound = template.transformUpWithSubqueries {
      case RelationSlot(out) =>
        require(out.map(a => (a.name, a.dataType)) ==
          rel.output.map(a => (a.name, a.dataType)),
          s"bindTemplate: the source's columns ${rel.output} do not " +
            s"match the template's $out")
        rel.copy(output = out)
    }
    bound.setAnalyzed()
    ofRows(source.sparkSession, bound)
  }

  private case class RelationSlot(output: Seq[AttributeReference])
    extends LeafNode

  /** The Hadoop conf that every session of `spark`'s context copies in
    * `sessionState.newHadoopConf()` (`SharedState.hadoopConf` is
    * `private[sql]`). */
  def sharedHadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[classic.SparkSession].sharedState.hadoopConf

  /** Grouping-key floating-point canonicalization (-0.0 ≡ 0.0, NaN) —
    * the same `private[sql]` normalization the stock Aggregation strategy
    * applies before building a physical aggregate. */
  def normalizeFloat(e: Expression): Expression =
    catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)
}
