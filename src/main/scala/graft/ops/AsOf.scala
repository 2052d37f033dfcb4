package graft.ops

import org.apache.spark.sql.{DataFrame, GraftBridge}

import graft.plans.{AsOfBackward, AsOfDirection, AsOfJoin}

/** Public as-of join API over the custom Catalyst operator
  * (graft.plans.AsOfJoin / AsOfJoinExec).
  *
  * {{{
  * AsOf.join(trades, quotes,
  *   leftKeys = Seq("symbol"), rightKeys = Seq("symbol"),
  *   leftTime = "trade_ts", rightTime = "quote_ts")
  * }}}
  *
  * Output schema = left columns ++ right columns (right side nullable);
  * callers disambiguate overlapping names by renaming beforehand, exactly
  * as with a plain `join` on expressions. Time columns must be
  * timestamp or long (µs comparison either way). The operator plans
  * through [[graft.plans.AsOfJoinStrategy]], which
  * [[graft.plans.GraftExtensions]] injects into every session
  * `graft.core.GraftSession` builds.
  */
object AsOf {

  /** LEFT OUTER as-of join. `direction = AsOfBackward` (default): each
    * left row gains the right row with equal keys and the GREATEST
    * `rightTime` ≤ `leftTime`; `AsOfForward`: the SMALLEST `rightTime` ≥
    * `leftTime` (next-event attribution). Nulls when no such row.
    * Column names resolve by exact (case-sensitive) attribute name —
    * stricter than Spark's conf-aware resolution, by contract. */
  def join(left: DataFrame, right: DataFrame,
           leftKeys: Seq[String], rightKeys: Seq[String],
           leftTime: String, rightTime: String,
           direction: AsOfDirection = AsOfBackward): DataFrame = {
    val spark = left.sparkSession
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
             name: String) =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"as-of column '$name' not in ${plan.output.map(_.name)}"))
    GraftBridge.ofRows(spark, AsOfJoin(
      lPlan, rPlan,
      leftKeys.map(attr(lPlan, _)), rightKeys.map(attr(rPlan, _)),
      attr(lPlan, leftTime), attr(rPlan, rightTime), direction))
  }
}
