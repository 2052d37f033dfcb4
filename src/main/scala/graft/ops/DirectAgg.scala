package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions.{col, count, lit}

import graft.plans.SkipPartialAggHint

/** Public API over the single-phase skip-partial aggregation path
  * ([[graft.plans.DirectAggStrategy]]): `GROUP BY keys → aggs` with NO
  * map-side partial pass.
  *
  * {{{
  * DirectAgg.countByKeys(lineitem.select("l_partkey", "l_suppkey"),
  *                       "route_count")
  * DirectAgg.aggByKeys(docs, Seq("fingerprint"),
  *                     min(col("doc_id")).as("keeper_doc_id"),
  *                     count(lit(1)).as("n_copies"))
  * DirectAgg.distinctByKeys(cand)          // DISTINCT over all columns
  * }}}
  *
  * The returned frame is the stock `groupBy(…).agg(…)` tagged with
  * [[SkipPartialAggHint]], so analysis and optimization are completely
  * standard; only physical planning changes. Aggregates the single-phase
  * hash path cannot honor (DISTINCT/FILTER forms, non-mutable buffers
  * like collect_list) silently fall back to the stock two-phase plan.
  *
  * Use when the grouping keys are near-unique (see the strategy scaladoc
  * for when the stock partial plan wins instead). The strategy is
  * injected by [[graft.plans.GraftExtensions]] into every session
  * `graft.core.GraftSession` builds.
  */
object DirectAgg {

  /** `df.groupBy(keys).agg(aggs…)`, planned as one shuffle + one
    * Complete-mode hash aggregate. */
  def aggByKeys(df: DataFrame, keys: Seq[String], aggs: Column*): DataFrame = {
    val spark = df.sparkSession
    require(keys.nonEmpty, "aggByKeys needs at least one key column")
    val stock = df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    stock.queryExecution.analyzed match {
      case a: Aggregate =>
        GraftBridge.ofRows(spark, a.copy(hint = Some(SkipPartialAggHint)))
      case other => throw new IllegalArgumentException(
        s"aggByKeys expected an analyzed Aggregate; got:\n$other")
    }
  }

  /** `df.groupBy(<every column of df>).agg(count(*) as countName)` —
    * single-phase. Project the key columns before calling. */
  def countByKeys(df: DataFrame, countName: String): DataFrame = {
    require(!df.columns.contains(countName),
      s"count column '$countName' collides with a key column")
    aggByKeys(df, df.columns.toSeq, count(lit(1)).as(countName))
  }

  /** `SELECT DISTINCT * FROM df` as a single-phase grouping-only
    * aggregate — the skip-partial form of `df.distinct()` for near-unique
    * rows (e.g. LSH candidate pairs, where almost every pair appears
    * once). */
  def distinctByKeys(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val child = df.queryExecution.analyzed
    require(child.output.nonEmpty, "distinctByKeys needs at least one column")
    GraftBridge.ofRows(spark,
      Aggregate(child.output, child.output, child,
        Some(SkipPartialAggHint)))
  }
}
