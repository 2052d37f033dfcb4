package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{CoreQueries, CurateQueries, ExtQueries, FidelityQueries, GeoQueries, GraphQueries, IngestQueries, MatchQueries, QueryDef, ScaleQueries, SketchQueries, StreamQueries, TemporalQueries, TrainPrepQueries, WarehouseQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 (plus the training-data-pipeline
  * extension ops) is registered here as a named query with, wherever
  * SQL-expressible, an equivalent DuckDB oracle statement the driver
  * hash-compares against on the same parquet fixtures.
  */
object SparkEntry {

  /** All registered operators, merged from the query modules. */
  val defs: Map[String, QueryDef] =
    CoreQueries.all ++ ExtQueries.all ++ IngestQueries.all ++
      GeoQueries.all ++ StreamQueries.all ++ ScaleQueries.all ++
      FidelityQueries.all ++ TemporalQueries.all ++ TrainPrepQueries.all ++
      WarehouseQueries.all ++ GraphQueries.all ++ MatchQueries.all ++
      SketchQueries.all ++ CurateQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    defs("q_topk_popularity").fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map { case (k, d) => k -> d.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    defs.flatMap { case (k, d) => d.oracle.map(k -> _) }

  /** Headline subset timed by Bench (full set runs through Verify). */
  def benchNames: Seq[String] =
    defs.filter(_._2.bench).keys.toSeq.sorted

  /** The plan Bench times per headline query: [[QueryDef.benched]], the
    * plan without its declared result order (or a `benchFn` alternate). */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] =
    defs.filter(_._2.bench).map { case (k, d) => k -> d.benched }
}
