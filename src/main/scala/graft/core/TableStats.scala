package graft.core

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{approx_count_distinct, col, count, lit, max, min}
import org.apache.spark.sql.types.{ArrayType, ByteType, IntegerType, LongType, MapType, ShortType, StructType}

/** Session-wide table statistics for cost-based planning — the ANALYZE
  * side of [[graft.plans.AutoSkipPartialAgg]].
  *
  * A warehouse collects (row count, per-column NDV) once per table load
  * and plans every subsequent query against them; this registry is that
  * store for path-read parquet tables (which carry no catalog stats for
  * Catalyst's CBO to find). [[analyze]] is the collection pass — one
  * `approx_count_distinct` scan per table, the same numbers the
  * `s_stats_collection` operator surfaces as a query — and the registry
  * keys by the scan's resolved root path, so any plan whose
  * [[LogicalRelation]] reads the same files finds them.
  *
  * Scale: ANALYZE is O(table) once, amortized over every query planned
  * against it (the standard warehouse trade). NDVs are approximate
  * (HLL++, ~2% rsd) — they gate a plan-shape heuristic, not results.
  */
object TableStats {

  /** rows + per-column approximate NDV, keyed by column name.
    * `range`: EXACT (min, max) of integral columns from the same scan —
    * unlike NDV these gate value-domain rewrites (e.g. packing two key
    * columns into one 64-bit shuffle key), so they must be exact, and
    * min/max over integers costs nothing extra in the ANALYZE pass. */
  final case class Stat(rows: Long, ndv: Map[String, Long],
      range: Map[String, (Long, Long)] = Map.empty)

  private val registry = TrieMap.empty[String, Stat]

  /** The driver fixture tables (TESTDATA.md). */
  val FixtureTables: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** Root-path key of a scan, resolved the same way the relation itself
    * resolves it (fully-qualified URI), so registration via [[analyze]]
    * and lookup from an optimizer rule can never disagree on spelling. */
  def keyOf(rel: LogicalRelation): Option[String] = rel.relation match {
    case fs: HadoopFsRelation =>
      fs.location.rootPaths.toList match {
        case p :: Nil => Some(p.toUri.toString)
        case _ => None // multi-root scans: no single table identity
      }
    case _ => None
  }

  def lookup(key: String): Option[Stat] = registry.get(key)

  /** Exact (min, max) of an integral column of `df`'s single scan, when
    * ANALYZE has run over it — the query-builder-side mirror of the
    * optimizer rules' [[keyOf]]+[[lookup]] path. None (no rewrite) when
    * stats are absent: value-domain rewrites must be provably safe. */
  def columnRange(df: DataFrame, column: String): Option[(Long, Long)] =
    df.queryExecution.analyzed.collectFirst {
      case r: LogicalRelation => keyOf(r)
    }.flatten.flatMap(lookup).flatMap(_.range.get(column))

  def clear(): Unit = registry.clear()

  /** Collect + register stats for one DataFrame under the root path of
    * its scan (no-op for non-single-scan frames). Atomic-typed columns
    * only — NDV of array/struct columns gates nothing here. */
  def analyzeTable(df: DataFrame): Unit = {
    val key = df.queryExecution.analyzed.collectFirst {
      case r: LogicalRelation => keyOf(r)
    }.flatten
    key.foreach { k =>
      if (!registry.contains(k)) {
        val cols = df.schema.fields.filter(f => f.dataType match {
          case _: ArrayType | _: MapType | _: StructType => false
          case _ => true
        }).map(_.name).toSeq
        val intCols = df.schema.fields.filter(f => f.dataType match {
          case ByteType | ShortType | IntegerType | LongType => true
          case _ => false
        }).map(_.name).toSeq
        val aggs = count(lit(1)).as("graft_rows") +:
          (cols.map(c => approx_count_distinct(c).as(c)) ++
            intCols.flatMap(c => Seq(
              min(col(c)).cast("long").as(s"__min__$c"),
              max(col(c)).cast("long").as(s"__max__$c"))))
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        val ranges = intCols.flatMap { c =>
          val (i, j) = (row.fieldIndex(s"__min__$c"), row.fieldIndex(s"__max__$c"))
          if (row.isNullAt(i) || row.isNullAt(j)) None
          else Some(c -> (row.getLong(i), row.getLong(j)))
        }.toMap
        registry.put(k, Stat(row.getLong(0),
          cols.map(c => c -> row.getAs[Long](c)).toMap, ranges))
      }
    }
  }

  /** ANALYZE every fixture table under `dir` (idempotent per path). An
    * absent table is skipped; an unreadable one gets no stats and one
    * stderr line, and the others are still analyzed. Fatal errors and
    * interrupts propagate. */
  def analyze(spark: SparkSession, dir: String): Unit =
    FixtureTables.foreach { t =>
      val p = s"$dir/$t.parquet"
      if (new java.io.File(p).exists() ||
          p.startsWith("hdfs:") || p.startsWith("s3"))
        try analyzeTable(ParquetSchema.read(spark, p))
        catch { case NonFatal(e) =>
          System.err.println(
            s"[graft] TableStats: $t not analyzed: ${e.toString.linesIterator.next()}")
        }
    }
}
