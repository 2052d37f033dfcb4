package graft.core

import java.nio.charset.StandardCharsets

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{DataType, StructType}

/** Parquet-backed named-table catalog (SURVEY.md §2.1 S6–S9).
  *
  * Replaces the reference's BigQuery dataset as the table namespace:
  *  - S6 query-destination CTAS (`taxi_trips_etl.py:100-109`) → [[save]]
  *    with overwrite
  *  - S5 truncate-then-append load (`taxi_trips_etl.py:32-40,77-80`) →
  *    [[save]] then [[append]]
  *  - S7 existence probe (`taxi_trips_etl.py:88-93`) → [[exists]]
  *  - S8 drop (`taxi_trips_etl.py:112,141`) → [[drop]]
  *  - S9 date-suffixed names (`taxi_trips_etl.py:118-124`) → plain string
  *    interpolation by callers; the catalog is name-agnostic.
  *
  * All path operations go through Hadoop `FileSystem` resolved from the
  * warehouse URI — the same abstraction the reads/writes use — so the
  * catalog behaves identically on local disk, HDFS, or an object store
  * (`s3a://…` warehouse); java.nio would silently see only the driver's
  * local filesystem. At 100 TB each table is a parquet directory; writes
  * go through Spark's committer, reads get partition/row-group pruning
  * from the vectorized reader. No driver-side data movement.
  */
final class Catalog(val spark: SparkSession, val warehouseDir: String) {

  private val root = new Path(warehouseDir)
  private val fs: FileSystem =
    root.getFileSystem(spark.sessionState.newHadoopConf())
  fs.mkdirs(root)

  private def pathOf(name: String): Path = new Path(root, name)

  def exists(name: String): Boolean = fs.exists(pathOf(name))

  /** Write `df` as the table (overwrite). The pin is dropped before the
    * write and `df.schema` pinned once it has succeeded, so a crash
    * mid-write leaves no pin rather than a stale one. A write that fails
    * after the overwrite removed the old files leaves a directory with no
    * part file; it is deleted, so no empty table stays listed. A `df`
    * that reads the table itself is refused before anything is touched:
    * the overwrite would delete the files the job then reads. */
  def save(name: String, df: DataFrame): Unit = {
    refuseSelfRead(name, df)
    unpin(name)
    try df.write.mode(SaveMode.Overwrite).parquet(pathOf(name).toString)
    catch { case NonFatal(e) =>
      val parts = fs.globStatus(new Path(pathOf(name), "part-*"))
      if (parts == null || parts.isEmpty) fs.delete(pathOf(name), true)
      throw e
    }
    pinSchema(name, df.schema)
  }

  /** Throws when a scan in `df`'s analyzed plan (subqueries included)
    * reads the table's directory or a path under it. The analyzed plan
    * already exists for a Dataset, so the check starts no Spark job. */
  private def refuseSelfRead(name: String, df: DataFrame): Unit = {
    val table = fs.makeQualified(pathOf(name)).toUri.toString
    val self = df.queryExecution.analyzed.collectWithSubqueries {
      case r: LogicalRelation => TableStats.keyOf(r)
    }.flatten.find(p => p == table || p.startsWith(table + "/"))
    self.foreach { p =>
      throw new IllegalArgumentException(
        s"catalog save '$name': the frame reads the table itself ($p), and " +
          "the overwrite would delete those files before the job reads them")
    }
  }

  /** Append `df`. The pin survives only if it still describes every file:
    * each appended field must be in it with the same type (a subset reads
    * back null-filled); anything else drops the pin, and reads infer. */
  def append(name: String, df: DataFrame): Unit = {
    val covered = pinnedSchema(name).exists { pin =>
      df.schema.forall(f =>
        pin.find(_.name == f.name).exists(_.dataType == f.dataType))
    }
    if (!covered) unpin(name)
    df.write.mode(SaveMode.Append).parquet(pathOf(name).toString)
  }

  /** Read the table through its pin when it has one (no schema-inference
    * job); a table without a pin — written before pins, or outside the
    * catalog — is read with footer inference. */
  def load(name: String): DataFrame = read(name, pinnedSchema(name))

  // ---- pinned schemas (the catalog, not the footers, holds the schema) ---
  // Every [[save]] pins the schema it wrote, and [[load]] reads through
  // it, so reading a catalog-written table starts no schema-inference job
  // (`ParquetFileFormat.inferSchema` is a one-task Spark job per read).
  // [[append]], [[drop]] and [[rename]] keep the pin in step with the
  // files. `mergeSchema` footer reconciliation stays an INGEST-time
  // discovery tool: at 100 TB a million-file footer sweep is itself a
  // job, so an evolved superset is pinned once (by the writer that
  // evolved it, or by one discovery pass) and queries read through
  // `spark.read.schema(...)`, missing columns null-filled per file by the
  // vectorized reader.

  private def schemaPath(name: String): Path =
    new Path(root, s"_schemas/$name.json")

  /** Record `schema` as the table's authoritative read schema.
    * Write-to-temp + rename: an in-place overwrite would let a
    * concurrent [[pinnedSchema]] read a truncated JSON (rename is atomic
    * on the filesystems the catalog targets). */
  def pinSchema(name: String, schema: StructType): Unit = {
    val dst = schemaPath(name)
    val tmp = new Path(dst.getParent, s".${dst.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(schema.json.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(dst)) fs.delete(dst, false)
    if (!fs.rename(tmp, dst))
      throw new IllegalStateException(s"failed to publish schema pin $dst")
  }

  private def unpin(name: String): Unit = fs.delete(schemaPath(name), false)

  def pinnedSchema(name: String): Option[StructType] =
    if (!fs.exists(schemaPath(name))) None
    else {
      val in = fs.open(schemaPath(name))
      val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      Some(DataType.fromJson(json).asInstanceOf[StructType])
    }

  /** Read through the pinned schema — no footer-based inference runs at
    * all (partition columns are still appended from directory names). */
  def loadPinned(name: String): DataFrame = {
    val sch = pinnedSchema(name).getOrElse(throw new IllegalStateException(
      s"no pinned schema for table '$name' — pinSchema first"))
    read(name, Some(sch))
  }

  private def read(name: String, schema: Option[StructType]): DataFrame =
    schema.fold(spark.read)(s => spark.read.schema(s))
      .parquet(pathOf(name).toString)

  /** Register under a logical name for spark.sql / dbt-style `ref` (S10/S11). */
  def view(name: String): Unit = load(name).createOrReplaceTempView(name)

  /** Directory-rename table commit (staged single-action writes publish
    * through this; rename is atomic on the filesystems the catalog
    * targets). Fails loudly — a half-published table must not look like
    * a clean short-circuit. The pin moves with the table. An existing
    * `to` is refused before any pin or file is touched: a directory
    * rename onto it would nest `from` inside it. Drop `to` first. */
  def rename(from: String, to: String): Unit = {
    if (exists(to))
      throw new IllegalStateException(
        s"catalog rename $from -> $to: table '$to' exists under " +
          s"$warehouseDir; drop it first")
    unpin(to)
    if (!fs.rename(pathOf(from), pathOf(to)))
      throw new IllegalStateException(
        s"catalog rename $from -> $to failed under $warehouseDir")
    pinnedSchema(from).foreach(pinSchema(to, _))
    unpin(from)
  }

  /** Drop the table and its pin (pin first: a crash in between leaves an
    * unpinned table, read by inference, never a pin without its files). */
  def drop(name: String): Unit = {
    unpin(name)
    val p = pathOf(name)
    if (fs.exists(p)) fs.delete(p, true)
  }

  def tables(): Seq[String] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).map(_.getPath.getName).toSeq
      .filterNot(_.startsWith("_")) // metadata dirs (Spark convention)
      .sorted
}
