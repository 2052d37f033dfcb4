package graft.core

import java.io.FileNotFoundException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, GlobFilter, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet reads whose schema is read on the driver.
  *
  * `spark.read.parquet(path)` without a schema runs a one-task Spark job
  * to infer one: it reads one footer (~60 ms a read on a local session).
  * That cost is the job's: scheduling, task launch and the footer read.
  * Shipping the session's Hadoop configuration with the task was ~10 ms
  * of it while the conf carried Hadoop's 1,070 `*-default.xml` keys, and
  * is ~0.3 ms since `GraftSession.local` drops them. The
  * reads here read that same footer on the driver, convert it as the
  * inference converts it, and pass the result to `spark.read.schema`, so
  * the read starts no job. The schema is the one inference gives a
  * session that leaves `spark.sql.parquet.mergeSchema` off (every graft
  * session does).
  */
object ParquetSchema {

  /** `path` read as `spark.read.parquet(path)` reads it, with the schema
    * of [[inferenceFile]]'s footer. A path with no leaf file (absent, or
    * an empty directory) goes to `spark.read.parquet`, so its error is
    * Spark's own. */
  def read(spark: SparkSession, path: String): DataFrame =
    readMatching(spark, path, None).getOrElse(spark.read.parquet(path))

  /** [[read]] with Spark's `pathGlobFilter` on the leaf files' names, or
    * None when no leaf file under `path` matches. */
  def readMatching(spark: SparkSession, path: String,
      pathGlobFilter: Option[String]): Option[DataFrame] = {
    val hconf = spark.sessionState.newHadoopConf()
    inferenceFile(hconf, path, pathGlobFilter).map { file =>
      val reader = spark.read.schema(footerSchema(spark, hconf, file))
      pathGlobFilter.fold(reader)(reader.option("pathGlobFilter", _))
        .parquet(path)
    }
  }

  /** The file whose footer Spark's schema inference reads for `path`:
    * of the leaf files Spark's file index lists (recursively, hidden
    * names skipped, then `pathGlobFilter`), sorted by path string,
    * `_common_metadata`, else `_metadata`, else the first data file. */
  private def inferenceFile(hconf: Configuration, path: String,
      pathGlobFilter: Option[String]): Option[FileStatus] = {
    val root = new Path(path)
    val glob = pathGlobFilter.map(new GlobFilter(_))
    val files = leafFiles(root.getFileSystem(hconf), root)
      .filter(f => glob.forall(_.accept(f.getPath)))
      .sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    named(CommonMetadata).orElse(named(Metadata))
      .orElse(files.find(f => !Summaries(f.getPath.getName)))
  }

  private val CommonMetadata = "_common_metadata"
  private val Metadata = "_metadata"
  private val Summaries = Set(CommonMetadata, Metadata)

  /** The files under `dir` (or `dir` itself when it is a file); none when
    * it does not exist. */
  private def leafFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    (try fs.listStatus(dir).toSeq
     catch { case _: FileNotFoundException => Nil })
      .filterNot(s => hidden(s.getPath.getName))
      .flatMap(s => if (s.isDirectory) leafFiles(fs, s.getPath) else Seq(s))

  /** Spark's listing filter (`HadoopFSUtils.shouldFilterOutPathName`):
    * names starting with `_` (but not a `_k=v` partition directory) or
    * `.`, and in-flight `._COPYING_` copies, except the two summary
    * files. */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !(name.startsWith(CommonMetadata) || name.startsWith(Metadata))

  /** The schema Spark's inference reads from `file`'s footer, read on the
    * driver and converted as inference converts it: the Spark schema
    * stored under the row-metadata key when the writer left one,
    * otherwise the parquet schema under the session's parquet conf
    * (`nanosAsLong`, `binaryAsString`, INT96, NTZ inference). */
  private def footerSchema(spark: SparkSession, hconf: Configuration,
      file: FileStatus): StructType = {
    val conf = spark.sessionState.conf
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, hconf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation =
          conf.parquetReaderRespectUnknownTypeAnnotation))
  }
}
