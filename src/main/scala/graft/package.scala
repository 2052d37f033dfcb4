/** graft — a Spark-native (Scala) analytics engine re-expressing the query
  * and data-processing surface of the reference ETL (`/root/reference`,
  * a BigQuery-delegating taxi-trips pipeline; see SURVEY.md) as idiomatic
  * DataFrame/Catalyst plans, plus the large-scale training-data-pipeline
  * operators (dedup, similarity search, text analysis, multimodal columns).
  *
  * Design rules (SURVEY.md §7):
  *  - declarative DataFrame plans; let Catalyst push/prune/reorder
  *  - no driver-side collect except bounded top-k
  *  - every shuffle is authored deliberately (groupBy/join keys chosen so
  *    the plan survives a 100 TB / 1000-executor scale-up)
  */
package object graft {
  import scala.util.control.NonFatal

  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** Load one of the driver-provided parquet tables from an sf dir. The
    * schema is read from the table's footer on the driver
    * ([[core.ParquetSchema.read]]), so loading a table starts no Spark
    * job. */
  def tbl(spark: SparkSession, sfDir: String, name: String): DataFrame =
    core.ParquetSchema.read(spark, s"$sfDir/$name.parquet")

  /** `df`'s row count in one Spark job: the count of its executed RDD.
    * `Dataset.count()` plans a partial aggregate, an exchange and a final
    * aggregate, which adaptive execution runs as two jobs. On a lazy
    * `localCheckpoint(false)` frame this job is the one that
    * materializes the checkpoint. */
  def rowCount(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Ensure a scan-rooted frame enters heavy per-row compute at cluster
    * parallelism. Parquet scan splits are ROW-GROUP-bound: a
    * legitimately written 78 MB single-row-group file (well inside one
    * 128 MB parquet block) is ONE Spark task no matter how many cores —
    * a vectorized single-process engine parallelizes inside a row
    * group, Spark's unit is the row group (measured at sf10: the whole
    * 2M-document tokenize pass ran single-task). When the frame's scan
    * parallelism is below half the cluster's, pay one round-robin
    * shuffle of the (column-pruned) input — O(bytes) moved once versus
    * the per-row compute it unlocks. NO-OP on well-laid-out inputs: a
    * real 100 TB table has thousands of splits, so this never fires
    * there; it exists for the pathological-but-legal layouts small
    * replication jobs produce. Call it on the pruned projection (after
    * selecting only needed columns), never on `SELECT *`. */
  def parallelScan(spark: SparkSession, df: DataFrame): DataFrame =
    parallelScan(spark, df, spark.sparkContext.defaultParallelism)

  /** COMPUTE-DENSE variant: same split-starvation gate, but the size
    * floor drops from 32 MB to 1 MB. The 32 MB floor assumes per-byte
    * scan compute is cheap (a projection/filter), so under it the added
    * exchange's stage floor dominates — but a scan whose per-row work is
    * heavy (x_lang_id's per-doc bigram histogram SORT: measured 10 s on
    * the 2 tasks a 15 MB sf1 input planned vs ~1 s wide) inverts that
    * economics two orders of magnitude below the floor. The 1 MB guard
    * still keeps spec-sized fixtures exchange-free. */
  def parallelScanDense(spark: SparkSession, df: DataFrame): DataFrame =
    parallelScan(spark, df, spark.sparkContext.defaultParallelism,
      minBytes = 1L * 1024 * 1024)

  /** Target-explicit variant so specs can pin the gate at cluster sizes
    * the 4-core test session can't reach. */
  private[graft] def parallelScan(spark: SparkSession, df: DataFrame,
      target: Int, minBytes: Long = 32L * 1024 * 1024): DataFrame = {
    // Effective parallelism = files × row-groups-per-file, NOT the
    // planner's split count: Spark happily plans 20 byte-range splits
    // over a 1-row-group file, but every row lands in the ONE task
    // whose range holds the row group's midpoint — the other 19 are
    // empty (measured: a "20-split" single-row-group scan ran
    // single-task). A few footer reads (driver-side, ~ms each) give
    // the true split unit. Mixed-writer guard: sample up to 3 files
    // and take the MIN row-group count, so one multi-row-group file in
    // a directory of single-row-group files can't inflate the estimate
    // and wrongly skip the repartition.
    val files = df.inputFiles
    if (files.isEmpty) return df // nothing scanned: trust the plan
    val minRgs: Option[Int] =
      try {
        val hconf = spark.sessionState.newHadoopConf()
        val sample =
          if (files.length <= 3) files.toSeq
          else Seq(files.head, files(files.length / 2), files.last)
        Some(sample.map { f =>
          val in = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(f), hconf))
          try in.getFooter.getBlocks.size finally in.close()
        }.min)
      } catch { case NonFatal(_) => None } // non-parquet: trust splits
    minRgs match {
      case None => df
      case Some(rgs) =>
        // Long product: a many-file table would overflow Int and turn
        // the "never fires on a well-laid-out 100 TB table" guarantee
        // into a spurious full repartition.
        val effSplits = files.length.toLong * math.max(1, rgs)
        // size gate: below ~32 MB the added exchange's stage floor
        // costs more than the single task's compute; above it, per-row
        // compute on one core is seconds-to-minutes while the one-time
        // shuffle is ~0.1 s per 32 MB. Catalyst's pruned-scan size
        // estimate is exact enough (file bytes × column-width ratio)
        // for a 2× threshold.
        val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
        if (effSplits * 2L < target && bytes > BigInt(minBytes))
          df.repartition(target)
        else df
    }
  }

  /** `events` with `ts` as TimestampType. The fixture stores TIMESTAMP
    * (NANOS), which Spark only reads with legacy.parquet.nanosAsLong (set
    * in every session builder) — convert epoch-nanos → µs timestamp here.
    * The fixture's values are exactly µs-precision, so this is lossless. */
  def eventsTbl(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    val df = tbl(spark, sfDir, "events")
    if (df.schema("ts").dataType == LongType)
      // integer `div`, NOT `/`: epoch-nanos exceed 2^53, so double
      // division would round and drift the value by ±1 µs
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df.withColumn("ts", col("ts").cast("timestamp"))
  }

  /** `s` as a JSON string literal: quote, backslash and ALL control chars
    * (< 0x20) escaped — a tab or CR in builder-authored SQL would otherwise
    * break the consumer's `json.load`. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
