package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Gate behavior of [[graft.parallelScan]] — the row-group-aware
  * repartition that un-bottlenecks heavy per-row compute over
  * legitimately-written but parallelism-hostile parquet (round 10: at
  * sf10 every documents-rooted query ran single-task because a 78 MB
  * single-row-group file is ONE Spark task regardless of cores). */
class ParallelScanSpec extends SparkSpec {
  import spark.implicits._

  private def hasShuffle(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.toString.contains("Repartition")

  test("fires on a big single-row-group file; no-ops below the size gate") {
    val dir = tempDir("pscan")
    // ~50 MB of INCOMPRESSIBLE text (per-row hashes — a constant string
    // would dictionary-encode to nothing and duck the size gate) in ONE
    // partition → one file, one row group (inside the 128 MB block)
    val big = spark.range(150000)
      .select(col("id"), expr(
        "concat_ws('', transform(sequence(1, 12), " +
          "i -> md5(cast(id * 1000 + i as string))))").as("text"))
      .coalesce(1)
    big.write.mode("overwrite").parquet(s"$dir/big.parquet")
    val bigScan = spark.read.parquet(s"$dir/big.parquet")
    assert(hasShuffle(parallelScan(spark, bigScan)),
      "40 MB single-row-group scan must be repartitioned")

    // same layout, tiny file → the exchange's stage floor would cost
    // more than the single task's compute → no-op
    val small = spark.range(100)
      .select(col("id"), lit("y" * 40).as("text")).coalesce(1)
    small.write.mode("overwrite").parquet(s"$dir/small.parquet")
    val smallScan = spark.read.parquet(s"$dir/small.parquet")
    assert(!hasShuffle(parallelScan(spark, smallScan)),
      "small scan must not pay an exchange")
  }

  test("no-ops on a many-row-group layout (true splits suffice)") {
    val dir = tempDir("pscan_rg")
    // force small row groups: the same 40 MB becomes dozens of true
    // split units, so Spark parallelizes the scan by itself
    spark.range(120000)
      .select(col("id"), lit("z" * 400).as("text"))
      .coalesce(1)
      .write.mode("overwrite")
      .option("parquet.block.size", (1024 * 1024).toString)
      .parquet(s"$dir/rg.parquet")
    val scan = spark.read.parquet(s"$dir/rg.parquet")
    // sanity: the layout really is multi-row-group
    val meta = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(scan.inputFiles.head),
        spark.sessionState.newHadoopConf()))
    val rgs = try meta.getFooter.getBlocks.size finally meta.close()
    assert(rgs * 2 >= spark.sparkContext.defaultParallelism,
      s"fixture should be many-row-group, got $rgs")
    assert(!hasShuffle(parallelScan(spark, scan)),
      "multi-row-group scan must not pay an extra exchange")
  }

  test("mixed-writer dir: one multi-row-group file must not mask " +
      "single-row-group siblings") {
    val dir = tempDir("pscan_mix")
    // two ~20 MB single-row-group files (incompressible per-row hashes)
    spark.range(120000)
      .select(col("id"), expr(
        "concat_ws('', transform(sequence(1, 12), " +
          "i -> md5(cast(id * 1000 + i as string))))").as("text"))
      .repartition(2)
      .write.mode("overwrite").parquet(s"$dir/mix.parquet")
    // plus one small MULTI-row-group file dropped into the same dir —
    // a second writer with a different block size
    spark.range(300000, 320000)
      .select(col("id"), expr(
        "concat_ws('', transform(sequence(1, 12), " +
          "i -> md5(cast(id * 1000 + i as string))))").as("text"))
      .coalesce(1)
      .write.mode("overwrite")
      .option("parquet.block.size", (256 * 1024).toString)
      .parquet(s"$dir/mrg.parquet")
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/mrg.parquet"))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.rename(part,
      new org.apache.hadoop.fs.Path(s"$dir/mix.parquet/zz-${part.getName}"))
    val scan = spark.read.parquet(s"$dir/mix.parquet")
    assert(scan.inputFiles.length === 3)
    // head-only footer sampling could land on the multi-row-group file
    // and estimate dozens of effective splits; the min-over-sample guard
    // must see the 1-row-group siblings and fire the repartition. Pin
    // the gate at the 32-core bench cluster's target (the 4-core test
    // session's own target is too small for any 3-file dir to trip).
    assert(hasShuffle(parallelScan(spark, scan, 32)),
      "mixed layout dominated by single-row-group files must repartition")
    // determinism the old head-only sample lacked: just under the gate
    // (3 files × min 1 rg × 2 = 6) the decision is a stable no-op
    assert(!hasShuffle(parallelScan(spark, scan, 6)),
      "at effSplits*2 == target the gate must not fire")
  }

  test("trust-splits paths must not overflow into a spurious repartition") {
    // no input files (in-memory range) + stats far above the size gate:
    // the old Int gate computed Int.MaxValue * 2 = -2 < target and fired
    // on exactly the inputs it should leave alone
    val df = spark.range(10000000L).toDF("id")
    assert(df.inputFiles.isEmpty)
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes >
      BigInt(32L * 1024 * 1024))
    assert(!hasShuffle(parallelScan(spark, df)),
      "file-less frame must be trusted, not repartitioned")
  }

  test("a non-parquet frame comes back unchanged") {
    // its footer read fails, which the gate takes as "trust the splits";
    // at target 64 and no size floor a parquet scan this size would fire
    val dir = tempDir("pscan_json")
    spark.range(1000).select(col("id"), concat(lit("t"), col("id")).as("text"))
      .coalesce(1).write.json(s"$dir/t.json")
    val scan = spark.read.schema("id BIGINT, text STRING").json(s"$dir/t.json")
    assert(scan.inputFiles.nonEmpty)
    assert(parallelScan(spark, scan, 64, minBytes = 0L) eq scan)
  }

  test("repartitioned frame returns identical rows") {
    val dir = tempDir("pscan_eq")
    spark.range(120000)
      .select(col("id"), concat(lit("t"), col("id")).as("text"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val scan = spark.read.parquet(s"$dir/t.parquet")
    val a = scan.orderBy("id").collect().toSeq
    val b = parallelScan(spark, scan).orderBy("id").collect().toSeq
    assert(a === b)
  }
}
