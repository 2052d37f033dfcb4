package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: run only the named queries (dev iteration);
    // the driver always calls with exactly (sfDir, outDir) → full run
    val only = args.drop(2).toSet
    val unknown = only -- SparkEntry.queries.keySet
    if (unknown.nonEmpty) {
      // a typo'd filter must not exit 0 with stale outputs still on disk
      System.err.println(s"[verify] unknown query name(s): " +
        s"${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the bench's engine setup, ANALYZE included: verified plans are
    // the plans Bench times
    val spark = graft.core.GraftSession.forData(sfDir, cpus.toInt, "graft-verify")
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
    val failed = selected.toSeq.flatMap { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(
          f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    // the exit code stays 0: the oracle compare is what judges a run
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} of ${selected.size} " +
        s"failed: ${failed.mkString(", ")}")
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
