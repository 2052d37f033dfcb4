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
    val spark = graft.core.GraftSession.local(cpus.toInt, "graft-verify",
      Map(
        "spark.sql.shuffle.partitions" -> cpus,
        // data-sized initial shuffle partitions — rationale + A/B numbers
        // on GraftSession.initialShufflePartitions
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
          graft.core.GraftSession.initialShufflePartitions(sfDir, cpus.toInt)
            .toString))
    // ANALYZE: catalog stats for the cost-based skip-partial rule — the
    // once-per-load warehouse step (see Bench for rationale)
    graft.core.TableStats.analyze(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(
          f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
