package graft

import java.nio.file.{Files, Paths}

/** Dev tool: dump `explain("formatted")` for every registered query (or
  * the names given as args) to `target/plans/<name>.txt`, for plan audits
  * — check PushedFilters reach the scan, small dims broadcast, top-k
  * plans as TakeOrderedAndProject, and windows are partitioned. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.core.GraftSession.local(4, "graft-explain", Map(
      "spark.sql.shuffle.partitions" -> "4",
      // data-sized initial shuffle partitions — rationale + A/B numbers
      // on GraftSession.initialShufflePartitions
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
        graft.core.GraftSession.initialShufflePartitions(sfDir, 32).toString))
    spark.sparkContext.setLogLevel("ERROR")
    val out = Paths.get("target", "plans")
    Files.createDirectories(out)
    val names =
      if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(out.resolve(s"$name.txt"), plan)
          println(s"[explain] wrote target/plans/$name.txt")
        } catch {
          case e: Throwable =>
            println(s"[explain] $name failed: ${e.getMessage}")
        }
      }
    }
    spark.stop()
  }
}
