package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

/** Dev tool: dump `explain("formatted")` for every registered query (or
  * the names given as args) to `target/plans/<name>.txt`, for plan audits
  * — check PushedFilters reach the scan, small dims broadcast, top-k
  * plans as TakeOrderedAndProject, and windows are partitioned. For a
  * benched name it also dumps the plan Bench times
  * (`SparkEntry.benchQueries`) to `target/plans/<name>.bench.txt`. */
object Explain {
  def main(args: Array[String]): Unit = {
    val unknown = args.toSet -- SparkEntry.queries.keySet
    if (unknown.nonEmpty) {
      System.err.println(s"[explain] unknown query name(s): " +
        s"${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    // the bench's engine setup at 4 cores, ANALYZE included, so the
    // dumped plans are the plans Bench runs
    val spark = graft.core.GraftSession.forData(sfDir, 4, "graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    val out = Paths.get("target", "plans")
    Files.createDirectories(out)
    def dump(file: String, build: => DataFrame): Unit =
      try {
        val plan = build.queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(out.resolve(file), plan)
        println(s"[explain] wrote target/plans/$file")
      } catch {
        case e: Throwable =>
          println(s"[explain] $file failed: ${e.getMessage}")
      }
    val names =
      if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      dump(s"$name.txt", SparkEntry.queries(name)(spark, sfDir))
      SparkEntry.benchQueries.get(name).foreach { bench =>
        dump(s"$name.bench.txt", bench(spark, sfDir))
      }
    }
    spark.stop()
  }
}
