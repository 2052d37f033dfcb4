package graft.core

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** ANALYZE is per table: an unreadable table gets no stats and one
  * stderr line, and the rest of the directory is still analyzed. */
class TableStatsSpec extends SparkSpec {

  test("a corrupt table is reported and skipped; the others are analyzed") {
    val dir = Files.createTempDirectory("graft_tablestats")
    Seq("region", "customer").foreach { t =>
      Files.copy(Paths.get(sf, s"$t.parquet"), dir.resolve(s"$t.parquet"))
    }
    Files.write(dir.resolve("nation.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    // the registry key: the scan root, qualified as the relation does it
    def key(t: String): String = {
      val path = new Path(s"$dir/$t.parquet")
      path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(path).toUri.toString
    }

    val err = new ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new PrintStream(err, true, "UTF-8"))
    try TableStats.analyze(spark, dir.toString)
    finally System.setErr(stderr)

    val lines = err.toString("UTF-8").linesIterator
      .filter(_.startsWith("[graft] TableStats: ")).toList
    assert(lines.size === 1, lines)
    assert(lines.head.startsWith("[graft] TableStats: nation not analyzed: "))
    assert(TableStats.lookup(key("nation")).isEmpty)
    assert(TableStats.lookup(key("region")).map(_.rows) === Some(5L))
    assert(TableStats.lookup(key("customer")).exists(_.rows > 0))
  }
}
