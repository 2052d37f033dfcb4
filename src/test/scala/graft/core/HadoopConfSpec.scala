package graft.core

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.serializer.JavaSerializer
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

import graft.{SparkEntry, SparkSpec}
import graft.pipeline.{Runner, TaxiPipeline}

/** The session's Hadoop conf holds only the keys something set
  * (`GraftSession.local` drops the `*-default.xml` restatements), and
  * what the engine needs from it still reaches the driver and the tasks. */
class HadoopConfSpec extends SparkSpec {

  /** A staged sf0.001 taxi day and one corpus operator written to
    * parquet, run once: the paths that scan, write and copy the conf. */
  private lazy val stagedDay: Catalog = {
    val ds = "2024-01-05"
    val cat = new Catalog(spark, tempDir("hconf_wh"))
    val src = tempDir("hconf_src")
    graft.eventsTbl(spark, sf)
      .filter(to_date(col("ts")) === lit(ds).cast("date"))
      .coalesce(1).write.parquet(s"$src/2024/01/05")
    assert(Runner.run(cat, TaxiPipeline.stages(spark, sf, src, ds)).size === 4)
    SparkEntry.queries("x_dedup_exact")(spark, sf)
      .write.parquet(s"${tempDir("hconf_corpus")}/out")
    cat
  }

  test("after a staged day and a corpus operator the session's Hadoop conf " +
      "holds no default-only key, at most 64 keys and 16 KB serialized") {
    stagedDay
    val copied = spark.sessionState.newHadoopConf()
    for (conf <- Seq(copied, spark.sparkContext.hadoopConfiguration,
        GraftBridge.sharedHadoopConf(spark))) {
      val left = GraftSession.defaultOnlyKeys(conf)
      assert(left.isEmpty,
        s"${left.size} default-only keys, e.g. ${left.sorted.take(5)}")
    }
    assert(copied.size() <= 64, copied.size())
    val bytes = new JavaSerializer(spark.sparkContext.getConf).newInstance()
      .serialize(new SerializableConfiguration(copied)).limit()
    assert(bytes <= 16 * 1024, bytes)
  }

  test("spark.hadoop.* keys and the committer settings reach a task " +
      "through its deserialized conf") {
    val driver = spark.sessionState.newHadoopConf()
    val shipped = new SerializableConfiguration(driver)
    val keys = Seq("fs.file.impl", "fs.AbstractFileSystem.file.impl",
      "mapreduce.fileoutputcommitter.algorithm.version")
    val (taskSize, taskValues) = spark.sparkContext.parallelize(Seq(1), 1)
      .map(_ => (shipped.value.size(), keys.map(shipped.value.get)))
      .collect().head
    assert(taskValues === Seq(classOf[GraftLocalFileSystem].getName,
      classOf[GraftLocalFs].getName, "1"))
    assert(taskSize === driver.size())
  }

  test("catalog tables still get _SUCCESS and Hadoop's default modes") {
    val cat = stagedDay
    assert(cat.tables() === Seq("most_populars_20240105", "trips_20240105"))
    for (t <- cat.tables()) {
      val dir = Paths.get(cat.warehouseDir, t)
      assert(Files.exists(dir.resolve("_SUCCESS")), t)
      val entries = Files.walk(dir).iterator().asScala.toSeq
      for (p <- entries) {
        val mode = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
        // umask 022: rwxr-xr-x directories, rw-r--r-- files
        assert(mode === (if (Files.isDirectory(p)) 0x1ed else 0x1a4), p)
      }
    }
  }
}
