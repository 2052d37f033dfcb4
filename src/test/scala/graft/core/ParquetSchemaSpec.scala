package graft.core

import java.nio.file.{Files, Paths}

import scala.util.Try

import org.apache.spark.SparkThrowable

import graft.SparkSpec

/** `tbl` (and every [[ParquetSchema.read]]) reads the schema of the footer
  * Spark's inference would read, on the driver. Each case checks it
  * against `spark.read.parquet`'s inferred schema. */
class ParquetSchemaSpec extends SparkSpec {
  import spark.implicits._

  private def inferred(path: String) = spark.read.parquet(path).schema

  test("every fixture table: tbl's schema is the inferred one") {
    TableStats.FixtureTables.foreach { t =>
      assert(graft.tbl(spark, sf, t).schema === inferred(s"$sf/$t.parquet"), t)
    }
  }

  test("tbl starts no Spark job; inference starts one") {
    assert(jobsOf(graft.tbl(spark, sf, "lineitem")) === 0)
    assert(jobsOf(spark.read.parquet(s"$sf/lineitem.parquet")) === 1)
  }

  test("a Spark-written two-file directory with _SUCCESS reads as " +
      "inference reads it") {
    val dir = s"${tempDir("pq_two")}/t"
    Seq((1L, "x", 0.5), (2L, "y", 1.5)).toDF("id", "a", "b")
      .repartition(2).write.parquet(dir)
    val names = new java.io.File(dir).list().toSeq
    assert(names.contains("_SUCCESS"))
    assert(names.count(_.startsWith("part-")) === 2, names)
    val read = ParquetSchema.read(spark, dir)
    assert(read.schema === inferred(dir))
    assert(read.as[(Long, String, Double)].collect().sortBy(_._1).toSeq ===
      Seq((1L, "x", 0.5), (2L, "y", 1.5)))
  }

  test("summary files: _common_metadata's schema wins over the first " +
      "data file's, as in inference") {
    val dir = s"${tempDir("pq_summary")}/t"
    Seq((1L, "x"), (2L, "y")).toDF("id", "a").coalesce(1).write
      .option("parquet.summary.metadata.level", "ALL").parquet(dir)
    val names = new java.io.File(dir).list().toSeq
    assert(names.contains("_common_metadata") && names.contains("_metadata"),
      names)
    // a data file with another schema that sorts before every part file
    val other = s"${tempDir("pq_other")}/o"
    Seq((3L, 2.5)).toDF("id", "z").coalesce(1).write.parquet(other)
    val part = new java.io.File(other).listFiles()
      .find(_.getName.startsWith("part-")).get
    Files.copy(part.toPath, Paths.get(dir, "a-first.parquet"))
    val read = ParquetSchema.read(spark, dir)
    assert(read.schema === inferred(dir))
    assert(read.schema.fieldNames.toSeq === Seq("id", "a"))
  }

  test("a missing path fails as spark.read.parquet fails") {
    def failure(read: => Any): String = Try(read).failed.get match {
      case e: SparkThrowable => s"${e.getClass.getName} ${e.getCondition}"
      case e => e.getClass.getName
    }
    val dir = tempDir("pq_missing")
    assert(failure(graft.tbl(spark, dir, "absent")) ===
      failure(spark.read.parquet(s"$dir/absent.parquet")))
  }
}
