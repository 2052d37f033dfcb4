package graft.pipeline

import java.nio.file.{Files, Paths}

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}

import graft.SparkSpec

/** Ingest reads a source day with the schema of its first part file's
  * footer, read on the driver. Each case reads a day both ways, as ingest
  * reads it and with Spark's own schema inference, and checks that the
  * schemas and the rows (or the failures) are the same. */
class DaySchemaSpec extends SparkSpec {

  /** The day read as ingest reads it, and read with inference. */
  private def bothReads(s: SparkSession,
      day: String): (DataFrame, DataFrame) =
    (TaxiPipeline.readDay(s, day).get,
      s.read.option("pathGlobFilter", "part-*").parquet(day))

  /** The rows, sorted, or the failure's class and error condition. */
  private def outcome(df: DataFrame): Either[String, Seq[String]] =
    Try(df.collect().map(_.toSeq.map {
      case b: Array[Byte] => new String(b, "UTF-8")
      case v => String.valueOf(v)
    }.mkString("[", ",", "]")).toSeq.sorted).toEither.left.map {
      case e: SparkThrowable => s"${e.getClass.getName} ${e.getCondition}"
      case e => e.getClass.getName
    }

  private def assertSameReads(s: SparkSession, day: String): DataFrame = {
    val (footer, inferred) = bothReads(s, day)
    assert(footer.schema === inferred.schema)
    assert(outcome(footer) === outcome(inferred))
    footer
  }

  /** Copies the one part file `df` writes into `day`, named `name`. */
  private def putPart(day: String, name: String, df: DataFrame): Unit = {
    val tmp = s"${tempDir("day_part")}/out"
    df.coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).head
    Files.createDirectories(Paths.get(day))
    Files.copy(part.toPath, Paths.get(day, name))
  }

  test("a Spark-written day: the footer schema is the inferred one") {
    val day = s"${tempDir("spark_day")}/d"
    graft.eventsTbl(spark, sf)
      .filter(to_date(col("ts")) === lit("2024-01-05").cast("date"))
      .repartition(2).write.parquet(day)
    assertSameReads(spark, day)
  }

  test("the fixture's events file and a TIMESTAMP(NANOS) file: the " +
      "footer schema is the inferred one under the session's parquet conf") {
    val events = s"${tempDir("events_day")}/d"
    Files.createDirectories(Paths.get(events))
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(events, "part-00000.parquet"))
    assertSameReads(spark, events)

    // no Spark schema in the footer: nanos and unannotated binary go
    // through the converter
    val nanos = s"${tempDir("nanos_day")}/d"
    val schema = MessageTypeParser.parseMessageType(
      "message day { required int64 event_id; " +
        "optional int64 ts (TIMESTAMP(NANOS,true)); optional binary raw; " +
        "optional binary name (STRING); }")
    val writer = ExampleParquetWriter
      .builder(new Path(s"$nanos/part-00000.parquet"))
      .withType(schema).withConf(spark.sessionState.newHadoopConf()).build()
    val rows = new SimpleGroupFactory(schema)
    try (1 to 3).foreach { i =>
      writer.write(rows.newGroup().append("event_id", i.toLong)
        .append("ts", 1704412800000000000L + i).append("raw", s"r$i")
        .append("name", s"n$i"))
    } finally writer.close()
    val read = assertSameReads(spark, nanos)
    assert(read.schema("ts").dataType === LongType) // nanosAsLong
    assert(read.schema("raw").dataType === BinaryType)
    val asString = spark.newSession()
    asString.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert(assertSameReads(asString, nanos).schema("raw").dataType ===
      StringType)
  }

  test("a day whose files disagree reads as inference reads it: the " +
      "first part file by path gives the schema") {
    import spark.implicits._
    // written in the reverse of path order, so the pick is by name
    val mixed = s"${tempDir("mixed_day")}/d"
    putPart(mixed, "part-00001.parquet", Seq((3L, 2.5)).toDF("id", "b"))
    putPart(mixed, "part-00000.parquet",
      Seq((1L, "x"), (2L, "y")).toDF("id", "a"))
    val read = assertSameReads(spark, mixed)
    assert(read.schema.fieldNames.toSeq === Seq("id", "a"))
    assert(outcome(read) === Right(Seq("[1,x]", "[2,y]", "[3,null]")))

    // a column whose type differs between the files fails both reads
    val clash = s"${tempDir("clash_day")}/d"
    putPart(clash, "part-00001.parquet", Seq(3L).toDF("id"))
    putPart(clash, "part-00000.parquet", Seq("1").toDF("id"))
    val failed = assertSameReads(spark, clash)
    assert(failed.schema("id").dataType === StringType)
    assert(outcome(failed).isLeft, outcome(failed))
  }
}
