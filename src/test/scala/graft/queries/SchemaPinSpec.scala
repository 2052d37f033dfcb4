package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType, TimestampType}

import graft.SparkSpec
import graft.core.Catalog
import graft.pipeline.TaxiPipeline

/** Catalog-pinned schemas for evolved tables: the query-time read takes
  * its schema from the catalog entry, never from footer reconciliation. */
class SchemaPinSpec extends SparkSpec {
  import spark.implicits._

  /** A catalog in a new directory, so no case sees pins or tables an
    * earlier run left behind. */
  private def freshCat(): Catalog =
    new Catalog(spark, tempDir("schema_pin"))

  test("pinned read surfaces the superset with nulls for pre-evolution files") {
    val cat = freshCat()
    val base = s"${cat.warehouseDir}/t"
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$base/day=1")
    Seq((3L, 30L, 0.5), (4L, 40L, 0.7)).toDF("k", "v", "w")
      .write.mode("overwrite").parquet(s"$base/day=2")
    cat.pinSchema("t", StructType(Seq(
      StructField("k", LongType), StructField("v", LongType),
      StructField("w", DoubleType))))
    val got = cat.loadPinned("t")
    // data columns exactly as pinned; partition col appended from dirs
    assert(got.schema.fieldNames.toSeq === Seq("k", "v", "w", "day"))
    val rows = got.select("k", "w").as[(Long, Option[Double])]
      .collect().sortBy(_._1)
    assert(rows.toSeq === Seq(1L -> None, 2L -> None,
      3L -> Some(0.5), 4L -> Some(0.7)))
  }

  test("read schema comes from the catalog entry, not the footers") {
    val cat = freshCat()
    val base = s"${cat.warehouseDir}/t"
    Seq((1L, 10L)).toDF("k", "v").write.mode("overwrite").parquet(base)
    // pin a shape NO footer contains (extra column, reordered fields):
    // inference could never produce it, so if the read surfaces it, the
    // schema provably came from the pin
    cat.pinSchema("t", StructType(Seq(
      StructField("v", LongType), StructField("k", LongType),
      StructField("not_in_any_footer", DoubleType))))
    val got = cat.loadPinned("t")
    assert(got.schema.fieldNames.toSeq ===
      Seq("v", "k", "not_in_any_footer"))
    assert(got.as[(Long, Long, Option[Double])].collect().toSeq ===
      Seq((10L, 1L, None)))
  }

  test("pin survives a catalog reopen and hides from the table listing") {
    val cat = freshCat()
    Seq((1L, 2L)).toDF("a", "b")
      .write.mode("overwrite").parquet(s"${cat.warehouseDir}/t")
    cat.pinSchema("t", StructType(Seq(
      StructField("a", LongType), StructField("b", LongType))))
    val reopened = new Catalog(spark, cat.warehouseDir)
    assert(reopened.pinnedSchema("t").map(_.fieldNames.toSeq) ===
      Some(Seq("a", "b")))
    assert(reopened.tables() === Seq("t")) // _schemas metadata hidden
    assert(reopened.loadPinned("t").count() === 1L)
  }

  test("loadPinned without a pin fails loudly") {
    val cat = freshCat()
    intercept[IllegalStateException](cat.loadPinned("nope"))
  }

  // ---- pin lifecycle: every catalog write keeps the pin true -------------

  test("drop removes the pin: a table re-created under the name reads " +
      "its own schema, not the dropped one's") {
    val cat = freshCat()
    Seq((1L, 2L)).toDF("a", "b")
      .write.parquet(s"${cat.warehouseDir}/t")
    cat.pinSchema("t", StructType(Seq(
      StructField("a", LongType), StructField("b", LongType))))
    cat.drop("t")
    assert(cat.pinnedSchema("t") === None)
    Seq(("x", 0.5)).toDF("c", "d").write.parquet(s"${cat.warehouseDir}/t")
    assert(cat.load("t").as[(String, Double)].collect().toSeq ===
      Seq("x" -> 0.5))
    // the catalog's own re-create pins the new shape
    cat.drop("t")
    cat.save("t", Seq(("y", 1.5)).toDF("c", "d"))
    assert(cat.loadPinned("t").as[(String, Double)].collect().toSeq ===
      Seq("y" -> 1.5))
  }

  test("save pins the written schema; an overwrite with a new schema " +
      "re-pins") {
    val cat = freshCat()
    val first = Seq((1L, "a")).toDF("k", "s")
    cat.save("t", first)
    assert(cat.pinnedSchema("t") === Some(first.schema))
    val second = Seq((2.5, 3L)).toDF("w", "k")
    cat.save("t", second)
    assert(cat.pinnedSchema("t") === Some(second.schema))
    assert(cat.load("t").as[(Double, Long)].collect().toSeq ===
      Seq(2.5 -> 3L))
  }

  test("append keeps the pin for the same or a subset schema and drops " +
      "it for a new column") {
    val cat = freshCat()
    val full = Seq((1L, 10L)).toDF("k", "v")
    cat.save("t", full)
    cat.append("t", Seq((2L, 20L)).toDF("k", "v"))
    assert(cat.pinnedSchema("t") === Some(full.schema))
    cat.append("t", Seq(3L).toDF("k")) // subset: v reads back null
    assert(cat.pinnedSchema("t") === Some(full.schema))
    assert(cat.load("t").as[(Long, Option[Long])].collect().sortBy(_._1)
      .toSeq === Seq(1L -> Some(10L), 2L -> Some(20L), 3L -> None))
    // a same-named field of another type is not covered either
    val retyped = freshCat()
    retyped.save("t", full)
    retyped.append("t", Seq((4L, "x")).toDF("k", "v"))
    assert(retyped.pinnedSchema("t") === None)
    cat.append("t", Seq((4L, 40L, 0.5)).toDF("k", "v", "w"))
    assert(cat.pinnedSchema("t") === None)
    assert(cat.load("t").count() === 4L) // unpinned: read by inference
  }

  test("rename moves the pin, and a reopened catalog reads through it") {
    val cat = freshCat()
    val df = Seq((1L, "a")).toDF("k", "s")
    cat.save("from", df)
    // a pin left under the target name (no table) is replaced
    cat.pinSchema("to", StructType(Seq(StructField("stale", DoubleType))))
    cat.rename("from", "to")
    assert(cat.pinnedSchema("from") === None)
    val reopened = new Catalog(spark, cat.warehouseDir)
    assert(reopened.pinnedSchema("to") === Some(df.schema))
    assert(reopened.tables() === Seq("to"))
    assert(reopened.load("to").as[(Long, String)].collect().toSeq ===
      Seq(1L -> "a"))
  }

  test("rename onto an existing table throws and leaves both tables and " +
      "pins as they were") {
    val cat = freshCat()
    val a = Seq((1L, "a")).toDF("k", "s")
    val b = Seq((2.0, 3L)).toDF("x", "y")
    cat.save("a", a)
    cat.save("b", b)
    intercept[IllegalStateException](cat.rename("a", "b"))
    assert(cat.tables() === Seq("a", "b"))
    assert(cat.pinnedSchema("a") === Some(a.schema))
    assert(cat.pinnedSchema("b") === Some(b.schema))
    assert(cat.load("a").as[(Long, String)].collect().toSeq === Seq(1L -> "a"))
    assert(cat.load("b").as[(Double, Long)].collect().toSeq === Seq(2.0 -> 3L))
    assert(!Files.exists(Paths.get(cat.warehouseDir, "b", "a")))
  }

  test("a save whose write fails leaves no table and no pin") {
    val cat = freshCat()
    cat.save("t", Seq(1L, 2L).toDF("x"))
    def raising(df: org.apache.spark.sql.DataFrame) =
      df.select(when(col("x") >= 0, raise_error(lit("boom")))
        .otherwise(col("x")).as("x"))
    // a local relation is evaluated while planning, before the overwrite
    // removes a file: the old table stays
    intercept[Exception](cat.save("t", raising(Seq(1L).toDF("x"))))
    assert(cat.load("t").count() === 2L)
    // a job that raises fails after the old files are gone
    intercept[Exception](cat.save("t", raising(spark.range(1).toDF("x"))))
    assert(!cat.exists("t"))
    assert(!cat.tables().contains("t"))
    assert(cat.pinnedSchema("t") === None)
  }

  test("a save whose frame reads the table itself throws and leaves the " +
      "table's rows and pin") {
    val cat = freshCat()
    val u = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    cat.save("u", u)
    val e = intercept[IllegalArgumentException](cat.save("u", cat.load("u")))
    assert(e.getMessage.contains("'u'"))
    intercept[IllegalArgumentException](
      cat.save("u", cat.load("u").filter(col("k") > 1)))
    assert(cat.pinnedSchema("u") === Some(u.schema))
    assert(cat.load("u").as[(Long, String)].collect().sorted.toSeq ===
      Seq(1L -> "a", 2L -> "b"))
    // a table whose name extends `u` is another table
    cat.save("uu", cat.load("u"))
    cat.save("u", cat.load("uu").filter(col("k") > 1))
    assert(cat.load("u").as[(Long, String)].collect().toSeq === Seq(2L -> "b"))
  }

  test("every staged table of a pipeline day reads back through its pin " +
      "with the inferred schema (sf0.01)") {
    val sf001 = fixture("sf0.01")
    val ds = "2024-01-05"
    val cat = freshCat()
    val src = s"${cat.warehouseDir}/_src"
    graft.eventsTbl(spark, sf001)
      .filter(to_date(col("ts")) === lit(ds).cast("date"))
      .coalesce(1).write.parquet(s"$src/2024/01/05")
    val day = TaxiPipeline.dsNoDash(ds)
    // each stage drops its input table, so check each one as it lands
    val staged = TaxiPipeline.stages(spark, sf001, src, ds).zip(Seq(
      "temp_trips", "normalized_trips", s"trips_$day",
      s"most_populars_$day"))
    // the fixture's TIMESTAMP(NANOS) `ts` reads as a long under this
    // conf; the staged tables carry the converted timestamp
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    staged.foreach { case (stage, table) =>
      assert(stage.run(cat), s"${stage.name} short-circuited")
      assert(cat.pinnedSchema(table).isDefined, s"$table has no pin")
      val inferred = spark.read.parquet(s"${cat.warehouseDir}/$table").schema
      assert(cat.load(table).schema === inferred, table)
      inferred.find(_.name == "ts").foreach(f =>
        assert(f.dataType === TimestampType, table))
    }
    assert(cat.pinnedSchema("temp_trips") === None) // dropped with it
    assert(cat.pinnedSchema("normalized_trips") === None)
    assert(cat.tables() === Seq(s"most_populars_$day", s"trips_$day"))
  }
}
