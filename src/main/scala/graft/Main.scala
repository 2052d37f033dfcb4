package graft

import graft.core.{Catalog, GraftSession}
import graft.pipeline.{Runner, TaxiPipeline}

/** CLI runner — the reference's standalone backfill entry point
  * (`main.py:186-193`: hardcoded `ds`, same four stages as the DAG),
  * here with real argument parsing (C4 `--ds` parameterization).
  *
  * Usage:
  *   runMain graft.Main --ds 2024-01-05 [--sf-dir /root/testdata/sf0.01]
  *     [--src <datepath dir>] [--warehouse <dir>]
  *
  * If `--src` is omitted, the day's events are laid out as a
  * `base/YYYY/MM/DD/` parquet date-path first (the GCS-bucket shape the
  * reference ingests from, `taxi_trips_etl.py:28-33`).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val ds = TaxiPipeline.checkDs(opts.getOrElse("ds", "2024-01-05"))
    val sfDir = opts.getOrElse("sf-dir", "/root/testdata/sf0.01")
    val base = opts.getOrElse("warehouse",
      s"${sys.props("user.dir")}/target/taxi_wh")
    val spark = GraftSession.local()

    val src = opts.getOrElse("src", {
      val Array(y, m, d) = ds.split("-")
      import org.apache.spark.sql.functions._
      eventsTbl(spark, sfDir)
        .filter(to_date(col("ts")) === lit(ds).cast("date"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$base/src/$y/$m/$d")
      s"$base/src"
    })

    val catalog = new Catalog(spark, s"$base/tables")
    val ran = Runner.run(catalog,
      TaxiPipeline.stages(spark, sfDir, src, ds))
    println(s"[graft] stages run: ${ran.mkString(" >> ")}")
    val out = s"most_populars_${TaxiPipeline.dsNoDash(ds)}"
    if (catalog.exists(out)) {
      println(s"[graft] $out:")
      catalog.load(out).orderBy("popularity").show(10, truncate = false)
    } else println(s"[graft] pipeline short-circuited before $out")
    spark.stop()
  }
}
