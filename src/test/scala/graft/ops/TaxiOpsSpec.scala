package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** End-to-end run of the public TLC-schema API on a synthetic green-trips
  * day — the "switch from the reference" path. */
class TaxiOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // (pickup, dropoff, passengers, distance, fare, total, puLoc, doLoc)
  private lazy val trips: DataFrame = Seq(
    // good trips — zone 1 → 2 twice (the popular route), 2 → 1 once
    (ts("2023-02-16 08:10:00"), ts("2023-02-16 08:30:00"), 1L, 2.5, 12.0, 14.0, 1L, 2L),
    (ts("2023-02-16 19:00:00"), ts("2023-02-16 19:25:00"), 2L, 3.1, 15.5, 18.0, 1L, 2L),
    (ts("2023-02-16 12:30:00"), ts("2023-02-16 12:55:00"), 1L, 4.0, 18.0, 21.0, 2L, 1L),
    // bad trips: zero-duration / zero passengers / null distance / zero fare
    (ts("2023-02-16 09:00:00"), ts("2023-02-16 09:00:00"), 1L, 1.0, 5.0, 6.0, 1L, 2L),
    (ts("2023-02-16 10:00:00"), ts("2023-02-16 10:10:00"), 0L, 1.0, 5.0, 6.0, 1L, 2L),
    (ts("2023-02-16 11:00:00"), ts("2023-02-16 11:10:00"), 1L, 0.0, 5.0, 6.0, 2L, 1L),
    (ts("2023-02-16 13:00:00"), ts("2023-02-16 13:10:00"), 1L, 1.0, 0.0, 0.0, 2L, 2L))
    .toDF("pickup_datetime", "dropoff_datetime", "passenger_count",
      "trip_distance", "fare_amount", "total_amount",
      "pickup_location_id", "dropoff_location_id")

  private lazy val zones: DataFrame = Seq(
    (1L, "POLYGON((0 0, 0.5 0, 0.5 0.5, 0 0.5, 0 0))"),
    (1L, "POINT(0 0)"), // duplicate zone row with smaller WKT → deduped away
    (2L, "POLYGON((1 1, 1.5 1, 1.5 1.5, 1 1.5, 1 1))"))
    .toDF("zone_id", "zone_geom")

  test("normalize removes exactly the reference's bad-row classes") {
    assert(TaxiOps.normalize(trips).count() === 3)
    assert(TaxiOps.normalizeInverted(trips).count() === 4)
  }

  test("zone dedup keeps the largest WKT per zone") {
    val d = TaxiOps.dedupZones(zones)
    assert(d.count() === 2)
    assert(d.filter($"zone_id" === 1L).select("zone_geom")
      .as[String].head().startsWith("POLYGON"))
  }

  test("enrich joins both branches and assigns dayparts") {
    val e = TaxiOps.enrich(TaxiOps.normalize(trips), zones)
    assert(e.count() === 3)
    val parts = e.select("daypart").as[String].collect().sorted.toSeq
    assert(parts === Seq("Evening", "Morning", "Noon"))
    // both hex columns resolved (no NULL-extended rows survive rank=1)
    assert(e.filter($"hex_pickup".isNull || $"hex_dropoff".isNull).count() === 0)
  }

  test("mostPopulars ranks the 1→2 route first with the STRUCT route") {
    val e = TaxiOps.enrich(TaxiOps.normalize(trips), zones)
    val mp = TaxiOps.mostPopulars(e)
    val top = mp.orderBy($"popularity").head()
    assert(top.getAs[Int]("popularity") === 1)
    assert(top.getAs[Long]("route_count") === 2L)
    val route = top.getStruct(top.fieldIndex("route"))
    assert(route.getString(0) !== route.getString(1)) // pickup ≠ dropoff hex
  }

  /** The fused chain's rows equal the reference-shaped staged chain's,
    * column for column; returns the staged result. */
  private def fusedEqualsStaged(trips: DataFrame,
      zones: DataFrame): Seq[org.apache.spark.sql.Row] = {
    val staged = TaxiOps.mostPopulars(
      TaxiOps.enrich(TaxiOps.normalize(trips), zones))
    val fused = TaxiOps.mostPopularsFused(trips, zones)
    assert(fused.columns.toSeq === staged.columns.toSeq)
    val cols = staged.columns.map(org.apache.spark.sql.functions.col)
    val want = staged.orderBy(cols: _*).collect().toSeq
    assert(fused.orderBy(cols: _*).collect().toSeq === want)
    want
  }

  /** A good trip (normalize keeps it) between two location ids. */
  private def trip(pu: Option[Long], dropoff: Option[Long]): DataFrame =
    Seq((ts("2023-02-16 15:00:00"), ts("2023-02-16 15:20:00"), 1L, 2.0,
      10.0, 11.0, pu, dropoff)).toDF(trips.columns.toSeq: _*)

  private def zone(id: Option[Long], wkt: Option[String]): DataFrame =
    Seq((id, wkt)).toDF("zone_id", "zone_geom")

  test("mostPopularsFused equals the staged chain on duplicate identities" +
      " and zone ties") {
    // duplicate trip identities (n=2 → n²=4 in the staged rejoin) AND a
    // zone with TWO equal-length WKT geometries (rank tie keeps both) —
    // the two edge cases the fused algebra must reproduce
    val dup = trips.union(trips.limit(1))
    val tiedZones = zones.union(
      Seq((2L, "POLYGON((9 9, 9.5 9, 9.5 9.5, 9 9.5, 9 9))"))
        .toDF("zone_id", "zone_geom")) // same byte length as zone 2's row
    fusedEqualsStaged(dup, tiedZones)

    // the zone map's edge cases, each against the join shape
    val base = fusedEqualsStaged(trips, zones)
    // a NULL geometry is the label of a key whose only row it is, and
    // loses to a WKT under its key; zone 3 becomes the top pickup
    val fromNull = Seq.fill(3)(trip(Some(3L), Some(1L))).reduce(_ union _)
    val nullGeom = fusedEqualsStaged(
      trips.union(fromNull).union(trip(Some(2L), Some(3L))),
      zones.union(zone(Some(3L), None)).union(zone(Some(1L), None)))
    assert(nullGeom.exists(r => r.isNullAt(r.fieldIndex("hex_pickup"))))
    // a NULL key matches nothing, not even a NULL location id
    assert(fusedEqualsStaged(trips.union(trip(None, Some(2L))),
      zones.union(zone(None, Some("POLYGON((5 5, 6 5, 6 6, 5 6, 5 5))")))) ===
      base)
    // a location id absent from the dimension drops its trip
    assert(fusedEqualsStaged(
      trips.union(trip(Some(7L), Some(2L))).union(trip(Some(1L), Some(9L))),
      zones) === base)
  }

  test("tripss + dailyTripMetrics compute the dbt models") {
    val m = TaxiOps.dailyTripMetrics(
      TaxiOps.tripss(TaxiOps.normalize(trips)))
    val row = m.head()
    assert(row.getAs[java.sql.Date]("pickup_date").toString === "2023-02-16")
    assert(row.getAs[Long]("total_drive_time") === 20L + 25L + 25L)
    assert(TaxiOps.tripCount(trips).head().getLong(0) === 7L)
  }
}
