package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.eventsTbl
import graft.functions.GeoF
import graft.ops.TaxiOps

/** End-to-end fidelity of the PUBLIC API: the full reference chain
  * `TaxiOps.normalize → TaxiOps.enrich → TaxiOps.mostPopulars` on
  * TLC-shaped trips synthesized from `events` (pickup=ts, dropoff=ts +
  * event_id%3600 s — integer arithmetic, engine-exact; passengers =
  * user_id%5 with real zeros; pickup zone = event_id%30 so ids 25–29 miss
  * the zone dim and must be killed by the post-join finish_rank filter)
  * and `taxi_zone_geom` built from `nation` with the quarter-grid WKT
  * squares (analytic centroids → hex ids stated by the Scala mirror).
  * The oracle replays every stage in SQL — this is the query a reference
  * user's whole daily run compiles to. */
object FidelityQueries {

  private def trips(s: SparkSession, dir: String): DataFrame =
    eventsTbl(s, dir).select(
      col("ts").as("pickup_datetime"),
      timestamp_micros(unix_micros(col("ts")) +
        (col("event_id") % 3600) * 1000000L).as("dropoff_datetime"),
      (col("user_id") % 5).as("passenger_count"),
      col("value").as("trip_distance"),
      col("value").as("fare_amount"),
      col("value").as("total_amount"),
      (col("event_id") % 30).as("pickup_location_id"),
      (col("user_id") % 25).as("dropoff_location_id"))

  private def zones(s: SparkSession, dir: String): DataFrame =
    GeoQueries.zonesWkt(s, dir)
      .select(col("zone_id").cast("long").as("zone_id"), col("zone_geom"))

  /** The oracle's projection and total order of a most-populars frame. */
  private def oracleOrder(mp: DataFrame): DataFrame =
    mp.select(col("popularity"),
      col("route.pickup_hexagons").as("route_pickup_hex"),
      col("route.dropoff_hexagons").as("route_dropoff_hex"),
      col("route_count"),
      col("hex_dropoff").as("top_dropoff_hex"), col("dropoff_count"),
      col("hex_pickup").as("top_pickup_hex"), col("pickup_count"))
      .orderBy("popularity", "route_pickup_hex", "route_dropoff_hex",
        "top_dropoff_hex", "top_pickup_hex")

  private def taxiFull(s: SparkSession, dir: String): DataFrame =
    oracleOrder(TaxiOps.mostPopulars(
      TaxiOps.enrich(TaxiOps.normalize(trips(s, dir)), zones(s, dir))))

  /** The same chain through [[TaxiOps.mostPopularsFused]] (equality
    * proof on `TaxiOps`), gated by the SAME oracle as `q_taxi_full`:
    * identical output is the claim being checked. */
  private def taxiFused(s: SparkSession, dir: String): DataFrame =
    oracleOrder(TaxiOps.mostPopularsFused(trips(s, dir), zones(s, dir)))

  private val taxiFullSql = {
    // true H3 res-9 ids per zone centroid; H3.latLngToCellString is
    // itself validated against published vectors (H3Spec) and an
    // independent DuckDB reimplementation (H3OracleSql), so stating its
    // values as oracle literals tests the JOIN GRAPH, not H3
    val hexRows = (0 until 25).map(k =>
      s"($k, '${graft.functions.H3.latLngToCellString(GeoQueries.latOf(k), GeoQueries.lngOf(k), 9)}')")
      .mkString(", ")
    s"""WITH trips AS (
       |  SELECT ts AS pickup_datetime,
       |         ts + (event_id % 3600) * INTERVAL '1 second'
       |           AS dropoff_datetime,
       |         user_id % 5 AS passenger_count,
       |         value AS trip_distance, value AS fare_amount,
       |         event_id % 30 AS pickup_location_id,
       |         user_id % 25 AS dropoff_location_id
       |  FROM events
       |), norm AS (
       |  SELECT * FROM trips
       |  WHERE pickup_datetime != dropoff_datetime
       |    AND passenger_count != 0 AND passenger_count IS NOT NULL
       |    AND trip_distance != 0 AND trip_distance IS NOT NULL
       |    AND fare_amount != 0
       |), zone_hex AS (
       |  SELECT * FROM (VALUES $hexRows) AS t(zone_id, hex)
       |), doff AS (
       |  SELECT n.pickup_datetime, n.dropoff_datetime,
       |         n.pickup_location_id, n.dropoff_location_id,
       |         z.hex AS hex_dropoff
       |  FROM norm n LEFT JOIN zone_hex z ON n.dropoff_location_id = z.zone_id
       |  WHERE z.zone_id IS NOT NULL
       |), pup AS (
       |  SELECT n.pickup_datetime, n.dropoff_datetime,
       |         n.pickup_location_id, n.dropoff_location_id,
       |         z.hex AS hex_pickup
       |  FROM norm n LEFT JOIN zone_hex z ON n.pickup_location_id = z.zone_id
       |  WHERE z.zone_id IS NOT NULL
       |), enriched AS (
       |  SELECT p.hex_pickup, d.hex_dropoff
       |  FROM doff d JOIN pup p
       |    ON d.pickup_datetime = p.pickup_datetime
       |   AND d.dropoff_datetime = p.dropoff_datetime
       |   AND d.pickup_location_id = p.pickup_location_id
       |   AND d.dropoff_location_id = p.dropoff_location_id
       |), routes AS (
       |  SELECT hex_pickup AS route_pickup_hex, hex_dropoff AS route_dropoff_hex,
       |         route_count, rank() OVER (ORDER BY route_count DESC)
       |           AS popularity
       |  FROM (
       |    SELECT hex_pickup, hex_dropoff, count(*) AS route_count
       |    FROM enriched GROUP BY hex_pickup, hex_dropoff
       |    ORDER BY route_count DESC, hex_pickup, hex_dropoff LIMIT 100
       |  )
       |), dropoffs AS (
       |  SELECT hex_dropoff AS top_dropoff_hex, dropoff_count,
       |         rank() OVER (ORDER BY dropoff_count DESC) AS popularity
       |  FROM (
       |    SELECT hex_dropoff, count(*) AS dropoff_count
       |    FROM enriched GROUP BY hex_dropoff
       |    ORDER BY dropoff_count DESC, hex_dropoff LIMIT 100
       |  )
       |), pickups AS (
       |  SELECT hex_pickup AS top_pickup_hex, pickup_count,
       |         rank() OVER (ORDER BY pickup_count DESC) AS popularity
       |  FROM (
       |    SELECT hex_pickup, count(*) AS pickup_count
       |    FROM enriched GROUP BY hex_pickup
       |    ORDER BY pickup_count DESC, hex_pickup LIMIT 100
       |  )
       |)
       |SELECT r.popularity, r.route_pickup_hex, r.route_dropoff_hex,
       |       r.route_count, d.top_dropoff_hex, d.dropoff_count,
       |       p.top_pickup_hex, p.pickup_count
       |FROM routes r
       |JOIN dropoffs d USING (popularity)
       |JOIN pickups p USING (popularity)
       |ORDER BY popularity, route_pickup_hex, route_dropoff_hex,
       |         top_dropoff_hex, top_pickup_hex""".stripMargin
  }

  /** The same reference chain as `q_taxi_full`, but executed the way the
    * reference AUTHORS it — as SQL text through `spark.sql` over named
    * views (the reference's code builds SQL strings and submits them,
    * `taxi_trips_etl.py:105-109`; this is the surface its user brings).
    * Substitutions from the BigQuery dialect, each a registered function
    * on this engine: `ST_CENTROID` → `wkt_centroid_lat/lng` (kernel
    * calls registered by [[graft.plans.GraftExtensions]]),
    * `H3_FROMGEOGPOINT` → `h3_fromgeogpoint` (TRUE H3; the kernel
    * call registered by [[graft.plans.GraftExtensions]] —
    * the reference's SQL line ports verbatim modulo the
    * dataset-qualifier), `byte_length(ST_ASTEXT(g))` →
    * `octet_length(g)`, `EXTRACT(TIME)` comparisons → µs-of-day (the
    * documented TIME representation). Same plan shape as the DataFrame
    * path — Catalyst compiles both to the identical bounded-rank top-k +
    * broadcast-dim join graph — and the SAME oracle, so the two
    * authoring surfaces are provably interchangeable. */
  private def taxiFullSqlApi(s: SparkSession, dir: String): DataFrame = {
    trips(s, dir).createOrReplaceTempView("graft_sql_trips")
    zones(s, dir).createOrReplaceTempView("graft_sql_taxi_zone_geom")
    // h3_fromgeogpoint is session-registered by GraftExtensions; no
    // per-query UDF registration needed
    // normalization_query.py:3-9, verbatim predicate text
    s.sql(
      """SELECT * FROM graft_sql_trips
        |WHERE pickup_datetime != dropoff_datetime
        |  AND passenger_count != 0 AND passenger_count IS NOT NULL
        |  AND trip_distance != 0 AND trip_distance IS NOT NULL
        |  AND fare_amount != 0""".stripMargin)
      .createOrReplaceTempView("graft_sql_normalized")
    // enrichment_query.py:3-25 — branch, rank-dedup, rejoin, daypart
    // CAST AS TIMESTAMP mirrors DateTimeF.asLtz: the NTZ-typed parquet
    // column behaves identically on both authoring surfaces even for a
    // non-UTC session (the DataFrame path's daypart applies the same cast)
    val us = "pmod(unix_micros(CAST(doff.pickup_datetime AS TIMESTAMP)), " +
      "86400000000)"
    val H = 3600000000L
    s.sql(
      s"""WITH geo AS (
         |  SELECT zone_id,
         |         h3_fromgeogpoint(wkt_centroid_lat(zone_geom),
         |                          wkt_centroid_lng(zone_geom), 9) AS hex,
         |         RANK() OVER (PARTITION BY zone_id
         |                      ORDER BY octet_length(zone_geom) DESC)
         |           AS finish_rank
         |  FROM graft_sql_taxi_zone_geom
         |), doff AS (
         |  SELECT t.pickup_datetime, t.dropoff_datetime,
         |         t.pickup_location_id, t.dropoff_location_id,
         |         geo.hex AS hex_dropoff
         |  FROM graft_sql_normalized t
         |  LEFT JOIN geo ON t.dropoff_location_id = geo.zone_id
         |  WHERE geo.finish_rank = 1
         |), pup AS (
         |  SELECT t.pickup_datetime, t.dropoff_datetime,
         |         t.pickup_location_id, t.dropoff_location_id,
         |         geo.hex AS hex_pickup
         |  FROM graft_sql_normalized t
         |  LEFT JOIN geo ON t.pickup_location_id = geo.zone_id
         |  WHERE geo.finish_rank = 1
         |)
         |SELECT pup.hex_pickup, doff.hex_dropoff,
         |       CASE WHEN $us >= ${6 * H} AND $us < ${12 * H} THEN 'Morning'
         |            WHEN $us >= ${12 * H} AND $us < ${18 * H} THEN 'Noon'
         |            WHEN $us >= ${18 * H} AND $us <= ${24 * H - 1000000L}
         |              THEN 'Evening'
         |            WHEN $us < ${6 * H} THEN 'Night'
         |       END AS daypart
         |FROM doff JOIN pup
         |  ON doff.pickup_datetime = pup.pickup_datetime
         | AND doff.dropoff_datetime = pup.dropoff_datetime
         | AND doff.pickup_location_id = pup.pickup_location_id
         | AND doff.dropoff_location_id = pup.dropoff_location_id""".stripMargin)
      .createOrReplaceTempView("graft_sql_enriched")
    // taxi_trips_etl.py:164-176 — STRUCT route, three bounded-rank top-k
    // popularity subqueries, USING(popularity) ×2
    s.sql(
      """SELECT popularity,
        |       r.route.pickup_hexagons AS route_pickup_hex,
        |       r.route.dropoff_hexagons AS route_dropoff_hex,
        |       r.route_count, d.top_dropoff_hex, d.dropoff_count,
        |       p.top_pickup_hex, p.pickup_count
        |FROM (
        |  SELECT struct(hex_pickup AS pickup_hexagons,
        |                hex_dropoff AS dropoff_hexagons) AS route,
        |         route_count,
        |         RANK() OVER (ORDER BY route_count DESC) AS popularity
        |  FROM (SELECT hex_pickup, hex_dropoff, count(*) AS route_count
        |        FROM graft_sql_enriched GROUP BY hex_pickup, hex_dropoff
        |        ORDER BY route_count DESC, hex_pickup, hex_dropoff
        |        LIMIT 100)
        |) r
        |JOIN (
        |  SELECT hex_dropoff AS top_dropoff_hex, dropoff_count,
        |         RANK() OVER (ORDER BY dropoff_count DESC) AS popularity
        |  FROM (SELECT hex_dropoff, count(*) AS dropoff_count
        |        FROM graft_sql_enriched GROUP BY hex_dropoff
        |        ORDER BY dropoff_count DESC, hex_dropoff LIMIT 100)
        |) d USING (popularity)
        |JOIN (
        |  SELECT hex_pickup AS top_pickup_hex, pickup_count,
        |         RANK() OVER (ORDER BY pickup_count DESC) AS popularity
        |  FROM (SELECT hex_pickup, count(*) AS pickup_count
        |        FROM graft_sql_enriched GROUP BY hex_pickup
        |        ORDER BY pickup_count DESC, hex_pickup LIMIT 100)
        |) p USING (popularity)
        |ORDER BY popularity, route_pickup_hex, route_dropoff_hex,
        |         top_dropoff_hex, top_pickup_hex""".stripMargin)
  }

  val all: Map[String, QueryDef] = Map(
    // benchFn = the fused single-scan mode (r7 verdict next-step 2: the
    // staged chain's temp-table materialization is reference fidelity,
    // not what a performance user would run; both modes are gated by the
    // SAME oracle, and the staged chain stays the canonical `fn`).
    "q_taxi_full" -> QueryDef(taxiFull, Some(taxiFullSql), bench = true,
      benchFn = Some(taxiFused)),
    // Not in the bench set: the headline series stays the r1–r7-comparable
    // staged chain; the fused mode's paired numbers live in PLANS.md
    // (where its win shows at sf1 — at sf0.1 Spark's fixed multi-job floor
    // vs a sub-100 ms DuckDB answer would only add ratio noise).
    "q_taxi_fused" -> QueryDef(taxiFused, Some(taxiFullSql)),
    "q_sql_full" -> QueryDef(taxiFullSqlApi, Some(taxiFullSql))
  )
}
