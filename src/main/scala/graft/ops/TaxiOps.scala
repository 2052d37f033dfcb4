package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}

import graft.functions.{DateTimeF, GeoF}

/** How the map-shaped taxi chain in [[TaxiOps]] reads a trip table and its
  * zone dimension: the identity columns besides the two zone ids (which
  * the chain adds as `pickup_zone_id`/`dropoff_zone_id`), the zone-id
  * expressions, P2's keep-good predicate, F2's time column, and the zone
  * dimension's key, W1's ranking text (per key the largest `octet_length`
  * wins) and the named label a zone id looks up to. There are two:
  * [[TripSchema.Tlc]] and [[TripSchema.Events]]. */
final class TripSchema private (val keys: Seq[String],
    val pickupZone: Column, val dropoffZone: Column, val keepGood: Column,
    val time: Column, val zoneKey: String, val zoneRankText: Column,
    val zoneLabel: Column)

object TripSchema {

  /** NYC TLC green trips and `taxi_zone_geom(zone_id, zone_geom)`
    * (`normalization_query.py:4-8`, `enrichment_query.py:10-17`). */
  val Tlc: TripSchema = new TripSchema(
    keys = Seq("pickup_datetime", "dropoff_datetime"),
    pickupZone = col("pickup_location_id"),
    dropoffZone = col("dropoff_location_id"),
    keepGood = col("pickup_datetime") =!= col("dropoff_datetime") &&
      col("passenger_count") =!= 0 && col("passenger_count").isNotNull &&
      col("trip_distance") =!= 0 && col("trip_distance").isNotNull &&
      col("fare_amount") =!= 0,
    time = col("pickup_datetime"),
    zoneKey = "zone_id",
    zoneRankText = GeoF.stAsText(col("zone_geom")),
    zoneLabel = GeoF.h3Cell(GeoF.centroidLat(col("zone_geom")),
      GeoF.centroidLng(col("zone_geom")), 9).as("hex"))

  /** The `events` fixture as trips (pickup ≙ `event_id % 25`, dropoff ≙
    * `user_id % 25`, time ≙ `ts`) and `nation` as zones, labelled and
    * ranked by `n_name`. */
  val Events: TripSchema = new TripSchema(
    keys = Seq("event_id", "user_id"),
    pickupZone = col("event_id") % 25,
    dropoffZone = col("user_id") % 25,
    keepGood = col("event_type") =!= "error" &&
      col("value") =!= 0 && col("value").isNotNull &&
      col("user_id").isNotNull,
    time = col("ts"),
    zoneKey = "n_nationkey",
    zoneRankText = col("n_name"),
    zoneLabel = col("n_name"))
}

/** The reference pipeline's query surface as a public, composable API on
  * the reference's OWN column names (NYC TLC green-trips schema +
  * `taxi_zone_geom(zone_id, zone_geom)`): a user of the reference brings
  * the same DataFrames and calls the same stages.
  *
  * trips: pickup_datetime, dropoff_datetime, passenger_count,
  *        trip_distance, fare_amount, pickup_location_id,
  *        dropoff_location_id, …
  * zones: zone_id, zone_geom (WKT GEOGRAPHY representation)
  *
  * The reference-shaped trio [[normalize]] → [[enrich]] →
  * [[mostPopulars]] keeps the reference's rank window, branch-and-rejoin
  * and three aggregates (`q_sql_full` compiles to the same plan). The
  * map-shaped chain, written once over a [[TripSchema]] for
  * [[mostPopularsFused]] and `graft.pipeline.TaxiPipeline`, looks zones
  * up in one map ([[zoneMap]]), replaces J3's join by n copies
  * ([[enrichByMap]], [[pairCounts]]) and rolls up in one partition
  * ([[rollupPairCounts]]).
  *
  * Why J3 needs no join. Both zone labels are functions of the trip
  * identity. For an identity with n normalized copies and t_d/t_p
  * rank-1 dropoff/pickup labels, the dropoff branch holds n·t_d rows and
  * the pickup branch n·t_p, so the rejoin on the identity emits each
  * dropoff row once per pickup label, n times over: n² rows per
  * (dropoff, pickup) label pair. So the staged enrich repeats each
  * looked-up row n times, and every pair count equals Σ_identity n² over
  * the identities that reach the pair, which the fused chain computes
  * from one identity-keyed count. Rank ties and duplicate trips are both
  * reproduced, so each map-shaped result equals its reference-shaped
  * twin row for row. */
object TaxiOps {

  /** P2 — normalization keep-good filter, verbatim semantics of
    * `taxi_trips_etl_packages/queries/normalization_query.py:4-8`
    * ([[TripSchema.Tlc]]); the staged pipeline passes
    * [[TripSchema.Events]]. */
  def normalize(trips: DataFrame, s: TripSchema = TripSchema.Tlc): DataFrame =
    trips.filter(s.keepGood)

  /** P3 — the inverted (select-bad) variant (`main.py:85-91`), exposed as
    * the documented anomaly, not default behavior. (De Morgan holds in
    * SQL's three-valued logic, so this is the reference's OR of equalities
    * and IS NULLs.) */
  def normalizeInverted(trips: DataFrame): DataFrame =
    trips.filter(!TripSchema.Tlc.keepGood)

  /** The W1 dedup window: largest WKT byte-length wins per zone_id
    * (`enrichment_query.py:12-14`) — single definition shared by
    * [[dedupZones]] and [[enrich]] so the two can never disagree on
    * which geometry wins. */
  private def zoneRank: Column = rank().over(
    Window.partitionBy(TripSchema.Tlc.zoneKey)
      .orderBy(octet_length(TripSchema.Tlc.zoneRankText).desc))

  /** W1+P5 — zone dedup: keep the largest-WKT geometry per zone_id;
    * rank ties keep all tied rows, like the reference. */
  def dedupZones(zones: DataFrame): DataFrame =
    zones.withColumn("finish_rank", zoneRank)
      .filter(col("finish_rank") === 1)

  /** F5+F6 — zone centroid hex index at res 9 (`enrichment_query.py:10,17`;
    * see GeoF for the carto-H3 numbering divergence). */
  def zoneHex(zones: DataFrame): DataFrame =
    zones.withColumn("hex", TripSchema.Tlc.zoneLabel)

  /** J1+J2+J3+F1+F2 — the full enrichment join graph
    * (`enrichment_query.py:3-25`): dropoff and pickup branches against
    * the deduped+hexed zone dim, re-united on the 4-column trip identity,
    * plus `daypart` from pickup time. Zone dims broadcast (AQE); the
    * branch-and-rejoin shape (incl. duplicate-trip multiplication) is
    * preserved deliberately. */
  def enrich(trips: DataFrame, zones: DataFrame): DataFrame = {
    val keys = Seq("pickup_datetime", "dropoff_datetime",
      "pickup_location_id", "dropoff_location_id")
    // rank computed BEFORE the join, `finish_rank = 1` applied AFTER it —
    // the reference's authored shape (`enrichment_query.py:11-14`): the
    // post-join filter also kills NULL-extended rows from unmatched zone
    // ids, making the LEFT join effectively inner (Catalyst derives this
    // via EliminateOuterJoin).
    val ranked = zoneHex(zones.withColumn("finish_rank", zoneRank))
      .select(col("zone_id"), col("hex"), col("finish_rank"))
    val doff = trips.join(ranked,
      trips("dropoff_location_id") === ranked("zone_id"), "left")
      .filter(col("finish_rank") === 1)
      .select(keys.map(trips(_)) :+ ranked("hex").as("hex_dropoff"): _*)
    val pup = trips.join(ranked,
      trips("pickup_location_id") === ranked("zone_id"), "left")
      .filter(col("finish_rank") === 1)
      .select(keys.map(trips(_)) :+ ranked("hex").as("hex_pickup"): _*)
    // NO shuffle_hash hint on the 4-key rejoin (round 12): the build
    // side is the full trips table — a hinted SHJ can neither be
    // demoted by AQE nor spill its build, and the identical
    // j_enrich_join_graph edge OOM'd at sf10 / 8g heap. Sort-merge
    // spills; fact×fact edges with an unbounded build side never take
    // the hint (see CoreQueries J3 for the measured failure).
    doff.join(pup, keys, "inner")
      .withColumn("daypart", DateTimeF.daypart(col("pickup_datetime")))
  }

  /** A1/A2+W2+O1+F7+J4 — the flagship most-populars query
    * (`taxi_trips_etl.py:164-176`): three top-k popularity aggregates
    * joined `USING(popularity)`, with the reference's STRUCT route.
    * Scale-safe: `orderBy.limit(k)` (TakeOrderedAndProject) before the
    * bounded RANK — never a global window over unbounded data. */
  def mostPopulars(enriched: DataFrame, k: Int = 100): DataFrame = {
    // Authored as the reference's three independent aggregates over
    // `enriched` — NOT the pair-count rollup (that is
    // [[rollupPairCounts]]): this method is the DataFrame twin of the
    // SQL-text surface (`q_sql_full`), and the two must keep compiling
    // to the IDENTICAL plan (SqlApiSpec pins it). At runtime AQE stage
    // reuse dedups the three branches' shared join-graph map stages.
    def ranked(df: DataFrame, cnt: String, tie: Seq[String]): DataFrame =
      Ranked.topK(df, cnt, k, tie)
    val routes = ranked(
      enriched.groupBy("hex_pickup", "hex_dropoff")
        .agg(count(lit(1)).as("route_count")),
      "route_count", Seq("hex_pickup", "hex_dropoff"))
      .select(struct(col("hex_pickup").as("pickup_hexagons"),
        col("hex_dropoff").as("dropoff_hexagons")).as("route"),
        col("route_count"), col("popularity"))
    val dropoffs = ranked(
      enriched.groupBy("hex_dropoff").agg(count(lit(1)).as("dropoff_count")),
      "dropoff_count", Seq("hex_dropoff"))
    val pickups = ranked(
      enriched.groupBy("hex_pickup").agg(count(lit(1)).as("pickup_count")),
      "pickup_count", Seq("hex_pickup"))
    routes
      .join(dropoffs, Seq("popularity"), "inner")
      .join(pickups, Seq("popularity"), "inner")
  }

  /** Rows a zone dimension may hold. [[zoneMap]] evaluates it as one
    * value, and [[rollupPairCounts]] holds up to its square in one
    * partition; every fixture's `nation` has 25 rows, the TLC zone
    * table 263. */
  val ZoneRowCap: Long = 1000L

  /** W1 as one value: the zone dimension as a `zoneKey → array<label>`
    * map that keeps per key what `rank() OVER (PARTITION BY zoneKey
    * ORDER BY octet_length(zoneRankText) DESC) = 1` keeps: every row of
    * the largest byte length, so ties keep all tied labels, or every row
    * when no text has a length (NULLs sort last and tie with each other,
    * as `<=>` against a NULL `max` does). NULL keys never match a join,
    * so they are left out.
    *
    * The map is an uncorrelated scalar subquery over the dimension in one
    * partition, where its two aggregates need no exchange: it is
    * evaluated once per query, as one job inside the query's own action,
    * with no join and no broadcast. A lookup scans its ≤ `cap` keys
    * linearly. It keeps at most `cap + 1` rows
    * (`InRowModel.boundedCollect`'s cap law) and has no second arm: a
    * dimension over the cap fails the query with an error naming
    * `dimension` and the cap, rather than being truncated. */
  def zoneMap(s: TripSchema, zones: DataFrame, cap: Long,
      dimension: String): Column =
    zoneMapRow(s, zones, cap, dimension).scalar()

  /** [[zoneMap]] evaluated now, by one job, and returned as a literal of
    * the same map type, so the queries that look zones up in it run no
    * subquery. A dimension over the cap fails this evaluation with
    * [[zoneMap]]'s error. */
  def zoneMapLiteral(s: TripSchema, zones: DataFrame, cap: Long,
      dimension: String): Column = {
    val row = zoneMapRow(s, zones, cap, dimension)
    GraftBridge.column(
      Literal.create(row.collect().head.get(0), row.schema.head.dataType))
  }

  /** [[zoneMap]] as a one-row, one-column select. */
  private def zoneMapRow(s: TripSchema, zones: DataFrame, cap: Long,
      dimension: String): DataFrame = {
    val len = octet_length(s.zoneRankText)
    val perKey = zones.filter(col(s.zoneKey).isNotNull)
      .coalesce(1)
      // position in the one partition: keeps cap + 1 rows without a
      // limit, which would recompile its generated code on every query
      .filter(monotonically_increasing_id() <= cap)
      .groupBy(col(s.zoneKey))
      .agg(count(lit(1)).as("rows"), max(len).as("top"),
        collect_list(struct(len.as("len"), s.zoneLabel)).as("names"))
    val label = perKey.schema("names").dataType match {
      case ArrayType(StructType(Array(_, l)), _) => l.name }
    perKey
      .agg(sum("rows").as("rows"), collect_list(struct(col(s.zoneKey),
        transform(filter(col("names"), _("len") <=> col("top")),
          _(label)))).as("zones"))
      .select(when(col("rows") > cap, raise_error(lit(
          s"zone dimension $dimension exceeds the zone row cap " +
          s"of $cap rows; enrich looks zones up in one map and does not " +
          "truncate it")))
        .otherwise(map_from_entries(col("zones"))))
  }

  /** P5's zone ids, as `pickup_zone_id` and `dropoff_zone_id`. */
  private def withZoneIds(s: TripSchema, trips: DataFrame): DataFrame =
    trips.withColumn("pickup_zone_id", s.pickupZone)
      .withColumn("dropoff_zone_id", s.dropoffZone)

  private def identity(s: TripSchema): Seq[Column] =
    (s.keys :+ "pickup_zone_id" :+ "dropoff_zone_id").map(col)

  /** J1/J2: one row per matched (dropoff, pickup) label pair of each row
    * of a frame carrying the zone ids; a row whose either lookup misses
    * explodes to none. */
  private def lookupZones(trips: DataFrame, zones: Column): DataFrame =
    trips.withColumn("dropoff_zone", explode(zones(col("dropoff_zone_id"))))
      .withColumn("pickup_zone", explode(zones(col("pickup_zone_id"))))

  /** The staged enrich (J1+J2+J3+F2) over the normalized trips: each
    * looked-up row repeated n times, n = its identity's copies (the
    * object scaladoc), counted by one identity-keyed window (one
    * shuffle). Columns: [[TripSchema.keys]], `pickup_zone`,
    * `dropoff_zone`, `daypart`. */
  def enrichByMap(s: TripSchema, normalized: DataFrame,
      zones: Column): DataFrame = {
    val trips = withZoneIds(s, normalized).withColumn("graft_n",
      count(lit(1)).over(Window.partitionBy(identity(s): _*)))
    lookupZones(trips, zones)
      .withColumn("graft_copy",
        explode(array_repeat(lit(true), col("graft_n").cast("int"))))
      .select(s.keys.map(col) ++ Seq(col("pickup_zone"), col("dropoff_zone"),
        DateTimeF.daypart(s.time).as("daypart")): _*)
  }

  /** A1: the (pickup_zone, dropoff_zone, route_count) pair counts of an
    * enriched frame. */
  def routeCounts(enriched: DataFrame): DataFrame =
    enriched.groupBy("pickup_zone", "dropoff_zone")
      .agg(count(lit(1)).as("route_count"))

  /** The fused chain's pair counts, straight from the raw trips: normalize,
    * count the n copies of each identity (one shuffle of distinct
    * identities), look both zones up, and weight each label pair n². They
    * equal [[routeCounts]] of the staged enrich (the object scaladoc). */
  def pairCounts(s: TripSchema, trips: DataFrame, zones: Column): DataFrame = {
    val idCnt = withZoneIds(s, normalize(trips, s))
      .groupBy(identity(s): _*)
      .agg(count(lit(1)).as("graft_n"))
    lookupZones(idCnt, zones)
      .groupBy("pickup_zone", "dropoff_zone")
      .agg(sum(col("graft_n") * col("graft_n")).as("route_count"))
  }

  /** A1/A2 + W2/O1 + J4: the top-k routes, dropoffs and pickups of a
    * (pickup_zone, dropoff_zone, route_count) frame, joined on
    * `popularity`. The marginal counts re-aggregate the pair counts
    * (count-per-zone ≡ Σ pair counts). The frame is coalesced into one
    * partition: it holds one row per label pair, at most ZoneRowCap² (625
    * on the 25-row `nation`). There the marginal aggregates, the
    * `Ranked.topK` ranks and the joins need no exchange, and the joins
    * are hinted to shuffle-hash so neither becomes a broadcast job. */
  def rollupPairCounts(pairCounts: DataFrame, k: Int = 100): DataFrame = {
    val pairs = pairCounts.coalesce(1)
    def topRanked(df: DataFrame, cnt: String, tie: Seq[String]): DataFrame =
      Ranked.topK(df, cnt, k, tie)
    def marginal(zone: String, cnt: String, as: String): DataFrame =
      topRanked(pairs.groupBy(zone).agg(sum("route_count").as(cnt)),
        cnt, Seq(zone))
        .select(col(zone).as(as), col(cnt), col("popularity"))
        .hint("shuffle_hash")
    val routes = topRanked(pairs,
      "route_count", Seq("pickup_zone", "dropoff_zone"))
      .select(col("pickup_zone").as("route_pickup"),
        col("dropoff_zone").as("route_dropoff"),
        col("route_count"), col("popularity"))
    // a join of two one-partition sides reports a partitioning
    // collection, which the next join re-shuffles; coalesce(1) restates it
    // as one partition (no-op at run time)
    routes
      .join(marginal("dropoff_zone", "dropoff_count", "top_dropoff"),
        Seq("popularity"), "inner")
      .coalesce(1)
      .join(marginal("pickup_zone", "pickup_count", "top_pickup"),
        Seq("popularity"), "inner")
  }

  /** The FUSED whole-chain most-populars: the map-shaped chain over
    * [[TripSchema.Tlc]], projected to [[mostPopulars]]' columns; it equals
    * `mostPopulars(enrich(normalize(trips), zones))` row for row (the
    * object scaladoc). 1 fact scan + 1 identity-keyed shuffle, against the
    * reference shape's 2 fact scans, 2 fact-wide shuffles and the identity
    * self-join. `zones` may hold at most [[ZoneRowCap]] rows. */
  def mostPopularsFused(trips: DataFrame, zones: DataFrame,
      k: Int = 100): DataFrame =
    rollupPairCounts(pairCounts(TripSchema.Tlc, trips,
      zoneMap(TripSchema.Tlc, zones, ZoneRowCap, "`zones`")), k)
      .select(col("popularity"),
        struct(col("route_pickup").as("pickup_hexagons"),
          col("route_dropoff").as("dropoff_hexagons")).as("route"),
        col("route_count"),
        col("top_dropoff").as("hex_dropoff"), col("dropoff_count"),
        col("top_pickup").as("hex_pickup"), col("pickup_count"))

  /** dbt `tripss` (`models/tripss.sql:1-9`): date, whole-minute drive
    * time, amount. */
  def tripss(enriched: DataFrame): DataFrame =
    enriched.select(
      DateTimeF.toDateCol(col("pickup_datetime")).as("pickup_date"),
      DateTimeF.timestampDiffMinutes(col("dropoff_datetime"),
        col("pickup_datetime")).as("drive_time"),
      col("total_amount"))

  /** dbt `daily_trip_metrics` (`models/daily_trip_metrics.sql:1-3`). */
  def dailyTripMetrics(tripss: DataFrame): DataFrame =
    tripss.groupBy("pickup_date")
      .agg(avg("drive_time").as("avg_drive_time"),
        sum("drive_time").as("total_drive_time"),
        avg("total_amount").as("avg_amount"),
        sum("total_amount").as("total_amount"))
      .orderBy(col("pickup_date").desc)

  /** dbt `trips_view` (`models/trips_view.sql:1`). */
  def tripCount(trips: DataFrame): DataFrame =
    trips.agg(count(lit(1)).as("trip_count"))
}
