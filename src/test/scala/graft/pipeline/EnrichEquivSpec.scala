package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Catalog
import graft.functions.DateTimeF
import graft.ops.{TaxiOps, TripSchema}

/** The staged chain's zone-map enrich and one-partition rollup against the
  * formulation they replaced: the `nation` rank window, the two left-join
  * branches with `finish_rank = 1` and the 4-key rejoin, then the
  * three-exchange top-100 rollup. The day and the zone dimension are
  * adversarial: identities with 1, 2 and 3 copies at different times of
  * day, zone misses (a NULL, a negative and an absent key), names tied on
  * byte length under one key, a losing shorter name, a NULL name and a
  * NULL key. */
class EnrichEquivSpec extends SparkSpec {
  import EnrichEquivSpec._

  private val ds = "2024-01-05"
  private val day = TaxiPipeline.dsNoDash(ds)

  /** Crafted ids sit above the fixture's and keep their residue mod 25. */
  private val B = 1000000000L

  /** An sf dir holding only the adversarial `nation`: key 3 gains a name
    * tied with `NATION_3` on byte length, key 4 a shorter one that loses,
    * key 9 a NULL name (sorts last, so loses), key 7 is missing, and one
    * row has a NULL key. */
  private def adversarialSf(): String = {
    val dir = tempDir("equiv_sf")
    import spark.implicits._
    val extra = Seq[(Option[Int], Option[String], Int)](
      (Some(3), Some("NATION_Z"), 3), (Some(4), Some("N4"), 4),
      (Some(9), None, 4), (None, Some("NO_KEY_1"), 0))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    graft.tbl(spark, sf, "nation").filter(col("n_nationkey") =!= 7)
      .unionByName(extra).coalesce(1)
      .write.parquet(s"$dir/nation.parquet")
    dir
  }

  /** The fixture's rows of `day` plus crafted ones, as the day's part
    * files. */
  private def adversarialDay(src: String, day: String = ds): Unit = {
    import spark.implicits._
    def at(hms: String) = s"$day $hms"
    val crafted = Seq[(Option[Long], String, Option[Long], String, Double)](
      // n = 2, pickup zone 3 (two tied names): Night and Noon copies
      (Some(B + 3), at("02:00:00"), Some(B + 5), "click", 1.0),
      (Some(B + 3), at("13:00:00"), Some(B + 5), "view", 2.0),
      // n = 3, dropoff zone 3 (tied), pickup zone 4: Morning, Evening,
      // Evening
      (Some(B + 54), at("07:00:00"), Some(B + 28), "click", 1.0),
      (Some(B + 54), at("19:00:00"), Some(B + 28), "click", 3.0),
      (Some(B + 54), at("23:30:00"), Some(B + 28), "view", 4.0),
      // n = 1 on the NULL-name key 9
      (Some(B + 9), at("09:00:00"), Some(B + 1), "view", 5.0),
      // zone misses: NULL id, negative id, missing key 7 (both sides)
      (None, at("10:00:00"), Some(B + 2), "view", 6.0),
      (Some(-5L), at("11:00:00"), Some(B + 2), "view", 7.0),
      (Some(B + 7), at("12:00:00"), Some(B + 2), "view", 8.0),
      (Some(B + 2), at("12:30:00"), Some(B + 32), "view", 8.5),
      // dropped by the keep-good filter
      (Some(B + 3), at("14:00:00"), Some(B + 5), "error", 9.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("props", lit("{}"))
    graft.eventsTbl(spark, sf)
      .filter(to_date(col("ts")) === lit(day).cast("date"))
      .unionByName(crafted).coalesce(1)
      .write.parquet(dayDir(src, day))
  }

  private def dayDir(src: String, day: String): String = {
    val Array(y, m, d) = day.split("-")
    s"$src/$y/$m/$d"
  }

  /** The digests of `trips_*` and `most_populars_*` the reference-shaped
    * twin gives for the normalized trips and the zone dimension. */
  private def wantDigests(normalized: DataFrame,
      nation: DataFrame): ((Long, String), (Long, String)) = {
    val before = branchAndRejoin(normalized, nation)
    (digest(before), digest(threeExchangeRollup(
      before.groupBy("pickup_zone", "dropoff_zone")
        .agg(count(lit(1)).as("route_count")))))
  }

  test("staged enrich and final_result equal the branch-and-rejoin " +
      "formulation on an adversarial day; the fused chain equals both") {
    val sfDir = adversarialSf()
    val src = tempDir("equiv_src")
    adversarialDay(src)
    val cat = new Catalog(spark, tempDir("equiv_wh"))
    val Seq(ingest, normalize, enrich, finalResult) =
      TaxiPipeline.stages(spark, sfDir, src, ds)
    assert(ingest.run(cat) && normalize.run(cat))
    val (wantTrips, wantPopulars) = wantDigests(
      cat.load("normalized_trips"), graft.tbl(spark, sfDir, "nation"))
    assert(enrich.run(cat) && finalResult.run(cat))
    val trips = cat.load(s"trips_$day")
    assert(digest(trips) === wantTrips)
    assert(digest(cat.load(s"most_populars_$day")) === wantPopulars)

    // the adversarial shapes are exercised: n² rows per name pair of an
    // identity, and every name tied at rank 1 is emitted
    def rowsOf(eventId: Long) = trips.filter(col("event_id") === eventId)
    assert(rowsOf(B + 3).count() === 2 * 2 * 2) // n · t_p(tie) · n
    assert(rowsOf(B + 54).count() === 3 * 2 * 3) // n · t_d(tie) · n
    assert(rowsOf(B + 54).select("dropoff_zone").distinct().count() === 2)
    assert(rowsOf(B + 54).select("daypart").distinct().count() === 2)
    assert(rowsOf(B + 9).filter(col("pickup_zone").isNull).count() === 0)
    assert(rowsOf(B + 7).count() === 0 && rowsOf(-5L).count() === 0 &&
      rowsOf(B + 2).count() === 0)
    assert(trips.filter(col("event_id").isNull).count() === 0)

    val fused = TaxiPipeline.fusedObserved(spark, sfDir, src, ds).get._1
    assert(digest(fused) === wantPopulars)
  }

  test("a zone dimension over the cap fails enrich with the cap named, " +
      "and no trip row is written") {
    val sfDir = adversarialSf()
    val src = tempDir("cap_src")
    adversarialDay(src)
    assertCapped(spark, sfDir, src)
  }

  /** Enrich of `ds` with the cap one below `nation`'s keyed rows fails
    * naming the cap and leaves no `trips_*`; at the cap it succeeds. */
  private def assertCapped(s: SparkSession, sfDir: String,
      src: String): Unit = {
    val rows = graft.tbl(spark, sfDir, "nation")
      .filter(col("n_nationkey").isNotNull).count()
    def staged(): Catalog = {
      val cat = new Catalog(s, tempDir("cap_wh"))
      val Seq(ingest, normalize, _, _) =
        TaxiPipeline.stages(s, sfDir, src, ds)
      assert(ingest.run(cat) && normalize.run(cat))
      cat
    }
    def enrich(cat: Catalog, cap: Long): Seq[String] =
      Runner.run(cat, Seq(TaxiPipeline.enrich(s, sfDir, ds, cap)),
        RetryPolicy(retries = 0))
    val over = staged()
    val e = intercept[StageFailedException](enrich(over, rows - 1))
    assert(e.stage === "enrich")
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains(s"zone row cap of ${rows - 1} rows")),
      messages.mkString("\n"))
    // the failed overwrite leaves no table behind
    assert(!over.exists(s"trips_$day"))
    assert(over.tables() === Seq("normalized_trips"))
    // at the cap itself the dimension fits
    val at = staged()
    assert(enrich(at, rows) === Seq("enrich"))
    assert(at.tables() === Seq(s"trips_$day"))
  }

  test("consecutive staged days in one session reuse the zone map and " +
      "the rollup plan: both equal the reference, a rewritten nation is " +
      "seen, and a failed zone map is not kept") {
    val s = spark.newSession()
    val sfDir = adversarialSf()
    val src = tempDir("days_src")
    val days = Seq("2024-01-05", "2024-01-06", "2024-01-07")
    days.foreach(adversarialDay(src, _))
    val cat = new Catalog(s, tempDir("days_wh"))
    def tables(d: String) = {
      val noDash = TaxiPipeline.dsNoDash(d)
      (cat.load(s"trips_$noDash"), cat.load(s"most_populars_$noDash"))
    }
    def stagedDay(d: String): Unit = {
      val want = wantDigests(TaxiOps.normalize(
        spark.read.parquet(dayDir(src, d)), TripSchema.Events),
        graft.tbl(spark, sfDir, "nation"))
      assert(Runner.run(cat, TaxiPipeline.stages(s, sfDir, src, d))
        .size === 4)
      val (trips, populars) = tables(d)
      assert((digest(trips), digest(populars)) === want, d)
    }
    stagedDay(days(0))
    stagedDay(days(1))

    // the second day's rollup, re-bound from the first day's analyzed
    // plan, plans as a fresh build does
    val trips = tables(days(1))._1
    def physical(df: DataFrame): String =
      df.queryExecution.executedPlan.toString
        .replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
    assert(physical(TaxiPipeline.rollup(trips)) === physical(
      TaxiOps.rollupPairCounts(TaxiOps.routeCounts(trips))))

    // `nation` rewritten in place: the next day looks up the new labels
    val nationPath = s"$sfDir/nation.parquet"
    val nation = graft.tbl(spark, sfDir, "nation")
    val renamed = nation.withColumn("n_name", concat(col("n_name"),
      lit("_v2")))
    spark.createDataFrame(java.util.Arrays.asList(renamed.collect(): _*),
      renamed.schema).coalesce(1).write.mode("overwrite").parquet(nationPath)
    stagedDay(days(2))
    val labels = tables(days(2))._1.select("pickup_zone").distinct()
      .collect().map(_.getString(0))
    assert(labels.nonEmpty && labels.forall(_.endsWith("_v2")),
      labels.mkString(", "))

    // over the cap, enrich fails with the cap named on every attempt
    // (the failure is not kept), and at the cap the same session's
    // enrich succeeds
    for (_ <- 1 to 2) assertCapped(s, sfDir, src)
  }
}

object EnrichEquivSpec {

  /** Row count and MD5 over the sorted, stringified rows. */
  def digest(df: DataFrame): (Long, String) = {
    val rows = df.collect()
      .map(_.toSeq.map(String.valueOf).mkString("\u001f")).sorted
    val md5 = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md5.update((r + "\u001e").getBytes("UTF-8")))
    (rows.length.toLong, md5.digest().map("%02x".format(_)).mkString)
  }

  /** The enrich stage's former plan: W1 rank window over `nation`, J1/J2
    * left joins filtered to `finish_rank = 1`, J3 inner rejoin on the
    * 4-key trip identity, F2 daypart. */
  def branchAndRejoin(normalized: DataFrame, nation: DataFrame): DataFrame = {
    val trips = normalized
      .withColumn("pickup_zone_id", col("event_id") % 25)
      .withColumn("dropoff_zone_id", col("user_id") % 25)
    val zones = nation.select(col("n_nationkey"), col("n_name"),
      rank().over(Window.partitionBy("n_nationkey")
        .orderBy(expr("octet_length(n_name)").desc)).as("finish_rank"))
    val keys = Seq("event_id", "user_id", "pickup_zone_id",
      "dropoff_zone_id")
    val doff = trips
      .join(zones, trips("dropoff_zone_id") === zones("n_nationkey"), "left")
      .filter(col("finish_rank") === 1)
      .select(keys.map(col) :+ col("ts") :+
        col("n_name").as("dropoff_zone"): _*)
    val pup = trips
      .join(zones, trips("pickup_zone_id") === zones("n_nationkey"), "left")
      .filter(col("finish_rank") === 1)
      .select(keys.map(col) :+ col("n_name").as("pickup_zone"): _*)
    doff.join(pup, keys, "inner")
      .select(col("event_id"), col("user_id"),
        col("pickup_zone"), col("dropoff_zone"),
        DateTimeF.daypart(col("ts")).as("daypart"))
  }

  /** The final stage's former rollup: each marginal re-aggregates the pair
    * counts through its own exchange, and the USING(popularity) joins
    * take whatever strategy the planner picks. */
  def threeExchangeRollup(pairCounts: DataFrame): DataFrame = {
    def topRanked(df: DataFrame, cnt: String, tie: Seq[String]): DataFrame =
      graft.ops.Ranked.topK(df, cnt, 100, tie)
    def marginal(zone: String, cnt: String, as: String): DataFrame =
      topRanked(pairCounts.groupBy(zone).agg(sum("route_count").as(cnt)),
        cnt, Seq(zone))
        .select(col(zone).as(as), col(cnt), col("popularity"))
    topRanked(pairCounts, "route_count", Seq("pickup_zone", "dropoff_zone"))
      .select(col("pickup_zone").as("route_pickup"),
        col("dropoff_zone").as("route_dropoff"),
        col("route_count"), col("popularity"))
      .join(marginal("dropoff_zone", "dropoff_count", "top_dropoff"),
        Seq("popularity"), "inner")
      .join(marginal("pickup_zone", "pickup_count", "top_pickup"),
        Seq("popularity"), "inner")
  }
}
