package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Catalog
import graft.functions.DateTimeF

/** One pipeline stage: returns false to short-circuit the rest (C2). */
final case class Stage(name: String, run: Catalog => Boolean)

/** Per-stage failure policy (C5) mirroring the reference DAG's
  * `default_args` (`taxi_trips_etl.py:17-20`): `retries: 1`,
  * `retry_delay: 3 minutes`, `execution_timeout: 3 hours`. A stage
  * attempt that throws OR exceeds the timeout is retried after the
  * delay; once retries are exhausted the run fails (Airflow marks the
  * task failed and, with `depends_on_past`, nothing downstream runs). */
final case class RetryPolicy(
    retries: Int = 1,
    retryDelay: scala.concurrent.duration.FiniteDuration =
      scala.concurrent.duration.Duration(3, "min"),
    timeout: scala.concurrent.duration.FiniteDuration =
      scala.concurrent.duration.Duration(3, "h"))

/** Stage exhausted its retries (the DAG-run failure, C5). */
final class StageFailedException(val stage: String, cause: Throwable)
  extends RuntimeException(
    s"stage '$stage' failed after retries: ${cause.getMessage}", cause)

/** One attempt exceeded the execution timeout (C5). */
final class StageTimeoutException(val stage: String, timeoutMs: Long)
  extends RuntimeException(
    s"stage '$stage' exceeded its ${timeoutMs} ms execution timeout")

/** Linear short-circuiting stage runner (SURVEY.md §2.11 C1–C3).
  *
  * Reference behavior: Airflow chains
  * `storage_to_bq >> normalization >> enrichment >> final_result`
  * (`taxi_trips_etl.py:238`) with a ShortCircuitOperator gate on stage 1
  * (`taxi_trips_etl.py:199-207`) and per-stage input-existence no-ops
  * (`taxi_trips_etl.py:99,128`). We implement the *intended* gate
  * semantics — true iff ≥1 row loaded — not the reference's buggy
  * last-blob-only flag (C2 note in SURVEY §2.11).
  */
object Runner {
  /** Runs stages in order; returns names of stages that ran. Each stage
    * gets the [[RetryPolicy]]'s attempt budget and per-attempt timeout;
    * a timed-out attempt has its Spark jobs cancelled via a job group
    * before the retry, so a hung stage cannot also hold the cluster. */
  def run(catalog: Catalog, stages: Seq[Stage],
          policy: RetryPolicy = RetryPolicy()): Seq[String] = {
    val ran = Seq.newBuilder[String]
    var go = true
    stages.foreach { st =>
      if (go) {
        ran += st.name
        go = runWithPolicy(catalog, st, policy)
        if (!go)
          catalog.spark.sparkContext.setJobDescription(
            s"pipeline short-circuited after ${st.name}")
      }
    }
    ran.result()
  }

  /** One stage attempt on a daemon thread with the policy timeout; the
    * attempt thread tags its Spark jobs with a unique job group so a
    * timeout can interrupt the actual running tasks, not just abandon
    * the thread. */
  private def attempt(catalog: Catalog, st: Stage,
                      timeoutMs: Long): Boolean = {
    val sc = catalog.spark.sparkContext
    val group = s"graft-stage-${st.name}-${System.nanoTime()}"
    // Streaming queries do NOT run under the stage's job group:
    // StreamExecution submits its microbatch jobs from its own thread
    // under its own group (the query runId), so cancelJobGroup below
    // never reaches them, and interrupting the stage thread only breaks
    // its awaitTermination — the query itself would keep RUNNING (a
    // leaked stream holding sources, state and cluster slots across
    // retries). Snapshot the active-query set before the attempt and
    // stop everything the attempt started (round 13, verdict item 6).
    val streamsBefore = catalog.spark.streams.active.map(_.id).toSet
    // Every failure path runs this same sweep (ADVICE r13: the round-13
    // form swept only on timeout, so a stage that started a stream and
    // then THREW still leaked it across retries).
    def stopLeakedStreams(): Unit =
      catalog.spark.streams.active
        .filterNot(q => streamsBefore.contains(q.id))
        .foreach { q =>
          try q.stop()
          catch { case scala.util.control.NonFatal(_) => () }
        }
    val task = new java.util.concurrent.FutureTask[Boolean](() => {
      sc.setJobGroup(group, s"pipeline stage ${st.name}",
        interruptOnCancel = true)
      try st.run(catalog) finally sc.clearJobGroup()
    })
    val t = new Thread(task, group)
    t.setDaemon(true)
    t.start()
    try task.get(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        task.cancel(true)
        sc.cancelJobGroup(group)
        stopLeakedStreams()
        // the stage thread may be INSIDE a .start() that completes after
        // the sweep above (ADVICE r13 race); wait for the cancelled
        // thread to actually die, then sweep once more so nothing that
        // registered late survives. The join is bounded: a thread stuck
        // in non-interruptible code must not hang the retry loop.
        t.join(10000)
        stopLeakedStreams()
        throw new StageTimeoutException(st.name, timeoutMs)
      case e: java.util.concurrent.ExecutionException =>
        // the FutureTask completed (exceptionally), so the stage thread
        // is done — no start() race on this path; sweep anything it
        // started before throwing
        stopLeakedStreams()
        throw e.getCause // the stage's own failure, not the wrapper's
    }
  }

  private def runWithPolicy(catalog: Catalog, st: Stage,
                            policy: RetryPolicy): Boolean = {
    var attempts = 0
    while (true) {
      try return attempt(catalog, st, policy.timeout.toMillis)
      catch {
        case scala.util.control.NonFatal(e) =>
          attempts += 1
          if (attempts > policy.retries)
            throw new StageFailedException(st.name, e)
          System.err.println(s"[pipeline] stage '${st.name}' attempt " +
            s"$attempts failed (${e.getMessage}); retrying in " +
            s"${policy.retryDelay.toMillis} ms")
          Thread.sleep(policy.retryDelay.toMillis)
      }
    }
    sys.error("unreachable")
  }
}

/** The reference's 4-stage taxi ETL re-expressed over the `events` fixture
  * (trips ≙ events, zones ≙ nation, ds-partitioned ingest ≙ date-path
  * parquet dirs). Every stage writes through the [[Catalog]] exactly like
  * the reference's BigQuery-table plumbing:
  *
  *  1. ingest    — date-path read (S1) + file-prefix glob (S2) →
  *                 `temp_trips` (S5); gate: any rows? (C2), counted by
  *                 the write itself
  *  2. normalize — keep-good filter (P2 shape) → `normalized_trips`
  *                 (WRITE_TRUNCATE, S6), drop `temp_trips` (S8)
  *  3. enrich    — W1 zone dedup + J1/J2 zone lookups + finish_rank=1 (P5)
  *                 + J3 4-key rejoin + daypart (F2) → `trips_{yyyyMMdd}`
  *                 (S9), drop `normalized_trips`
  *  4. final     — A1/A2 + bounded-rank top-100 (W2/O1) + USING(popularity)
  *                 ×2 (J4) → `most_populars_{yyyyMMdd}`
  *
  * Enrich without joins. The zone dimension, capped at [[ZoneRowCap]]
  * rows (over the cap the stage fails; nothing is truncated), becomes one
  * `key → names` map value holding W1's `rank() = 1` names, evaluated
  * once per query, so J1/J2 are map lookups ([[zoneNames]]). A trip
  * whose lookup misses (NULL or negative id, absent key) explodes to no
  * rows, as the reference's left join + `finish_rank = 1` drops it. The
  * J3 rejoin needs no join either: both zone names are functions of the
  * 4-key identity, so joining the dropoff branch (n·t_d rows for an
  * identity with n copies) to the pickup branch (n·t_p rows) emits each
  * dropoff row once per pickup name, n times over. Enrich computes n as
  * one identity-keyed window count (one shuffle) and repeats each row n
  * times.
  *
  * Final in one partition. The top-100 rollup ([[mostPopulars]]) reads
  * the pair counts of one aggregate exchange. They hold at most one row
  * per (pickup, dropoff) name pair, ≤ |zone names|² (625 on the 25-row
  * dimension, ZoneRowCap² at most), so they are coalesced into a single
  * partition, where the marginals, ranks and joins need no further
  * exchange and no broadcast.
  *
  * A staged day runs 8 Spark jobs at every day size: ingest 2, normalize
  * 1, enrich 3 (the zone-map subquery, the window's exchange, the write)
  * and final_result 2 (the pair-count exchange, the write). The
  * inter-stage parquet materialization mirrors the reference's
  * observable intermediate tables (SURVEY §4); [[fusedRun]]
  * is the no-staging mode.
  */
object TaxiPipeline {

  /** `ds` (e.g. "2024-01-05") → "yyyyMMdd" table suffix (F11). */
  def dsNoDash(ds: String): String = ds.replace("-", "")

  /** S1: the day's source directory, `srcDir/yyyy/MM/dd`. */
  private def dayPath(srcDir: String, ds: String): String = {
    val Array(y, m, d) = ds.split("-")
    s"$srcDir/$y/$m/$d"
  }

  /** The metadata gate (C2/C3), decided from file listings without a
    * job. An absent date path IS the reference's "empty day" (no blobs
    * under the prefix, `taxi_trips_etl.py:33`). A day directory that
    * exists but holds no part-* files (e.g. only _SUCCESS after an empty
    * write) is ALSO an empty day: reading it would throw "Unable to infer
    * schema". (globStatus may return null rather than an empty array on
    * some Hadoop filesystems when nothing matches — both are empty.) */
  private def hasDayFiles(spark: SparkSession, dayPath: String): Boolean = {
    val dir = new org.apache.hadoop.fs.Path(dayPath)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(dir) && Option(fs.globStatus(
      new org.apache.hadoop.fs.Path(dir, "part-*"))).exists(_.nonEmpty)
  }

  /** S2: the day's `part-*` files (FILE_PREFIX ≙ part-). */
  private def readDay(spark: SparkSession, dayPath: String): DataFrame =
    spark.read.option("pathGlobFilter", "part-*").parquet(dayPath)

  /** P2: the normalize stage's keep-good filter. */
  private def keepGood(trips: DataFrame): DataFrame = trips.filter(
    col("event_type") =!= "error" &&
      col("value") =!= 0 && col("value").isNotNull &&
      col("user_id").isNotNull)

  /** Rows the zone dimension may hold. [[zoneNames]] evaluates it as one
    * value, and [[mostPopulars]] holds up to its square in one
    * partition; every fixture's `nation` has 25. */
  val ZoneRowCap: Long = 1000L

  /** P5's zone ids: pickup ≙ `event_id % 25`, dropoff ≙ `user_id % 25`. */
  private def withZoneIds(trips: DataFrame): DataFrame =
    trips.withColumn("pickup_zone_id", col("event_id") % 25)
      .withColumn("dropoff_zone_id", col("user_id") % 25)

  /** W1 as one value: `nation` as a `n_nationkey → array<n_name>` map
    * that keeps per key what `rank() OVER (PARTITION BY n_nationkey
    * ORDER BY octet_length(n_name) DESC) = 1` keeps: every row of the
    * largest byte length, so ties keep all tied names, or every row when
    * no name has a length (NULLs sort last and tie with each other, as
    * `<=>` against a NULL `max` does). NULL keys never match a join, so
    * they are left out.
    *
    * The map is an uncorrelated scalar subquery over the dimension in one
    * partition, where its two aggregates need no exchange: it is
    * evaluated once per query, as one job inside the query's own action.
    * So there is no join and no broadcast, and a [[fusedRun]] stays one
    * SQL action. The two columns are read with a declared schema (an
    * INT32 or INT64 key, a string name), which spares the schema
    * inference job. It keeps at most `cap + 1` rows
    * (`InRowModel.boundedCollect`'s cap law) and has no second arm: a
    * dimension over the cap fails the query with an error naming the
    * cap, rather than being truncated. */
  private[graft] def zoneNames(spark: SparkSession, sfDir: String,
      cap: Long): Column = {
    val len = expr("octet_length(n_name)")
    spark.read.schema("n_nationkey BIGINT, n_name STRING")
      .parquet(s"$sfDir/nation.parquet")
      .filter(col("n_nationkey").isNotNull)
      .coalesce(1)
      // position in the one partition: keeps cap + 1 rows without a
      // limit, which would recompile its generated code on every query
      .filter(monotonically_increasing_id() <= cap)
      .groupBy(col("n_nationkey"))
      .agg(count(lit(1)).as("rows"), max(len).as("top"),
        collect_list(struct(len.as("len"), col("n_name"))).as("names"))
      .agg(sum("rows").as("rows"), collect_list(struct(col("n_nationkey"),
        transform(filter(col("names"), _("len") <=> col("top")),
          _("n_name")))).as("zones"))
      .select(when(col("rows") > cap, raise_error(lit(
          s"zone dimension `nation` under $sfDir exceeds the zone row cap " +
          s"of $cap rows; enrich looks zones up in one map and does not " +
          "truncate it")))
        .otherwise(map_from_entries(col("zones"))))
      .scalar()
  }

  /** J1/J2: one row per matched (dropoff, pickup) zone-name pair of each
    * row; a row whose either lookup misses explodes to none. */
  private def lookupZones(trips: DataFrame, zones: Column): DataFrame =
    trips.withColumn("dropoff_zone", explode(zones(col("dropoff_zone_id"))))
      .withColumn("pickup_zone", explode(zones(col("pickup_zone_id"))))

  /** A1/A2 + W2/O1 + J4: the top-100 routes, dropoffs and pickups of a
    * (pickup_zone, dropoff_zone, route_count) frame, joined on
    * `popularity`. The marginal counts re-aggregate the pair counts
    * (count-per-zone ≡ Σ pair counts). The frame is coalesced into one
    * partition: it holds one row per zone-name pair, at most
    * ZoneRowCap² (625 on the 25-row `nation`). There the marginal
    * aggregates, the `Ranked.topK` ranks and the joins need no exchange,
    * and the joins are hinted to shuffle-hash so neither becomes a
    * broadcast, which would be a job of its own. */
  private def mostPopulars(pairCounts: DataFrame): DataFrame = {
    val pairs = pairCounts.coalesce(1)
    def topRanked(df: DataFrame, cnt: String, tie: Seq[String]): DataFrame =
      graft.ops.Ranked.topK(df, cnt, 100, tie)
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

  def ingest(srcDir: String, ds: String): Stage = Stage("ingest", { c =>
    val day = dayPath(srcDir, ds)
    if (!hasDayFiles(c.spark, day)) {
      println(s"[pipeline] no data under $day; short-circuiting")
      false
    } else {
      // C2 (any data this day?) rides the write: the day scan carries a
      // CollectMetrics count, so the one write job also decides the gate
      // and no re-read of `temp_trips` runs. An absent metric means no
      // task saw a row (the zero-row-files day), the same rule as
      // [[fusedRun]].
      val gate = org.apache.spark.sql.Observation()
      c.save("temp_trips",
        readDay(c.spark, day).observe(gate, count(lit(1)).as("rows")))
      gate.get.get("rows").exists(_.asInstanceOf[Long] > 0L)
    }
  })

  def normalize: Stage = Stage("normalize", { c =>
    if (!c.exists("temp_trips")) { // C3 existence gate
      println("[pipeline] temp_trips missing; skipping normalize"); false
    } else {
      c.save("normalized_trips", keepGood(c.load("temp_trips")))
      c.drop("temp_trips")
      true
    }
  })

  def enrich(spark: SparkSession, sfDir: String, ds: String): Stage =
    enrich(spark, sfDir, ds, ZoneRowCap)

  /** Cap-explicit variant so specs can reach the zone row cap with a
    * fixture-sized dimension. */
  private[graft] def enrich(spark: SparkSession, sfDir: String, ds: String,
      zoneCap: Long): Stage =
    Stage("enrich", { c =>
      if (!c.exists("normalized_trips")) {
        println("[pipeline] normalized_trips missing; skipping enrich"); false
      } else {
        val keys = Seq("event_id", "user_id", "pickup_zone_id",
          "dropoff_zone_id")
        // J3: each row n times, n = the identity's copies (scaladoc above)
        val trips = withZoneIds(c.load("normalized_trips"))
          .withColumn("graft_n",
            count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
        val enriched = lookupZones(trips, zoneNames(spark, sfDir, zoneCap))
          .withColumn("graft_copy",
            explode(array_repeat(lit(true), col("graft_n").cast("int"))))
          .select(col("event_id"), col("user_id"),
            col("pickup_zone"), col("dropoff_zone"),
            DateTimeF.daypart(col("ts")).as("daypart"))
        c.save(s"trips_${dsNoDash(ds)}", enriched)
        c.drop("normalized_trips")
        true
      }
    })

  def finalResult(ds: String): Stage = Stage("final_result", { c =>
    val in = s"trips_${dsNoDash(ds)}"
    if (!c.exists(in)) {
      println(s"[pipeline] $in missing; skipping final_result"); false
    } else {
      val pairCounts = c.load(in).groupBy("pickup_zone", "dropoff_zone")
        .agg(count(lit(1)).as("route_count"))
      c.save(s"most_populars_${dsNoDash(ds)}", mostPopulars(pairCounts))
      true
    }
  })

  /** Build the 4-stage chain for one execution date (C4: `--ds`). */
  def stages(spark: SparkSession, sfDir: String, srcDir: String,
             ds: String): Seq[Stage] =
    Seq(ingest(srcDir, ds), normalize, enrich(spark, sfDir, ds),
      finalResult(ds))

  /** Fused execution of the same 4-stage chain: one declarative plan
    * from the day's source files to the most-populars result, no staged
    * tables. The staged [[stages]] runner stays the default — its
    * intermediate tables are the reference's observable surface — but
    * when only the final table is wanted, staging is pure overhead: this
    * mode reads the day once and lets Catalyst fuse ingest + normalize +
    * enrich projections into the scan.
    *
    * Equality with the staged chain: enrich emits, per 4-key identity
    * with n normalized copies, n² rows for each (dropoff, pickup) name
    * pair of the identity (n copies, each repeated n times; see the
    * object scaladoc), so every (pickup_zone, dropoff_zone) count equals
    * Σ_identity n². This plan counts n per identity (one shuffle),
    * looks both zones up in the same zone map as enrich, and weights
    * each pair n² into the pair rollup shared with the final stage.
    * Scale: 1 fact scan + 2 small shuffles vs the staged mode's 4 writes
    * + 3 re-reads.
    *
    * The C2 ROW gate is folded into the single plan (round 15) via
    * `Dataset.observe`: the day scan
    * carries a CollectMetrics count, so the gate quantity ("any rows
    * this day?") is computed BY the one action that executes the plan —
    * no separate limit-1 gate job. Returns None only on the METADATA
    * gate (absent day dir / no part files — decidable from file listings
    * without a job, exactly where the staged runner's ingest stage gates
    * without reading data). The row gate's DECISION still precedes every
    * visible write: [[fusedRun]] stages the action's output under a
    * hidden name and only commits (renames) it into the catalog after
    * the observed count passes — an empty day leaves the catalog
    * without the table, same as the staged runner's short-circuit.
    *
    * Note the observation deliberately sits on the RAW day scan (the
    * gate counts pre-normalization rows, like the staged ingest's
    * observed `temp_trips` write), which pins the normalize filter ABOVE the
    * CollectMetrics node — pushing it into the scan would change the
    * observed count. The rows are read either way (the gate needs
    * them); only the scan-level filter skip is forgone, priced at one
    * column-pruned pass over one day's partition. */
  def fusedObserved(spark: SparkSession, sfDir: String, srcDir: String,
      ds: String): Option[(DataFrame, org.apache.spark.sql.Observation)] = {
    val path = dayPath(srcDir, ds)
    if (!hasDayFiles(spark, path)) return None
    val gate = org.apache.spark.sql.Observation()
    val day = readDay(spark, path).observe(gate, count(lit(1)).as("rows"))
    val idCnt = withZoneIds(keepGood(day))
      .groupBy("event_id", "user_id", "pickup_zone_id", "dropoff_zone_id")
      .agg(count(lit(1)).as("graft_n"))
    val pairCounts = lookupZones(idCnt, zoneNames(spark, sfDir, ZoneRowCap))
      .groupBy("pickup_zone", "dropoff_zone")
      .agg(sum(col("graft_n") * col("graft_n")).as("route_count"))
    Some((mostPopulars(pairCounts), gate))
  }

  /** Single-action gated fused run (round 15): executes the whole fused
    * chain — C2 row gate included — as ONE Spark action, writing to a
    * hidden staging table, then commits (renames) the staging dir into
    * the dated table name only if the observed gate passed. The catalog
    * never shows `most_populars_{ds}` for a day with files but zero
    * rows, preserving the staged runner's short-circuit contract while
    * eliminating the separate gate job. Returns the committed table
    * name, or None when either gate failed (staging dropped). */
  def fusedRun(spark: SparkSession, sfDir: String, srcDir: String,
      ds: String, cat: Catalog): Option[String] =
    fusedObserved(spark, sfDir, srcDir, ds).flatMap { case (df, gate) =>
      val table = s"most_populars_${dsNoDash(ds)}"
      val staging = s"_staging_$table" // underscore: invisible to tables()
      cat.save(staging, df) // THE one action; evaluates the gate metric
      // A MISSING metric means zero rows flowed through the observed
      // scan: CollectMetrics reports nothing when no task ever updated
      // its accumulator (the zero-row-files day), so absent ⇒ 0 is the
      // exact gate semantic, not a default-for-safety.
      val rows = gate.get.get("rows").map(_.asInstanceOf[Long]).getOrElse(0L)
      if (rows == 0L) {
        cat.drop(staging)
        println(s"[pipeline] day $ds has files but no rows; " +
          "fused gate short-circuited (staging dropped)")
        None
      } else {
        cat.drop(table)
        cat.rename(staging, table)
        Some(table)
      }
    }
}
