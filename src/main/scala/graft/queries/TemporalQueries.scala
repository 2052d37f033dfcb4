package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.eventsTbl

/** Event-time operators over the `events` stream table: sessionization
  * (gaps-and-islands), bucketed range self-join, and as-of (point-in-time)
  * join — the temporal primitives a training-data pipeline needs for
  * behavioral features (session stats, co-occurrence windows, latest-state
  * joins) that the reference's daily-batch surface has no answer for.
  *
  * Scale design:
  *  - everything partitions by `user_id` — the natural high-cardinality
  *    key — so the plans are one (or two) hash shuffles and no global
  *    ordering anywhere;
  *  - the range join never expands beyond real candidates: coarse
  *    time-bucket equality keys (the standard bucket-then-refine interval
  *    join) make join fan-out track true pair density, not n²;
  *  - the as-of join is the union+window trick: one shuffle, no range
  *    predicate, state = one running value per partition-order scan. The
  *    custom Catalyst operator variant lives in `graft.plans.AsOfJoinExec`.
  */
object TemporalQueries {

  /** Session gap: a new session starts after > 6 h of user inactivity
    * (sized to the fixture's ~9 h mean inter-event gap so sessions are a
    * mix of singletons and multi-event runs). */
  private[queries] val SessionGapUs = 6L * 3600 * 1000000

  /** Gaps-and-islands sessionization: per-user sessions delimited by
    * inactivity gaps, with per-session stats. The lag/running-sum windows
    * and the final aggregation all cluster on `user_id` — at 100 TB this
    * is the canonical one-key-shuffle sessionizer (no global sort; window
    * state is O(1) per row).
    *
    * Cross-engine determinism: window order is (ts, event_id) — event_id
    * breaks any equal-timestamp tie; epoch-µs integer arithmetic; the
    * value sum is decimal-exact with one final double cast. */
  private def sessionize(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsTbl(s, dir)
      .select(col("user_id"), col("event_id"), col("value"),
        unix_micros(col("ts")).as("us"))
    val byTime = Window.partitionBy("user_id").orderBy("us", "event_id")
    ev
      .withColumn("prev_us", lag("us", 1).over(byTime))
      .withColumn("brk",
        when(col("prev_us").isNull ||
          col("us") - col("prev_us") > SessionGapUs, 1L).otherwise(0L))
      .withColumn("session_seq",
        sum("brk").over(byTime.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .groupBy("user_id", "session_seq")
      .agg(
        count(lit(1)).as("n_events"),
        min("us").as("start_us"),
        max("us").as("end_us"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("sum_value"))
  }

  private[queries] val sessionizeSql = OracleSql.gapsAndIslands(
    SessionGapUs, breakOp = ">", tieBreak = Some("event_id"),
    withSeq = true)

  /** Range-join window: ordered same-user event pairs ≤ 30 min apart. */
  private[queries] val RangeWindowUs = 30L * 60 * 1000000

  /** Bucketed range self-join: same-user event pairs within a 30-minute
    * window. The naive form is an inequality join (O(n²) nested loop or a
    * cross-partition range shuffle); the scale form here buckets event
    * time into window-width epochs and joins on the EQUALITY key
    * (user_id, bucket) — the earlier event fans out to (bucket, bucket+1)
    * so every qualifying pair lands in exactly one bucket pairing (no
    * distinct needed), then the exact µs predicate refines. Shuffle cost
    * tracks true pair density; a 1000-executor run shuffles each event
    * twice, never n². */
  private def rangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsTbl(s, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
    val a = ev.select(col("user_id"), col("event_id").as("id_a"),
        col("us").as("us_a"),
        explode(array(expr(s"us div $RangeWindowUs"),
          expr(s"us div $RangeWindowUs") + 1)).as("bucket"))
    val b = ev.select(col("user_id"), col("event_id").as("id_b"),
      col("us").as("us_b"), expr(s"us div $RangeWindowUs").as("bucket"))
    a.join(b, Seq("user_id", "bucket"))
      .filter(col("us_b") > col("us_a") &&
        col("us_b") <= col("us_a") + RangeWindowUs)
      .select(col("user_id"), col("id_a"), col("id_b"),
        (col("us_b") - col("us_a")).as("gap_us"))
  }

  private[queries] val rangeJoinSql =
    s"""SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
       |       epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
       |FROM events a JOIN events b
       |  ON a.user_id = b.user_id
       | AND b.ts > a.ts
       | AND epoch_us(b.ts) <= epoch_us(a.ts) + $RangeWindowUs
       |ORDER BY a.user_id, id_a, id_b""".stripMargin

  // ------------------------------ as-of join -----------------------------

  /** Left side: clicks. Right side: purchases (bounded columns, renamed to
    * avoid output collisions). Shared by both as-of variants. */
  private def asofSides(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = eventsTbl(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("click_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        unix_micros(col("ts")).as("purchase_us"),
        col("value").as("purchase_value"))
    (clicks, purchases)
  }

  /** As-of join via the custom Catalyst operator (graft.plans.AsOfJoin →
    * AsOfJoinExec, planned through an injected SparkStrategy): each click
    * gains the user's most recent purchase at-or-before it. One hash
    * shuffle per side + in-partition sort + O(1)-state merge — the plan a
    * feature-store point-in-time join needs at 100 TB. Oracle: DuckDB's
    * native ASOF LEFT JOIN, a fully independent implementation. */
  private def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val (clicks, purchases) = asofSides(s, dir)
    graft.ops.AsOf.join(clicks, purchases,
      leftKeys = Seq("user_id"), rightKeys = Seq("p_user_id"),
      leftTime = "click_us", rightTime = "purchase_us")
      .select(col("event_id"), col("user_id"), col("click_us"),
        col("purchase_us"), col("purchase_value"))
  }

  /** The same as-of semantics composed from BUILT-IN operators (SURVEY.md
    * §7.3 ladder step (a), the cross-check for the custom plan): union
    * both sides with a side tag, one window partitioned by user ordered by
    * (time, side) — right rows sort before the left rows they may match
    * (as-of is ≤) — and `last(value, ignoreNulls)` carries the newest
    * purchase forward. Same single-shuffle scale shape; the cost is schema
    * contortion (padded null columns), which is exactly why the dedicated
    * operator exists. */
  private def asofUnionWindow(s: SparkSession, dir: String): DataFrame = {
    val (clicks, purchases) = asofSides(s, dir)
    val l = clicks.select(col("user_id"), col("event_id"),
      col("click_us").as("us"), lit(1).as("is_l"),
      lit(null).cast("long").as("r_us"),
      lit(null).cast("double").as("r_value"))
    val r = purchases.select(col("p_user_id").as("user_id"),
      lit(null).cast("long").as("event_id"),
      col("purchase_us").as("us"), lit(0).as("is_l"),
      col("purchase_us").as("r_us"), col("purchase_value").as("r_value"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("us"), col("is_l"), col("r_us"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionAll(r)
      .withColumn("purchase_us", last("r_us", ignoreNulls = true).over(w))
      .withColumn("purchase_value",
        last("r_value", ignoreNulls = true).over(w))
      .filter(col("is_l") === 1)
      .select(col("event_id"), col("user_id"), col("us").as("click_us"),
        col("purchase_us"), col("purchase_value"))
      .orderBy("event_id")
  }

  private val asofSql =
    """SELECT l.event_id, l.user_id, epoch_us(l.ts) AS click_us,
      |       epoch_us(r.ts) AS purchase_us, r.value AS purchase_value
      |FROM (SELECT event_id, user_id, ts FROM events
      |      WHERE event_type = 'click') l
      |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
      |                WHERE event_type = 'purchase') r
      |  ON l.user_id = r.user_id AND l.ts >= r.ts
      |ORDER BY event_id""".stripMargin

  /** FORWARD as-of (next purchase at-or-after each click). DuckDB's ASOF
    * is backward-only, so the oracle states the semantics directly: the
    * per-click minimum qualifying purchase via a windowed QUALIFY — an
    * INDEPENDENT formulation of what the custom operator's forward merge
    * computes. */
  private def asofForward(s: SparkSession, dir: String): DataFrame = {
    val (clicks, purchases) = asofSides(s, dir)
    graft.ops.AsOf.join(clicks, purchases,
      leftKeys = Seq("user_id"), rightKeys = Seq("p_user_id"),
      leftTime = "click_us", rightTime = "purchase_us",
      direction = graft.plans.AsOfForward)
      .select(col("event_id"), col("user_id"), col("click_us"),
        col("purchase_us"), col("purchase_value"))
      .orderBy("event_id")
  }

  private val asofForwardSql =
    """SELECT l.event_id, l.user_id, epoch_us(l.ts) AS click_us,
      |       epoch_us(r.ts) AS purchase_us, r.value AS purchase_value
      |FROM (SELECT event_id, user_id, ts FROM events
      |      WHERE event_type = 'click') l
      |LEFT JOIN (SELECT user_id, ts, value FROM events
      |           WHERE event_type = 'purchase') r
      |  ON l.user_id = r.user_id AND r.ts >= l.ts
      |QUALIFY row_number() OVER (PARTITION BY l.event_id
      |                           ORDER BY r.ts, r.value) = 1
      |ORDER BY event_id""".stripMargin

  /** F1 on the NATIVE `TIME` type (Spark 4.1's TimeType): the reference's
    * `EXTRACT(TIME FROM pickup_datetime)` (`enrichment_query.py:10`)
    * lands on a first-class TIME value here — `f_daypart_time` keeps the
    * µs-of-day representation that predates the type (both stay
    * registered: representation choice vs native type). Output compares
    * integer time FIELDS (hour/minute/second/µs-of-day) — integer-robust
    * across engines where TIME→string formatting is not. */
  private def timeTypeExtract(s: SparkSession, dir: String): DataFrame = {
    // TIME is feature-flagged in Spark 4.1; runtime-settable conf
    s.conf.set("spark.sql.timeType.enabled", "true")
    eventsTbl(s, dir)
      // 4.1 has the TIME type + make_time but not yet TIMESTAMP→TIME
      // casts; construct the TIME value from extracted fields (exact:
      // µs-of-minute → DECIMAL(16,6) seconds)
      .select(col("event_id"), col("ts"),
        expr("make_time(hour(ts), minute(ts), " +
          "CAST((unix_micros(ts) % 60000000) / 1000000.0 " +
          "AS DECIMAL(16,6)))").as("t"))
      .select(col("event_id"),
        expr("CAST(EXTRACT(HOUR FROM t) AS BIGINT)").as("th"),
        expr("CAST(EXTRACT(MINUTE FROM t) AS BIGINT)").as("tm"),
        expr("CAST(FLOOR(EXTRACT(SECOND FROM t)) AS BIGINT)").as("tsec"),
        (unix_micros(col("ts")) % 1000000L).as("us_frac"),
        (unix_micros(col("ts")) % 86400000000L).as("us_of_day"))
      .orderBy("event_id")
  }

  private val timeTypeExtractSql =
    """SELECT event_id,
      |       CAST(hour(CAST(ts AS TIME)) AS BIGINT) AS th,
      |       CAST(minute(CAST(ts AS TIME)) AS BIGINT) AS tm,
      |       CAST(second(CAST(ts AS TIME)) AS BIGINT) AS tsec,
      |       epoch_us(ts) % 1000000 AS us_frac,
      |       epoch_us(ts) % 86400000000 AS us_of_day
      |FROM events ORDER BY event_id""".stripMargin

  // ------------------------------ funnel ---------------------------------

  /** Ordered conversion funnel view→click→purchase: a user counts at a
    * stage only if the stage event happened strictly AFTER their first
    * event of the previous stage (the order-sensitive definition; a mere
    * per-type EXISTS would overcount). Output is the 3-row summary.
    *
    * Plan shape: three filtered per-user min aggregates chained by
    * user_id joins — every shuffle is on the same user_id key, the
    * chained sides are already user-grained (≤1 row per user), and at
    * 100 TB the later stages join progressively SHRINKING sets (the
    * funnel property itself bounds the work). No windows, no n²
    * event-pair expansion. */
  private def funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsTbl(s, dir).select("user_id", "event_type", "ts")
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("v_ts"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts") > col("v_ts"))
      .groupBy("user_id").agg(min("ts").as("c_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") > col("c_ts"))
      .groupBy("user_id").agg(min("ts").as("p_ts"))
    def stage(ord: Int, name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(ord).as("stage_ord"), lit(name).as("stage"),
          col("n_users"))
    stage(1, "view", v).unionAll(stage(2, "click", c))
      .unionAll(stage(3, "purchase", p))
      .orderBy("stage_ord")
  }

  private val funnelSql =
    """WITH v AS (
      |  SELECT user_id, min(ts) AS v_ts FROM events
      |  WHERE event_type = 'view' GROUP BY user_id
      |), c AS (
      |  SELECT e.user_id, min(e.ts) AS c_ts
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.ts > v.v_ts
      |  GROUP BY e.user_id
      |), p AS (
      |  SELECT e.user_id, min(e.ts) AS p_ts
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
      |  GROUP BY e.user_id
      |)
      |SELECT 1 AS stage_ord, 'view' AS stage, count(*) AS n_users FROM v
      |UNION ALL
      |SELECT 2, 'click', count(*) FROM c
      |UNION ALL
      |SELECT 3, 'purchase', count(*) FROM p
      |ORDER BY stage_ord""".stripMargin

  // ----------------------------- retention --------------------------------

  /** Day-offset cap: two weeks keeps the matrix compact while covering
    * the fixture's 30-day span. */
  private val RetMaxOffset = 13

  /** Cohort retention matrix: users cohorted by first-signup day, counted
    * on each later day they were active (any event type), as
    * (cohort_day, day_offset) → distinct users. The standard growth
    * analytics reshape.
    *
    * Plan shape: cohorts and the distinct (user, day) activity set are
    * both user-keyed aggregates; the join is user_id-to-user_id with the
    * cohort side ≤1 row per user (broadcastable at dimension scale). The
    * final matrix is tiny (days × offsets). */
  private def retention(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsTbl(s, dir)
    val cohort = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(to_date(col("ts"))).as("d0"))
    val active = ev.select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    active.join(cohort, "user_id")
      .select(col("user_id"), col("d0"),
        datediff(col("d"), col("d0")).as("day_offset"))
      .filter(col("day_offset").between(0, RetMaxOffset))
      .groupBy(col("d0"), col("day_offset"))
      .agg(countDistinct("user_id").as("n_users"))
      .select(date_format(col("d0"), "yyyy-MM-dd").as("cohort_day"),
        col("day_offset").cast("long").as("day_offset"), col("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  private val retentionSql =
    s"""WITH cohort AS (
       |  SELECT user_id, min(CAST(ts AS DATE)) AS d0 FROM events
       |  WHERE event_type = 'signup' GROUP BY user_id
       |), active AS (
       |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
       |)
       |SELECT CAST(d0 AS VARCHAR) AS cohort_day,
       |       CAST(date_diff('day', d0, d) AS BIGINT) AS day_offset,
       |       count(DISTINCT a.user_id) AS n_users
       |FROM active a JOIN cohort c ON a.user_id = c.user_id
       |WHERE date_diff('day', d0, d) BETWEEN 0 AND $RetMaxOffset
       |GROUP BY d0, date_diff('day', d0, d)
       |ORDER BY cohort_day, day_offset""".stripMargin

  // ------------------------------- EWMA -----------------------------------

  /** Truncated-EWMA depth: 8 lags with weights 2^-(k+1) ≈ 99.6% of the
    * untruncated geometric mass at α = 1/2. */
  private val EwmaLags = 8

  /** Exponentially-weighted moving average of event value per user —
    * truncated to [[EwmaLags]] terms so it is expressible as a fixed
    * lag-window expression instead of a recursive fold (which neither
    * engine's window frames can state).
    *
    * Cross-engine determinism: the weights are negative powers of two, so
    * each term `value / 2^(k+1)` is EXACT in IEEE doubles (pure exponent
    * shift, no rounding), and both engines evaluate the identical
    * left-associated addition chain — same operands, same order, same
    * bits. This is the same trick as the decimal-exact aggregate rule in
    * `QueryDef`, applied to a weighted window.
    *
    * Scale: one shuffle on user_id; the window state is the last 8 rows
    * per partition-order scan — O(1) per row, no global sort. */
  private def ewma(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val terms = (0 until EwmaLags).map { k =>
      val v = if (k == 0) col("value") else lag(col("value"), k).over(w)
      coalesce(v, lit(0.0)) / lit(math.pow(2.0, k + 1))
    }
    eventsTbl(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("ewma8", terms.reduce(_ + _))
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"), col("ewma8"))
      .orderBy("user_id", "us", "event_id")
  }

  private val ewmaSql = {
    val over = "OVER (PARTITION BY user_id ORDER BY ts, event_id)"
    val terms = (0 until EwmaLags).map { k =>
      val v = if (k == 0) "value" else s"lag(value, $k) $over"
      s"coalesce($v, 0.0) / ${1L << (k + 1)}.0"
    }
    s"""SELECT user_id, epoch_us(ts) AS us, event_id, value,
       |       ${terms.mkString(" + ")} AS ewma8
       |FROM events
       |ORDER BY user_id, us, event_id""".stripMargin
  }

  // --------------------------- sequence match ------------------------------

  /** MATCH_RECOGNIZE-style CONTIGUOUS event-sequence detection: per user,
    * occurrences of an immediately-adjacent view→click→purchase triple in
    * event-time order. The complement of `x_funnel`'s eventually-after
    * semantics — adjacency is what a mere per-stage min-join cannot
    * express, and what SQL engines bolt MATCH_RECOGNIZE on for.
    *
    * Encoding: k-step `lead()` over the per-user event-time window turns
    * "next k event types" into row-local columns; the pattern is then an
    * ordinary conjunctive filter. A longer pattern is more leads; a
    * Kleene pattern (A B+ C) becomes the gaps-and-islands sessionizer
    * composed with this. One shuffle on user_id, window state = 2 rows. */
  private def sequenceMatch(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    eventsTbl(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("t1", lead(col("event_type"), 1).over(w))
      .withColumn("t2", lead(col("event_type"), 2).over(w))
      .filter(col("event_type") === "view" &&
        col("t1") === "click" && col("t2") === "purchase")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_matches"),
        min(unix_micros(col("ts"))).as("first_match_us"))
      .orderBy("user_id")
  }

  private val sequenceMatchSql =
    """WITH m AS (
      |  SELECT user_id, epoch_us(ts) AS us, event_type,
      |         lead(event_type, 1) OVER (PARTITION BY user_id
      |                                   ORDER BY ts, event_id) AS t1,
      |         lead(event_type, 2) OVER (PARTITION BY user_id
      |                                   ORDER BY ts, event_id) AS t2
      |  FROM events
      |)
      |SELECT user_id, count(*) AS n_matches, min(us) AS first_match_us
      |FROM m
      |WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  val all: Map[String, QueryDef] = Map(
    "x_funnel" -> QueryDef(funnel, Some(funnelSql)),
    "x_retention" -> QueryDef(retention, Some(retentionSql)),
    "w_ewma" -> QueryDef(ewma, Some(ewmaSql)),
    "w_sequence_match" -> QueryDef(sequenceMatch, Some(sequenceMatchSql)),
    "f1_time_type" -> QueryDef(timeTypeExtract, Some(timeTypeExtractSql)),
    "x_sessionize" -> QueryDef(sessionize, Some(sessionizeSql), bench = true,
      order = Seq(col("user_id"), col("session_seq"))),
    "x_range_join" -> QueryDef(rangeJoin, Some(rangeJoinSql), bench = true,
      order = Seq(col("user_id"), col("id_a"), col("id_b"))),
    "x_asof_join" -> QueryDef(asofJoin, Some(asofSql), bench = true,
      order = Seq(col("event_id"))),
    "x_asof_forward" -> QueryDef(asofForward, Some(asofForwardSql)),
    "x_asof_union_window" -> QueryDef(asofUnionWindow, Some(asofSql))
  )
}
