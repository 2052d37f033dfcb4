package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{eventsTbl, tbl}
import graft.functions.HashF

/** Warehouse-grade analytics operators: multi-level aggregation (ROLLUP),
  * exact grouped quantiles, a deterministic distinct-count sketch (KMV),
  * MERGE-style upsert, and a hive-partitioned sink with partition-pruned
  * reads. These round out the OLAP surface a reference user grows into
  * once daily metrics exist.
  *
  * Scale notes: rollup is one shuffle with map-side partials (Spark
  * expands grouping sets before the exchange); quantiles shuffle once per
  * group key; the KMV sketch reduces each group to k=16 hash minima —
  * the mergeable-sketch pattern that replaces exact COUNT(DISTINCT) at
  * 100 TB; upsert is one full-outer shuffle join on the key; the
  * partitioned sink turns date predicates into directory pruning
  * (PartitionFilters, zero data I/O outside the day).
  */
object WarehouseQueries {

  private def day(c: org.apache.spark.sql.Column) =
    c.cast("date").cast("string")

  // ------------------------------- rollup ---------------------------------

  /** ROLLUP (event_type, day): per-type-per-day, per-type subtotal, and
    * grand total in one pass. Grouped-out levels surface as '(all)' —
    * coalesced identically in the oracle so the NULL markers are
    * unambiguous under the hash compare. */
  private def rollupCounts(s: SparkSession, dir: String): DataFrame =
    eventsTbl(s, dir)
      .select(col("event_type"), day(col("ts")).as("day"), col("value"))
      .rollup("event_type", "day")
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("sum_value"))
      .select(coalesce(col("event_type"), lit("(all)")).as("event_type"),
        coalesce(col("day"), lit("(all)")).as("day"),
        col("cnt"), col("sum_value"))
      .orderBy("event_type", "day")

  private val rollupCountsSql =
    """SELECT coalesce(event_type, '(all)') AS event_type,
      |       coalesce(CAST(CAST(ts AS DATE) AS VARCHAR), '(all)') AS day,
      |       count(*) AS cnt,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY ROLLUP (event_type, CAST(CAST(ts AS DATE) AS VARCHAR))
      |ORDER BY event_type, day""".stripMargin

  // ----------------------------- quantiles --------------------------------

  /** Exact grouped quantiles (p50/p90/p99 of event value per type), linear
    * interpolation. Both engines compute rank = p·(n−1) over the sorted
    * group and interpolate; results are rounded 6 dp to absorb last-ulp
    * interpolation-formula differences. At 100 TB the exact form is one
    * sort-based shuffle per group; the approximate path for wider groups
    * is the KMV/t-digest family ([[kmvDistinct]] is the distinct-count
    * member implemented here). */
  private def quantiles(s: SparkSession, dir: String): DataFrame =
    eventsTbl(s, dir)
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  private val quantilesSql =
    """SELECT event_type,
      |       round(quantile_cont(value, 0.5), 6) AS p50,
      |       round(quantile_cont(value, 0.9), 6) AS p90,
      |       round(quantile_cont(value, 0.99), 6) AS p99,
      |       count(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------- correlated scalar subquery ----------------------

  /** TPC-H Q17-shape correlated scalar subqueries — "line items below
    * half their part's average quantity" — authored as SQL text so
    * Catalyst's decorrelation (DecorrelateInnerQuery +
    * RewriteCorrelatedScalarSubquery) does the rewrite a user would
    * otherwise hand-write: the per-part count/sum subqueries become ONE
    * aggregated join on l_partkey, never a per-row re-scan. The plan
    * (target/plans/) shows the decorrelated aggregate join.
    *
    * Cross-engine determinism: `avg/2` restates as `2·qc·n < Σqc` in
    * cent-quantized BIGINTs — exact integer math, no float average
    * whose accumulation order could differ. Scale: after decorrelation
    * this is a map-side-combined aggregate + one shuffle join on the
    * part key — Q17's canonical plan. */
  private def correlatedSubquery(s: SparkSession, dir: String): DataFrame = {
    tbl(s, dir, "lineitem").createOrReplaceTempView("graft_corr_lineitem")
    s.sql(correlatedSubquerySqlOn("graft_corr_lineitem"))
  }

  private def correlatedSubquerySqlOn(table: String): String =
    s"""WITH li AS (
       |  SELECT l_partkey,
       |         CAST(round(l_quantity * 100.0, 0) AS BIGINT) AS qc
       |  FROM $table
       |)
       |SELECT l_partkey, count(*) AS n_small,
       |       CAST(sum(qc) AS BIGINT) AS sum_small_cents
       |FROM li l1
       |WHERE 2 * l1.qc * (SELECT count(*) FROM li l2
       |                   WHERE l2.l_partkey = l1.l_partkey)
       |      < (SELECT sum(l3.qc) FROM li l3
       |         WHERE l3.l_partkey = l1.l_partkey)
       |GROUP BY l_partkey ORDER BY l_partkey""".stripMargin

  private val correlatedSubquerySql = correlatedSubquerySqlOn("lineitem")

  // ------------------------ quantile sketch -------------------------------

  /** Sketch resolution: 256 equi-width bins per group. */
  private val QsBins = 256

  /** Mergeable approximate quantiles — the scale path `w_quantiles`'
    * exact sort-based form swaps into for wide groups: a fixed-grid
    * histogram sketch. Bin counts are ADDITIVE (partials merge by
    * vector addition) and the (lo, hi) frame merges by min/max, so the
    * sketch is a proper distributed aggregate — the same mergeability
    * contract as the KMV sketch, for ranks instead of distincts.
    * Estimates take the upper edge of the first bin whose cumulative
    * count reaches ⌈p·n⌉ (error ≤ one bin width); exact quantiles ride
    * alongside as the error witness.
    *
    * Determinism: binning is `floor` of the identical IEEE expression
    * on both engines; estimates are one shared expression tree over
    * exact ints and the (lo, hi) doubles. Scale: two map-side-combined
    * passes (frame, then counts) — never a per-group sort; the
    * cumulative walk runs over ≤ [[QsBins]] rows per group. */
  private def quantileSketch(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsTbl(s, dir).select("event_type", "value")
    val frame = ev.groupBy("event_type")
      .agg(min("value").as("lo"), max("value").as("hi"),
        count(lit(1)).as("n"))
    val bin = when(col("hi") === col("lo"), lit(0L)).otherwise(
      least(lit((QsBins - 1).toLong),
        floor((col("value") - col("lo")) / (col("hi") - col("lo")) *
          lit(QsBins.toDouble)).cast("long")))
    val binned = ev.join(broadcast(frame), "event_type")
      .withColumn("bin", bin)
      .groupBy("event_type", "bin")
      .agg(count(lit(1)).as("c"))
    val cum = binned.withColumn("cum",
      sum("c").over(Window.partitionBy("event_type").orderBy("bin")))
    def estAt(p: Double, name: String): DataFrame =
      cum.join(broadcast(frame), "event_type")
        .filter(col("cum") >= ceil(lit(p) * col("n")))
        .groupBy("event_type").agg(min("bin").as("b"))
        .join(broadcast(frame), "event_type")
        .select(col("event_type"),
          (col("lo") + (col("b") + 1).cast("double") /
            lit(QsBins.toDouble) * (col("hi") - col("lo"))).as(name))
    estAt(0.5, "est_p50")
      .join(estAt(0.9, "est_p90"), "event_type")
      .join(estAt(0.99, "est_p99"), "event_type")
      .join(ev.groupBy("event_type")
        .agg(round(expr("percentile(value, 0.5)"), 6).as("exact_p50"),
          round(expr("percentile(value, 0.99)"), 6).as("exact_p99")),
        "event_type")
      .orderBy("event_type")
  }

  private val quantileSketchSql =
    s"""WITH frame AS (
       |  SELECT event_type, min(value) AS lo, max(value) AS hi,
       |         count(*) AS n
       |  FROM events GROUP BY event_type
       |), binned AS (
       |  SELECT e.event_type,
       |         CASE WHEN f.hi = f.lo THEN 0
       |              ELSE least(${QsBins - 1}, CAST(floor(
       |                (e.value - f.lo) / (f.hi - f.lo) * $QsBins.0)
       |                AS BIGINT)) END AS bin,
       |         count(*) AS c
       |  FROM events e JOIN frame f USING (event_type)
       |  GROUP BY 1, 2
       |), cum AS (
       |  SELECT event_type, bin,
       |         sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum
       |  FROM binned
       |), est AS (
       |  SELECT c.event_type,
       |         min(CASE WHEN c.cum >= ceil(0.5 * f.n) THEN c.bin END)
       |           AS b50,
       |         min(CASE WHEN c.cum >= ceil(0.9 * f.n) THEN c.bin END)
       |           AS b90,
       |         min(CASE WHEN c.cum >= ceil(0.99 * f.n) THEN c.bin END)
       |           AS b99
       |  FROM cum c JOIN frame f USING (event_type)
       |  GROUP BY c.event_type
       |)
       |SELECT e.event_type,
       |       f.lo + CAST(e.b50 + 1 AS DOUBLE) / $QsBins.0 * (f.hi - f.lo)
       |         AS est_p50,
       |       f.lo + CAST(e.b90 + 1 AS DOUBLE) / $QsBins.0 * (f.hi - f.lo)
       |         AS est_p90,
       |       f.lo + CAST(e.b99 + 1 AS DOUBLE) / $QsBins.0 * (f.hi - f.lo)
       |         AS est_p99,
       |       x.exact_p50, x.exact_p99
       |FROM est e JOIN frame f USING (event_type)
       |JOIN (SELECT event_type,
       |             round(quantile_cont(value, 0.5), 6) AS exact_p50,
       |             round(quantile_cont(value, 0.99), 6) AS exact_p99
       |      FROM events GROUP BY event_type) x USING (event_type)
       |ORDER BY event_type""".stripMargin

  // --------------------------- MAD outliers -------------------------------

  /** Robust outlier detection via median absolute deviation: per
    * event_type, flag values with |v − median| > 3·MAD — the
    * breakdown-resistant alternative to mean±3σ (`w_stats_agg`'s
    * moments), which outliers themselves corrupt. The data-quality
    * screen that feeds `w_dq_checks`-style gates.
    *
    * Cross-engine: both medians are rounded to 6 dp BEFORE the deviation
    * pass (absorbing last-ulp interpolation differences, as
    * `w_quantiles`), so every downstream |v − med|, 3·MAD product, and
    * strict compare runs on bit-identical doubles. Scale: two exact
    * grouped medians = two sort-shuffles on the group key; the per-type
    * medians are dimension-sized and broadcast back — at wider groups
    * the exact median swaps for a t-digest/KMV-family sketch. */
  private def outlierMad(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsTbl(s, dir).select("event_type", "value")
    val med = ev.groupBy("event_type")
      .agg(round(expr("percentile(value, 0.5)"), 6).as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("value") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(round(expr("percentile(dev, 0.5)"), 6).as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), max("med").as("med"), max("mad").as("mad"),
        sum(when(col("dev") > lit(3.0) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .orderBy("event_type")
  }

  private val outlierMadSql =
    """WITH med AS (
      |  SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
      |  FROM events GROUP BY event_type
      |), dev AS (
      |  SELECT e.event_type, abs(e.value - m.med) AS dev, m.med
      |  FROM events e JOIN med m USING (event_type)
      |), mad AS (
      |  SELECT event_type, round(quantile_cont(dev, 0.5), 6) AS mad
      |  FROM dev GROUP BY event_type
      |)
      |SELECT d.event_type, count(*) AS n, max(d.med) AS med,
      |       max(a.mad) AS mad,
      |       CAST(sum(CASE WHEN d.dev > 3.0 * a.mad THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_outliers
      |FROM dev d JOIN mad a USING (event_type)
      |GROUP BY d.event_type ORDER BY event_type""".stripMargin

  // ------------------------- KMV distinct sketch --------------------------

  private val KmvK = 16

  /** Deterministic distinct-count sketch: K-minimum-values over the
    * md5-prefix uint32 hash. est = (k−1)·2³² / h₍ₖ₎ where h₍ₖ₎ is the
    * k-th smallest DISTINCT hash in the group; groups with < k distinct
    * values report exactly. Unlike HLL (whose registers are
    * engine-specific), KMV over a shared hash is bit-reproducible in any
    * engine — which is why it can be oracle-checked at all — and sketches
    * merge by keeping the k smallest of a union, so partial aggregation
    * works at 100 TB. Exact distinct runs alongside as the error
    * witness. */
  private def kmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val hashed = eventsTbl(s, dir)
      .select(col("event_type"),
        HashF.tokenHash(col("user_id").cast("string")).as("h"))
      .distinct()
    val rn = row_number().over(
      Window.partitionBy("event_type").orderBy("h"))
    val kth = hashed.withColumn("rn", rn)
      .groupBy("event_type")
      .agg(max(when(col("rn") === KmvK, col("h"))).as("hk"),
        count(lit(1)).as("n_distinct"))
    kth.select(col("event_type"),
      when(col("n_distinct") < KmvK, col("n_distinct").cast("double"))
        .otherwise(round(lit((KmvK - 1) * 4294967296.0) / col("hk"), 6))
        .as("est_distinct"),
      col("n_distinct"))
      .orderBy("event_type")
  }

  private val kmvDistinctSql =
    s"""WITH hashed AS (
       |  SELECT DISTINCT event_type,
       |         ${OracleSql.hash("CAST(user_id AS VARCHAR)")} AS h
       |  FROM events
       |), ranked AS (
       |  SELECT event_type, h,
       |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
       |  FROM hashed
       |), kth AS (
       |  SELECT event_type, max(CASE WHEN rn = $KmvK THEN h END) AS hk,
       |         count(*) AS n_distinct
       |  FROM ranked GROUP BY event_type
       |)
       |SELECT event_type,
       |       CASE WHEN n_distinct < $KmvK THEN CAST(n_distinct AS DOUBLE)
       |            ELSE round(${(KmvK - 1) * 4294967296.0} / hk, 6) END
       |         AS est_distinct,
       |       n_distinct
       |FROM kth ORDER BY event_type""".stripMargin

  // ------------------------------- upsert ---------------------------------

  /** MERGE-style upsert: apply a changeset (update / delete / insert) to
    * the orders snapshot in one full-outer join on the key — the
    * relational encoding of `MERGE INTO` for engines without a mutable
    * table format. The changeset is derived deterministically from the
    * fixture (keys ≡ 0 mod 10 update, ≡ 1 delete, ≡ 2 re-insert under a
    * shifted key). Scale: one shuffle join on the primary key; with a
    * bucketed/sorted snapshot layout the same plan runs exchange-free on
    * the snapshot side (see b_bucketed_join). */
  private def upsert(s: SparkSession, dir: String): DataFrame = {
    val snap = tbl(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val changes = snap
      .filter(col("o_orderkey") % 10 <= 2)
      .select(
        when(col("o_orderkey") % 10 === 2, col("o_orderkey") + 10000000L)
          .otherwise(col("o_orderkey")).as("o_orderkey"),
        when(col("o_orderkey") % 10 === 1, "D")
          .when(col("o_orderkey") % 10 === 0, "U").otherwise("I").as("op"),
        lit("X").as("new_status"),
        round(col("o_totalprice") + 1.0, 2).as("new_price"))
    snap.join(changes, Seq("o_orderkey"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("o_orderkey"),
        when(col("op").isNotNull, col("new_status"))
          .otherwise(col("o_orderstatus")).as("o_orderstatus"),
        when(col("op").isNotNull, col("new_price"))
          .otherwise(col("o_totalprice")).as("o_totalprice"))
      .orderBy("o_orderkey")
  }

  private val upsertSql =
    """WITH snap AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |), changes AS (
      |  SELECT CASE WHEN src_key % 10 = 2 THEN src_key + 10000000
      |              ELSE src_key END AS o_orderkey,
      |         CASE WHEN src_key % 10 = 1 THEN 'D'
      |              WHEN src_key % 10 = 0 THEN 'U' ELSE 'I' END AS op,
      |         'X' AS new_status,
      |         round(o_totalprice + 1.0, 2) AS new_price
      |  FROM (SELECT o_orderkey AS src_key, o_totalprice FROM snap
      |        WHERE o_orderkey % 10 <= 2)
      |)
      |SELECT coalesce(s.o_orderkey, c.o_orderkey) AS o_orderkey,
      |       CASE WHEN c.op IS NOT NULL THEN c.new_status
      |            ELSE s.o_orderstatus END AS o_orderstatus,
      |       CASE WHEN c.op IS NOT NULL THEN c.new_price
      |            ELSE s.o_totalprice END AS o_totalprice
      |FROM snap s FULL OUTER JOIN changes c USING (o_orderkey)
      |WHERE c.op IS NULL OR c.op != 'D'
      |ORDER BY o_orderkey""".stripMargin

  // -------------------------- partitioned sink ----------------------------

  /** Per-(session, dir) sink path: concurrent sessions must not clobber
    * each other's partition directories mid-read. Package-visible for
    * `WarehouseSpec`'s pruning assertion. */
  private[queries] def psinkBase(s: SparkSession, dir: String): String =
    QTmp.perSession("warehouse/psink", s, dir)

  /** Hive-partitioned sink + pruned read: write events partitioned by UTC
    * day, read back ONE day through a partition-column predicate. The
    * predicate resolves at file listing time (PartitionFilters — asserted
    * in `WarehouseSpec`), so a 100 TB history scan touches exactly one
    * day's files. This is the `partitionBy` twin of the reference's
    * date-PATH layout (S1/S9, `s1_s2_datepath_glob`). */
  private def partitionedSink(s: SparkSession, dir: String): DataFrame = {
    val base = psinkBase(s, dir)
    eventsTbl(s, dir)
      .withColumn("ds", day(col("ts")))
      .write.mode("overwrite").partitionBy("ds").parquet(base)
    s.read.parquet(base)
      .filter(col("ds") === "2024-01-05")
      // partition-column inference re-types ds as DATE on read; cast back
      // to string so the output honors the "never emit raw DATE" oracle
      // rule rather than passing on a rendering coincidence
      .groupBy(col("ds").cast("string").as("ds"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("ds", "event_type")
  }

  private val partitionedSinkSql =
    """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS ds, event_type,
      |       count(*) AS cnt
      |FROM events
      |WHERE CAST(CAST(ts AS DATE) AS VARCHAR) = '2024-01-05'
      |GROUP BY 1, 2 ORDER BY ds, event_type""".stripMargin

  // --------------------------- window functions ---------------------------

  /** Navigation + distribution window functions per user: lag/lead over
    * event time, ntile/percent_rank/cume_dist over the value ordering.
    * All windows partition by user_id (one shuffle, no global windows);
    * orderings carry event_id tie-breaks so every function is
    * deterministic cross-engine. */
  private def windowFuncs(s: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy("user_id").orderBy("us", "event_id")
    val byValue = Window.partitionBy("user_id").orderBy("value", "event_id")
    eventsTbl(s, dir)
      .select(col("user_id"), col("event_id"), col("value"),
        unix_micros(col("ts")).as("us"))
      .select(col("user_id"), col("event_id"),
        lag("value", 1).over(byTime).as("prev_value"),
        lead("value", 1).over(byTime).as("next_value"),
        ntile(4).over(byValue).as("value_quartile"),
        round(percent_rank().over(byValue), 6).as("value_prank"),
        round(cume_dist().over(byValue), 6).as("value_cdist"))
  }

  private[queries] val windowFuncsSql =
    """SELECT user_id, event_id,
      |       lag(value) OVER (PARTITION BY user_id
      |                        ORDER BY epoch_us(ts), event_id) AS prev_value,
      |       lead(value) OVER (PARTITION BY user_id
      |                         ORDER BY epoch_us(ts), event_id) AS next_value,
      |       ntile(4) OVER (PARTITION BY user_id
      |                      ORDER BY value, event_id) AS value_quartile,
      |       round(percent_rank() OVER (PARTITION BY user_id
      |                                  ORDER BY value, event_id), 6)
      |         AS value_prank,
      |       round(cume_dist() OVER (PARTITION BY user_id
      |                               ORDER BY value, event_id), 6)
      |         AS value_cdist
      |FROM events ORDER BY user_id, event_id""".stripMargin

  // --------------------------- semi / anti joins --------------------------

  /** LEFT SEMI + LEFT ANTI joins as audience selection: purchasers who
    * also clicked (semi) and clickers who never purchased (anti), tagged
    * in one output. Semi/anti are the scale-right encodings of
    * EXISTS / NOT EXISTS — the probe side streams, the build side carries
    * only keys, nothing is duplicated by the join (unlike an inner join +
    * distinct). */
  private def semiAnti(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsTbl(s, dir)
    def users(t: String) =
      ev.filter(col("event_type") === t).select("user_id").distinct()
    val semi = users("purchase")
      .join(users("click"), Seq("user_id"), "left_semi")
      .withColumn("kind", lit("purchased_and_clicked"))
    val anti = users("click")
      .join(users("purchase"), Seq("user_id"), "left_anti")
      .withColumn("kind", lit("clicked_never_purchased"))
    semi.unionByName(anti).select("kind", "user_id")
      .orderBy("kind", "user_id")
  }

  private val semiAntiSql =
    """WITH c AS (SELECT DISTINCT user_id FROM events
      |           WHERE event_type = 'click'),
      |     p AS (SELECT DISTINCT user_id FROM events
      |           WHERE event_type = 'purchase')
      |SELECT 'purchased_and_clicked' AS kind, user_id FROM p
      |WHERE EXISTS (SELECT 1 FROM c WHERE c.user_id = p.user_id)
      |UNION ALL
      |SELECT 'clicked_never_purchased' AS kind, user_id FROM c
      |WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id)
      |ORDER BY kind, user_id""".stripMargin

  // ----------------------------- data quality -----------------------------

  /** Data-quality audit — the validation gate a training pipeline runs
    * before consuming a drop: null keys, out-of-range measures,
    * referential orphans (lineitem → orders anti join), duplicate
    * primary keys. One row per check with violation counts. Scale: the
    * null/range checks ride a single scan; the orphan check is one
    * key join (broadcast- or shuffle-planned by size); dup detection is
    * one map-side-combined groupBy. */
  private def dqChecks(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem")
    val ord = tbl(s, dir, "orders")
    val scanChecks = li.agg(
      sum(when(col("l_orderkey").isNull, 1L).otherwise(0L))
        .as("null_order_key"),
      sum(when(col("l_quantity") <= 0, 1L).otherwise(0L))
        .as("nonpositive_quantity"),
      sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L)
        .otherwise(0L)).as("discount_out_of_range"),
      sum(when(col("l_shipdate") > lit("2030-01-01").cast("timestamp"), 1L)
        .otherwise(0L)).as("shipdate_beyond_horizon"))
    val orphans = li.join(ord, li("l_orderkey") === ord("o_orderkey"),
      "left_anti").agg(count(lit(1)).as("n")).select(
      lit("orphan_lineitems").as("check_name"), col("n").as("n_bad"))
    val dupKeys = ord.groupBy("o_orderkey").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).agg(count(lit(1)).as("n"))
      .select(lit("duplicate_order_keys").as("check_name"), col("n").as("n_bad"))
    val unpivoted = Seq("null_order_key", "nonpositive_quantity",
      "discount_out_of_range", "shipdate_beyond_horizon").map { c =>
      scanChecks.select(lit(c).as("check_name"), col(c).as("n_bad"))
    }.reduce(_ unionAll _)
    unpivoted.unionAll(orphans).unionAll(dupKeys).orderBy("check_name")
  }

  private val dqChecksSql =
    """SELECT 'null_order_key' AS check_name,
      |       count(*) FILTER (l_orderkey IS NULL) AS n_bad FROM lineitem
      |UNION ALL
      |SELECT 'nonpositive_quantity',
      |       count(*) FILTER (l_quantity <= 0) FROM lineitem
      |UNION ALL
      |SELECT 'discount_out_of_range',
      |       count(*) FILTER (l_discount < 0 OR l_discount > 1)
      |FROM lineitem
      |UNION ALL
      |SELECT 'shipdate_beyond_horizon',
      |       count(*) FILTER (l_shipdate > TIMESTAMP '2030-01-01')
      |FROM lineitem
      |UNION ALL
      |SELECT 'orphan_lineitems', count(*) FROM lineitem l
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_orderkey = l.l_orderkey)
      |UNION ALL
      |SELECT 'duplicate_order_keys', count(*) FROM (
      |  SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1)
      |ORDER BY check_name""".stripMargin

  // ------------------------- incremental aggregation ----------------------

  /** Mergeable-aggregate proof: DAILY partials (the materialization a
    * pipeline persists per run) re-aggregate to MONTHLY totals — sums of
    * decimal-exact sums, sums of counts — and the result must equal the
    * direct monthly aggregation (the oracle computes it directly). This
    * is THE pattern that makes 100 TB reporting incremental: each day is
    * aggregated once, ever; months/years fold partials, never raw
    * events. */
  private def incrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val daily = eventsTbl(s, dir)
      .groupBy(day(col("ts")).as("ds"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 2))).as("sv"))
    daily
      .groupBy(substring(col("ds"), 1, 7).as("month"), col("event_type"))
      .agg(sum("cnt").as("cnt"),
        sum("sv").cast("double").as("sum_value"))
      .orderBy("month", "event_type")
  }

  private val incrementalAggSql =
    """SELECT substring(CAST(CAST(ts AS DATE) AS VARCHAR), 1, 7) AS month,
      |       event_type, CAST(count(*) AS BIGINT) AS cnt,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY month, event_type""".stripMargin

  // ----------------------------- JSON extraction --------------------------

  /** Semi-structured column parsing: `events.props` is a JSON string;
    * extract the `k` field two ways — `get_json_object` (path probe, the
    * schemaless form) and `from_json` with an explicit schema (the typed
    * form a pipeline hardens into) — assert they agree in-plan, and
    * aggregate per event type. Both are codegen'd scan-side expressions:
    * at 100 TB, JSON parsing cost is the scan's CPU tax and never causes
    * a shuffle. */
  private def jsonExtract(s: SparkSession, dir: String): DataFrame =
    eventsTbl(s, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k_path"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
          .getField("k").as("k_typed"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("k_path").as("sum_k"),
        min("k_path").as("min_k"), max("k_path").as("max_k"),
        sum(when(col("k_path") === col("k_typed"), 1L).otherwise(0L))
          .as("n_paths_agree"))
      .orderBy("event_type")

  private val jsonExtractSql =
    """SELECT event_type, count(*) AS n,
      |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
      |            AS BIGINT) AS sum_k,
      |       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
      |       CAST(count(*) FILTER (json_extract_string(props, '$.k')
      |                             IS NOT NULL) AS BIGINT) AS n_paths_agree
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------- star join ------------------------------

  /** Deep star join (TPC-H Q5 shape): region → nation → customer →
    * orders → lineitem, revenue per (region, nation). The scale plan:
    * region/nation/customer-dim side collapses to broadcasts where small;
    * the orders⋈lineitem fact⋈fact edge shuffles once on the order key.
    *
    * Revenue is the decimal-exact product-sum price × (1−discount),
    * computed as SCALED-INTEGER money (round 12): price and discount
    * are exact 2-decimal values, so cents × (100−discount_cents) is the
    * exact scale-4 product as a plain Long, and the sum aggregates in
    * Long instead of a precision-28 Decimal buffer (Spark backs
    * Decimal buffers over 18 digits with BigDecimal — measured
    * 3.18 → 2.85 s at sf1 for this query, PLANS.md round 12). The oracle
    * stays in DECIMAL arithmetic, so the hash gate re-proves the
    * scaled-integer form equals the decimal quantization every round.
    * Exactness bound: per-group cent-products sum < 2^53 through
    * ~sf30 (2.5e15 at sf10); the final /1e4 is one correctly-rounded
    * double division, identical to Decimal.toDouble.
    *
    * The cliff FAILS LOUDLY (round-13 ADVICE): past ~sf30 the
    * Long→double cast would silently double-round, so the plan guards
    * each group with `raise_error` unless BOTH (a) |sum| < 2^53 (the
    * double-exact window) and (b) n < 2^32 — each per-row product is
    * < 2^31 (price ≤ ~10.5M cents < 2^24, discount factor ≤ 100), so
    * (b) proves the Long sum itself cannot have wrapped 2^63, which
    * makes (a) sound rather than spoofable by silent non-ANSI Long
    * overflow. A gate run at such a scale dies with the named error
    * instead of hash-mismatching by luck. */
  private def starJoin(s: SparkSession, dir: String): DataFrame = {
    val rev = round(col("l_extendedprice") * 100).cast("long") *
      (lit(100L) - round(col("l_discount") * 100).cast("long"))
    tbl(s, dir, "region")
      .join(tbl(s, dir, "nation"),
        col("r_regionkey") === col("n_regionkey"))
      .join(tbl(s, dir, "customer"),
        col("n_nationkey") === col("c_nationkey"))
      .join(tbl(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      // shuffle_hash on the dim-enriched orders side of the fact edge:
      // both sides shuffle on the order key either way once orders
      // outgrow the broadcast threshold, but the hash build skips
      // sorting two fact-scale inputs (same rationale measured on
      // a3_daily_metrics; this edge 5.3 → 4.0 s at sf1). The build side
      // is |orders|/shufflePartitions per task — bounded at 100 TB
      // because partition count scales with the cluster. Round-12
      // caveat (sf10 OOM on the J3 fact×fact edge): hinted SHJ builds
      // cannot spill and AQE cannot demote them, so the hint is
      // reserved for strictly-smaller build sides like this one
      // (passed the sf10 window at 13.8 s) — never fact×fact.
      .hint("shuffle_hash")
      .join(tbl(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_lineitems"), sum(rev).as("_cents4"))
      .select(col("r_name"), col("n_name"), col("n_lineitems"),
        when(abs(col("_cents4")) < lit(1L << 53) &&
            col("n_lineitems") < lit(1L << 32),
          col("_cents4").cast("double") / lit(1e4))
          .otherwise(raise_error(concat(
            lit("starJoin scaled-integer revenue left the double-exact " +
              "window (|cents4| >= 2^53 or n >= 2^32) for group "),
            col("r_name"), lit("/"), col("n_name"),
            lit("; use the decimal-sum form at this scale"))))
          .as("revenue"))
      .orderBy("r_name", "n_name")
  }

  private val starJoinSql =
    """SELECT r_name, n_name, count(*) AS n_lineitems,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |                CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
      |         AS revenue
      |FROM region
      |JOIN nation   ON r_regionkey = n_regionkey
      |JOIN customer ON n_nationkey = c_nationkey
      |JOIN orders   ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  /** KMV via the custom typed [[graft.functions.KmvAggregator]] — the
    * mergeable partial-aggregate form of `w_kmv_distinct` (each partition
    * ships ≤ k longs; partials merge associatively). Same estimator,
    * SAME oracle SQL — the window/rank form and the Aggregator form must
    * agree bit-for-bit, and both must match DuckDB. */
  private def kmvAggregator(s: SparkSession, dir: String): DataFrame = {
    val kmvEst = udaf(new graft.functions.KmvAggregator(KmvK),
      org.apache.spark.sql.Encoders.scalaLong)
    eventsTbl(s, dir)
      .select(col("event_type"),
        HashF.tokenHash(col("user_id").cast("string")).as("h"))
      .groupBy("event_type")
      .agg(kmvEst(col("h")).as("est_distinct"),
        countDistinct(col("h")).as("n_distinct"))
      .orderBy("event_type")
  }

  /** KMV sketch MERGE, demonstrated end-to-end: the per-type sketches
    * (each type's k smallest distinct hashes — the partials 1000
    * executors would ship to a coordinator) merge into a global
    * estimate by keeping the k smallest of their union. The superset
    * theorem makes the merge LOSSLESS: every globally-k-smallest hash
    * is a fortiori k-smallest within its own type, so the merged
    * estimate equals the sketch computed over the raw data bit-for-bit
    * — `est_merged` and `est_raw` ride in the same output row as the
    * proof, with exact distinct as the error witness. This is the
    * property HLL needs engine-private registers for; KMV gets it from
    * order statistics alone.
    *
    * Scale: partials are ≤ k rows per group (k·|types| total), so the
    * merge window ranks a bounded set — the `Ranked` pattern, never a
    * global data sort. */
  private def kmvUnion(s: SparkSession, dir: String): DataFrame = {
    val hashed = eventsTbl(s, dir)
      .select(col("event_type"),
        HashF.tokenHash(col("user_id").cast("string")).as("h"))
      .distinct()
    val rnT = row_number().over(
      Window.partitionBy("event_type").orderBy("h"))
    val partials = hashed.withColumn("rn", rnT).filter(col("rn") <= KmvK)
    def estOver(df: DataFrame): DataFrame = {
      val rnG = row_number().over(Window.orderBy("h")) // bounded input only
      df.select("h").distinct()
        .withColumn("rn", rnG)
        .agg(max(when(col("rn") === KmvK, col("h"))).as("hk"),
          count(lit(1)).as("np"))
        .select(when(col("np") < KmvK, col("np").cast("double"))
          .otherwise(round(lit((KmvK - 1) * 4294967296.0) / col("hk"), 6))
          .as("est"))
    }
    // raw path must rank the FULL distinct hash set, so cap at k first
    // per the global order — same bounded-rank discipline
    val rawTopK = hashed.select("h").distinct()
      .orderBy("h").limit(KmvK) // TakeOrderedAndProject, not a sort
    estOver(partials).withColumnRenamed("est", "est_merged")
      .crossJoin(estOver(rawTopK).withColumnRenamed("est", "est_raw"))
      .crossJoin(hashed.agg(countDistinct("h").as("n_distinct")))
  }

  private val kmvUnionSql =
    s"""WITH hashed AS (
       |  SELECT DISTINCT event_type,
       |         ${OracleSql.hash("CAST(user_id AS VARCHAR)")} AS h
       |  FROM events
       |), partials AS (
       |  SELECT h FROM (
       |    SELECT h, row_number() OVER (PARTITION BY event_type
       |                                 ORDER BY h) AS rn
       |    FROM hashed) WHERE rn <= $KmvK
       |), merged AS (
       |  SELECT h, row_number() OVER (ORDER BY h) AS rn
       |  FROM (SELECT DISTINCT h FROM partials)
       |), raw AS (
       |  SELECT h, row_number() OVER (ORDER BY h) AS rn
       |  FROM (SELECT DISTINCT h FROM hashed)
       |), est_m AS (
       |  SELECT CASE WHEN count(*) < $KmvK THEN CAST(count(*) AS DOUBLE)
       |              ELSE round(${(KmvK - 1)} * 4294967296.0 /
       |                         max(CASE WHEN rn = $KmvK THEN h END), 6)
       |         END AS est_merged
       |  FROM merged
       |), est_r AS (
       |  SELECT CASE WHEN count(*) < $KmvK THEN CAST(count(*) AS DOUBLE)
       |              ELSE round(${(KmvK - 1)} * 4294967296.0 /
       |                         max(CASE WHEN rn = $KmvK THEN h END), 6)
       |         END AS est_raw
       |  FROM (SELECT * FROM raw WHERE rn <= $KmvK)
       |), ex AS (
       |  SELECT CAST(count(DISTINCT h) AS BIGINT) AS n_distinct FROM hashed
       |)
       |SELECT est_merged, est_raw, n_distinct
       |FROM est_m CROSS JOIN est_r CROSS JOIN ex""".stripMargin

  // ------------------------------ compaction ------------------------------

  /** Small-file compaction: a 64-file drop (the many-small-files shape
    * streaming ingest and over-parallel writers produce) is rewritten
    * into ≤ 4 target files via `coalesce` — a shuffle-free rewrite (file
    * count asserted in `WarehouseSpec`). The aggregate over the compacted
    * table must equal the pre-compaction batch answer: compaction is a
    * LAYOUT operation, never a semantic one. At 100 TB this is the
    * nightly job that keeps scan task counts (and namenode/listing
    * pressure) sane. */
  private def compact(s: SparkSession, dir: String): DataFrame = {
    val base = compactBase(s, dir)
    eventsTbl(s, dir).repartition(64)
      .write.mode("overwrite").parquet(s"$base/small")
    s.read.parquet(s"$base/small").coalesce(4)
      .write.mode("overwrite").parquet(s"$base/compacted")
    s.read.parquet(s"$base/compacted")
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("sum_value"))
      .orderBy("event_type")
  }

  private val compactSql =
    """SELECT event_type, count(*) AS cnt,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  private[queries] def compactBase(s: SparkSession, dir: String): String =
    QTmp.perSession("warehouse/cmp", s, dir)

  // --------------------------------- SCD2 ---------------------------------

  /** Type-2 slowly-changing-dimension build: per-key change events become
    * validity intervals — valid_from = change time, valid_to = next
    * change (NULL on the current version). Change events derive
    * deterministically from lineitem: one version per (order, shipdate)
    * with decimal-exact attribute aggregation. Scale: one shuffle on the
    * dimension key; the interval assignment is a lead() window on the
    * same clustering — the standard dimension-history build, incremental
    * by construction (new changes only touch their key's tail row). */
  private def scd2(s: SparkSession, dir: String): DataFrame = {
    // (order, shipdate) is ~87%-distinct on lineitem — the map-side
    // partial pass merges almost nothing, so the version aggregate is
    // hinted skip-partial (one Complete-mode hash agg after the key
    // shuffle; the round-7 DirectAgg operator)
    val versions = graft.ops.DirectAgg.aggByKeys(
      tbl(s, dir, "lineitem")
        // l_shipdate reads as TIMESTAMP_NTZ; the UTC-session cast makes
        // unix_micros agree with DuckDB's epoch_us on the naive value
        .select(col("l_orderkey").as("key"),
          unix_micros(col("l_shipdate").cast("timestamp"))
            .as("valid_from_us"),
          col("l_linenumber"), col("l_quantity")),
      Seq("key", "valid_from_us"),
      min("l_linenumber").as("src_line"),
      sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
        .as("qty"))
    val byFrom = Window.partitionBy("key").orderBy("valid_from_us")
    versions
      .withColumn("valid_to_us", lead("valid_from_us", 1).over(byFrom))
      .withColumn("is_current", col("valid_to_us").isNull)
  }

  private val scd2Sql =
    """WITH versions AS (
      |  SELECT l_orderkey AS key, epoch_us(l_shipdate) AS valid_from_us,
      |         CAST(min(l_linenumber) AS BIGINT) AS src_line,
      |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |           AS qty
      |  FROM lineitem GROUP BY 1, 2
      |)
      |SELECT key, valid_from_us, src_line, qty,
      |       lead(valid_from_us) OVER (PARTITION BY key
      |                                 ORDER BY valid_from_us)
      |         AS valid_to_us,
      |       lead(valid_from_us) OVER (PARTITION BY key
      |                                 ORDER BY valid_from_us) IS NULL
      |         AS is_current
      |FROM versions ORDER BY key, valid_from_us""".stripMargin

  // --------------------------------- cube ---------------------------------

  /** CUBE (event_type, day): every grouping-set combination — the rollup's
    * lattice completion (adds the per-day-all-types slice ROLLUP lacks).
    * Same '(all)' coalescing convention as `w_rollup`. */
  private def cubeCounts(s: SparkSession, dir: String): DataFrame =
    eventsTbl(s, dir)
      .select(col("event_type"), day(col("ts")).as("day"), col("value"))
      .cube("event_type", "day")
      .agg(count(lit(1)).as("cnt"))
      .select(coalesce(col("event_type"), lit("(all)")).as("event_type"),
        coalesce(col("day"), lit("(all)")).as("day"), col("cnt"))
      .orderBy("event_type", "day")

  private val cubeCountsSql =
    """SELECT coalesce(event_type, '(all)') AS event_type,
      |       coalesce(CAST(CAST(ts AS DATE) AS VARCHAR), '(all)') AS day,
      |       count(*) AS cnt
      |FROM events
      |GROUP BY CUBE (event_type, CAST(CAST(ts AS DATE) AS VARCHAR))
      |ORDER BY event_type, day""".stripMargin

  // ------------------------------- pivot ----------------------------------

  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val PriorityAlias = Map("1-URGENT" -> "n_urgent",
    "2-HIGH" -> "n_high", "3-MEDIUM" -> "n_medium",
    "4-NOT SPECIFIED" -> "n_notspec", "5-LOW" -> "n_low")

  /** Pivot (long→wide): order counts per status × priority, priorities
    * as columns. The pivot values are passed EXPLICITLY — without them
    * Spark runs an extra collect-distinct job over the full table to
    * discover the columns, which at 100 TB is a whole wasted scan; with
    * them the pivot compiles to one map-side-combined aggregation, same
    * shape as the conditional-aggregation SQL the oracle runs. */
  private def pivotCounts(s: SparkSession, dir: String): DataFrame = {
    val wide = tbl(s, dir, "orders")
      .groupBy("o_orderstatus")
      .pivot("o_orderpriority", Priorities)
      .agg(count(lit(1)))
    Priorities.foldLeft(wide) { (d, p) =>
      d.withColumn(PriorityAlias(p), coalesce(col(s"`$p`"), lit(0L)))
        .drop(col(s"`$p`"))
    }.orderBy("o_orderstatus")
  }

  private val pivotCountsSql = {
    val cols = Priorities.map(p =>
      s"""CAST(count(*) FILTER (o_orderpriority = '$p') AS BIGINT)
         |         AS ${PriorityAlias(p)}""".stripMargin).mkString(",\n       ")
    s"""SELECT o_orderstatus,
       |       $cols
       |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
  }

  // ----------------------------- set operations ---------------------------

  /** Set operations (§2.7): the 1995 vs 1996 ordering-customer key sets
    * combined with UNION / INTERSECT / EXCEPT (both directions), each
    * row tagged with its operation. Scale: every branch is a shuffle on
    * the compared key with DISTINCT folded into the aggregation; Spark
    * plans INTERSECT/EXCEPT as left-semi/left-anti joins — no
    * materialized intermediate sets. */
  private def setOps(s: SparkSession, dir: String): DataFrame = {
    def keys(y: Int) = tbl(s, dir, "orders")
      .filter(year(col("o_orderdate")) === y)
      .select(col("o_custkey")).distinct()
    val a = keys(1995)
    val b = keys(1996)
    Seq("union" -> a.union(b).distinct(),
      "intersect" -> a.intersect(b),
      "except_95_96" -> a.except(b),
      "except_96_95" -> b.except(a))
      .map { case (tag, d) => d.select(lit(tag).as("op"), col("o_custkey")) }
      .reduce(_ unionAll _)
      .orderBy("op", "o_custkey")
  }

  private val setOpsSql =
    """WITH a AS (
      |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
      |), b AS (
      |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
      |)
      |SELECT 'union' AS op, o_custkey
      |FROM (SELECT o_custkey FROM a UNION SELECT o_custkey FROM b)
      |UNION ALL
      |SELECT 'intersect', o_custkey
      |FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
      |UNION ALL
      |SELECT 'except_95_96', o_custkey
      |FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
      |UNION ALL
      |SELECT 'except_96_95', o_custkey
      |FROM (SELECT o_custkey FROM b EXCEPT SELECT o_custkey FROM a)
      |ORDER BY op, o_custkey""".stripMargin

  // ----------------------------- snapshot diff ----------------------------

  /** Snapshot diff (data versioning): classify every order key as
    * added / removed / changed / unchanged between two table versions,
    * reporting per-class counts and key ranges. The versions are carved
    * deterministically from `orders`: "yesterday" lacks keys ≡0 (mod 97),
    * "today" lacks keys ≡0 (mod 89) and reprices open orders with keys
    * ≡0 (mod 3). Change detection compares a decimal-exact value
    * fingerprint, never raw doubles. Scale: ONE full-outer shuffle join
    * on the key — the canonical CDC diff plan; the per-class aggregate
    * is map-side combined. */
  private def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val orders = tbl(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("price"))
    val prev = orders.filter(col("o_orderkey") % 97 =!= 0)
      .select(col("o_orderkey"), concat_ws("|", col("o_orderstatus"),
        col("price").cast("string")).as("fp_prev"))
    val cur = orders.filter(col("o_orderkey") % 89 =!= 0)
      .withColumn("price",
        when(col("o_orderstatus") === "O" && col("o_orderkey") % 3 === 0,
          col("price") + lit(BigDecimal("1.00"))).otherwise(col("price")))
      .select(col("o_orderkey"), concat_ws("|", col("o_orderstatus"),
        col("price").cast("string")).as("fp_cur"))
    prev.join(cur, Seq("o_orderkey"), "full_outer")
      .select(col("o_orderkey"),
        when(col("fp_prev").isNull, "added")
          .when(col("fp_cur").isNull, "removed")
          .when(col("fp_prev") =!= col("fp_cur"), "changed")
          .otherwise("unchanged").as("change_type"))
      .groupBy("change_type")
      .agg(count(lit(1)).as("n_rows"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
      .orderBy("change_type")
  }

  private val snapshotDiffSql =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus,
      |         CAST(o_totalprice AS DECIMAL(18,2)) AS price
      |  FROM orders
      |), prev AS (
      |  SELECT o_orderkey,
      |         o_orderstatus || '|' || CAST(price AS VARCHAR) AS fp_prev
      |  FROM base WHERE o_orderkey % 97 <> 0
      |), cur AS (
      |  SELECT o_orderkey,
      |         o_orderstatus || '|' ||
      |         CAST(CASE WHEN o_orderstatus = 'O' AND o_orderkey % 3 = 0
      |                   THEN price + CAST('1.00' AS DECIMAL(18,2))
      |                   ELSE price END AS VARCHAR) AS fp_cur
      |  FROM base WHERE o_orderkey % 89 <> 0
      |), diff AS (
      |  SELECT o_orderkey,
      |         CASE WHEN fp_prev IS NULL THEN 'added'
      |              WHEN fp_cur IS NULL THEN 'removed'
      |              WHEN fp_prev <> fp_cur THEN 'changed'
      |              ELSE 'unchanged' END AS change_type
      |  FROM prev FULL OUTER JOIN cur USING (o_orderkey)
      |)
      |SELECT change_type, count(*) AS n_rows,
      |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      |FROM diff GROUP BY change_type ORDER BY change_type""".stripMargin

  // ------------------------------ histogram -------------------------------

  /** Fixed-width histogram of order value: 10 × 60k buckets, capped at
    * the top bucket. The bucket id is a pure arithmetic map (`floor` of
    * one IEEE division — identical bits on both engines), so this is a
    * single map-side-combined aggregation; the classic first look at a
    * 100 TB fact's value distribution without any sort. */
  private def histogram(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders")
      .select(least(floor(col("o_totalprice") / lit(60000.0)), lit(9L))
        .cast("long").as("bucket"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("p"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_orders"),
        sum("p").cast("double").as("sum_price"))
      .orderBy("bucket")

  private val histogramSql =
    """SELECT CAST(least(floor(o_totalprice / 60000.0), 9) AS BIGINT)
      |         AS bucket,
      |       count(*) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |         AS sum_price
      |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin

  // --------------------------- canonical array agg ------------------------

  /** Grouped array aggregation with a canonical serialization: each
    * nation's top-3 customer balances as one sorted CSV string.
    * `collect_list` order is nondeterministic under parallel merge —
    * `sort_array` + `array_join` is the canonicalization that makes an
    * array-valued result hash-comparable (same trick as f7's struct
    * serialization). Scale: the window is a bounded per-key top-k
    * (`WindowGroupLimit`), so the collected arrays are ≤3 elements —
    * collect_list is safe ONLY because the bound precedes it. */
  private def arrayAgg(s: SparkSession, dir: String): DataFrame = {
    val rn = row_number().over(Window.partitionBy("c_nationkey")
      .orderBy(col("bal").desc, col("c_custkey")))
    tbl(s, dir, "customer")
      .select(col("c_nationkey"),
        col("c_acctbal").cast(DecimalType(12, 2)).as("bal"),
        col("c_custkey"))
      .withColumn("rn", rn)
      .filter(col("rn") <= 3)
      .groupBy("c_nationkey")
      .agg(array_join(sort_array(collect_list(col("bal").cast("string"))),
        ",").as("top3_csv"))
      .orderBy("c_nationkey")
  }

  private val arrayAggSql =
    """WITH r AS (
      |  SELECT c_nationkey, CAST(c_acctbal AS DECIMAL(12,2)) AS bal,
      |         c_custkey,
      |         row_number() OVER (
      |           PARTITION BY c_nationkey
      |           ORDER BY CAST(c_acctbal AS DECIMAL(12,2)) DESC, c_custkey)
      |           AS rn
      |  FROM customer
      |)
      |SELECT c_nationkey,
      |       array_to_string(list_sort(list(CAST(bal AS VARCHAR))), ',')
      |         AS top3_csv
      |FROM r WHERE rn <= 3 GROUP BY c_nationkey ORDER BY c_nationkey"""
      .stripMargin

  // ----------------------- sort-clustered layout --------------------------

  /** Per-(session, dir) layout path — see [[psinkBase]] for why. */
  private[queries] def slayBase(s: SparkSession, dir: String): String =
    QTmp.perSession("warehouse/slay", s, dir)

  /** Value-clustered storage layout: `repartitionByRange` + in-partition
    * sort before the parquet write gives every file a tight, disjoint
    * min/max envelope on the cluster column, so a range predicate on the
    * read side prunes whole row groups from the footer stats — the
    * single-column form of Z-order data skipping, and the difference
    * between scanning 100 TB and scanning one range's files.
    * `ScaleSpec` asserts the skip (scan outputs a fraction of the rows
    * an unclustered layout reads); this query checks the semantics are
    * unchanged by layout. */
  private def sortedLayout(s: SparkSession, dir: String): DataFrame = {
    val base = slayBase(s, dir)
    eventsTbl(s, dir)
      .select(col("event_id"), col("event_type"), col("value"))
      .repartitionByRange(8, col("value"))
      .sortWithinPartitions("value")
      .write.mode("overwrite").parquet(s"$base/sorted")
    s.read.parquet(s"$base/sorted")
      .filter(col("value") >= 5.0 && col("value") < 6.0)
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("sum_value"))
      .orderBy("event_type")
  }

  private val sortedLayoutSql =
    """SELECT event_type, count(*) AS cnt,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events WHERE value >= 5.0 AND value < 6.0
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------- grouping sets ------------------------------

  /** Explicit GROUPING SETS with per-column GROUPING flags: counts and
    * decimal-exact value sums at (type, user bucket), (type), and grand
    * total — the sub-lattice CUBE/ROLLUP can't express (reference's
    * BigQuery SQL supports the same surface). Spark expands the sets
    * before ONE exchange with map-side partials, so the cost is a single
    * shuffle regardless of how many sets are requested — the 100 TB plan
    * is identical to a plain GROUP BY. Grouped-away keys are NULL on both
    * engines; ordering coalesces them below any real key so the total
    * ORDER BY is engine-independent. */
  private def groupingSetsAgg(s: SparkSession, dir: String): DataFrame =
    eventsTbl(s, dir)
      .select(col("event_type"), (col("user_id") % 5).as("user_mod"),
        col("value"))
      .groupingSets(
        Seq(Seq(col("event_type"), col("user_mod")), Seq(col("event_type")),
          Seq.empty),
        col("event_type"), col("user_mod"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("sum_value"),
        grouping(col("event_type")).cast("int").as("g_type"),
        grouping(col("user_mod")).cast("int").as("g_mod"))
      .orderBy(col("g_type"), col("g_mod"),
        coalesce(col("event_type"), lit("")),
        coalesce(col("user_mod"), lit(-1L)))

  private val groupingSetsAggSql =
    """SELECT event_type, user_mod, count(*) AS cnt,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      |       CAST(GROUPING(event_type) AS INT) AS g_type,
      |       CAST(GROUPING(user_mod) AS INT) AS g_mod
      |FROM (SELECT event_type, user_id % 5 AS user_mod, value FROM events)
      |GROUP BY GROUPING SETS ((event_type, user_mod), (event_type), ())
      |ORDER BY g_type, g_mod, coalesce(event_type, ''),
      |         coalesce(user_mod, -1)""".stripMargin

  // ----------------------- moving-window frames ---------------------------

  /** Frame-based sliding aggregates: per-user 7-event moving sum/avg
    * (ROWS frame) and a trailing one-hour sum (RANGE frame over the µs
    * timestamp) — the time-series smoothing surface. Frames never
    * re-shuffle: all three windows share one (user_id) partitioning, so
    * the plan is a single exchange + sort feeding three running
    * aggregates. Sums are decimal-exact inside the frame; the moving
    * average is ONE double division of that exact sum, identical IEEE on
    * both engines. */
  private def movingAgg(s: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy("user_id").orderBy("us", "event_id")
    val rows7 = byTime.rowsBetween(-6, Window.currentRow)
    val hour = Window.partitionBy("user_id").orderBy("us")
      .rangeBetween(-3600000000L, Window.currentRow)
    val dec = col("value").cast(DecimalType(18, 2))
    eventsTbl(s, dir)
      .select(col("user_id"), col("event_id"), col("value"),
        unix_micros(col("ts")).as("us"))
      .select(col("user_id"), col("event_id"),
        sum(dec).over(rows7).cast("double").as("mov7_sum"),
        (sum(dec).over(rows7).cast("double") /
          count(lit(1)).over(rows7)).as("mov7_avg"),
        sum(dec).over(hour).cast("double").as("hour_sum"))
  }

  private[queries] val movingAggSql =
    """WITH x AS (
      |  SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events
      |)
      |SELECT user_id, event_id,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w7 AS DOUBLE)
      |         AS mov7_sum,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w7 AS DOUBLE)
      |         / COUNT(*) OVER w7 AS mov7_avg,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER wh AS DOUBLE)
      |         AS hour_sum
      |FROM x
      |WINDOW w7 AS (PARTITION BY user_id ORDER BY us, event_id
      |              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
      |       wh AS (PARTITION BY user_id ORDER BY us
      |              RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin

  // ----------------------- exact stats aggregates --------------------------

  /** Sample stddev and Pearson correlation per event type — computed from
    * QUANTIZED integer power sums (value in cents, k as-is), so the five
    * sums are exact order-independent BIGINTs and the final stddev/corr
    * are reconstructed in one identical IEEE expression tree on both
    * engines. Never `stddev()`/`corr()` directly: their float
    * accumulation order differs across engines AND across Spark's own
    * partition merges. One shuffle with map-side partials; the power-sum
    * trick is also the mergeable form (partials add), which is what makes
    * it the 100 TB pattern. */
  private def statsAgg(s: SparkSession, dir: String): DataFrame = {
    val vq = round(col("value") * 100).cast("long")
    val kq = get_json_object(col("props"), "$.k").cast("long")
    eventsTbl(s, dir)
      .select(col("event_type"), vq.as("vq"), kq.as("kq"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("vq").as("sv"),
        sum(col("vq") * col("vq")).as("svv"), sum("kq").as("sk"),
        sum(col("kq") * col("kq")).as("skk"),
        sum(col("vq") * col("kq")).as("svk"))
      .select(col("event_type"), col("n"),
        round(sqrt((col("n") * col("svv") - col("sv") * col("sv"))
          .cast("double") / (col("n") * (col("n") - 1))) / 100, 6)
          .as("stddev_value"),
        round((col("n") * col("svk") - col("sv") * col("sk")).cast("double") /
          (sqrt((col("n") * col("svv") - col("sv") * col("sv"))
            .cast("double")) *
           sqrt((col("n") * col("skk") - col("sk") * col("sk"))
             .cast("double"))), 6).as("corr_value_k"))
      .orderBy("event_type")
  }

  private val statsAggSql =
    """WITH q AS (
      |  SELECT event_type,
      |         CAST(round(value * 100) AS BIGINT) AS vq,
      |         CAST(json_extract_string(props, '$.k') AS BIGINT) AS kq
      |  FROM events
      |), p AS (
      |  SELECT event_type, count(*) AS n,
      |         CAST(SUM(vq) AS BIGINT) AS sv,
      |         CAST(SUM(vq * vq) AS BIGINT) AS svv,
      |         CAST(SUM(kq) AS BIGINT) AS sk,
      |         CAST(SUM(kq * kq) AS BIGINT) AS skk,
      |         CAST(SUM(vq * kq) AS BIGINT) AS svk
      |  FROM q GROUP BY event_type
      |)
      |SELECT event_type, n,
      |       round(sqrt(CAST(n * svv - sv * sv AS DOUBLE)
      |                  / (n * (n - 1))) / 100, 6) AS stddev_value,
      |       round(CAST(n * svk - sv * sk AS DOUBLE)
      |             / (sqrt(CAST(n * svv - sv * sv AS DOUBLE))
      |                * sqrt(CAST(n * skk - sk * sk AS DOUBLE))), 6)
      |         AS corr_value_k
      |FROM p ORDER BY event_type""".stripMargin

  // ----------------------- calendar gap-fill + LOCF ------------------------

  /** Time-series gap fill: every (user, day) over the global span, with
    * missing days zero-filled and a last-observation-carried-forward
    * column — the resampling step before any per-entity time-series
    * model. The calendar is sequence()+explode against the distinct-user
    * dim (never a driver loop); at 100 TB the cross join is
    * |users|×|days| rows of three columns, dwarfed by the event scan,
    * and the LOCF window is the same (user) partitioning as the daily
    * rollup — one shuffle total. */
  private def gapfillLocf(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsTbl(s, dir)
      .select(col("user_id"), col("ts").cast("date").as("d"),
        col("value").cast(DecimalType(18, 2)).as("dec"))
    val daily = ev.groupBy("user_id", "d")
      .agg(sum("dec").as("s"))
    val span = ev.agg(min("d").as("lo"), max("d").as("hi"))
    val cal = ev.select("user_id").distinct()
      .crossJoin(broadcast(span))
      .select(col("user_id"),
        explode(sequence(col("lo"), col("hi"))).as("d"))
    val locfW = Window.partitionBy("user_id").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cal.join(daily, Seq("user_id", "d"), "left")
      .select(col("user_id"), col("d").cast("string").as("day"),
        coalesce(col("s"), lit(0)).cast("double").as("day_sum"),
        col("s").isNull.as("is_gap"),
        last("s", ignoreNulls = true).over(locfW).cast("double")
          .as("locf_sum"))
      .orderBy("user_id", "day")
  }

  private val gapfillLocfSql =
    """WITH d AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |         SUM(CAST(value AS DECIMAL(18,2))) AS s
      |  FROM events GROUP BY 1, 2
      |), span AS (
      |  SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi
      |  FROM events
      |), cal AS (
      |  SELECT u.user_id, CAST(gs.day AS DATE) AS day
      |  FROM (SELECT DISTINCT user_id FROM events) u
      |  CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))
      |                AS day FROM span) gs
      |), f AS (
      |  SELECT c.user_id, c.day, d.s
      |  FROM cal c LEFT JOIN d ON d.user_id = c.user_id AND d.day = c.day
      |)
      |SELECT user_id, CAST(day AS VARCHAR) AS day,
      |       CAST(coalesce(s, 0) AS DOUBLE) AS day_sum,
      |       (s IS NULL) AS is_gap,
      |       CAST(last_value(s IGNORE NULLS)
      |              OVER (PARTITION BY user_id ORDER BY day
      |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |            AS DOUBLE) AS locf_sum
      |FROM f ORDER BY user_id, day""".stripMargin

  // --------------------------- argmax / argmin ----------------------------

  /** Grouped argmax/argmin: per nation, the customer holding the max and
    * min account balance (`max_by`/`min_by` — BigQuery's
    * `MAX_BY`/`ANY_VALUE(... HAVING MAX ...)` surface). Ties on the raw
    * balance exist in the fixture, so the ordering key is the cent-exact
    * balance packed with the customer key
    * (`balq*100000 + custkey`, custkey < 10^5) — one BIGINT whose order
    * equals the (balance, custkey) lexicographic order, making the
    * winner deterministic and identical across engines. Scale: map-side
    * partial max_by reduces each partition to one row per group before
    * the single exchange — same plan shape as any plain aggregate. */
  private def argMinMax(s: SparkSession, dir: String): DataFrame = {
    val key = (round(col("c_acctbal") * 100).cast("long") * 100000L +
      col("c_custkey")).as("k")
    tbl(s, dir, "customer")
      .select(col("c_nationkey"), col("c_custkey"), col("c_name"),
        col("c_acctbal"), key)
      .groupBy("c_nationkey")
      .agg(
        max_by(col("c_name"), col("k")).as("richest_name"),
        max(col("c_acctbal")).as("max_bal"),
        min_by(col("c_name"), col("k")).as("poorest_name"),
        min(col("c_acctbal")).as("min_bal"))
      .orderBy("c_nationkey")
  }

  private val argMinMaxSql =
    """WITH c AS (
      |  SELECT c_nationkey, c_name, c_acctbal,
      |         CAST(round(c_acctbal * 100) AS BIGINT) * 100000 + c_custkey
      |           AS k
      |  FROM customer
      |)
      |SELECT c_nationkey,
      |       arg_max(c_name, k) AS richest_name,
      |       max(c_acctbal) AS max_bal,
      |       arg_min(c_name, k) AS poorest_name,
      |       min(c_acctbal) AS min_bal
      |FROM c GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  // ------------------------------- unpivot --------------------------------

  /** Wide-to-long reshape via the native `Dataset.unpivot` (melt): the
    * four lineitem measures become (measure, val) rows keyed by the trip
    * identity — the shape feature stores and long-format training
    * exports want. Unpivot is a zero-shuffle Expand node (each input row
    * emits 4 output rows in the scan stage); at 100 TB the cost is the
    * 4× row fan-out itself, never an exchange. */
  private def unpivotMeasures(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        "measure", "val")
      .orderBy("l_orderkey", "l_linenumber", "measure")

  private val unpivotMeasuresSql =
    """SELECT l_orderkey, l_linenumber, measure, val
      |FROM (
      |  UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity,
      |                  l_extendedprice, l_discount, l_tax FROM lineitem)
      |  ON l_quantity, l_extendedprice, l_discount, l_tax
      |  INTO NAME measure VALUE val
      |)
      |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin

  // ------------------------------ CDC apply -------------------------------

  /** CDC change-log application: a keyed insert/update/delete log folds
    * into final table state — last op per key wins by the log sequence
    * number, and a trailing delete removes the key entirely (the piece
    * `w_upsert` can't express). The log is derived deterministically
    * from events: entity = user_id mod 50, seq = event_id, op from the
    * event type (signup→I, click/view→U, purchase→D; errors are not
    * state changes). Scale: one row_number window partitioned by the
    * entity key — a single shuffle of the change log, the same plan at
    * any log length; this is the nightly CDC-compaction job every
    * warehouse ingest runs. */
  private def cdcApply(s: SparkSession, dir: String): DataFrame = {
    val log = eventsTbl(s, dir)
      .select((col("user_id") % 50).as("entity_id"),
        col("event_id").as("seq"),
        when(col("event_type") === "signup", "I")
          .when(col("event_type").isin("click", "view"), "U")
          .when(col("event_type") === "purchase", "D").as("op"),
        col("value"))
      .filter(col("op").isNotNull)
    val w = Window.partitionBy("entity_id").orderBy(col("seq").desc)
    log
      .withColumn("rn", row_number().over(w))
      .withColumn("n_changes", count(lit(1)).over(
        Window.partitionBy("entity_id")))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("entity_id"), col("op").as("last_op"),
        col("value").as("last_value"), col("n_changes"))
      .orderBy("entity_id")
  }

  private val cdcApplySql =
    """WITH log AS (
      |  SELECT user_id % 50 AS entity_id, event_id AS seq,
      |         CASE WHEN event_type = 'signup' THEN 'I'
      |              WHEN event_type IN ('click', 'view') THEN 'U'
      |              WHEN event_type = 'purchase' THEN 'D' END AS op,
      |         value
      |  FROM events
      |  WHERE event_type IN ('signup', 'click', 'view', 'purchase')
      |)
      |SELECT entity_id, op AS last_op, value AS last_value, n_changes
      |FROM (
      |  SELECT entity_id, op, value,
      |         row_number() OVER (PARTITION BY entity_id
      |                            ORDER BY seq DESC) AS rn,
      |         count(*) OVER (PARTITION BY entity_id) AS n_changes
      |  FROM log
      |) WHERE rn = 1 AND op != 'D' ORDER BY entity_id""".stripMargin

  // --------------------------- stats collection ---------------------------

  private val AnalyzeCols = Seq("l_orderkey", "l_quantity", "l_extendedprice")

  /** ANALYZE-style table statistics — the (rows, nulls, ndv, min, max)
    * per-column profile a cost-based optimizer (and every data-quality
    * dashboard) feeds on, as one long-format row per column.
    *
    * Plan shape: ONE scan computes every per-column aggregate in a
    * single wide aggregation row (the multi-aggregate trick — the table
    * is never re-read per column); the 1-row result is checkpointed and
    * fanned out to long format driver-side-free. Exact ndv is the one
    * expand shuffle per distinct-counted column; at sf1000 swap those
    * for KMV/HLL sketches (`w_kmv_distinct`) — the stats consumers
    * tolerate ±1%. */
  private def statsCollection(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem")
    val aggs = AnalyzeCols.flatMap(c => Seq(
      count(col(c)).as(s"${c}_cnt"),
      countDistinct(col(c)).as(s"${c}_ndv"),
      min(col(c)).cast("double").as(s"${c}_min"),
      max(col(c)).cast("double").as(s"${c}_max")))
    val row = li.agg(count(lit(1)).as("n_rows"), aggs: _*)
      .localCheckpoint() // 1 row; reused by every per-column projection
    AnalyzeCols.map(c =>
      row.select(lit(c).as("column_name"), col("n_rows"),
        (col("n_rows") - col(s"${c}_cnt")).as("n_null"),
        col(s"${c}_ndv").as("ndv"),
        col(s"${c}_min").as("min_v"), col(s"${c}_max").as("max_v")))
      .reduce(_ unionAll _)
      .orderBy("column_name")
  }

  private val statsCollectionSql = {
    val aggSel = AnalyzeCols.zipWithIndex.map { case (c, i) =>
      s"""count($c) AS c$i, count(DISTINCT $c) AS d$i,
         |       CAST(min($c) AS DOUBLE) AS mn$i,
         |       CAST(max($c) AS DOUBLE) AS mx$i""".stripMargin
    }.mkString(",\n       ")
    val branches = AnalyzeCols.zipWithIndex.map { case (c, i) =>
      s"""SELECT '$c' AS column_name, n_rows, n_rows - c$i AS n_null,
         |       d$i AS ndv, mn$i AS min_v, mx$i AS max_v FROM st""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH st AS (
       |  SELECT count(*) AS n_rows,
       |       $aggSel
       |  FROM lineitem
       |)
       |$branches
       |ORDER BY column_name""".stripMargin
  }

  /** NUMERIC fidelity mode (SURVEY §1.3's noted-but-unexercised option;
    * r8 verdict residual 3): BigQuery NUMERIC ≙ DECIMAL(38,9), and this
    * query exercises that mode END-TO-END — every money measure is
    * accumulated as exact decimal with no double anywhere, and emitted
    * as the decimal's fixed-scale STRING on both engines (a pandas
    * round-trip of a 38-digit decimal would silently degrade to float),
    * so a single ULP of drift anywhere would hash-mismatch. The product
    * measure fixes
    * both factor types before multiplying (price DECIMAL(18,2) ×
    * discount DECIMAL(4,3)) so Spark's and DuckDB's decimal-arithmetic
    * typing rules land on the same exact value, then one final cast to
    * the NUMERIC scale. Scale: decimal aggregation is codegen'd and
    * map-side-combines exactly like the double path — the mode costs
    * only the wider 128-bit accumulator. */
  private def numericExact(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast(DecimalType(38, 9)))
          .cast(DecimalType(38, 9)).cast("string").as("sum_price"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            col("l_discount").cast(DecimalType(4, 3)))
          .cast(DecimalType(38, 9)).cast("string").as("discount_amount"),
        min(col("l_extendedprice").cast(DecimalType(38, 9)))
          .cast(DecimalType(38, 9)).cast("string").as("min_price"),
        max(col("l_extendedprice").cast(DecimalType(38, 9)))
          .cast(DecimalType(38, 9)).cast("string").as("max_price"))
      .orderBy("l_returnflag")

  private val numericExactSql =
    """SELECT l_returnflag, count(*) AS n,
      |       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,9)))
      |            AS DECIMAL(38,9)) AS VARCHAR) AS sum_price,
      |       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |                CAST(l_discount AS DECIMAL(4,3)))
      |            AS DECIMAL(38,9)) AS VARCHAR) AS discount_amount,
      |       CAST(CAST(MIN(CAST(l_extendedprice AS DECIMAL(38,9)))
      |            AS DECIMAL(38,9)) AS VARCHAR) AS min_price,
      |       CAST(CAST(MAX(CAST(l_extendedprice AS DECIMAL(38,9)))
      |            AS DECIMAL(38,9)) AS VARCHAR) AS max_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  val all: Map[String, QueryDef] = Map(
    "w_numeric_exact" -> QueryDef(numericExact, Some(numericExactSql)),
    "s_stats_collection" -> QueryDef(statsCollection,
      Some(statsCollectionSql)),
    "w_cdc_apply" -> QueryDef(cdcApply, Some(cdcApplySql)),
    "w_argminmax" -> QueryDef(argMinMax, Some(argMinMaxSql)),
    "w_unpivot" -> QueryDef(unpivotMeasures, Some(unpivotMeasuresSql)),
    "s_sorted_layout" -> QueryDef(sortedLayout, Some(sortedLayoutSql)),
    "w_grouping_sets" -> QueryDef(groupingSetsAgg, Some(groupingSetsAggSql)),
    "w_moving_agg" -> QueryDef(movingAgg, Some(movingAggSql),
      bench = true, order = Seq(col("user_id"), col("event_id"))),
    "w_stats_agg" -> QueryDef(statsAgg, Some(statsAggSql)),
    "w_gapfill_locf" -> QueryDef(gapfillLocf, Some(gapfillLocfSql)),
    "w_histogram" -> QueryDef(histogram, Some(histogramSql)),
    "w_arrayagg" -> QueryDef(arrayAgg, Some(arrayAggSql)),
    "w_pivot" -> QueryDef(pivotCounts, Some(pivotCountsSql)),
    "w_setops" -> QueryDef(setOps, Some(setOpsSql)),
    "w_snapshot_diff" -> QueryDef(snapshotDiff, Some(snapshotDiffSql)),
    // benched since round 14 (bench-breadth item); the bench times the
    // build without the oracle-only total ORDER BY (the
    // dimension-history build itself ends at the lead() window)
    "w_scd2" -> QueryDef(scd2, Some(scd2Sql), bench = true,
      order = Seq(col("key"), col("valid_from_us"))),
    "w_kmv_aggregator" -> QueryDef(kmvAggregator, Some(kmvDistinctSql)),
    "s_compact" -> QueryDef(compact, Some(compactSql)),
    "w_cube" -> QueryDef(cubeCounts, Some(cubeCountsSql)),
    "w_json_extract" -> QueryDef(jsonExtract, Some(jsonExtractSql)),
    "w_star_join" -> QueryDef(starJoin, Some(starJoinSql), bench = true),
    "w_dq_checks" -> QueryDef(dqChecks, Some(dqChecksSql)),
    "w_incremental_agg" -> QueryDef(incrementalAgg, Some(incrementalAggSql)),
    "w_window_funcs" -> QueryDef(windowFuncs, Some(windowFuncsSql),
      bench = true, order = Seq(col("user_id"), col("event_id"))),
    "w_semi_anti" -> QueryDef(semiAnti, Some(semiAntiSql)),
    "w_rollup" -> QueryDef(rollupCounts, Some(rollupCountsSql)),
    "w_quantiles" -> QueryDef(quantiles, Some(quantilesSql)),
    "w_outlier_mad" -> QueryDef(outlierMad, Some(outlierMadSql)),
    "w_kmv_union" -> QueryDef(kmvUnion, Some(kmvUnionSql)),
    "w_quantile_sketch" -> QueryDef(quantileSketch, Some(quantileSketchSql)),
    "w_correlated_subquery" -> QueryDef(correlatedSubquery,
      Some(correlatedSubquerySql)),
    "w_kmv_distinct" -> QueryDef(kmvDistinct, Some(kmvDistinctSql)),
    "w_upsert" -> QueryDef(upsert, Some(upsertSql)),
    "s_partitioned_sink" -> QueryDef(partitionedSink,
      Some(partitionedSinkSql))
  )
}
