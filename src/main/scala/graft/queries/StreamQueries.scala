package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{eventsTbl, tbl}
import graft.functions.GeoF
import graft.streaming.StreamIngest

/** Streaming operators registered as synchronous queries: each runs a
  * real Structured Streaming job with `Trigger.AvailableNow` (drain
  * pending input, then stop) so the result is deterministic and the
  * DuckDB oracle can state the equivalent batch answer — the streaming /
  * batch unification Spark promises, checked. */
object StreamQueries {

  private def freshDir(p: String): String = {
    val dir = new java.io.File(p)
    def del(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(del)
      f.delete()
    }
    if (dir.exists()) del(dir)
    dir.mkdirs()
    p
  }

  /** Drain a (bounded, AvailableNow-able) streaming result through a
    * memory sink and return the final batch DataFrame.
    *
    * The sink name is unique PER INVOCATION (round-13 ADVICE): a fixed
    * `queryName` throws `QUERY_NAME_ALREADY_ACTIVE` if a prior query
    * with that name is still registered in the session, and its stale
    * temp view pinned the previous run's rows for the session lifetime.
    * The result is eagerly localCheckpointed so the temp view — the only
    * live reference into the sink — can be dropped before returning;
    * repeated invocations leave nothing behind in the catalog or the
    * sink store. (Eager checkpoint cost is bounded: memory-sink results
    * are aggregated/joined OUTPUT, never the event stream itself.) */
  private val sinkSeq = new java.util.concurrent.atomic.AtomicLong
  private def drainToMemory(s: SparkSession, out: DataFrame,
      mode: String): DataFrame = {
    val name = s"graft_mem_${sinkSeq.incrementAndGet()}_${
      java.lang.Long.toHexString(System.nanoTime())}"
    val q = out.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val res = s.table(name).localCheckpoint(true)
    s.catalog.dropTempView(name)
    res
  }

  /** File-source streaming ingest (S1's streaming twin): events land as
    * parquet files, the stream drains them into an append table, and the
    * result must equal the batch read — counted per event_type. */
  private def streamIngest(s: SparkSession, dir: String): DataFrame = {
    val base = freshDir(QTmp("stream/ingest"))
    eventsTbl(s, dir).repartition(8)
      .write.mode("overwrite").parquet(s"$base/src")
    val ingested = StreamIngest.ingestAvailableNow(
      s, s"$base/src", s"$base/dest", s"$base/ckpt")
    ingested.groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  private val streamIngestSql =
    """SELECT event_type, count(*) AS cnt,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Watermarked tumbling-window aggregation, drained synchronously:
    * events per (UTC day, type). Oracle: the equivalent batch GROUP BY. */
  private def streamWindowCounts(s: SparkSession, dir: String): DataFrame = {
    val base = freshDir(QTmp("stream/window"))
    eventsTbl(s, dir).repartition(4)
      .write.mode("overwrite").parquet(s"$base/src")
    val schema = s.read.parquet(s"$base/src").schema
    val stream = s.readStream.schema(schema).parquet(s"$base/src")
    drainToMemory(s, StreamIngest.dailyTypeCounts(stream), "complete")
      .orderBy("day", "event_type")
  }

  private val streamWindowCountsSql =
    """SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
      |       event_type, count(*) AS cnt
      |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin

  /** Stateful streaming via mapGroupsWithState, drained synchronously:
    * per-user event count + value at the latest event time. The stream is
    * split across ≥2 microbatches (maxFilesPerTrigger < file count) so
    * state genuinely carries across batch boundaries; update-mode memory
    * sink keeps every per-batch state version, and the final state per
    * user is the row with the highest n_events (monotone per user).
    * Oracle: the equivalent batch answer — count + argmax-by-(ts,value). */
  private def streamUserState(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = freshDir(QTmp("stream/state"))
    eventsTbl(s, dir).select("user_id", "ts", "value").repartition(4)
      .write.mode("overwrite").parquet(s"$base/src")
    val schema = s.read.parquet(s"$base/src").schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2")
      .parquet(s"$base/src")
      .as[graft.streaming.UserEvent]
    val drained =
      drainToMemory(s, StreamIngest.userRunningStats(stream).toDF(), "update")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_events").desc)
    drained
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1).drop("rk")
      .orderBy("user_id")
  }

  private val streamUserStateSql =
    """WITH c AS (
      |  SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
      |), l AS (
      |  SELECT user_id, epoch_us(ts) AS last_epoch_us, value AS last_value
      |  FROM events
      |  QUALIFY row_number() OVER (PARTITION BY user_id
      |                             ORDER BY ts DESC, value DESC) = 1
      |)
      |SELECT c.user_id, c.n_events, l.last_epoch_us, l.last_value
      |FROM c JOIN l USING (user_id) ORDER BY user_id""".stripMargin

  /** Streaming exactly-once dedup: the source delivers every event TWICE
    * (an at-least-once redelivery, written as a second file batch);
    * `dropDuplicates(event_id)` keys streaming state on the event id so
    * replays collapse, and the per-type aggregate over the sink equals
    * the single-delivery batch answer. maxFilesPerTrigger forces the
    * duplicate copies into DIFFERENT microbatches, so the dedup state
    * genuinely carries across batch boundaries. Scale note: unbounded
    * key state is the exact-dedup cost; production bounds it with
    * `dropDuplicatesWithinWatermark` once event-time skew is bounded. */
  private def streamDedup(s: SparkSession, dir: String): DataFrame = {
    val base = freshDir(QTmp("stream/dedup"))
    val ev = eventsTbl(s, dir).select("event_id", "event_type", "value")
    ev.repartition(4).write.mode("overwrite").parquet(s"$base/src")
    ev.repartition(3).write.mode("append").parquet(s"$base/src") // replay
    val schema = s.read.parquet(s"$base/src").schema
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2")
      .parquet(s"$base/src")
      .dropDuplicates("event_id")
      .writeStream
      .format("parquet")
      .option("path", s"$base/dest")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(s"$base/dest")
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  // the dedup stream must reproduce the single-delivery batch answer
  private val streamDedupSql = streamIngestSql

  /** Session gap shared with the oracle; mirrors TemporalQueries' batch
    * sessionizer (6 h). */
  private val SessGapUs = 6L * 3600 * 1000000

  /** Streaming sessionization via `session_window`: per-user sessions with
    * a 6 h inactivity gap, aggregated as the stream drains. Session
    * windows only support append/update output, and append only emits a
    * session once the watermark passes its close (end + gap) — so the
    * source is augmented with one far-future SENTINEL event per user
    * (beyond every real session's close); the final no-data microbatch
    * advances the watermark past every real session and flushes them,
    * while the sentinel sessions themselves stay unemitted in state.
    * That is the production-honest pattern for draining session state
    * deterministically, and the result provably equals the batch
    * gaps-and-islands answer (the oracle).
    *
    * Boundary convention: session_window closes STRICTLY before
    * start+gap, i.e. a gap of exactly 6 h splits — the oracle uses
    * `>= gap` for the break accordingly (the batch x_sessionize keeps
    * `> gap`; at µs precision the fixture has no exact-gap pair, but the
    * SQL states each operator's true semantics). */
  private def streamSessions(s: SparkSession, dir: String): DataFrame = {
    val base = freshDir(QTmp("stream/session"))
    val ev = eventsTbl(s, dir).select("user_id", "ts", "value")
    val maxTs = ev.agg(max("ts")).head().getTimestamp(0) // bounded scalar
    val sentinelTs = new java.sql.Timestamp(
      maxTs.getTime + (SessGapUs / 1000) + 2L * 86400 * 1000)
    val sentinels = ev.select("user_id").distinct()
      .withColumn("ts", lit(sentinelTs))
      .withColumn("value", lit(0.0))
    ev.unionByName(sentinels).repartition(4)
      .write.mode("overwrite").parquet(s"$base/src")
    val schema = s.read.parquet(s"$base/src").schema
    val sessions = s.readStream.schema(schema).parquet(s"$base/src")
      .withWatermark("ts", "1 second")
      .groupBy(col("user_id"), session_window(col("ts"), "6 hours").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_value"))
      .select(col("user_id"), unix_micros(col("w.start")).as("start_us"),
        (unix_micros(col("w.end")) - SessGapUs).as("end_us"),
        col("n_events"), col("sum_value"))
    drainToMemory(s, sessions, "append")
      .filter(col("start_us") < unix_micros(lit(sentinelTs))) // belt+braces
      .orderBy("user_id", "start_us")
  }

  // session_window's half-open interval ⇒ a gap of EXACTLY the window
  // splits, hence >= where the batch sessionizer uses >
  private val streamSessionsSql = OracleSql.gapsAndIslands(
    SessGapUs, breakOp = ">=", tieBreak = None, withSeq = false)

  /** The `flatMapGroupsWithState` sessionizer (multi-row custom state) run
    * in batch mode over the events table — same 6 h gap and `> gap`
    * boundary as `x_sessionize`, so the oracle is the gaps-and-islands
    * SQL. Third sessionizer, third execution strategy: window shuffle
    * (x_sessionize), session_window streaming state (st_stream_session),
    * and per-key custom state (this). */
  private def sessionsCustomState(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val evs = eventsTbl(s, dir).select("user_id", "ts", "value")
      .as[graft.streaming.UserEvent]
    StreamIngest.sessionsViaCustomState(evs, SessGapUs)
      .toDF().orderBy("user_id", "start_us")
  }

  private val sessionsCustomStateSql = OracleSql.gapsAndIslands(
    SessGapUs, breakOp = ">", tieBreak = Some("value"), withSeq = false)

  /** Stream-stream INNER join with a time-range condition: the click
    * stream joins the purchase stream on user within [click, click+30m] —
    * attribution, as two live streams. Both sides carry watermarks and
    * the range rides in the join condition, so Spark bounds each side's
    * buffered state to the watermark window (the unbounded-state
    * stream-join trap, avoided); matches emit as they form (append
    * mode), and AvailableNow drains every match of the bounded fixture.
    * Oracle: the equivalent batch range join. */
  private def streamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val base = freshDir(QTmp("stream/ssjoin"))
    val ev = eventsTbl(s, dir)
    ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
      .repartition(2).write.mode("overwrite").parquet(s"$base/clicks")
    ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event_id"),
        col("user_id").as("p_user_id"), col("ts").as("p_ts"),
        col("value"))
      .repartition(2).write.mode("overwrite").parquet(s"$base/purchases")
    def stream(p: String) =
      s.readStream.schema(s.read.parquet(p).schema).parquet(p)
    val clicks = stream(s"$base/clicks").withWatermark("ts", "1 hour")
    val purchases = stream(s"$base/purchases")
      .withWatermark("p_ts", "1 hour")
    val joined = clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("p_ts") >= col("ts") &&
        col("p_ts") <= col("ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("click_us"),
        col("p_event_id"), unix_micros(col("p_ts")).as("purchase_us"),
        col("value"))
    drainToMemory(s, joined, "append")
      .orderBy("event_id", "p_event_id")
  }

  private val streamStreamJoinSql =
    """SELECT c.event_id, c.user_id, epoch_us(c.ts) AS click_us,
      |       p.event_id AS p_event_id, epoch_us(p.ts) AS purchase_us,
      |       p.value
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id
      | AND p.ts >= c.ts
      | AND epoch_us(p.ts) <= epoch_us(c.ts) + 1800000000
      |ORDER BY c.event_id, p_event_id""".stripMargin

  /** Stream-stream LEFT OUTER join — `st_stream_join`'s attribution
    * query, now also emitting the clicks that NEVER converted. Outer
    * results cannot emit eagerly (a match might still arrive), so Spark
    * holds each left row in state until the watermark passes the end of
    * its join window and only then null-extends it — the semantics that
    * make outer stream joins require BOTH a watermark and a time-range
    * bound. A far-future sentinel on each stream (disjoint user −1, as
    * in `st_stream_session`) lets the final no-data microbatch advance
    * the watermark past every real click, flushing all unmatched rows
    * deterministically before AvailableNow stops.
    *
    * Scale: identical bounded-state story to the inner join — per-side
    * state is one watermark-window of rows; the null-extension adds no
    * state, only delayed emission. */
  private def streamOuterJoin(s: SparkSession, dir: String): DataFrame = {
    val base = freshDir(QTmp("stream/ssouter"))
    val ev = eventsTbl(s, dir)
    val maxTs = ev.agg(max("ts")).head().getTimestamp(0) // bounded scalar
    val sentinelTs = new java.sql.Timestamp(maxTs.getTime + 7L * 86400 * 1000)
    val sentinelClick = s.range(1).select(lit(-1L).as("event_id"),
      lit(-1L).as("user_id"), lit(sentinelTs).as("ts"))
    val sentinelPurchase = s.range(1).select(lit(-1L).as("p_event_id"),
      lit(-1L).as("p_user_id"), lit(sentinelTs).as("p_ts"),
      lit(0.0).as("value"))
    ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
      .unionByName(sentinelClick)
      .repartition(2).write.mode("overwrite").parquet(s"$base/clicks")
    ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event_id"),
        col("user_id").as("p_user_id"), col("ts").as("p_ts"),
        col("value"))
      .unionByName(sentinelPurchase)
      .repartition(2).write.mode("overwrite").parquet(s"$base/purchases")
    def stream(p: String) =
      s.readStream.schema(s.read.parquet(p).schema).parquet(p)
    val clicks = stream(s"$base/clicks").withWatermark("ts", "1 hour")
    val purchases = stream(s"$base/purchases")
      .withWatermark("p_ts", "1 hour")
    val joined = clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("p_ts") >= col("ts") &&
        col("p_ts") <= col("ts") + expr("INTERVAL 30 MINUTES"),
      "leftOuter")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("click_us"),
        col("p_event_id"), unix_micros(col("p_ts")).as("purchase_us"),
        col("value"))
    drainToMemory(s, joined, "append")
      .filter(col("event_id") >= 0) // drop the sentinel click
      .orderBy(col("event_id"), col("p_event_id"))
  }

  private val streamOuterJoinSql =
    """SELECT c.event_id, c.user_id, epoch_us(c.ts) AS click_us,
      |       p.event_id AS p_event_id, epoch_us(p.ts) AS purchase_us,
      |       p.value
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id
      | AND p.ts >= c.ts
      | AND epoch_us(p.ts) <= epoch_us(c.ts) + 1800000000
      |ORDER BY c.event_id, p_event_id""".stripMargin

  /** Streaming MERGE via `foreachBatch`: each microbatch is upserted
    * into a keyed parquet target — new users insert, existing users
    * update (count accumulates, the latest (ts, event_id)-ordered value
    * wins). The target is VERSIONED BY BATCH ID (`v<batchId>` derived
    * from `v<batchId-1>`), which is what makes the sink exactly-once
    * under retries: replaying batch b deterministically rewrites v_b
    * from v_{b-1} — the idempotent-foreachBatch contract Spark's docs
    * prescribe for non-transactional stores. maxFilesPerTrigger splits
    * the drain into ≥3 microbatches so the merge genuinely iterates.
    * Scale: each merge is one full-outer join keyed on user_id between
    * the bounded per-user state and the batch aggregate — the same
    * shape as `w_upsert`, shuffling state once per batch; a production
    * target (Delta/Iceberg MERGE) replaces the version-directory dance,
    * not the plan. */
  private def foreachUpsert(s: SparkSession, dir: String): DataFrame = {
    val base = freshDir(QTmp("stream/upsert"))
    eventsTbl(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$base/src")
    val schema = s.read.parquet(s"$base/src").schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "3")
      .parquet(s"$base/src")

    def mergeBatch(batch: DataFrame, batchId: Long): Unit = {
      val sess = batch.sparkSession
      // (us, event_id) is unique per user → lexicographic struct max IS
      // "latest event wins" with a deterministic tie-break
      val bAgg = batch.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          max(struct(col("us"), col("event_id"), col("value"))).as("m"))
      val prev = new java.io.File(s"$base/target/v${batchId - 1}")
      val merged =
        if (!prev.exists()) bAgg
        else {
          val old = sess.read.parquet(prev.getPath)
            .withColumnsRenamed(Map("n_events" -> "o_n", "m" -> "o_m"))
          old.join(bAgg, Seq("user_id"), "full_outer")
            .select(col("user_id"),
              (coalesce(col("o_n"), lit(0L)) +
                coalesce(col("n_events"), lit(0L))).as("n_events"),
              greatest(col("o_m"), col("m")).as("m"))
        }
      merged.write.mode("overwrite").parquet(s"$base/target/v$batchId")
    }

    val q = stream.writeStream
      .foreachBatch(mergeBatch _)
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val latest = new java.io.File(s"$base/target").listFiles()
      .map(_.getName.stripPrefix("v").toLong).max
    s.read.parquet(s"$base/target/v$latest")
      .select(col("user_id"), col("n_events"),
        col("m.us").as("last_us"), col("m.value").as("last_value"))
      .orderBy("user_id")
  }

  private val foreachUpsertSql =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS us, event_id, value FROM events
      |), c AS (
      |  SELECT user_id, count(*) AS n_events FROM e GROUP BY user_id
      |), l AS (
      |  SELECT user_id, us AS last_us, value AS last_value FROM e
      |  QUALIFY row_number() OVER (PARTITION BY user_id
      |                             ORDER BY us DESC, event_id DESC) = 1
      |)
      |SELECT c.user_id, c.n_events, l.last_us, l.last_value
      |FROM c JOIN l USING (user_id) ORDER BY user_id""".stripMargin

  /** Stream-static dimension enrichment — the streaming twin of the
    * reference's enrich stage (J1/J2's trips×zones joins,
    * `enrichment_query.py:13,20`): a file-source event stream joins a
    * STATIC dimension table inside each microbatch, then aggregates per
    * dimension attribute. The stream is forced across ≥2 microbatches
    * (`maxFilesPerTrigger`) so the per-batch re-join genuinely repeats.
    *
    * Scale: the static side is broadcast into every microbatch — the
    * canonical streaming-enrichment plan (no stateful join, no
    * watermark: the dimension is not a stream). A dimension too big to
    * broadcast becomes a shuffled stream-batch join per microbatch, or
    * is snapshotted into the stateful stream-stream path
    * (`st_stream_join`); broadcast is right up to ~GB dims. Counts and
    * sums are decimal-exact so complete-mode output equals the batch
    * answer bit-for-bit. */
  private def streamStaticJoin(s: SparkSession, dir: String): DataFrame = {
    val base = freshDir(QTmp("stream/staticjoin"))
    eventsTbl(s, dir).repartition(4)
      .write.mode("overwrite").parquet(s"$base/src")
    val schema = s.read.parquet(s"$base/src").schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 2).parquet(s"$base/src")
    val dim = tbl(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
    val enriched = stream
      .join(broadcast(dim),
        (col("user_id") % 25).cast("int") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_value"))
    drainToMemory(s, enriched, "complete").orderBy("n_name")
  }

  private val streamStaticJoinSql =
    """SELECT n_name, count(*) AS cnt,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Streaming H3 enrichment (round 12) — the reference's geo
    * enrichment path (F6's `H3_FROMGEOGPOINT`) as a STREAM transform:
    * events arrive as files, each event's deterministic synthetic
    * point (keyed on `user_id % 150`, spread ±0.19° inside its zone,
    * ~40% in pentagon base cells) is indexed at res 7 IN-STREAM
    * through the codegen [[graft.functions.H3]] expression, and a
    * complete-mode aggregation counts events per cell. The oracle
    * ([[H3OracleSql.streamEnrich]]) re-derives every cell id with the
    * independent SQL forward and states the batch answer — the
    * stream/batch unification gate over the full geo path. At scale
    * the shape is the 100 TB streaming-enrichment standard: a
    * stateless per-row codegen transform (no shuffle before the
    * keyed aggregation), with the cell id as the aggregation key. */
  private def streamH3Enrich(s: SparkSession, dir: String): DataFrame = {
    val base = freshDir(QTmp("stream/h3enrich"))
    eventsTbl(s, dir).select("user_id", "value").repartition(4)
      .write.mode("overwrite").parquet(s"$base/src")
    val schema = s.read.parquet(s"$base/src").schema
    val stream = s.readStream.schema(schema).parquet(s"$base/src")
    val k = col("user_id") % 150
    val zone = (k % 25).cast("double")
    val enriched = stream
      .withColumn("cell", GeoF.h3Cell(
        zone * 0.5 - 6.0 +
          (((k * 7919) % 97).cast("double") - 48.0) * 0.004,
        zone * 1.5 - 18.0 +
          (((k * 104729) % 97).cast("double") - 48.0) * 0.004, 7))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_value"))
    drainToMemory(s, enriched, "complete").orderBy("cell")
  }

  /** Where `st_shard_stream` delivers — exposed for the layout spec
    * (`StreamSpec`) so the test cannot drift from the query's own
    * path construction (the `shardBase` precedent). */
  private[graft] def shardStreamShards: String =
    QTmp("stream/shard_stream") + "/shards"

  /** `st_shard_stream` — the streaming twin of `x_shard_write`:
    * documents arrive as a file-source stream in ≥2 microbatches
    * (maxFilesPerTrigger < file count); each microbatch derives its
    * delivery keys through the SAME law as the batch writer
    * ([[TrainPrepQueries.shardDocsFrom]] — one definition, the stream
    * cannot fork from the batch shard law) and lands in the per-shard
    * layout. The drained manifest must equal the batch writer's
    * EXACTLY — the streaming/batch unification claim for the delivery
    * path, stated by sharing `x_shard_write`'s oracle SQL verbatim.
    *
    * The append is EXACTLY-ONCE by stage-then-rename: the batch writes
    * to a staging dir, then each shard's single staged file is renamed
    * to the DETERMINISTIC name `b<batchId>.parquet` inside the shard
    * dir (one atomic rename per shard). A replayed batch re-stages the
    * same rows and renames onto the same target names — idempotent
    * without a transactional store, unlike a bare `mode("append")`
    * whose replay double-delivers (`st_foreach_upsert`'s versioned-
    * directory contract, adapted to a file-per-batch sink).
    *
    * Scale: per trigger this is `x_shard_append`'s shape — one delivery
    * shuffle sized to the BATCH, one new file per shard, yesterday's
    * files untouched; shard count caps the per-batch file fanout, and
    * the manifest aggregate is metadata-sized. */
  private def streamShardDelivery(s: SparkSession, dir: String): DataFrame = {
    val base = freshDir(QTmp("stream/shard_stream"))
    tbl(s, dir, "documents").repartition(8)
      .write.mode("overwrite").parquet(s"$base/src")
    val schema = s.read.parquet(s"$base/src").schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "3")
      .parquet(s"$base/src")

    def deliverBatch(batch: DataFrame, batchId: Long): Unit = {
      val stage = new java.io.File(s"$base/stage/b$batchId")
      TrainPrepQueries.shardDocsFrom(batch)
        .repartition(col("shard"))
        .sortWithinPartitions("shard", "skey")
        .write.mode("overwrite").partitionBy("shard")
        .parquet(stage.getPath)
      for (sd <- stage.listFiles()
           if sd.isDirectory && sd.getName.startsWith("shard=")) {
        val staged = sd.listFiles().filter(_.getName.endsWith(".parquet"))
        // one file per shard is the law the deterministic rename relies
        // on: two staged files would silently collapse onto one target
        // name, dropping rows — fail loudly instead (review, r18)
        require(staged.length == 1,
          s"${sd.getName}: ${staged.length} staged files (expected 1)")
        val destDir = new java.io.File(s"$base/shards/${sd.getName}")
        destDir.mkdirs()
        val dest = new java.io.File(destDir, s"b$batchId.parquet")
        if (dest.exists()) dest.delete() // replay: same name, same rows
        require(staged.head.renameTo(dest),
          s"rename failed: ${staged.head} -> $dest")
      }
      // the staged tree is spent (its parquet files were renamed out);
      // drop it so the delivery dir's on-disk layout IS the delivery
      def del(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(del)
        f.delete()
      }
      del(stage)
    }

    val q = stream.writeStream
      .foreachBatch(deliverBatch _)
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    s.read.parquet(s"$base/shards")
      .groupBy(col("shard").cast("long").as("shard_id"))
      .agg(count(lit(1)).as("n_seqs"),
        sum("n_tokens").as("n_tokens"),
        min_by(col("doc_id"), col("skey")).as("first_doc"),
        max_by(col("doc_id"), col("skey")).as("last_doc"))
      .orderBy("shard_id")
  }

  val all: Map[String, QueryDef] = Map(
    "st_shard_stream" -> QueryDef(streamShardDelivery,
      Some(TrainPrepQueries.shardWriteSql)),
    "st_h3_enrich" -> QueryDef(streamH3Enrich,
      Some(H3OracleSql.streamEnrich)),
    "st_stream_static_join" -> QueryDef(streamStaticJoin,
      Some(streamStaticJoinSql)),
    "st_foreach_upsert" -> QueryDef(foreachUpsert, Some(foreachUpsertSql)),
    "st_stream_join" -> QueryDef(streamStreamJoin,
      Some(streamStreamJoinSql)),
    "st_stream_outer_join" -> QueryDef(streamOuterJoin,
      Some(streamOuterJoinSql)),
    "st_sessions_custom_state" -> QueryDef(sessionsCustomState,
      Some(sessionsCustomStateSql)),
    "st_stream_ingest" -> QueryDef(streamIngest, Some(streamIngestSql)),
    "st_stream_window" -> QueryDef(streamWindowCounts,
      Some(streamWindowCountsSql)),
    "st_stream_state" -> QueryDef(streamUserState, Some(streamUserStateSql)),
    "st_stream_dedup" -> QueryDef(streamDedup, Some(streamDedupSql)),
    "st_stream_session" -> QueryDef(streamSessions, Some(streamSessionsSql))
  )
}
