package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec

class StreamSpec extends SparkSpec {

  test("mapGroupsWithState accumulates per-user stats (batch-mode check)") {
    import spark.implicits._
    // mapGroupsWithState also runs on batch Datasets (state spans the group)
    val evs = Seq(
      // user 1's latest-by-ts event arrives FIRST: processing-order
      // "last" would answer 1.0; event-time argmax must answer 2.0
      UserEvent(1L, Timestamp.valueOf("2024-01-01 00:01:00"), 2.0),
      UserEvent(1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      UserEvent(2L, Timestamp.valueOf("2024-01-01 00:02:00"), 7.0),
      // ts tie for user 3 → value tie-break picks 9.0
      UserEvent(3L, Timestamp.valueOf("2024-01-01 00:03:00"), 9.0),
      UserEvent(3L, Timestamp.valueOf("2024-01-01 00:03:00"), 4.0)).toDS()
    val out = StreamIngest.userRunningStats(evs).collect()
      .map(s => s.user_id -> s).toMap
    assert(out(1L).n_events === 2L)
    assert(out(1L).last_value === 2.0)
    assert(out(1L).last_epoch_us ===
      StreamIngest.epochMicros(Timestamp.valueOf("2024-01-01 00:01:00")))
    assert(out(2L).n_events === 1L)
    assert(out(2L).last_value === 7.0)
    assert(out(3L).last_value === 9.0)
  }

  test("streaming session_window equals the batch gaps-and-islands answer") {
    // the two sessionizers share the 6h gap; at µs precision no fixture
    // pair sits exactly ON the gap, so strict-vs-inclusive boundary
    // conventions coincide and the answers must be identical
    val streamed = graft.SparkEntry.queries("st_stream_session")(spark, sf)
      .select("user_id", "start_us", "end_us", "n_events")
      .collect().toSeq
    val batch = graft.SparkEntry.queries("x_sessionize")(spark, sf)
      .select("user_id", "start_us", "end_us", "n_events")
      .collect().toSeq
    assert(streamed.nonEmpty && streamed === batch)
  }

  test("custom-state sessionizer agrees with the window sessionizer") {
    val viaState =
      graft.SparkEntry.queries("st_sessions_custom_state")(spark, sf)
        .select("user_id", "start_us", "end_us", "n_events")
        .collect().toSeq
    val viaWindow = graft.SparkEntry.queries("x_sessionize")(spark, sf)
      .select("user_id", "start_us", "end_us", "n_events")
      .collect().toSeq
    assert(viaState.nonEmpty && viaState === viaWindow)
  }

  test("streaming dedup collapses a double delivery to the batch answer") {
    import org.apache.spark.sql.functions._
    val deduped = graft.SparkEntry.queries("st_stream_dedup")(spark, sf)
      .agg(sum("cnt")).head().getLong(0)
    assert(deduped === graft.eventsTbl(spark, sf).count())
  }

  test("foreachBatch upsert merges across MULTIPLE microbatches") {
    import org.apache.spark.sql.functions._
    val out = graft.SparkEntry.queries("st_foreach_upsert")(spark, sf)
      .collect()
    // the versioned target must show a real merge chain, not one batch
    val versions = new java.io.File(
      s"${sys.props("user.dir")}/target/qtmp/stream/upsert/target")
      .listFiles().map(_.getName).filter(_.startsWith("v"))
    assert(versions.length >= 2,
      s"expected >=2 microbatch versions, got ${versions.toSeq}")
    // and the merged counts must equal the batch per-user counts
    val expected = graft.eventsTbl(spark, sf)
      .groupBy("user_id").count().orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq === expected)
  }

  test("restart from checkpoint resumes exactly-once (no reprocess, no loss)") {
    import org.apache.spark.sql.functions._
    val base = tempDir("st_restart")
    val ev = graft.eventsTbl(spark, sf).select("event_id", "event_type")
    val day1 = ev.filter(col("event_id") % 2 === 0)
    val day2 = ev.filter(col("event_id") % 2 === 1)
    day1.repartition(3).write.mode("overwrite").parquet(s"$base/src")
    val first = StreamIngest.ingestAvailableNow(
      spark, s"$base/src", s"$base/dest", s"$base/ckpt")
    assert(first.count() === day1.count())
    // new files land AFTER the first query terminated; a SECOND query
    // start on the same checkpoint must pick up only the delta
    day2.repartition(2).write.mode("append").parquet(s"$base/src")
    val resumed = StreamIngest.ingestAvailableNow(
      spark, s"$base/src", s"$base/dest", s"$base/ckpt")
    assert(resumed.count() === ev.count(),
      "resume must append exactly the new files")
    assert(resumed.select("event_id").distinct().count() === ev.count(),
      "no event may be ingested twice across the restart")
  }

  test("streaming file ingest equals the batch read (AvailableNow drains)") {
    import org.apache.spark.sql.functions._
    val base = tempDir("st_test")
    val src = graft.eventsTbl(spark, sf).limit(200)
    src.repartition(3).write.mode("overwrite").parquet(s"$base/src")
    val ingested = StreamIngest.ingestAvailableNow(
      spark, s"$base/src", s"$base/dest", s"$base/ckpt")
    assert(ingested.count() === 200)
    val a = ingested.agg(sum("event_id")).head().getLong(0)
    val b = spark.read.parquet(s"$base/src").agg(sum("event_id"))
      .head().getLong(0)
    assert(a === b)
  }

  test("streaming H3 enrichment is microbatch-split-invariant and " +
      "equals the batch geo path") {
    import org.apache.spark.sql.functions._
    // The st_h3_enrich gate drains the source in one AvailableNow pass;
    // this pins the other half of the streaming contract: splitting the
    // same files into one-file microbatches (state carried across batch
    // boundaries by the complete-mode agg) must yield the identical
    // per-cell answer, and both must equal the plain batch computation.
    val base = tempDir("st_h3")
    graft.eventsTbl(spark, sf).select("user_id", "value").repartition(4)
      .write.mode("overwrite").parquet(s"$base/src")
    val k = col("user_id") % 150
    val zone = (k % 25).cast("double")
    def enrich(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("cell", graft.functions.GeoF.h3Cell(
        zone * 0.5 - 6.0 +
          (((k * 7919) % 97).cast("double") - 48.0) * 0.004,
        zone * 1.5 - 18.0 +
          (((k * 104729) % 97).cast("double") - 48.0) * 0.004, 7))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(
          org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_value"))
    val schema = spark.read.parquet(s"$base/src").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1") // 4 genuine microbatches
      .parquet(s"$base/src")
    val q = enrich(stream).writeStream
      .format("memory").queryName("st_h3_split")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val split = spark.table("st_h3_split").orderBy("cell").collect().toSeq
    val batch = enrich(spark.read.parquet(s"$base/src"))
      .orderBy("cell").collect().toSeq
    val gated = graft.SparkEntry.queries("st_h3_enrich")(spark, sf)
      .collect().toSeq
    assert(split.nonEmpty && split === batch,
      "microbatch-split answer diverged from the batch geo path")
    assert(split === gated,
      "split-drain answer diverged from the registered single-drain query")
  }

  test("memory-sink stream queries are re-invocable in one session and " +
      "leave no temp view behind (round-13 ADVICE)") {
    // Before round 13 every memory sink used a FIXED queryName: a second
    // invocation in the same session threw QUERY_NAME_ALREADY_ACTIVE /
    // TempTableAlreadyExists, and the stale temp view pinned the prior
    // run's rows. drainToMemory derives a per-invocation name and drops
    // the view after an eager checkpoint of the result.
    val first = graft.SparkEntry.queries("st_h3_enrich")(spark, sf)
      .collect().toSeq
    val second = graft.SparkEntry.queries("st_h3_enrich")(spark, sf)
      .collect().toSeq
    assert(first.nonEmpty && first === second,
      "re-invocation changed the answer")
    val leftover = spark.catalog.listTables()
      .collect().map(_.name).filter(_.startsWith("graft_mem_"))
    assert(leftover.isEmpty,
      s"memory-sink temp views leaked: ${leftover.mkString(", ")}")
  }

  test("streaming shard delivery equals the batch writer's manifest " +
      "and lands one deterministic b<batchId> file per shard per " +
      "microbatch") {
    val streamed = graft.SparkEntry.queries("st_shard_stream")(spark, sf)
      .collect().toSeq
    val batch = graft.SparkEntry.queries("x_shard_write")(spark, sf)
      .collect().toSeq
    assert(streamed.nonEmpty && streamed === batch,
      "streamed delivery manifest diverged from the batch writer")
    // layout: every delivered file carries the deterministic
    // stage-then-rename name (what makes a replayed batch idempotent),
    // and the drain genuinely split into >=2 microbatches
    val base = new java.io.File(graft.queries.StreamQueries.shardStreamShards)
    val shardDirs = base.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(shardDirs.nonEmpty)
    val names = shardDirs.flatMap(_.listFiles()).map(_.getName)
      .filter(_.endsWith(".parquet")).toSeq
    assert(names.forall(_.matches("b\\d+\\.parquet")),
      s"non-deterministic delivery file names: ${names.take(3)}")
    val batchIds = names
      .map(_.stripPrefix("b").stripSuffix(".parquet").toLong).distinct
    assert(batchIds.length >= 2,
      s"expected >=2 microbatches, got ids $batchIds")
  }
}
