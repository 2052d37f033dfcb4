package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

class ScaleSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("bucketed join runs with zero exchanges below the join") {
    // AQE re-plans lazily; turn it off in a sibling session so the static
    // physical plan is directly inspectable.
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val df = graft.SparkEntry.queries("b_bucketed_join")(s, sf)
    val plan = df.queryExecution.executedPlan
    val smjs = plan.collect { case j: SortMergeJoinExec => j }
    assert(smjs.nonEmpty, s"expected a sort-merge join:\n$plan")
    val exchangesBelowJoin = smjs.head.collect {
      case e: ShuffleExchangeExec => e
    }
    assert(exchangesBelowJoin.isEmpty,
      s"bucketed join must not shuffle its inputs:\n${smjs.head}")
  }

  /** The physical plan a noop write of `df` executes — the plan Bench
    * times. A write plans afresh from the logical plan, so it can differ
    * from `df.queryExecution.executedPlan`; a listener records it. */
  private def writtenPlan(df: DataFrame): SparkPlan = {
    val plans = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (find(qe.executedPlan)(_.isInstanceOf[V2TableWriteExec]).nonEmpty)
          plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    df.sparkSession.listenerManager.register(listener)
    try {
      df.write.format("noop").mode("overwrite").save()
      val plan = plans.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      assert(plan != null, "no write plan reached the listener")
      plan
    } finally df.sparkSession.listenerManager.unregister(listener)
  }

  private def exchanges(plan: SparkPlan): Int =
    collect(plan) { case e: ShuffleExchangeExec => e }.size

  private def sorts(plan: SparkPlan): Int =
    collect(plan) { case so: SortExec => so }.size

  test("sorted-bucketed moving agg: zero exchange, zero sort in the plan") {
    // The whole point of w_moving_bucketed: the scan exposes the bucket
    // hash partitioning AND the (user_id, us, event_id) file sort, so
    // all three window frames run directly over the scan — the raw
    // twin's exchange + sort tax is paid once at load.
    val plan = writtenPlan(
      graft.SparkEntry.defs("w_moving_bucketed").benched(spark, sf))
    assert(collect(plan) { case w: WindowExec => w }.nonEmpty,
      s"expected window operators: $plan")
    assert(exchanges(plan) === 0, s"sorted-bucketed window must not shuffle: $plan")
    assert(sorts(plan) === 0, s"sorted-bucketed window must not sort: $plan")
    // and it computes exactly what the raw twin computes
    val raw = graft.SparkEntry.queries("w_moving_agg")(spark, sf)
      .collect().toSeq
    val bucketed = graft.SparkEntry.queries("w_moving_bucketed")(spark, sf)
      .collect().toSeq
    assert(bucketed === raw)
  }

  test("sorted-bucketed sessionize: zero exchange, zero sort; rows match raw") {
    val plan = writtenPlan(
      graft.SparkEntry.defs("x_sessionize_bucketed").benched(spark, sf))
    assert(exchanges(plan) === 0, s"bucketed sessionize must not shuffle: $plan")
    assert(sorts(plan) === 0, s"bucketed sessionize must not sort: $plan")
    val raw = graft.SparkEntry.queries("x_sessionize")(spark, sf)
      .collect().toSeq
    val bucketed = graft.SparkEntry.queries("x_sessionize_bucketed")(spark, sf)
      .collect().toSeq
    assert(bucketed === raw)
  }

  test("sorted-bucketed window funcs: zero exchange; rows match raw") {
    val plan = writtenPlan(
      graft.SparkEntry.defs("w_window_bucketed").benched(spark, sf))
    assert(exchanges(plan) === 0,
      s"bucketed window funcs must not shuffle: $plan")
    // by-value ordering is inherent to ntile/percent_rank/cume_dist: one
    // in-partition sort; the time-ordered windows ride the scan's order
    assert(sorts(plan) === 1, s"only the by-value sort may remain: $plan")
    val raw = graft.SparkEntry.queries("w_window_funcs")(spark, sf)
      .collect().toSeq
    val bucketed = graft.SparkEntry.queries("w_window_bucketed")(spark, sf)
      .collect().toSeq
    assert(bucketed === raw)
  }

  test("sorted-bucketed range join: zero exchange below the join; rows match raw") {
    val plan = writtenPlan(
      graft.SparkEntry.defs("x_range_bucketed").benched(spark, sf))
    assert(exchanges(plan) === 0, s"bucketed range join must not shuffle: $plan")
    val raw = graft.SparkEntry.queries("x_range_join")(spark, sf)
      .collect().toSeq
    val bucketed = graft.SparkEntry.queries("x_range_bucketed")(spark, sf)
      .collect().toSeq
    assert(bucketed === raw)
  }

  test("bucketed star join: zero exchanges on the fact side") {
    // The whole point of b_star_bucketed: the dim broadcast preserves the
    // orders scan's bucket partitioning, so the orders⋈lineitem edge is a
    // bucket-local SMJ — the only shuffle in the plan is the final
    // dimension-sized aggregation exchange ABOVE the join.
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val df = graft.SparkEntry.queries("b_star_bucketed")(s, sf)
    val plan = df.queryExecution.executedPlan
    val smjs = plan.collect { case j: SortMergeJoinExec => j }
    assert(smjs.nonEmpty, s"expected a sort-merge fact join:\n$plan")
    val exchangesBelowFactJoin = smjs.head.collect {
      case e: ShuffleExchangeExec => e
    }
    assert(exchangesBelowFactJoin.isEmpty,
      s"bucketed star join must not shuffle either fact side:\n${smjs.head}")
  }

  test("bucketed layout is re-registered, not rewritten, by a new session") {
    // ensureBucketed keys the layout on the source dir and persists it
    // across sessions/JVMs; a fresh session must pick it up via DDL
    // registration (milliseconds) instead of re-running the layout write
    // (the round-8 driver-bench regression).
    graft.SparkEntry.queries("b_bucketed_join")(spark, sf).collect()
    val nb = ScaleQueries.autoBuckets(spark, sf)
    val suffix = graft.core.PathTag.tag(sf + "#" + nb)
    val liPath = new java.io.File(
      s"${sys.props("user.dir")}/target/qtmp/bucketed_$suffix/li_b")
    val before = liPath.listFiles().map(f => f.getName -> f.lastModified).toMap
    val s2 = spark.newSession()
    s2.sql(s"DROP TABLE IF EXISTS graft_li_b_$suffix")
    s2.sql(s"DROP TABLE IF EXISTS graft_ord_b_$suffix")
    graft.SparkEntry.queries("b_bucketed_join")(s2, sf).collect()
    val after = liPath.listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(after === before, "fresh session rewrote an up-to-date layout")
  }

  test("bucketed join result matches the plain-join answer") {
    val expected = graft.tbl(spark, sf, "lineitem")
      .join(graft.tbl(spark, sf, "orders"),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      .count()
    val viaBuckets = graft.SparkEntry.queries("b_bucketed_join")(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
    assert(viaBuckets === expected)
  }

  test("value-sorted layout prunes row groups under a range predicate") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val base = WarehouseQueries.slayBase(spark, sf)
    val ev = graft.eventsTbl(spark, sf)
      .select(col("event_id"), col("event_type"), col("value"))
    ev.repartitionByRange(8, col("value")).sortWithinPartitions("value")
      .write.mode("overwrite").parquet(s"$base/spec_sorted")
    ev.repartition(8)
      .write.mode("overwrite").parquet(s"$base/spec_unsorted")
    def scanRows(path: String): Long = {
      val df = spark.read.parquet(path)
        .filter(col("value") >= 5.0 && col("value") < 6.0)
      // execute THIS dataset's plan (count() would plan a separate
      // execution and leave these metrics untouched)
      df.collect()
      // AQE wraps the final plan; collect() does not descend into it
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val scans = plan.collect {
        case f: FileSourceScanExec => f.metrics("numOutputRows").value
      }
      assert(scans.nonEmpty)
      scans.sum
    }
    val sorted = scanRows(s"$base/spec_sorted")
    val unsorted = scanRows(s"$base/spec_unsorted")
    val total = ev.count()
    // the unclustered layout has the full value range in every file, so
    // no row group is skippable and the scan emits every row; the
    // clustered layout's footer stats confine the scan to the 1-2 files
    // whose [min,max] intersects the predicate
    assert(unsorted === total)
    assert(sorted < total / 2,
      s"sorted-layout scan read $sorted of $total rows — no row-group skip")
  }

  test("GraftExtensions registers wkt_centroid_* for SQL use") {
    val r = spark.sql(
      "SELECT wkt_centroid_lng('POLYGON((0 0, 1 0, 1 1, 0 1, 0 0))') AS x," +
        " wkt_centroid_lat('POINT(3 4)') AS y").head()
    assert(r.getDouble(0) === 0.5)
    assert(r.getDouble(1) === 4.0)
  }

  test("GraftExtensions registers the H3 hierarchy + boundary for SQL use") {
    // SF res-9 cell from the H3 docs; parent/children/compact/boundary
    // must compose in pure SQL exactly like the column API
    val r = spark.sql(
      "SELECT h3_cell_to_parent('8928308280fffff', 5) AS p5," +
        " size(h3_cell_to_children(h3_cell_to_parent(" +
        "'8928308280fffff', 7), 8)) AS nk," +
        " h3_compact_cells(h3_cell_to_children(" +
        "h3_cell_to_parent('8928308280fffff', 7), 9)) AS comp," +
        " h3_cell_boundary('8928308280fffff') AS b").head()
    assert(r.getString(0) ===
      graft.functions.H3.cellToParentHex("8928308280fffff", 5))
    assert(r.getInt(1) === 7)
    assert(r.getSeq[String](2) === Seq(
      graft.functions.H3.cellToParentHex("8928308280fffff", 7)))
    assert(r.getString(3).startsWith("POLYGON(("))
    // grid path (round 14): SQL surface composes with the other ids
    val gp = spark.sql(
      "SELECT h3_grid_path('8928308280fffff', " +
        "element_at(h3_cell_to_children(h3_cell_to_parent(" +
        "'8928308280fffff', 8), 9), 3)) AS p").head().getSeq[String](0)
    assert(gp.head === "8928308280fffff" && gp.length >= 2)
    assert(gp === graft.functions.H3
      .gridPathCellsHex("8928308280fffff", gp.last).toSeq)
    // the full-parity form (round 13): a fine interior cell equals the
    // plain boundary; a face-straddling res-0 cell gains distortion
    // vertices (more commas in the ring)
    val f = spark.sql(
      "SELECT h3_cell_boundary_full('8928308280fffff') AS fine," +
        " h3_cell_boundary('8005fffffffffff') AS plain0," +
        " h3_cell_boundary_full('8005fffffffffff') AS full0").head()
    assert(f.getString(0) ===
      graft.functions.H3.cellBoundaryWkt("8928308280fffff"))
    def nPts(w: String) = w.count(_ == ',')
    assert(nPts(f.getString(2)) >= nPts(f.getString(1)),
      "full form must never have fewer vertices")
  }

  test("AQE splits the skewed Zipf-join partitions (b_skew_join witness)") {
    import org.apache.spark.sql.functions._
    // The witness the round-13 verdict asked for: x_sessionize /
    // x_range_join shuffle on uniform fixture keys, so the AQE skew-split
    // claim in their scale notes was never exercised. b_skew_join's
    // harmonic key funnels ~half the events onto cohort 1; with the
    // 7-row stats side forbidden from broadcasting (the stand-in for a
    // genuinely huge build side) the fact shuffle's hot partition is the
    // textbook skew-join input. Thresholds scale to the fixture — the
    // DETECTION logic is identical at 256MB-sized production partitions.
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    s.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "16")
    val sf01 = "/root/testdata/sf0.01" // 10k events: hot partition > 16KB
    // the key really is Zipf-skewed: top cohort holds >40% of the rows
    val dist = graft.eventsTbl(s, sf01)
      .groupBy(ScaleQueries.zipfKey(col("user_id")).as("zk")).count()
      .orderBy(desc("count")).collect()
    val total = dist.map(_.getLong(1)).sum
    assert(dist.head.getLong(1).toDouble / total > 0.4,
      s"fixture lost its skew: ${dist.mkString(", ")}")
    // Two shape constraints, both faithful to the at-scale case:
    //  - the stats side is CHECKPOINTED: OptimizeSkewedJoin only matches
    //    SMJ(Sort(shuffle stage), Sort(shuffle stage)), and a genuinely
    //    huge build side at 100 TB is a materialized table, not an
    //    inline aggregate;
    //  - the fact side is repartitioned to 8 map tasks first: skew
    //    splits happen at MAPPER-OUTPUT boundaries, and the one-file
    //    fixture scan is a single mapper whose hot block is indivisible
    //    (a 1000-executor shuffle has thousands of mappers — the
    //    granularity constraint vanishes at the scale this witnesses).
    val (ev, stats) = ScaleQueries.skewSides(s, sf01)
    val joined = ev.repartition(8).join(stats.localCheckpoint(), "zk")
    joined.collect()
    val planStr = joined.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
    assert(planStr.contains("skew=true"),
      s"expected an AQE skew-split join in the adaptive plan:\n$planStr")
    // and the skew-split run computes exactly what the broadcast plan does
    val expected = graft.SparkEntry.queries("b_skew_join")(spark, sf01)
      .collect().toSeq
    val underSkewSplit = graft.SparkEntry.queries("b_skew_join")(s, sf01)
      .collect().toSeq
    assert(underSkewSplit === expected)
  }

  test("partial agg absorbs the hot Zipf cohort map-side " +
      "(b_skew_agg witness)") {
    import org.apache.spark.sql.functions._
    // The third shuffle consumer of the skew triptych (r14 verdict item
    // 6): groupBy on the harmonic key where cohort 1 holds ~half the
    // corpus. Hash aggregation with partial-combinable aggregates is
    // skew-immune BY PLAN SHAPE — each map task emits ≤ |keys| rows into
    // the exchange — so the witness is the aggregate exchange's
    // records-written metric sitting at the maps·keys floor, not at
    // corpus size. AQE off so the static two-phase shape (and its
    // exchange) is directly inspectable.
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "16")
    val sf01 = "/root/testdata/sf0.01"
    val nEvents = graft.eventsTbl(s, sf01).count()
    val df = ScaleQueries.skewAggPlan(s, sf01)
    df.collect()
    val plan = df.queryExecution.executedPlan
    // two-phase hash agg: a Partial mode aggregate below the exchange
    val aggs = plan.collect {
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec => h
    }
    assert(aggs.exists(_.aggregateExpressions.exists(
        _.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Partial)),
      s"expected a map-side partial aggregate:\n$plan")
    val shuffled = plan.collect { case e: ShuffleExchangeExec =>
      e.metrics("shuffleRecordsWritten").value
    }
    assert(shuffled.nonEmpty, s"expected the aggregate exchange:\n$plan")
    // ≤ maps·keys (generous ceiling: 64·5·2), never the ~10k input rows
    assert(shuffled.sum <= 640,
      s"aggregate exchange moved ${shuffled.sum} rows of $nEvents — " +
        "the hot cohort was NOT absorbed map-side")
    assert(nEvents > 5000, s"fixture too small for the witness: $nEvents")
    // and the hot key is really hot: its final row aggregates >40% of
    // the corpus while its reducer received only the per-map partials
    val hot = df.filter(col("zk") === 1L).head()
    assert(hot.getLong(1).toDouble / nEvents > 0.4,
      s"fixture lost its skew: $hot")
  }

  test("ScaleGen copies are join-closed: FK joins scale exactly linearly") {
    import org.apache.spark.sql.functions.col
    val out = s"${sys.props("user.dir")}/target/qtmp/scalegen2x"
    graft.ScaleGen.run(spark, sf, out, 2)
    def cnt(dir: String, a: String, b: String, ka: String, kb: String) =
      spark.read.parquet(s"$dir/$a.parquet")
        .join(spark.read.parquet(s"$dir/$b.parquet"),
          col(ka) === col(kb))
        .count()
    // every copy joins only within itself ⇒ join cardinality is exactly
    // copies × base — the invariant the sf1 measurements depend on
    assert(cnt(out, "orders", "customer", "o_custkey", "c_custkey") ===
      2 * cnt(sf, "orders", "customer", "o_custkey", "c_custkey"))
    assert(cnt(out, "lineitem", "orders", "l_orderkey", "o_orderkey") ===
      2 * cnt(sf, "lineitem", "orders", "l_orderkey", "o_orderkey"))
    assert(cnt(out, "lineitem", "supplier", "l_suppkey", "s_suppkey") ===
      2 * cnt(sf, "lineitem", "supplier", "l_suppkey", "s_suppkey"))
  }
}
