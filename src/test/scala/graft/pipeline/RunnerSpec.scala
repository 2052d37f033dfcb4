package graft.pipeline

import graft.SparkSpec
import graft.core.Catalog

class RunnerSpec extends SparkSpec {

  private def freshCatalog(): Catalog = new Catalog(spark, tempDir("wh_test"))

  test("runner executes stages in order") {
    var order = Vector.empty[String]
    val ran = Runner.run(freshCatalog(), Seq(
      Stage("a", { _ => order :+= "a"; true }),
      Stage("b", { _ => order :+= "b"; true }),
      Stage("c", { _ => order :+= "c"; true })))
    assert(ran === Seq("a", "b", "c"))
    assert(order === Vector("a", "b", "c"))
  }

  test("short-circuit gate (C2): false halts downstream stages") {
    var cRan = false
    val ran = Runner.run(freshCatalog(), Seq(
      Stage("ingest", _ => true),
      Stage("gate", _ => false),
      Stage("never", { _ => cRan = true; true })))
    assert(ran === Seq("ingest", "gate"))
    assert(!cRan)
  }

  test("a short-circuited run leaves the caller's job description as it " +
      "was") {
    val sc = spark.sparkContext
    for (desc <- Seq("the caller's own jobs", null)) {
      sc.setJobDescription(desc)
      try {
        assert(Runner.run(freshCatalog(), Seq(Stage("gate", _ => false),
          Stage("never", _ => true))) === Seq("gate"))
        assert(sc.getLocalProperty(
          "spark.job.description") === desc)
      } finally sc.setJobDescription(null)
    }
  }

  test("empty-day gate (C2): ingest returns false on a missing date path") {
    val cat = freshCatalog()
    val missing = s"${cat.warehouseDir}/no_such_src"
    assert(TaxiPipeline.ingest(missing, "2099-01-01").run(cat) === false)
    assert(!cat.exists("temp_trips"))
  }

  /** Lays out the `events` rows of `ds` from fixture `dir` as the day's
    * `part-*` directory under `base`; `keep = false` writes the part file
    * with no rows. Runs on the shared session. */
  private def writeDay(base: String, ds: String, keep: Boolean = true,
                       dir: String = sf): Unit = {
    import org.apache.spark.sql.functions._
    val Array(y, m, d) = ds.split("-")
    graft.eventsTbl(spark, dir)
      .filter(to_date(col("ts")) === lit(ds).cast("date") && lit(keep))
      .coalesce(1).write.parquet(s"$base/$y/$m/$d")
  }

  test("empty-day gate (C2): a day with part files but no rows stops the " +
      "staged run after ingest") {
    val cat = freshCatalog()
    val src = tempDir("zsrc_test")
    writeDay(src, "2024-01-06", keep = false)
    val ran = Runner.run(cat,
      TaxiPipeline.stages(spark, sf, src, "2024-01-06"))
    assert(ran === Seq("ingest")) // normalize never runs
    assert(cat.tables() === Seq("temp_trips"))
    assert(cat.load("temp_trips").count() === 0L)
  }

  /** Spark jobs started under the Runner's stage job groups
    * (`graft-stage-<stage>-<nanos>`) while `body` runs on this thread,
    * counted per stage ([[jobGroupsOf]]; the stage threads inherit its
    * local properties). */
  private def stageJobs(body: => Unit): Map[String, Int] =
    jobGroupsOf(body).filter(_.startsWith("graft-stage-"))
      .map { g => val st = g.stripPrefix("graft-stage-")
        st.take(st.lastIndexOf('-')) }
      .groupBy(identity).map { case (st, js) => st -> js.size }

  test("job budget: a staged day runs 6 Spark jobs at the sf0.1 and the " +
      "sf0.001 day size once its session has built the zone map, and " +
      "loading a catalog-written table runs none") {
    val ds = "2024-01-05"
    // sf0.1 days hold ~3,300 rows, the benchmark's day size; sf0.001 days
    // ~30. ingest: the write, which also counts the C2 gate rows (the
    // day's schema is read from a footer on the driver); normalize: the
    // write (its read goes through the pin); enrich: the identity
    // window's exchange and the write; final_result: the pair-count
    // exchange and the write. The zone map is one more enrich job, run
    // on the first day a session uses the `nation`; a new session makes
    // that day known here whatever other suites ran before.
    def dayJobs(s: org.apache.spark.sql.SparkSession,
        dir: String): (Catalog, Map[String, Int]) = {
      val cat = new Catalog(s, tempDir("wh_test"))
      val src = tempDir("jsrc_test")
      writeDay(src, ds, dir = dir)
      cat -> stageJobs {
        assert(Runner.run(cat, TaxiPipeline.stages(s, dir, src, ds))
          .size === 4)
      }
    }
    val budget = Map("ingest" -> 1, "normalize" -> 1, "enrich" -> 2,
      "final_result" -> 2)
    val (cat, jobs) = Seq(sf, fixture("sf0.1")).map { dir =>
      val s = spark.newSession()
      assert(dayJobs(s, dir)._2 === budget + ("enrich" -> 3))
      val (cat, jobs) = dayJobs(s, dir)
      assert(jobs === budget)
      (cat, jobs)
    }.last
    assert(jobs.values.sum === 6)
    def loadJobs(table: String): Int = stageJobs {
      Runner.run(cat, Seq(Stage("load", { c => c.load(table); true })))
    }.values.sum
    assert(loadJobs(s"most_populars_${TaxiPipeline.dsNoDash(ds)}") === 0)
    // control: a table written outside the catalog has no pin, so its
    // read infers, and the counter must see that job
    import spark.implicits._
    Seq(1L).toDF("x").write.parquet(s"${cat.warehouseDir}/outside")
    assert(loadJobs("outside") === 1)
  }

  test("ds check: an unpadded or undashed date is refused before any job") {
    val src = tempDir("dsrc_test")
    // 2024-11-5 and 2024-1-15 would both name most_populars_2024115
    for (ds <- Seq("2024-11-5", "2024-1-15", "20240105", "2024-02-30")) {
      intercept[IllegalArgumentException](
        TaxiPipeline.stages(spark, sf, src, ds))
      intercept[IllegalArgumentException](
        TaxiPipeline.fusedObserved(spark, sf, src, ds))
    }
    assert(TaxiPipeline.checkDs("2024-01-05") === "2024-01-05")
  }

  test("existence gate (C3): normalize skips when temp_trips is missing") {
    val cat = freshCatalog()
    assert(!cat.exists("temp_trips"))
    assert(TaxiPipeline.normalize.run(cat) === false)
    assert(!cat.exists("normalized_trips"))
  }

  private val fastPolicy = RetryPolicy(
    retries = 1,
    retryDelay = scala.concurrent.duration.Duration(10, "ms"),
    timeout = scala.concurrent.duration.Duration(30, "s"))

  test("retry policy (C5): a stage that fails once succeeds on retry") {
    var calls = 0
    var downstream = false
    val ran = Runner.run(freshCatalog(), Seq(
      Stage("flaky", { _ =>
        calls += 1
        if (calls == 1) sys.error("transient")
        true
      }),
      Stage("after", { _ => downstream = true; true })), fastPolicy)
    assert(calls === 2)
    assert(ran === Seq("flaky", "after"))
    assert(downstream)
  }

  test("retry policy (C5): exhausted retries fail the run and halt") {
    var calls = 0
    var downstream = false
    val e = intercept[StageFailedException] {
      Runner.run(freshCatalog(), Seq(
        Stage("broken", { _ => calls += 1; sys.error("always") }),
        Stage("never", { _ => downstream = true; true })), fastPolicy)
    }
    assert(e.stage === "broken")
    assert(calls === 2) // initial attempt + 1 retry, like the reference
    assert(!downstream)
  }

  test("execution timeout (C5): a hung stage times out, retries, fails") {
    var calls = 0
    val policy = fastPolicy.copy(
      timeout = scala.concurrent.duration.Duration(200, "ms"))
    val e = intercept[StageFailedException] {
      Runner.run(freshCatalog(), Seq(
        Stage("hung", { _ =>
          calls += 1
          try Thread.sleep(60000) catch { case _: InterruptedException => }
          true
        })), policy)
    }
    assert(e.stage === "hung")
    assert(e.getCause.isInstanceOf[StageTimeoutException])
    assert(calls === 2)
  }

  test("execution timeout over a STREAMING stage (C5, round 13): the " +
      "hung query is torn down before the retry, not leaked") {
    // Job-group cancellation cannot reach a streaming query's jobs
    // (StreamExecution submits them under its own group), so the Runner
    // must stop queries the attempt started. The stage starts a file
    // stream with a slow ProcessingTime trigger and blocks in
    // awaitTermination (never terminates on its own), the policy times
    // it out twice, and afterwards NO active query may remain in the
    // session — a leaked stream would also poison every later test in
    // this suite's shared session.
    val srcDir = tempDir("stream_hang")
    import spark.implicits._
    Seq(1L, 2L).toDF("x").write.mode("overwrite").parquet(srcDir)
    val before = spark.streams.active.length
    var starts = 0
    val policy = fastPolicy.copy(
      timeout = scala.concurrent.duration.Duration(2, "s"))
    val e = intercept[StageFailedException] {
      Runner.run(freshCatalog(), Seq(
        Stage("hung_stream", { c =>
          starts += 1
          val schema = c.spark.read.parquet(srcDir).schema
          val q = c.spark.readStream.schema(schema).parquet(srcDir)
            .writeStream.format("noop")
            .trigger(org.apache.spark.sql.streaming.Trigger
              .ProcessingTime("1 hour"))
            .start()
          q.awaitTermination() // hangs until torn down
          true
        })), policy)
    }
    assert(e.stage === "hung_stream")
    assert(e.getCause.isInstanceOf[StageTimeoutException])
    assert(starts === 2, "retry must have run a second attempt")
    // the teardown must be synchronous enough that nothing is left
    // running once the runner has thrown
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (spark.streams.active.length > before &&
        System.nanoTime() < deadline) Thread.sleep(50)
    assert(spark.streams.active.length === before,
      s"leaked streaming queries: ${
        spark.streams.active.map(_.name).mkString(", ")}")
  }

  test("fusedRun (round 15): ONE action runs gate + chain + staging " +
      "write; commit only when the observed C2 gate passes") {
    import org.apache.spark.sql.functions._
    val s = spark.newSession()
    val cat = new Catalog(s, tempDir("wh_test"))
    val base = tempDir("fsrc_test")
    val ds = "2024-01-05"
    // fixture write runs on the OUTER shared session deliberately (r16
    // verdict item 1): ExecutionListenerBus delivers only events whose
    // QueryExecution belongs to the registering session, so actions on
    // `spark` — this setup write, other suites' stragglers — can never
    // land in `s`'s counting window even though listener delivery is
    // async. Every event the listener below sees is an action of `s`,
    // and between registration and the marker the only code running
    // actions on `s` is fusedRun itself.
    writeDay(base, ds)
    // session-scoped action counter: the single-action claim is the
    // point of the design (the old form ran a limit-1 gate count PLUS
    // the write — two actions)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    s.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            d: Long): Unit = plans.add(qe.analyzed.toString)
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      })
    val committed = TaxiPipeline.fusedRun(s, sf, base, ds, cat)
    assert(committed === Some("most_populars_20240105"))
    assert(cat.exists("most_populars_20240105"))
    assert(cat.tables() === Seq("most_populars_20240105")) // no staging
    // deterministic quiescence (no sleep guessing): the listener bus is
    // FIFO per listener, so once this marker action's own event has
    // been delivered, every event fusedRun produced on `s` is already
    // in `plans` — then the count must be exactly marker + 1
    val markerTag = "graft_runner_marker"
    s.range(1).select(lit(1).as(markerTag)).collect()
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def seenMarker() =
      plans.toArray(Array.empty[String]).exists(_.contains(markerTag))
    while (!seenMarker() && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(seenMarker(), "marker action event never delivered")
    val counted = plans.toArray(Array.empty[String])
      .filterNot(_.contains(markerTag))
    assert(counted.length === 1,
      s"fusedRun must be a single Spark action, saw ${counted.length}:\n" +
        counted.map(_.linesIterator.take(3).mkString(" | "))
          .mkString("\n"))
    // committed content equals the uncommitted fused plan (itself
    // oracle-equal to the staged chain via c_pipeline_fused)
    val cols = Seq("popularity", "route_pickup", "route_dropoff",
      "top_dropoff", "top_pickup")
    val viaPlan = TaxiPipeline.fusedObserved(s, sf, base, ds).map(_._1).get
      .orderBy(cols.map(col): _*).collect().toSeq
    assert(cat.load("most_populars_20240105")
      .orderBy(cols.map(col): _*).collect().toSeq === viaPlan)
    // zero-ROW day (files exist): observed gate short-circuits — no
    // table, no staging residue
    graft.eventsTbl(s, sf).filter(lit(false))
      .coalesce(1).write.parquet(s"$base/2024/01/06")
    assert(TaxiPipeline.fusedRun(s, sf, base, "2024-01-06", cat) === None)
    assert(cat.tables() === Seq("most_populars_20240105"))
    assert(!cat.exists("_staging_most_populars_20240106"))
    // absent day dir: metadata gate, no job at all
    assert(TaxiPipeline.fusedRun(s, sf, base, "2099-01-01", cat) === None)
  }

  test("catalog lifecycle: truncate/append/exists/drop (S5–S8)") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.save("t", Seq(1, 2).toDF("x"))
    cat.append("t", Seq(3).toDF("x"))
    assert(cat.exists("t"))
    assert(cat.load("t").count() === 3)
    cat.save("t", Seq(9).toDF("x")) // truncate semantics
    assert(cat.load("t").count() === 1)
    cat.drop("t")
    assert(!cat.exists("t"))
    assert(cat.tables().isEmpty)
  }
}
