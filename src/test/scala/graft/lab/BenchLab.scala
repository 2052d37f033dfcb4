package graft

/** Scratch harness for isolating bench regressions (not registered).
  * NOTE: never persist() here — CacheManager substitutes matching plan
  * fragments in LATER variants, silently faking their timings. */
object BenchLab {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // the engine config Bench runs (extensions, codegen cache, the `file:`
    // binding) plus Bench's own settings
    val spark = graft.core.GraftSession.local(cpus.toInt, "graft-benchlab",
      Map(
        "spark.sql.shuffle.partitions" -> cpus,
        // data-sized initial shuffle partitions — rationale + A/B numbers
        // on GraftSession.initialShufflePartitions
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
          graft.core.GraftSession.initialShufflePartitions(sfDir, cpus.toInt)
            .toString))
    spark.sparkContext.setLogLevel("ERROR")
    // same ANALYZE step as Bench so lab plans match bench plans
    graft.core.TableStats.analyze(spark, sfDir)

    // deterministic structure probe: jobs + stages per query run
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val completed = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size)
        }
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          completed.incrementAndGet()
          tasks.addAndGet(s.stageInfo.numTasks)
          // shuffle bytes: the window-drift-immune A/B signal — wall
          // clock moves with co-tenant noise, bytes written do not
          shuffleBytes.addAndGet(
            s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
      })

    // r18 optimization round: accept several names in one session so a
    // floor-decomposition sweep pays sbt/session startup once
    val names = if (args.nonEmpty) args.toSeq else Seq("q_taxi_full")
    for (name <- names) {
    def time(runs: Int): Unit = (1 to runs).foreach { i =>
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      System.gc()
      jobs.set(0); stages.set(0); completed.set(0); tasks.set(0)
      shuffleBytes.set(0)
      val t0 = System.nanoTime()
      val df = SparkEntry.defs(name).benched(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      println(f"[lab] $name run$i: $dt%.3f s jobs=${jobs.get} " +
        f"stages=${stages.get} completed=${completed.get} tasks=${tasks.get} " +
        f"shuffleMB=${shuffleBytes.get / 1048576.0}%.1f")
      if (i == runs) {
        val planStr = df.queryExecution.executedPlan.toString
        val reused = planStr.linesIterator.count(_.contains("ReusedExchange")) +
          planStr.linesIterator.count(_.contains("StageReuse"))
        println(s"[lab] final plan ReusedExchange lines: $reused")
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get("target", "plans"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get("target", "plans", s"${name}_final.txt"),
          planStr.getBytes)
      }
    }
    time(3)
    }
    spark.stop()
  }
}
