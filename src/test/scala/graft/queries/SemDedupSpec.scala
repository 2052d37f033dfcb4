package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorF

/** Semantic pins for `x_semdedup` (SemDeDup-style cluster-then-prune)
  * beyond the DuckDB oracle hash: pair validity against an independent
  * cosine recompute, the survivor law, determinism, and planted-twin
  * behavior on a ScaleGen fixture (twins at cos ≈ 0.95 prune whenever
  * the quantizer co-clusters them — the paper's own recall caveat). */
class SemDedupSpec extends SparkSpec {
  import spark.implicits._

  private def run(dir: String) =
    graft.SparkEntry.queries("x_semdedup")(spark, dir)

  test("x_semdedup fires on the driver fixture and every pruned pair is " +
      "a genuine cosine >= tau lower-id pair") {
    val out = run(sf).select("vec_id", "kept_id", "sim").collect()
    assert(out.nonEmpty, "tau admits no within-cluster pair at sf0.001 — " +
      "the oracle compare would be a trivial 0 = 0")
    assert(out.forall(r => r.getLong(1) < r.getLong(0)))
    assert(out.forall(_.getDouble(2) >= 0.35))
    // recompute each reported sim from the raw embeddings — pins that
    // sim is the cosine of exactly the claimed pair (engine-independent
    // arithmetic, same rounded fold the oracle uses)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val pairs = out.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.toDF("vec_id", "kept_id", "sim")
    val recomputed = pairs
      .join(emb.select(col("vec_id"), col("v").as("va")), "vec_id")
      .join(emb.select(col("vec_id").as("kept_id"), col("v").as("vb")),
        "kept_id")
      .withColumn("sim2", round(VectorF.cosineNative(col("va"), col("vb")), 6))
      .filter(col("sim") =!= col("sim2")).count()
    assert(recomputed === 0L)
  }

  test("x_semdedup is deterministic and the globally smallest vec_id " +
      "always survives") {
    val a = run(sf).collect().toSeq
    val b = run(sf).collect().toSeq
    assert(a === b)
    val minId = spark.read.parquet(s"$sf/embeddings.parquet")
      .agg(min(col("vec_id").cast("long"))).head().getLong(0)
    assert(!a.exists(_.getLong(0) == minId))
  }

  test("the over-cap salted self-join arm equals the broadcast plan " +
      "row-for-row (no driver fixture exceeds the production cap)") {
    val salted = ExtQueries.semDedupImpl(spark, sf, broadcastCap = 0L)
      .collect().toSeq
    val broadcasted = ExtQueries
      .semDedupImpl(spark, sf, broadcastCap = Long.MaxValue)
      .collect().toSeq
    assert(salted === broadcasted)
    assert(salted.nonEmpty)
  }

  test("r16 cluster-count law: K = max(16, ceil(n/target)) — floor on " +
      "small corpora, corpus-proportional past it") {
    assert(ExtQueries.semDedupK(500L, 4096L) === 16L)   // driver fixtures
    assert(ExtQueries.semDedupK(208000L, 4096L) === 51L) // the sf10 point
    assert(ExtQueries.semDedupK(2000000L, 4096L) === 489L)
    assert(ExtQueries.semDedupK(1000000000L, 4096L) === 244141L)
    // the law's purpose: E[|c|] = n/K <= target once off the floor
    for (n <- Seq(100000L, 1000000L, 50000000L))
      assert(n / ExtQueries.semDedupK(n, 4096L) <= 4096L)
  }

  test("r16 E[|c|]-constant law on real clusterings: same target, 4x " +
      "the corpus -> more clusters, same per-vector pair volume") {
    // target=32 forces the scaling regime at fixture sizes (the
    // production 4096 would keep every driver fixture on the K=16
    // floor and the law untested)
    val target = 32L
    def stats(dir: String): (Long, Long, Double) = {
      val (emb, cent, _, k) = ExtQueries.semDedupIndex(spark, dir, None,
        target)
      val sizes = ExtQueries.semDedupAssign(spark, emb, cent, k)
        .groupBy("cluster").count()
        .select(col("count").cast("long")).collect().map(_.getLong(0))
      val n = sizes.sum
      (n, sizes.length.toLong,
        sizes.map(c => c.toDouble * c).sum / n) // Σ|c|²/n per-vector pairs
    }
    val (n1, k1, pv1) = stats(sf)                     // 500 vectors
    val (n2, k2, pv2) = stats("/root/testdata/sf0.1") // 2000 vectors
    assert(n2 === 4 * n1)
    assert(k2 > k1, s"cluster count must grow with the corpus ($k1 -> $k2)")
    // mean cluster size bounded by the target on BOTH scales (requested
    // K >= ceil(n/target); no-empty-clusters is a fixture observation)
    assert(n1 / k1 <= target && n2 / k2 <= target)
    // the quantity that was n/16 under fixed K — the REALIZED per-vector
    // candidate volume Σ|c|²/n — stays ~target as n quadruples
    // (measured 31.9 and 32.4; 2x leaves k-means-imbalance headroom)
    assert(pv1 <= 2 * target && pv2 <= 2 * target,
      s"per-vector pair volume grew: $pv1 -> $pv2 (target $target)")
  }

  test("r16 scaled-K run stays a valid SemDeDup result and the salted " +
      "arm still equals the broadcast arm off the K floor") {
    val dir = "/root/testdata/sf0.1" // target=32 -> K=63 there
    val bc = ExtQueries
      .semDedupImpl(spark, dir, broadcastCap = Long.MaxValue,
        targetClusterSize = 32L).collect().toSeq
    val salted = ExtQueries
      .semDedupImpl(spark, dir, broadcastCap = 0L, targetClusterSize = 32L)
      .collect().toSeq
    assert(salted === bc)
    assert(bc.nonEmpty)
    assert(bc.forall(r => r.getLong(1) < r.getLong(0)))
    assert(bc.forall(_.getDouble(2) >= 0.35))
  }

  test("x_semdedup_incremental (r17): the frozen quantizer round-trips " +
      "through parquet and the probe is bit-identical — the persisted-" +
      "index contract of the daily-production shape") {
    val (emb, cent, split, k) = ExtQueries.semDedupIndex(spark, sf,
      Some(ExtQueries.semDedupIncrSplit))
    val inPlan = ExtQueries
      .semDedupIncrProbe(spark, emb, cent, split, k).collect().toSeq
    val path =
      s"${sys.props("user.dir")}/target/qtmp-test/semdedup_incr_cent"
    cent.write.mode("overwrite").parquet(path)
    val reloaded = spark.read.parquet(path)
      .select(col("cid"), col("cv")) // column order is not part of the contract
    val viaDisk = ExtQueries
      .semDedupIncrProbe(spark, emb, reloaded, split, k).collect().toSeq
    assert(viaDisk === inPlan)
    assert(inPlan.nonEmpty)
    // batch-only contract: every reported row is a batch vector; a
    // pruned vector's partner is strictly older (lower id)
    assert(inPlan.forall(_.getLong(0) >= split))
    assert(inPlan.filter(!_.getBoolean(2))
      .forall(r => r.getLong(1) < r.getLong(0)))
    // keep flag is exactly "dup_of = -1"
    assert(inPlan.forall(r => r.getBoolean(2) === (r.getLong(1) == -1L)))
  }

  test("x_semdedup prunes ScaleGen-planted cos~0.95 twins when " +
      "co-clustered (recall floor on the planted fixture)") {
    val out = s"${sys.props("user.dir")}/target/qtmp-test/semdedup_planted"
    graft.ScaleGen.run(spark, sf, out, 2)
    val copies = 2
    val baseMax = spark.read.parquet(s"$sf/embeddings.parquet")
      .agg(max(col("vec_id").cast("long"))).head().getLong(0)
    val offset = (baseMax + 1) * copies
    val twins = spark.read.parquet(s"$out/embeddings.parquet")
      .filter(col("vec_id") < offset &&
        pmod(col("vec_id"), lit(graft.ScaleGen.PlantEvery)) === 0)
      .select((col("vec_id") + offset).as("twin_id"))
      .as[Long].collect().toSet
    assert(twins.nonEmpty)
    val pruned = run(out).select("vec_id").as[Long].collect().toSet
    // a twin pair prunes IFF the quantizer lands both in one cluster —
    // SemDeDup's documented recall limitation. Measured 0.975 on this
    // fixture (39/40 twins co-clustered); 0.7 leaves layout-noise
    // headroom without letting the mechanism silently degrade.
    val recall = twins.count(pruned.contains).toDouble / twins.size
    assert(recall >= 0.7,
      s"planted-twin recall $recall over ${twins.size} twins")
  }

  // ------------------- r18: stage-2 arms + widened bits -------------------

  /** Mirrors EuclideanDist's left-to-right fold and the packed argmin's
    * quantization exactly: round(l2, 6) HALF_UP, ·10⁶, round to long. */
  private def distQRef(a: Array[Double], b: Array[Double]): Long = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
    val r6 = BigDecimal(math.sqrt(acc))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    BigDecimal(r6 * 1000000.0)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
  }

  test("r18: stage-2 shuffle arm equals the broadcast arm on a real " +
      "scaled-K clustering (injected threshold forces the shuffle join)") {
    val dir = "/root/testdata/sf0.1"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .localCheckpoint()
    val k = ExtQueries.semDedupK(emb.count(), 32L) // 63 — off the floor
    assert(k > 16L)
    val cent = emb.filter(col("vec_id") >= k && col("vec_id") < 2 * k)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val nSup = math.ceil(math.sqrt(k.toDouble)).toLong
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val bc = ExtQueries.assignClustersTwoLevel(emb, cent, nSup, k)
        .orderBy("vec_id").collect().toSeq
      val sh = ExtQueries
        .assignClustersTwoLevel(emb, cent, nSup, k, stage2BroadcastMaxK = 0L)
        .orderBy("vec_id").collect().toSeq
      assert(sh === bc)
      assert(bc.nonEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("r18 forced-law: synthetic K >= 1e5 takes the shuffle stage-2 arm " +
      "organically and matches an engine-independent restatement of the " +
      "two-level rule") {
    val k = 120000L
    assert(k > ExtQueries.Stage2BroadcastMaxK)
    def vecCol(id: org.apache.spark.sql.Column) = array(
      pmod(id, lit(97L)).cast("double") / lit(97.0),
      pmod(id * 31L, lit(89L)).cast("double") / lit(89.0))
    def vecRef(id: Long): Array[Double] =
      Array((id % 97).toDouble / 97.0, ((id * 31) % 89).toDouble / 89.0)
    val emb = spark.range(0L, 40L)
      .select(col("id").as("vec_id"), vecCol(col("id")).as("v"))
    val cent = spark.range(k, 2 * k)
      .select(col("id").as("cid"), vecCol(col("id")).as("cv"))
    val got = ExtQueries
      .assignClustersTwoLevel(emb, cent,
        math.ceil(math.sqrt(k.toDouble)).toLong, k)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: the exact two-level rule in plain Scala — ⌈√K⌉
    // lowest-cid supers, child→nearest-super, vector→two nearest
    // supers, argmin over those supers' children; (distQ, id)
    // lexicographic everywhere (= the packed-long min)
    val cents = (k until 2 * k).map(c => c -> vecRef(c)).toArray
    val nSup = math.ceil(math.sqrt(k.toDouble)).toInt
    val sups = cents.take(nSup) // already cid-ascending
    def argmin[T](xs: Iterator[(Long, Long)]): Long = // (key, distQ)
      xs.minBy { case (id, dq) => (dq, id) }._1
    // the modular law yields <= 97*89 distinct child vectors; the best
    // (distQ, scid) super is a function of the VECTOR alone, so memoize
    // per distinct value instead of 120k x 347 BigDecimal roundings
    def keyOf(id: Long): (Long, Long) = (id % 97, (id * 31) % 89)
    val bestSupByKey: Map[(Long, Long), Long] = cents
      .map { case (cid, _) => keyOf(cid) }.distinct.map { kk =>
        val cv = Array(kk._1.toDouble / 97.0, kk._2.toDouble / 89.0)
        kk -> argmin(sups.iterator.map { case (sc, sv) =>
          (sc, distQRef(cv, sv)) })
      }.toMap
    val childSup: Map[Long, Long] = cents.map { case (cid, _) =>
      cid -> bestSupByKey(keyOf(cid))
    }.toMap
    val children: Map[Long, Array[(Long, Array[Double])]] =
      cents.groupBy { case (cid, _) => childSup(cid) }
    for (vid <- 0L until 40L) {
      val v = vecRef(vid)
      val byDist = sups.map { case (sc, sv) => (sc, distQRef(v, sv)) }
        .sortBy { case (sc, dq) => (dq, sc) }
      val probed = byDist.take(2).map(_._1)
      val expect = argmin(probed.iterator
        .flatMap(sc =>
          children.getOrElse(sc, Array.empty[(Long, Array[Double])]))
        .map { case (cid, cv) => (cid, distQRef(v, cv)) })
      assert(got(vid) === expect, s"vec $vid")
    }
  }

  test("r18: the packed-argmin key widens past 2^19 clusters — the r17 " +
      "require abort is gone and assignment stays exact at 21-bit cids") {
    val k = 1L << 20 // cidBits = 21; the r17 code required 2K < 2^20
    def vecCol(id: org.apache.spark.sql.Column) = array(
      pmod(id, lit(97L)).cast("double") / lit(97.0),
      pmod(id * 31L, lit(89L)).cast("double") / lit(89.0))
    def vecRef(id: Long): Array[Double] =
      Array((id % 97).toDouble / 97.0, ((id * 31) % 89).toDouble / 89.0)
    val emb = spark.range(0L, 40L)
      .select(col("id").as("vec_id"), vecCol(col("id")).as("v"))
    // 64 centroids on a SPARSE id lattice inside [K, 2K): nSup = 1024 >=
    // 64 makes every (distinct-vector) child its own super, so the
    // two-level rule degenerates to the flat argmin — an
    // engine-independent reference that any packing corruption breaks
    val cent = spark.range(0L, 64L)
      .select((lit(k) + col("id") * 16000L).as("cid"),
        vecCol(lit(k) + col("id") * 16000L).as("cv"))
    val got = ExtQueries
      .assignClustersTwoLevel(emb, cent,
        math.ceil(math.sqrt(k.toDouble)).toLong, k)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cents = (0L until 64L).map(i => (k + i * 16000L))
      .map(c => c -> vecRef(c))
    for (vid <- 0L until 40L) {
      val v = vecRef(vid)
      val expect = cents.map { case (cid, cv) => (cid, distQRef(v, cv)) }
        .minBy { case (cid, dq) => (dq, cid) }._1
      assert(got(vid) === expect, s"vec $vid")
    }
    // the width law itself, plus the loud ceiling
    assert(ExtQueries.cidBitsFor(16L) === 20)
    assert(ExtQueries.cidBitsFor(524288L) === 20) // 2K-1 = 2^20 - 1 still fits
    assert(ExtQueries.cidBitsFor(524289L) === 21) // the first widened K
    assert(ExtQueries.cidBitsFor(50000000L) === 27) // K at ~2e11 vectors
    intercept[IllegalArgumentException](ExtQueries.cidBitsFor(1L << 39))
  }

  test("r18 ADVICE: the incremental probe's salted arm (past the batch " +
      "broadcast cap) equals the broadcast arm row-for-row") {
    val (emb, cent, split, k) = ExtQueries.semDedupIndex(spark, sf,
      Some(ExtQueries.semDedupIncrSplit))
    val bc = ExtQueries.semDedupIncrProbe(spark, emb, cent, split, k)
      .collect().toSeq
    val salted = ExtQueries
      .semDedupIncrProbe(spark, emb, cent, split, k, broadcastCap = 0L)
      .collect().toSeq
    assert(salted === bc)
    assert(bc.nonEmpty)
  }

  test("r18: cross-boundary planted twins — the frozen-quantizer " +
      "incremental probe recovers batch twins whose original sits in " +
      "the index (the miss mode is routing to an unprobed cluster)") {
    val out = s"${sys.props("user.dir")}/target/qtmp-test/semdedup_incr_pl"
    graft.ScaleGen.run(spark, sf, out, 2)
    val baseMax = spark.read.parquet(s"$sf/embeddings.parquet")
      .agg(max(col("vec_id").cast("long"))).head().getLong(0)
    val offset = (baseMax + 1) * 2
    val total = spark.read.parquet(s"$out/embeddings.parquet").count()
    val split = ExtQueries.semDedupIncrSplit(total)
    // twins are the appended top-id rows — all in the batch; their
    // originals below the split are the cross-boundary pairs
    assert(offset >= split, "planted twins must land in the batch")
    val cross = spark.read.parquet(s"$out/embeddings.parquet")
      .filter(col("vec_id") < split &&
        pmod(col("vec_id"), lit(graft.ScaleGen.PlantEvery)) === 0)
      .select((col("vec_id") + offset).as("twin_id"))
      .as[Long].collect().toSet
    assert(cross.nonEmpty)
    val res = graft.SparkEntry.queries("x_semdedup_incremental")(spark, out)
      .filter(!col("keep")).select("vec_id").as[Long].collect().toSet
    val recall = cross.count(res.contains).toDouble / cross.size
    assert(recall >= 0.7,
      s"cross-boundary twin recall $recall over ${cross.size} twins")
  }
}
