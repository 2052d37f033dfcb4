package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connected(spark, edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap

  test("chain collapses to its minimum") {
    // path 5-4-3-2-1: worst case for label flooding, log rounds here
    val got = cc(Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L)))
    assert(got === Map(2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("two components stay separate; edge orientation is irrelevant") {
    val got = cc(Seq((1L, 2L), (3L, 2L), (10L, 20L), (30L, 20L), (30L, 10L)))
    assert(got === Map(2L -> 1L, 3L -> 1L, 20L -> 10L, 30L -> 10L))
  }

  test("clique, duplicate edges and self-loops are harmless") {
    val got = cc(Seq((7L, 8L), (8L, 7L), (7L, 9L), (8L, 9L), (9L, 9L), (7L, 8L)))
    assert(got === Map(8L -> 7L, 9L -> 7L))
  }

  test("empty edge set yields empty labeling") {
    assert(cc(Seq.empty).isEmpty)
  }

  test("star roots do not appear as non-root rows") {
    val got = cc(Seq((2L, 1L), (3L, 1L)))
    assert(got === Map(2L -> 1L, 3L -> 1L))
  }

  test("giant component (skewed cluster, round 13): one cluster holding " +
      "most of the corpus resolves correctly and per-round state stays " +
      "aggregate-shaped") {
    // The sf10 skew question (verdict item 7): what happens when one
    // near-dup cluster is a large fraction of the corpus? Fixture: a
    // 50k-node component that is deliberately HUB-SHAPED mid-algorithm
    // (random attachment chains, depth O(log n)) plus scattered pairs.
    // Correctness: every giant-cluster node must label to the minimum.
    // Scale mechanism (why no salting is needed): the only per-key
    // reduction the algorithm does is groupBy(u).min — map-side
    // combinable, so a hot key (the emerging component root, whose
    // in-degree approaches the full cluster size in late rounds)
    // reduces to ONE row per map partition before the exchange; the
    // subsequent join on u fans the min back OUT (one row per edge,
    // no per-key accumulation); and collect-style per-key state is
    // never built. AQE's skew-join split covers the join-side
    // partition imbalance at real scale. This spec pins the
    // correctness half on a genuinely skewed graph; the mechanism
    // audit above is the PLANS.md round-13 note.
    val n = 50000
    val rnd = new scala.util.Random(13)
    // random-attachment tree rooted at 1: node i attaches to a random
    // earlier node — expected depth O(log n), so the contraction needs
    // several genuine rounds rather than one star collapse
    val giant = (2 to n).map(i => (i.toLong, (rnd.nextInt(i - 1) + 1).toLong))
    val pairs = (1 to 200).map(i => (1000000L + 2 * i, 1000001L + 2 * i))
    val edges = rnd.shuffle(giant ++ pairs)
    val got = Components.connected(spark, edges.toDF("src", "dst"))
    val labels = got.as[(Long, Long)].collect().toMap
    (2 to n).foreach(i => assert(labels(i.toLong) === 1L,
      s"giant-cluster node $i mislabeled"))
    pairs.foreach { case (a, b) =>
      assert(labels(b) === a, s"scattered pair ($a,$b) mislabeled") }
    assert(!labels.contains(1L), "root must not appear as a non-root row")
  }

  test("giant-cluster hot-key path (round 14): one cluster holding >50% " +
      "of edges engages the broadcast arm and bounds every shuffled key") {
    // The round-13 verdict's item 3, implemented: one component owns
    // ~2/3 of all edges and is STAR-shaPED from round 1 (every node
    // attached near the root), so the root's key multiplicity is the
    // full cluster size — the exact shape that funnels one reducer in
    // the windowed min. With the threshold forced down, the per-round
    // observer proves (a) the hot arm actually engaged and (b) no key
    // entering the SHUFFLED window ever exceeded the threshold — the
    // per-task bound, since a shuffle task's rows for one key are that
    // key's multiplicity.
    val n = 20000
    val rnd = new scala.util.Random(14)
    // shallow random attachment: node i attaches to one of the first 8
    // nodes — depth 2-ish, root degree ≈ n/8 immediately
    val giant = (2 to n).map(i =>
      (i.toLong, (rnd.nextInt(math.min(i - 1, 8)) + 1).toLong))
    // cold filler: scattered pairs, < 50% of edges
    val pairs = (1 to 5000).map(i => (1000000L + 2 * i, 1000001L + 2 * i))
    assert(giant.size > (giant.size + pairs.size) / 2,
      "fixture must hold >50% of edges in the giant cluster")
    val threshold = 64L
    val stats = scala.collection.mutable.ListBuffer.empty[HotKeys.Stats]
    val got = Components.connected(spark,
      rnd.shuffle(giant ++ pairs).toDF("src", "dst"),
      hotKeyThreshold = threshold,
      observer = Some(stats += _))
    val labels = got.as[(Long, Long)].collect().toMap
    (2 to n).foreach(i => assert(labels(i.toLong) === 1L,
      s"giant-cluster node $i mislabeled"))
    pairs.foreach { case (a, b) =>
      assert(labels(b) === a, s"scattered pair ($a,$b) mislabeled") }
    // (a) the hot arm engaged — the root key is over-threshold from the
    // first large-star round
    assert(stats.exists(_.nHotKeys > 0),
      s"hot-key arm never engaged: $stats")
    // (b) the per-task bound: every key left in the shuffled (cold) arm
    // stayed at or under the threshold, in every round and phase
    stats.foreach { st =>
      assert(st.maxColdDeg <= threshold,
        s"cold-arm key exceeded the salt bound in $st")
    }
  }

  test("hot-key path equals the stock path on arbitrary graphs " +
      "(property, round 14)") {
    // threshold 1 forces EVERY multi-edge key through the broadcast arm
    // every round; both routes run the same round body, so each is also
    // checked against an in-memory union-find (a bug the two routes
    // share would otherwise pass)
    val rnd = new scala.util.Random(41)
    (1 to 3).foreach { trial =>
      val edges = Seq.fill(300)(
        (rnd.nextInt(80).toLong + 1, rnd.nextInt(80).toLong + 1))
      val df = edges.toDF("src", "dst")
      val want = ComponentsPropSpec.unionFind(edges)
      val stock = Components.connected(spark, df)
        .as[(Long, Long)].collect().toMap
      val hot = Components.connected(spark, df, hotKeyThreshold = 1L)
        .as[(Long, Long)].collect().toMap
      assert(stock === want, s"trial $trial: default threshold diverged")
      assert(hot === want, s"trial $trial: threshold 1 diverged")
    }
  }

  test("job budget: at the default threshold an empty hot set runs the " +
      "windowed round body and no detection job") {
    // a 64-node chain plus a 4-clique and a separate pair;
    // the count is the windowed body's: the initial dedup's stages and
    // checksum, per round its AQE stages and one checksum job, and the
    // final collect. A detection aggregate or collect would add jobs.
    val edges = (1L until 64L).map(i => (i + 1, i)) ++
      Seq((100L, 101L), (100L, 102L), (100L, 103L), (101L, 102L),
        (101L, 103L), (102L, 103L), (200L, 201L))
    val df = edges.toDF("src", "dst")
    var got = Map.empty[Long, Long]
    val jobs = jobsOf {
      got = Components.connected(spark, df).as[(Long, Long)].collect().toMap
    }
    assert(got === ComponentsPropSpec.unionFind(edges))
    assert(jobs === 31)
  }
}
