package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The iterative graph loops must not burn dead rounds: BFS exits on an
  * empty frontier, PageRank stops at an exact integer fixpoint — and both
  * expose enough state (rounds run / delta trace) to assert it. */
class GraphIterSpec extends SparkSpec {
  import spark.implicits._

  private def und(edges: Seq[(String, String)]) = {
    val fwd = edges.toDF("a", "b")
    fwd.union(fwd.select(col("b").as("a"), col("a").as("b")))
  }

  test("BFS on a 1-hop graph runs 2 joins (discover + emptiness witness), not maxHops") {
    val r = Bfs.distances(Seq("s1").toDF("node"),
      und(Seq("s1" -> "x1", "s1" -> "x2")), maxHops = 5)
    assert(r.roundsRun === 2) // round 3..5 never scheduled
    assert(r.dist.as[(String, Int)].collect().toMap ===
      Map("s1" -> 0, "x1" -> 1, "x2" -> 1))
  }

  test("BFS hop cap still binds when reach continues") {
    val chain = und(Seq("a" -> "b", "b" -> "c", "c" -> "d"))
    val r = Bfs.distances(Seq("a").toDF("node"), chain, maxHops = 1)
    assert(r.roundsRun === 1)
    assert(r.dist.as[(String, Int)].collect().toMap ===
      Map("a" -> 0, "b" -> 1))
  }

  test("BFS with no seeds schedules zero rounds") {
    val r = Bfs.distances(Seq.empty[String].toDF("node"),
      und(Seq("a" -> "b")), maxHops = 3)
    assert(r.roundsRun === 0)
    assert(r.dist.isEmpty)
  }

  test("job budget: a BFS level is its broadcast stage and one count job") {
    // a 30-node undirected chain, seeds at both ends, 3 levels: the
    // seeds' count; per level its broadcast and shuffle stages and one
    // count job, which materializes the level's lazy checkpoint (a
    // `Dataset.count()` would add a second); the final collect
    val chain = und((0 until 29).map(i => s"n$i" -> s"n${i + 1}"))
    var got = Map.empty[String, Int]
    val jobs = jobsOf {
      got = Bfs.distances(Seq("n0", "n29").toDF("node"), chain, maxHops = 3)
        .dist.as[(String, Int)].collect().toMap
    }
    assert(got === (0 to 3).flatMap(d =>
      Seq(s"n$d" -> d, s"n${29 - d}" -> d)).toMap)
    assert(jobs === 13)
  }

  test("BFS shuffle arm (cap 0) labels identically to the broadcast arm") {
    // diamond + tail: multiple discovery paths, dup candidates per level
    val g = und(Seq("a" -> "b", "a" -> "c", "b" -> "d", "c" -> "d",
      "d" -> "e"))
    val seeds = Seq("a").toDF("node")
    val bcast = Bfs.distances(seeds, g, maxHops = 3)
    val shuffle = Bfs.distances(seeds, g, maxHops = 3, broadcastRowCap = 0)
    assert(bcast.roundsRun === shuffle.roundsRun)
    assert(shuffle.dist.as[(String, Int)].collect().toMap ===
      bcast.dist.as[(String, Int)].collect().toMap)
    assert(bcast.dist.as[(String, Int)].collect().toMap ===
      Map("a" -> 0, "b" -> 1, "c" -> 1, "d" -> 2, "e" -> 3))
  }

  test("BFS per-hop edge subsets label identically to the full relation") {
    // bipartite L={a,c,e} / R={b,d}: hop parity determines which side the
    // frontier is on, so per-hop pruning to that side's out-edges is a
    // valid superset of the matchable rows — the r19 x_shortest_path move
    val lr = Seq("a" -> "b", "c" -> "b", "c" -> "d", "e" -> "d")
    val fwd = lr.toDF("a", "b")
    val rev = fwd.select(col("b").as("a"), col("a").as("b"))
    val full = fwd.union(rev)
    val seeds = Seq("a").toDF("node")
    val pruned = Bfs.distances(seeds, full, maxHops = 4, undirected = true,
      edgesAtHop = Some(h => if (h % 2 == 1) fwd else rev))
    val stock = Bfs.distances(seeds, full, maxHops = 4)
    assert(pruned.dist.as[(String, Int)].collect().toMap ===
      stock.dist.as[(String, Int)].collect().toMap)
    assert(stock.dist.as[(String, Int)].collect().toMap ===
      Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 3, "e" -> 4))
  }

  test("PageRank stops at the exact integer fixpoint with identical ranks") {
    val nodes = Seq(0L, 1L, 2L).toDF("node")
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    // no edges: iteration 1 drops every rank to the base 150000; iteration
    // 2 reproduces it exactly -> delta 0 -> iterations 3..5 skipped
    val (ranks, deltas) = graft.queries.GraphQueries
      .pageRankLoop(nodes, edges, iters = 5)
    assert(deltas === Seq(3L * 850000L, 0L))
    assert(ranks.as[(Long, Long)].collect().toMap ===
      Map(0L -> 150000L, 1L -> 150000L, 2L -> 150000L))
  }

  test("PageRank hub split (round 15): broadcast-hot arm equals the " +
      "stock plan, cold-arm degree bounded, detection observed") {
    // Zipf-degree hub: node 0 fans out to 1..200 (degree 200); a sparse
    // cold tail chains 1->2->...->12 (degree ≤ 1 each). Threshold 50
    // forces ONLY the hub onto the broadcast arm.
    val nodes = (0L to 200L).toDF("node")
    val hub = (1L to 200L).map(0L -> _)
    val tail = (1L to 12L).map(i => i -> (i + 1))
    val edges = (hub ++ tail).toDF("src", "dst")
    val stock = graft.queries.GraphQueries
      .pageRankLoop(nodes, edges, iters = 3)
    var stats: Option[HotKeys.Stats] = None
    val (ranks, deltas) = graft.queries.GraphQueries.pageRankLoop(
      nodes, edges, iters = 3, hotKeyThreshold = 50,
      observer = Some(s => stats = Some(s)))
    assert(stats === Some(HotKeys.Stats(nHotKeys = 1, maxColdDeg = 1)),
      "exactly the hub takes the broadcast arm; every shuffled key's " +
        "multiplicity is bounded by its degree ≤ 1")
    assert(deltas === stock._2)
    assert(ranks.as[(Long, Long)].collect().toMap ===
      stock._1.as[(Long, Long)].collect().toMap)
  }

  test("BFS hub split (round 15): over-cap shuffle levels route the " +
      "hub through the broadcast arm, identical labeling") {
    // same hub shape; seeds reach the hub at hop 1 so the hub node IS in
    // an over-cap frontier (cap 0 forces every level down the shuffle
    // branch, the round-14 equality test's trick)
    val hub = (1L to 200L).map(0L -> _)
    val tail = (1L to 12L).map(i => i -> (i + 1))
    val fwd = (hub ++ tail).toDF("a", "b")
    val g = fwd.union(fwd.select(col("b").as("a"), col("a").as("b")))
    val seeds = Seq(5L).toDF("node")
    val stock = Bfs.distances(seeds, g, maxHops = 3)
    var stats: Option[HotKeys.Stats] = None
    val split = Bfs.distances(seeds, g, maxHops = 3, broadcastRowCap = 0,
      hotKeyThreshold = 50, observer = Some(s => stats = Some(s)))
    // undirected doubling: hub degree 200 out + ~? in; nodes 1..12 have
    // degree ≤ 4 — only the hub crosses the threshold
    assert(stats.exists(s => s.nHotKeys === 1 && s.maxColdDeg <= 50),
      s"expected exactly the hub hot: $stats")
    assert(split.roundsRun === stock.roundsRun)
    assert(split.dist.as[(Long, Int)].collect().toMap ===
      stock.dist.as[(Long, Int)].collect().toMap)
  }

  test("PageRank surfaces a full delta trace when it never converges") {
    // asymmetric 3-cycle: rank mass keeps sloshing between the hub and
    // the two spokes, so no exact fixpoint within the iteration budget
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    val edges = Seq(1L -> 2L, 2L -> 1L, 1L -> 3L, 3L -> 1L)
      .toDF("src", "dst")
    val (_, deltas) = graft.queries.GraphQueries
      .pageRankLoop(nodes, edges, iters = 3)
    assert(deltas.length === 3)
    assert(deltas.forall(_ > 0L))
  }
}
