package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative frontier BFS — the Pregel pattern: each level joins the
  * current frontier against the edge list (one shuffle on the node key),
  * anti-joins everything already labeled, and localCheckpoints to cut the
  * growing lineage.
  *
  * The loop exits on an EMPTY FRONTIER instead of always scheduling
  * `maxHops` rounds: at 100 TB a dead round is a full edge-list join that
  * produces nothing, so the emptiness probe (a limit-1 scan of the
  * already-materialized checkpoint, not a recompute) pays for itself the
  * first time a component is exhausted before the hop cap. The minimum
  * work to LEARN the frontier is empty is the join that produces it, so a
  * graph whose reach dies at hop k runs k+1 joins, never `maxHops`.
  *
  * Reference behavior (hop-bounded traversal semantics):
  * `/root/reference/taxi_trips_etl_packages/queries/` has no graph
  * surface; this is part of the training-data-pipeline extension set.
  */
object Bfs {

  /** Final labeling plus how many frontier-expansion joins actually ran —
    * observable so tests (and operators) can assert dead rounds are
    * skipped rather than trust the loop bound. */
  final case class Result(dist: DataFrame, roundsRun: Int)

  /** Multi-source hop distances.
    *
    * Each level's frontier is a lazy localCheckpoint, and its EXACT row
    * count is the one job that materializes it ([[graft.rowCount]]: a
    * count of the checkpoint's RDD, with no aggregate exchange). That
    * count drives a per-level join strategy choice the static planner
    * cannot make (a `LogicalRDD` carries no usable size estimate, so
    * Catalyst plans every level as a full shuffle join of the edge
    * table):
    *
    *   - frontier ≤ `broadcastRowCap` rows → broadcast-hash the frontier
    *     against the edge scan: the (huge) edge table is never shuffled,
    *     which at 100 TB is the difference between a map-side probe and
    *     re-shuffling the full edge list once per hop;
    *   - frontier explosion past the cap → plain shuffle join, the only
    *     shape that still holds when the frontier is itself huge.
    *
    * The labeled set gets the same treatment on the anti-join side
    * (broadcast hash LeftAnti while it fits, shuffle after). This is the
    * standard Pregel-engine trade (GraphFrames/GraphX ship the frontier
    * to the edges while it is small) decided from measured counts, not
    * hints.
    *
    * The loop exits on an empty frontier: a graph whose reach dies at hop
    * k runs k+1 expansion joins, never `maxHops` (dead rounds at 100 TB
    * are full edge joins that produce nothing).
    *
    * @param seeds  one column `node`, distinct seed ids (distance 0)
    * @param edges  columns `a`, `b` — directed pairs; pass both
    *               orientations for an undirected graph
    * @param maxHops inclusive hop cap; `dist` ∈ [0, maxHops]
    * @param broadcastRowCap max rows (~16 B/row) a frontier/labeled set
    *               may have and still broadcast; above it, shuffle join.
    *               Default 1M rows ≈ 16 MB measured best on the 3-hop
    *               entity-graph query (sf0.1 4.5 → 2.1 s with every level
    *               under the cap; raising it to 4M so sf1's ~1.5M-row
    *               frontiers broadcast REGRESSED sf1 9.2 → 11.6 s — a
    *               multi-MB broadcast build+ship per level costs more
    *               than the shuffle it replaces)
    * @param undirected r19: the caller GUARANTEES `edges` holds both
    *               orientations of every edge. Then a neighbor of a
    *               distance-(k−1) node is at distance ≥ k−2 (the
    *               undirected-BFS triangle bound), so the per-level
    *               anti-join only needs the LAST TWO frontiers, not the
    *               whole labeled set — at scale the anti build stops
    *               growing with the reach (O(frontier) instead of O(V)),
    *               and it stays under `broadcastRowCap` far longer. The
    *               bound is FALSE for directed graphs (an edge into a
    *               near-seed node from a far frontier re-labels it), so
    *               this is opt-in. Results identical either way.
    * @param edgesAtHop r19: optional per-hop edge subset — hop k's
    *               expansion join scans `edgesAtHop(k)` instead of the
    *               full relation. The caller must guarantee it is a
    *               SUPERSET of the edges whose source can be in frontier
    *               k−1 (e.g. type-parity in a bipartite entity graph):
    *               rows whose source is never in the frontier cannot
    *               match the join, so pruning them changes only the scan
    *               volume, never the result. Hot-degree detection keeps
    *               the full relation (a superset bound on every hop).
    */
  def distances(seeds: DataFrame, edges: DataFrame, maxHops: Int,
      broadcastRowCap: Long = 1L << 20,
      hotKeyThreshold: Long = HotKeys.DefaultHotKeyThreshold,
      observer: Option[HotKeys.Stats => Unit] = None,
      undirected: Boolean = false,
      edgesAtHop: Option[Int => DataFrame] = None): Result = {
    // lazy checkpoints (round 10): each level's one-job count is its
    // materializer, so no checkpoint runs a job of its own
    var dist = seeds.select(col("node"), lit(0).as("dist"))
      .localCheckpoint(false)
    var distRows = graft.rowCount(dist)
    var frontier = dist.select("node")
    var frontierRows = distRows
    var rounds = 0
    var hop = 1
    // Hub (hot-key) split for the SHUFFLE-joined frontier (round 15,
    // extending Components r14): while the frontier broadcasts, a hub's
    // edges are probed map-side across all edge partitions — no funnel
    // exists. Past the cap the join shuffles EDGES on their source key,
    // and a hub node in the frontier funnels its whole edge list into
    // one reduce task. The split: frontier nodes whose edge-degree
    // exceeds the threshold form a (tiny, bounded) broadcast probe —
    // their edges stay map-side — while the cold frontier keeps the
    // shuffle, per-key multiplicity ≤ threshold by construction.
    // Degrees are computed LAZILY on the first over-cap level (one
    // aggregate of the static edge list, amortized over all later
    // levels; a run that never leaves the broadcast regime — every
    // fixture at the default cap — pays nothing).
    lazy val hotDegreeNodes: Option[DataFrame] = {
      val deg = edges.groupBy("a").agg(count(lit(1)).as("deg"))
      HotKeys.detect(edges.sparkSession, deg, "deg", hotKeyThreshold,
        "BFS frontier join", observer)
    }
    var prevFrontier: Option[DataFrame] = None
    var prevFrontierRows = 0L
    while (hop <= maxHops && frontierRows > 0) {
      // `undirected`: anti against the last two frontiers only (scaladoc
      // bound); otherwise the full labeled set
      val (seenDf, seenRows) =
        if (undirected)
          (prevFrontier.map(frontier.unionAll).getOrElse(frontier),
            frontierRows + prevFrontierRows)
        else (dist.select("node"), distRows)
      val labeled =
        if (seenRows <= broadcastRowCap) broadcast(seenDf) else seenDf
      val ed = edgesAtHop.map(_(hop)).getOrElse(edges)
      // anti-join BEFORE distinct: with `labeled` broadcast the anti is
      // map-side, so the distinct's shuffle carries only genuinely-new
      // nodes — in late levels most candidates are already labeled, and
      // shuffling them just to drop them after was the bigger stream
      val candidates =
        if (frontierRows <= broadcastRowCap)
          broadcast(frontier).join(ed, frontier("node") === ed("a"))
            .select(ed("b").as("node"))
        else hotDegreeNodes match {
          case None =>
            frontier.join(ed, frontier("node") === ed("a"))
              .select(ed("b").as("node"))
          case Some(hk) =>
            val hotKeyed = hk.select(col("a").as("node"))
            val hotFrontier = frontier.join(broadcast(hotKeyed), "node")
            val coldFrontier =
              frontier.join(broadcast(hotKeyed), Seq("node"), "left_anti")
            broadcast(hotFrontier)
              .join(ed, hotFrontier("node") === ed("a"))
              .select(ed("b").as("node"))
              .unionAll(
                coldFrontier
                  .join(ed, coldFrontier("node") === ed("a"))
                  .select(ed("b").as("node")))
        }
      val next = candidates
        .join(labeled, Seq("node"), "left_anti")
        .distinct()
        .withColumn("dist", lit(hop))
        .localCheckpoint(false) // level; cut lineage (count materializes)
      rounds += 1
      val nextRows = graft.rowCount(next)
      if (nextRows > 0) {
        // each LEVEL is checkpointed, so their union has flat lineage —
        // checkpointing the union too would be a second eager
        // materialization of every level per round (job-count A/B at
        // sf1: 33 → 30 jobs, 47 → 44 stages for the 3-hop query;
        // wall-clock parity within this host's window noise)
        dist = dist.union(next)
        distRows += nextRows
        prevFrontier = Some(frontier)
        prevFrontierRows = frontierRows
        frontier = next.select("node")
      }
      frontierRows = nextRows
      hop += 1
    }
    Result(dist, rounds)
  }
}
