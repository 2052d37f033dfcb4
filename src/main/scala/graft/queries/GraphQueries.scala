package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tbl
import graft.ops.{Bfs, Components, HotKeys}

/** Graph-shaped corpus operators: near-duplicate *cluster resolution*.
  *
  * LSH pair generation ([[ExtQueries]] `x_minhash_lsh_pairs`) yields
  * edges; deduplication needs the transitive closure — if A~B and B~C,
  * all three are one duplicate cluster and a single keeper survives.
  * That closure is connected components over the candidate graph,
  * computed with the O(log² n)-round alternating-star algorithm
  * ([[graft.ops.Components]]) — the piece that turns a pair list into an
  * actionable dedup verdict at 100 TB, where clusters can chain far
  * beyond direct pair reach.
  *
  * Oracle: DuckDB computes the same closure with a recursive CTE
  * (min-label flooding) over the identical candidate-pair CTE chain
  * ([[ExtQueries.lshCandCtes]]) — an independent algorithm arriving at
  * the same fixpoint, which checks the Spark side's contraction logic
  * rather than mirroring it.
  */
object GraphQueries {

  /** Per-document duplicate-cluster assignment: component id = min doc_id
    * reachable through LSH candidate pairs, cluster size, and the
    * keep/drop verdict (keeper = the component minimum). Docs with no
    * near-dup candidates are their own singleton component. */
  private def dedupComponents(s: SparkSession, dir: String,
      hotKeyThreshold: Long =
        HotKeys.DefaultHotKeyThreshold): DataFrame = {
    val (_, cand) = ExtQueries.lshCandParts(s, dir)
    val comp = Components.connected(s,
      cand.select(col("doc_a").as("src"), col("doc_b").as("dst")),
      hotKeyThreshold)
    val docs = tbl(s, dir, "documents").select(col("doc_id"))
    val labeled = docs
      .join(comp, docs("doc_id") === comp("node"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
    val sizes = labeled.groupBy("component")
      .agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "component")
      .select(col("doc_id"), col("component"), col("cluster_size"),
        (col("doc_id") === col("component")).as("is_keeper"))
  }

  private val dedupComponentsSql =
    s"""WITH RECURSIVE ${ExtQueries.lshCandCtes},
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM cand
       |  UNION ALL
       |  SELECT doc_b AS u, doc_a AS v FROM cand
       |), reach(node, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.node = e.v
       |), comp AS (
       |  SELECT node AS doc_id, min(lbl) AS component
       |  FROM reach GROUP BY node
       |), sizes AS (
       |  SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
       |  FROM comp GROUP BY component
       |)
       |SELECT c.doc_id, c.component, s.cluster_size,
       |       c.doc_id = c.component AS is_keeper
       |FROM comp c JOIN sizes s USING (component)
       |ORDER BY doc_id""".stripMargin

  // ------------------------ BFS shortest path -----------------------------

  /** Multi-source BFS over the customer–order–supplier entity graph
    * (undirected; nodes namespaced `c…`/`o…`/`s…`): hop distance from the
    * seed customers (custkey ≡ 0 mod 500) out to 3 hops. The Spark side
    * is frontier iteration — each level joins the frontier against the
    * edge list (one shuffle on the node key), anti-joins everything
    * already labeled, and checkpoints, which is the Pregel pattern that
    * holds at 100 TB: per-level cost tracks |frontier|·degree, never
    * |V|². The oracle recomputes the same closure with a recursive CTE
    * and takes min(dist) — an independent algorithm (path enumeration
    * with dedup) arriving at the same BFS labeling.
    *
    * The namespaced ids are TAGGED LONGS inside the iteration
    * (`key<<2 | type`, injective since keys are positive) and become the
    * `c…`/`o…`/`s…` strings only in the final projection: three BFS
    * rounds shuffle/hash/anti-join the node key, and an 8-byte long
    * through that pipeline beats a ~10-char string on every hop (the
    * measured win at sf1 is ~2×). Same output, cheaper carrier. */
  private val MaxHops = 3

  private def shortestPath(s: SparkSession, dir: String): DataFrame = {
    def tagged(tag: Int, c: org.apache.spark.sql.Column) =
      (c.cast("long") * 4 + tag).as("t")
    val TagC = 0; val TagO = 1; val TagS = 2
    val co = tbl(s, dir, "orders")
      .select(tagged(TagC, col("o_custkey")).as("a"),
        tagged(TagO, col("o_orderkey")).as("b"))
    // no edge-level distinct: an order repeating a supplier across lines
    // is rare (~5% dup multiplicity measured at sf0.1), and BFS dedups
    // candidates per level anyway — the distinct's full shuffle of the
    // edge stream cost more than the duplicates it removed
    val os = tbl(s, dir, "lineitem")
      .select(tagged(TagO, col("l_orderkey")).as("a"),
        tagged(TagS, col("l_suppkey")).as("b"))
    val fwd = co.union(os)
    // NO localCheckpoint on the edge list (round 12): checkpointing und
    // pinned ~150M deserialized rows (multi-GB of storage memory) for
    // the whole query at sf10 and starved the BFS levels' hash
    // aggregates ("UNABLE_TO_ACQUIRE_MEMORY ... got 0" mid-suite — the
    // one sf10 failure of the round). Its lineage is constant-depth
    // (scan → project → union), so there is nothing to cut: each level
    // re-derives the edges from the 2-column parquet scan, which is the
    // only shape that exists at 100 TB anyway (an edge list the size of
    // the fact table is never memory-resident; per-level state —
    // frontier and labels — is what Bfs checkpoints).
    val und = fwd.union(fwd.select(col("b").as("a"), col("a").as("b")))
    val seeds = tbl(s, dir, "customer")
      .filter(col("c_custkey") % 500 === 0)
      .select(tagged(TagC, col("c_custkey")).as("node"))
    // Per-hop edge pruning (r19, guide §8 "use what you know that the
    // optimizer does not"): the entity graph is bipartite c–o and o–s,
    // and seeds are customers, so frontier k−1's node TYPE is known by
    // parity — hop 1 expands customers (c→o rows only: the level-1 join
    // never scans lineitem at all), even hops expand orders (o→c ∪ o→s),
    // odd hops ≥ 3 expand customers∪suppliers (c→o ∪ s→o). Each level
    // scans half (hop 1: a quarter) of the undirected relation; rows
    // whose source type cannot be in the frontier could never match the
    // expansion join, so results are identical (BfsPropSpec pins the
    // pruned == full equality). `undirected` additionally bounds the
    // anti-join to the last two frontiers (the undirected-BFS distance
    // bound) — at 100 TB the anti build is O(frontier), not O(reach).
    val oc = co.select(col("b").as("a"), col("a").as("b"))
    val so = os.select(col("b").as("a"), col("a").as("b"))
    val edgesAtHop: Int => org.apache.spark.sql.DataFrame = {
      case 1 => co
      case h if h % 2 == 0 => oc.unionAll(os)
      case _ => co.unionAll(so)
    }
    val dist = Bfs.distances(seeds, und, MaxHops,
      undirected = true, edgesAtHop = Some(edgesAtHop)).dist
    dist.select(
      concat(
        element_at(array(lit("c"), lit("o"), lit("s")),
          col("node").bitwiseAND(3).cast("int") + 1),
        shiftright(col("node"), 2).cast("string")).as("node"),
      col("dist"))
  }

  private val shortestPathSql =
    s"""WITH RECURSIVE e AS (
       |  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS a,
       |         'o' || CAST(o_orderkey AS VARCHAR) AS b
       |  FROM orders
       |  UNION ALL
       |  SELECT DISTINCT 'o' || CAST(l_orderkey AS VARCHAR),
       |                  's' || CAST(l_suppkey AS VARCHAR)
       |  FROM lineitem
       |), und AS (
       |  SELECT a, b FROM e UNION ALL SELECT b, a FROM e
       |), walk(node, dist) AS (
       |  SELECT 'c' || CAST(c_custkey AS VARCHAR), 0
       |  FROM customer WHERE c_custkey % 500 = 0
       |  UNION
       |  SELECT u.b, w.dist + 1
       |  FROM walk w JOIN und u ON u.a = w.node
       |  WHERE w.dist < $MaxHops
       |)
       |SELECT node, CAST(min(dist) AS INT) AS dist
       |FROM walk GROUP BY node ORDER BY node""".stripMargin

  // ------------------------ PageRank (quantized) --------------------------

  /** PageRank over the nation-level trade graph (distinct customer-nation
    * → supplier-nation edges through orders⋈lineitem), `PrIters` power
    * iterations, damping 0.85. All rank arithmetic is INTEGER in
    * µ-units — contributions are `rank div outdeg`, damping is
    * `(85·Σ) div 100` — so both engines iterate bit-identical BIGINTs
    * with no float accumulation anywhere (the same cross-engine
    * determinism trick as the k-means centroids, but for an iterative
    * graph algorithm; divisions are all on non-negatives, where Spark's
    * `div` and DuckDB's `//` agree). Dangling-node mass is dropped (the
    * standard simplified variant). At scale: ranks⋈edges shuffles on
    * src, the contribution sum on dst — the canonical Pregel/GraphX
    * plan; here the 25-row rank vector broadcasts. */
  private val PrIters = 3

  private def pageRank(s: SparkSession, dir: String): DataFrame = {
    val edges = tbl(s, dir, "orders").select("o_orderkey", "o_custkey")
      .join(tbl(s, dir, "customer").select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey").as("src"))
      .join(tbl(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
        .join(tbl(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("l_orderkey"), col("s_nationkey").as("dst")),
        col("o_orderkey") === col("l_orderkey"))
      .select("src", "dst").filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint() // small edge dim, reused every iteration
    val nodes = tbl(s, dir, "nation").select(col("n_nationkey").as("node"))
    val (ranks, _) = pageRankLoop(nodes, edges, PrIters)
    ranks.select(col("node").as("n_nationkey"), col("r").as("rank_q"),
        (col("r").cast("double") / 1000000.0).as("rank"))
      .orderBy("n_nationkey")
  }

  /** The power-iteration loop with OBSERVABLE convergence: returns the
    * final rank vector plus the per-iteration L1 delta Σ|rᵢ − rᵢ₋₁| in
    * µ-units. Because rank arithmetic is exact integer math, `delta == 0`
    * is an exact fixpoint — every later iteration is the identity — so
    * the loop stops there with a result IDENTICAL to running all `iters`
    * rounds (the oracle always runs the full count; equality is safe).
    * The delta aggregate is one node-grained sum per iteration — the
    * standard convergence-check cost at any scale, and what a 100 TB run
    * uses to stop instead of burning dead rounds.
    *
    * == Hub (hot-key) path (round 15, extending Components r14) ==
    *
    * The contribution join ships every edge row to its src's reduce
    * partition; a Zipf-degree hub therefore funnels its whole edge list
    * into ONE task (the downstream `groupBy(dst).sum` is immune — it
    * partial-aggregates map-side, the `b_skew_agg` argument). The fix is
    * [[graft.ops.HotKeys]]' two-phase split: srcs whose out-degree
    * exceeds `hotKeyThreshold` have their (src, per-edge contribution)
    * row — unique per src — broadcast, so hub edges take a map-side
    * join; cold srcs keep the stock shuffle, multiplicity ≤ threshold by
    * construction. Detection is ONE bounded collect per call (the edge
    * multiset is static across iterations — contrast Components, whose
    * contracting edge set re-detects per half-round), riding the same
    * out-degree aggregate the algorithm needs anyway; the checkpoint
    * also stops re-aggregating the edges every iteration.
    *
    * @param nodes one column `node`; @param edges columns `src`, `dst` */
  private[graft] def pageRankLoop(nodes: DataFrame, edges: DataFrame,
      iters: Int,
      hotKeyThreshold: Long = HotKeys.DefaultHotKeyThreshold,
      observer: Option[HotKeys.Stats => Unit] = None)
      : (DataFrame, Seq[Long]) = {
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .localCheckpoint(false)
    // the bounded hot-key collect is also outdeg's materializing action
    val hotKeys = HotKeys.detect(edges.sparkSession, outdeg, "outdeg",
      hotKeyThreshold, "pageRank contribution join", observer)
    var ranks = nodes.select(col("node"), lit(1000000L).as("r"))
    val deltas = scala.collection.mutable.ListBuffer.empty[Long]
    var converged = false
    var i = 0
    while (i < iters && !converged) {
      // (src, rank div outdeg): key-unique — the exact shape joinFatUnique
      // requires; computing the division here (node-grained) instead of
      // per edge row is value-identical (same integer div per src)
      val perSrc = ranks.withColumnRenamed("node", "src")
        .join(outdeg, "src")
        .select(col("src"), expr("r div outdeg").as("c"))
      val contribs = HotKeys
        .joinFatUnique(edges, perSrc, "src", hotKeys)
        .select(col("dst"), col("c"))
        .groupBy("dst").agg(sum("c").as("cs"))
      val next = nodes.join(contribs.withColumnRenamed("dst", "node"),
          Seq("node"), "left")
        .select(col("node"),
          (lit(150000L) + coalesce(expr("85 * cs div 100"), lit(0L))).as("r"))
        .localCheckpoint() // node-grained; replan small each iteration
      val delta = next.join(ranks.withColumnRenamed("r", "r_prev"), "node")
        .agg(coalesce(sum(abs(col("r") - col("r_prev"))), lit(0L)))
        .head.getLong(0)
      deltas += delta
      converged = delta == 0L
      ranks = next
      i += 1
    }
    (ranks, deltas.toList)
  }

  private val pageRankSql = {
    def iter(prev: String, out: String) =
      s"""$out AS (
         |  SELECT n.node,
         |         CAST(150000 + coalesce((85 * c.cs) // 100, 0) AS BIGINT)
         |           AS r
         |  FROM (SELECT node FROM r0) n
         |  LEFT JOIN (
         |    SELECT e.dst AS node, CAST(SUM($prev.r // d.outdeg) AS BIGINT)
         |             AS cs
         |    FROM e JOIN d USING (src) JOIN $prev ON $prev.node = e.src
         |    GROUP BY e.dst) c USING (node)
         |)""".stripMargin
    val iters = (1 to PrIters)
      .map(i => iter(s"r${i - 1}", s"r$i")).mkString(",\n")
    s"""WITH e AS (
       |  SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
       |  FROM orders o
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  WHERE c.c_nationkey != s.s_nationkey
       |), d AS (
       |  SELECT src, count(*) AS outdeg FROM e GROUP BY src
       |), r0 AS (
       |  SELECT n_nationkey AS node, CAST(1000000 AS BIGINT) AS r
       |  FROM nation
       |),
       |$iters
       |SELECT node AS n_nationkey, r AS rank_q,
       |       CAST(r AS DOUBLE) / 1000000.0 AS rank
       |FROM r$PrIters ORDER BY n_nationkey""".stripMargin
  }

  // ------------------- mutual-kNN graph + triangles -----------------------

  private val Dim = 64      // embeddings fixture dimension
  private val GPlanes = 6   // 64 buckets → mean occupancy ~8 at sf0.01
  private val KNN = 3

  /** Directed kNN edges within LSH buckets: each vector's top-3 cosine
    * neighbors among its bucket peers (deterministic rank tie-break by
    * neighbor id). Scale: bucket join, cost tracks occupancy — the same
    * candidate-bounding as `x_ann_lsh`, applied to EVERY node. */
  private def knnEdges(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorF
    val emb = tbl(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("bucket", VectorF.lshBucket(col("v"), GPlanes, Dim))
    val a = emb.select(col("vec_id").as("src"), col("v").as("sv"),
      col("bucket"))
    val b = emb.select(col("vec_id").as("dst"), col("v").as("dv"),
      col("bucket"))
    val rn = row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy("src")
        .orderBy(col("sim").desc, col("dst")))
    a.join(b, Seq("bucket"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        round(graft.functions.VectorF.cosineNative(col("sv"), col("dv")), 6)
          .as("sim"))
      .withColumn("rn", rn)
      .filter(col("rn") <= KNN)
      .select("src", "dst", "sim")
  }

  /** Mutual-kNN graph: keep the edge only when BOTH endpoints rank each
    * other in their top-3 — the symmetric, noise-robust edge rule used
    * for dedup clustering and diversity sampling over embedding spaces.
    * One self-join of the directed kNN list on the reversed pair. */
  private def knnGraph(s: SparkSession, dir: String): DataFrame = {
    val k = knnEdges(s, dir)
    val rev = k.select(col("src").as("r_src"), col("dst").as("r_dst"))
    k.join(rev, col("src") === col("r_dst") && col("dst") === col("r_src"))
      .filter(col("src") < col("dst"))
      .select(col("src").as("node_a"), col("dst").as("node_b"), col("sim"))
      .orderBy("node_a", "node_b")
  }

  /** The DuckDB mirror of bucket + directed-kNN + mutual CTEs. */
  private def knnCtes: String = {
    val bucket =
      OracleSql.signCode("CAST(embedding AS DOUBLE[])", 0 until GPlanes, Dim)
    s"""b AS (
       |  SELECT vec_id, embedding, $bucket AS bucket FROM embeddings
       |), knn AS (
       |  SELECT src, dst, sim FROM (
       |    SELECT a.vec_id AS src, c.vec_id AS dst,
       |           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
       |                                        CAST(c.embedding AS DOUBLE[])),
       |                 6) AS sim,
       |           row_number() OVER (PARTITION BY a.vec_id
       |             ORDER BY round(list_cosine_similarity(
       |               CAST(a.embedding AS DOUBLE[]),
       |               CAST(c.embedding AS DOUBLE[])), 6) DESC, c.vec_id)
       |             AS rn
       |    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id != c.vec_id
       |  ) WHERE rn <= $KNN
       |), mutual AS (
       |  SELECT x.src AS node_a, x.dst AS node_b, x.sim
       |  FROM knn x JOIN knn y ON x.src = y.dst AND x.dst = y.src
       |  WHERE x.src < x.dst
       |)""".stripMargin
  }

  private def knnGraphSql: String =
    s"""WITH $knnCtes
       |SELECT node_a, node_b, sim FROM mutual
       |ORDER BY node_a, node_b""".stripMargin

  /** Exact triangle count over the mutual-kNN graph via degree-ordered
    * orientation: every edge points from its (degree, id)-smaller
    * endpoint to the larger, so each triangle {x,y,z} is enumerated
    * exactly once as x→y, x→z joined against the closing edge y→z. The
    * orientation bounds the per-node join fan-out by the max ORIENTED
    * out-degree (≈ √m on real graphs) — the standard trick that keeps
    * distributed triangle counting from exploding on hub nodes; the
    * wedge join shuffles on the wedge apex, the closing probe on the
    * (v, w) pair. Output also carries node/edge counts so the oracle
    * cross-checks the whole pipeline, not just the final count. */
  private def triangleCount(s: SparkSession, dir: String): DataFrame = {
    val e = knnGraph(s, dir).select("node_a", "node_b")
    val deg = e.select(explode(array(col("node_a"), col("node_b")))
        .as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // total order key: degree then id (ids < 100000 in every fixture)
    val key = col("deg") * 100000L + col("node")
    val keyed = deg.select(col("node"), key.as("k"))
    val ka = keyed.select(col("node").as("node_a"), col("k").as("ka"))
    val kb = keyed.select(col("node").as("node_b"), col("k").as("kb"))
    val oriented = e.join(ka, "node_a").join(kb, "node_b")
      .select(
        when(col("ka") < col("kb"), col("node_a")).otherwise(col("node_b"))
          .as("u"),
        when(col("ka") < col("kb"), col("node_b")).otherwise(col("node_a"))
          .as("v"),
        greatest(col("ka"), col("kb")).as("kv"))
    val w1 = oriented.select(col("u"), col("v").as("x"), col("kv").as("kx"))
    val w2 = oriented.select(col("u"), col("v").as("y"), col("kv").as("ky"))
    val wedges = w1.join(w2, Seq("u")).filter(col("kx") < col("ky"))
    val closing = oriented.select(col("u").as("x"), col("v").as("y"))
    val tri = wedges.join(closing, Seq("x", "y"), "left_semi")
    // node and edge counts are single-row aggregates inside the plan,
    // so building the frame runs no Spark job
    deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(e.agg(count(lit(1)).as("n_edges")))
      .crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
  }

  private def triangleCountSql: String =
    s"""WITH $knnCtes,
       |e AS (SELECT node_a, node_b FROM mutual),
       |deg AS (
       |  SELECT node, count(*) AS deg FROM (
       |    SELECT node_a AS node FROM e
       |    UNION ALL SELECT node_b AS node FROM e
       |  ) GROUP BY node
       |), keyed AS (
       |  SELECT node, deg * 100000 + node AS k FROM deg
       |), oriented AS (
       |  SELECT CASE WHEN ka.k < kb.k THEN e.node_a ELSE e.node_b END AS u,
       |         CASE WHEN ka.k < kb.k THEN e.node_b ELSE e.node_a END AS v,
       |         greatest(ka.k, kb.k) AS kv
       |  FROM e JOIN keyed ka ON e.node_a = ka.node
       |         JOIN keyed kb ON e.node_b = kb.node
       |)
       |SELECT (SELECT count(*) FROM deg) AS n_nodes,
       |       (SELECT count(*) FROM e) AS n_edges,
       |       (SELECT count(*)
       |        FROM oriented w1
       |        JOIN oriented w2 ON w1.u = w2.u AND w1.kv < w2.kv
       |        WHERE EXISTS (SELECT 1 FROM oriented c
       |                      WHERE c.u = w1.v AND c.v = w2.v))
       |         AS n_triangles""".stripMargin

  val all: Map[String, QueryDef] = Map(
    "x_dedup_components" -> QueryDef(dedupComponents(_, _),
      Some(dedupComponentsSql), bench = true, order = Seq(col("doc_id"))),
    // The broadcast-hot-key contraction arm under the SAME oracle: with
    // the threshold forced to 1, every multi-edge key in every round
    // takes the two-phase path, so the giant-cluster route is
    // hash-verified end-to-end against the independent recursive-CTE
    // closure (`ComponentsSpec` pins the >50%-of-edges cluster and the
    // per-task bound; this entry pins the arm's exactness).
    "x_dedup_components_hot" -> QueryDef(dedupComponents(_, _, 1L),
      Some(dedupComponentsSql), order = Seq(col("doc_id"))),
    "x_shortest_path" -> QueryDef(shortestPath, Some(shortestPathSql),
      bench = true, order = Seq(col("node"))),
    "x_pagerank" -> QueryDef(pageRank, Some(pageRankSql)),
    "x_knn_graph" -> QueryDef(knnGraph, Some(knnGraphSql)),
    "x_triangle_count" -> QueryDef(triangleCount, Some(triangleCountSql))
  )
}
