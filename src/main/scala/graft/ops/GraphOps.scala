package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph operators. Spark has no recursive CTE; the category
  * transitive closure of SURVEY.md A3 (`Category(title).articles(
  * recurse=True)`, reference src/__init__.py:229-254) is the loop-of-
  * joins-until-fixpoint pattern ([[transitiveClosureDoubling]], g1).
  *
  * Scale shape: each iteration is one equi-join plus an anti-join
  * against the accumulated result; `localCheckpoint` cuts the growing
  * lineage so plan size stays constant across iterations.
  *
  * Storage hygiene: every loop releases each superseded checkpoint's
  * blocks as soon as its successor (and any 1-row summary reading it)
  * is materialized — see [[Checkpoints.release]]; only blocks the
  * returned plan still reads survive the call.
  */
object GraphOps {

  /** All (node, ancestor) pairs reachable via `edges(child, parent)`,
    * by recursive doubling: after round r the closure holds every
    * (node, ancestor) pair within distance ≤ 2^r, so a depth-d
    * hierarchy converges in ⌈log₂ d⌉ rounds (at most
    * [[ClosureMaxRounds]]) instead of d — each round one self-join of
    * the closure on the middle node plus the usual anti-join novelty
    * probe (same eager-checkpoint / released-predecessor discipline as
    * every loop here).
    *
    * Trade-off vs stepping one edge per round: stepping joins the
    * (static, broadcastable) EDGE relation per round and pays depth
    * rounds; doubling joins the GROWING closure against itself — rounds
    * shrink logarithmically but the per-round join is closure-sized on
    * both sides (no hint: AQE broadcasts small closures, shuffles big
    * ones). Deep-and-narrow hierarchies (category trees — the A3 case)
    * want doubling. The stepping fixpoint is the test-scope reference
    * (`ReferenceForms.transitiveClosure`); results are identical
    * (spec-asserted). */
  def transitiveClosureDoubling(edges: DataFrame): DataFrame = {
    var closure = edges.select(col("child").as("node"), col("parent").as("ancestor"))
      .localCheckpoint()
    var done = false
    var round = 0
    while (!done && round < ClosureMaxRounds) {
      val viaMid = closure.select(col("node"), col("ancestor").as("mid"))
        .join(closure.select(col("node").as("mid"), col("ancestor")), "mid")
        .select(col("node"), col("ancestor")).distinct()
      val fresh = viaMid.join(closure, Seq("node", "ancestor"), "left_anti")
        .localCheckpoint() // eager: the one real job this round
      done = fresh.isEmpty // limit-1 probe over the cached blocks
      if (!done) {
        val prev = closure
        closure = closure.unionByName(fresh).localCheckpoint()
        Checkpoints.release(prev)
      }
      Checkpoints.release(fresh)
      round += 1
    }
    closure
  }

  /** Round cap of [[transitiveClosureDoubling]]: covers hierarchies up
    * to 2^20 levels deep. */
  private val ClosureMaxRounds = 20

  /** Fixed-point PageRank over `edges(src, dst)`: ranks are BIGINT
    * micro-units (1,000,000 = rank 1.0) and every step is integer
    * arithmetic — truncating division by out-degree, integer damping
    * `150000 + (85 * s) div 100` — so the result is bit-identical in any
    * engine regardless of aggregation order (no FP anywhere). This is the
    * simplified formulation without dangling-mass redistribution: sinks
    * contribute nothing and the 0.15 floor keeps ranks bounded.
    *
    * Scale shape: the edge list is read in place each iteration (a
    * pruned landed scan in g2 re-reads cheaper than it checkpoints);
    * the degree and rank relations are NODE-sized, orders of magnitude
    * smaller than the edge list, so they broadcast onto the edge scan
    * and each iteration costs exactly one partial-final aggregate
    * shuffle on `dst`. (Billions of nodes would flip those joins to
    * shuffles on `src` — same plan minus the hints.)
    *
    * @param symmetricEdges the caller's assertion that every edge is
    *   present in both directions; the node set is then taken from the
    *   source keys alone. It is not checked: if the assertion is wrong,
    *   pure-sink (dst-only) nodes are silently missing from the rank
    *   table, with no error or warning. Pass `true` only for an edge
    *   relation symmetric by construction (g2 builds base ∪ reversed).
    */
  def pageRankFixedPoint(edges: DataFrame, iters: Int = 2,
      broadcastNodes: Boolean = true, symmetricEdges: Boolean = false): DataFrame = {
    require(iters >= 1, s"pageRankFixedPoint needs iters >= 1, got $iters")
    // billions of nodes: broadcastNodes = false drops the hints and the
    // node-sized deg/rank joins become shuffles on `src` — same plan
    // otherwise, same (integer, order-independent) result; both variants
    // are pinned by GraphAnalyticsSpec
    def side(df: DataFrame) = if (broadcastNodes) broadcast(df) else df
    val e = edges.select(col("src"), col("dst"))
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    // src ∪ dst: pure sinks (dst-only nodes) hold rank too — they
    // receive mass and contribute none. When the CALLER asserts the edge
    // relation is symmetric (every edge present in both directions — the g2 shape,
    // built as base ∪ reversed), src ∪ dst ≡ src, so the node set is
    // the degree relation's key column and the union+distinct shuffle
    // of the FULL edge list disappears. Equality of both forms on a
    // symmetrized graph is pinned in GraphAnalyticsSpec.
    val nodes =
      if (symmetricEdges) deg.select(col("src").as("node"))
      else e.select(col("src").as("node"))
        .unionAll(e.select(col("dst").as("node"))).distinct()
    var r = nodes.withColumn("r", lit(1000000L))
    var prevCp: Option[DataFrame] = None
    for (i <- 1 to iters) {
      val sums = e.join(side(deg), "src")
        .join(side(r), col("src") === r("node"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("s"))
      r = nodes.join(sums, nodes("node") === sums("dst"), "left")
        .select(nodes("node"), expr("150000L + (85 * coalesce(s, 0L)) div 100").as("r"))
      // cut the per-iteration lineage growth (each round otherwise
      // recomputes every prior round under the broadcast); the FINAL
      // iteration stays un-checkpointed so callers can inspect the plan
      // (it reads the last checkpointed round, so those blocks stay —
      // every earlier round is released as it is superseded)
      if (i < iters) {
        r = r.localCheckpoint()
        prevCp.foreach(Checkpoints.release)
        prevCp = Some(r)
      }
    }
    r
  }

  /** k-core peeling rounds over oriented undirected edges `(u, v)`:
    * each round drops every node whose (full, both-direction) degree is
    * below `k` and keeps the induced subgraph. Emits one summary row per
    * round — `(round, n_nodes, n_edges)` — which pins the whole cascade.
    *
    * Scale shape per round: one partial-agg degree shuffle plus two
    * semi-joins against the node-sized survivor set (broadcastable);
    * `localCheckpoint` caps lineage per round. Round 1 reads the input
    * relation in place (a landed scan in g4); later rounds read their
    * own induced-subgraph checkpoints.
    */
  def kCoreRounds(orientedEdges: DataFrame, k: Int, rounds: Int,
      broadcastNodes: Boolean = true): DataFrame = {
    require(rounds >= 1, s"kCoreRounds needs rounds >= 1, got $rounds")
    // see pageRankFixedPoint: broadcastNodes = false is the
    // billions-of-nodes shape (survivor-set semi-joins become shuffles)
    def side(df: DataFrame) = if (broadcastNodes) broadcast(df) else df
    var e = orientedEdges.select(col("u"), col("v"))
    // the per-round counts are read off the materialized blocks (two
    // single-stage count jobs) and the summary relation is a LOCAL
    // table; (round INT, n_nodes/n_edges BIGINT) schema pinned in
    // GraphAnalyticsSpec
    val rows = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
    for (i <- 1 to rounds) {
      val deg = e.select(col("u").as("node"))
        .unionAll(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select("node").localCheckpoint()
      val prevE = e
      e = e.join(side(keep.withColumnRenamed("node", "u")), Seq("u"), "left_semi")
        .join(side(keep.withColumnRenamed("node", "v")), Seq("v"), "left_semi")
        .select(col("u"), col("v")).localCheckpoint()
      // consumed by keep + the new e, both materialized; round 1's input
      // is the caller's relation, not a checkpoint of this loop
      if (i > 1) Checkpoints.release(prevE)
      rows += ((i, keep.count(), e.count()))
      Checkpoints.release(keep)
    }
    Checkpoints.release(e) // the final round's counts are taken
    orientedEdges.sparkSession.createDataFrame(rows.toSeq)
      .toDF("round", "n_nodes", "n_edges")
  }

  /** BFS frontier layers from a seed set over directed `edges(u, v)`:
    * emits `(hop, n_nodes)` for hop 0 (the seeds) through `hops`. Each
    * hop is one frontier⋈edges equi-join + an anti-join against the
    * visited set — the closure step with explicit distance accounting;
    * `localCheckpoint` caps lineage per hop. The edge relation is read
    * in place every hop (a landed scan in g5). */
  def bfsLayers(edges: DataFrame, seeds: DataFrame, hops: Int,
      broadcastNodes: Boolean = true): DataFrame = {
    // frontier and visited are NODE-sized relations: broadcast them
    // onto the (big) edge scan so the edge list is never shuffled — a
    // hop costs one distinct over the candidate frontier, not a
    // re-shuffle of every edge. Billions of nodes flip broadcastNodes
    // off (the g2/g4 convention) and the same joins become shuffles.
    def side(df: DataFrame) = if (broadcastNodes) broadcast(df) else df
    val e = edges.select(col("u"), col("v"))
    var frontier = seeds.select(col("node")).distinct().localCheckpoint()
    var visited = frontier
    // per-hop counts read off the materialized frontier blocks, summary
    // as a LOCAL table (as in kCoreRounds)
    val rows = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
    rows += ((0, frontier.count()))
    for (h <- 1 to hops) {
      val prevFrontier = frontier
      frontier = e.join(side(frontier), e("u") === frontier("node"))
        .select(e("v").as("node")).distinct()
        .join(side(visited), Seq("node"), "left_anti")
        .localCheckpoint()
      // hop 1 aliases prevFrontier to visited — the union below still
      // reads those blocks; they release as prevVisited instead
      if (!(prevFrontier eq visited)) Checkpoints.release(prevFrontier)
      val prevVisited = visited
      visited = visited.unionByName(frontier).localCheckpoint()
      Checkpoints.release(prevVisited)
      rows += ((h, frontier.count()))
    }
    Checkpoints.release(visited)
    if (!(frontier eq visited)) Checkpoints.release(frontier)
    edges.sparkSession.createDataFrame(rows.toSeq).toDF("hop", "n_nodes")
  }

  /** Synchronous label propagation (community detection) over oriented
    * distinct edges `(u, v)`: every node starts as its own label; each
    * round every node adopts the most frequent label among its
    * neighbors, ties broken by the SMALLEST label — fully deterministic
    * (no async sweep order), so results are oracle-replayable round by
    * round. Per round: one edge⋈label equi-join, one (node, label)
    * partial-agg count, one per-node argmax via `min(struct(-cnt,
    * lbl))` (never a window over the corpus). The label relation is
    * node-sized; the join shuffles on the edge key exactly like
    * [[pageRankFixedPoint]]'s rank join. `localCheckpoint` + release
    * per round, same discipline as every loop here. Returns
    * `(node, lbl)` after `rounds` rounds. */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"labelPropagation needs rounds >= 1, got $rounds")
    val e = edges.select(col("u"), col("v"))
    val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
    var lbl = sym.select(col("u").as("node")).distinct()
      .withColumn("lbl", col("node"))
    var prevCp: Option[DataFrame] = None
    for (i <- 1 to rounds) {
      val counts = sym.join(lbl, sym("v") === lbl("node"))
        .select(sym("u").as("node"), col("lbl"))
        .groupBy(col("node"), col("lbl")).agg(count(lit(1)).as("cnt"))
      val next = counts.groupBy(col("node"))
        .agg(min(struct((-col("cnt")).as("neg"), col("lbl").as("l"))).as("best"))
        .select(col("node"), col("best.l").as("lbl"))
      // final round stays un-checkpointed so callers can inspect the plan
      lbl = if (i < rounds) {
        val c = next.localCheckpoint()
        prevCp.foreach(Checkpoints.release)
        prevCp = Some(c)
        c
      } else next
    }
    lbl
  }

  /** Measured broadcast-vs-shuffle ROUTE for this module's node-sized
    * iteration relations (ranks, degrees, frontiers, survivor sets) —
    * [[DedupOps.ccRouteCard]] at graph grain: the distinct node set of
    * the `(u, v)` edge relation is priced at ~16 B/row against the
    * session broadcast threshold ([[DedupOps.routeTail]]). One
    * distinct-count over the endpoints (the relation every operator
    * here derives anyway); integer arithmetic, so the registered t111
    * card hash-checks the same decision. Returns (n_nodes, est_bytes,
    * broadcast_threshold, route). */
  def nodeRouteCard(edges: DataFrame): DataFrame =
    DedupOps.routeTail(edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .distinct()
      .agg(count(lit(1)).as("n_nodes"))
      .select(col("n_nodes"),
        (col("n_nodes") * lit(DedupOps.CcLabelBytesPerRow)).cast("long").as("est_bytes")))

  /** Per-node triangle counts over an undirected graph given as
    * distinct edges `(u, v)`, via adjacency-set intersection: the
    * triangles through edge (u,v) are |N(u) ∩ N(v)|, and a node's count
    * is half the sum over its incident edges (each triangle contributes
    * via exactly two of the node's edges). Instead of materializing the
    * Σ out-deg² wedge relation through two joins, it ships each node's
    * sorted neighbor ARRAY onto its edges (rows = m, payload = Σ deg per
    * side) and intersects per edge — no wedge shuffle, one aggregate.
    * Nodes in no triangle are omitted. Equals the plain-Scala wedge
    * count `ReferenceForms.triangleCounts` (spec-asserted). */
  def triangleCountsAdj(edges: DataFrame): DataFrame =
    edgeTriangleSupport(edges)
      .select(explode(array(struct(col("u").as("node"), col("c")),
        struct(col("v").as("node"), col("c")))).as("s"))
      .select(col("s.node").as("node"), col("s.c").as("c"))
      .groupBy("node").agg(expr("sum(c) div 2").as("n_tri"))
      .filter(col("n_tri") > 0)

  /** DOULION-style approximate GLOBAL triangle count — the documented
    * scale path the exact Θ(m^1.5) wedge family shifts to when the
    * wedge volume is unaffordable (SCALE.md's g3 note, made a real
    * operator instead of a hypothetical): sparsify the edge list with a
    * DETERMINISTIC hash coin (keep (u,v) iff hx("tri:u:v") % q == 0,
    * i.e. p = 1/q), count triangles EXACTLY on the ~m/q-edge subgraph,
    * scale by q³ (a triangle survives iff all 3 edges do, probability
    * p³). The estimator is the public DOULION algorithm (Tsourakakis
    * et al., KDD'09) with the RNG replaced by the house hash, so the
    * estimate is REPRODUCIBLE (no seed state, partition-order-proof)
    * and the whole computation is oracle-checkable in SQL. Work drops
    * from O(m^1.5) to O((m/q)^1.5) — q=25 is 1/125 of the pair work;
    * variance falls as true triangle count grows (hub-heavy graphs,
    * exactly where the exact form melts). Returns ONE row
    * (n_edges, n_sampled_edges, triangles_sampled, triangles_est). */
  def triangleEstimate(edges: DataFrame, q: Int): DataFrame = {
    require(q >= 1, s"triangleEstimate needs q >= 1, got $q")
    val coin = graft.ops.TextOps.hx(
      concat(lit("tri:"), col("u"), lit(":"), col("v")))
    val sampled = edges.select(col("u"), col("v"))
      .filter(pmod(coin, lit(q.toLong)) === 0)
    val tri = edgeTriangleSupport(sampled)
      .agg(coalesce(expr("CAST(sum(c) div 3 AS BIGINT)"), lit(0L))
        .as("triangles_sampled"))
    edges.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(sampled.agg(count(lit(1)).as("n_sampled_edges"))))
      .crossJoin(broadcast(tri))
      .select(col("n_edges"), col("n_sampled_edges"), col("triangles_sampled"),
        (col("triangles_sampled") * lit(q.toLong * q * q)).as("triangles_est"))
  }

  /** Per-edge triangle support (embeddedness / tie strength): for every
    * undirected edge (u,v), the number of triangles through it =
    * |N(u) ∩ N(v)|. Each node's sorted neighbor array ships onto its
    * edges (rows = m, payload = Σ deg per side) and intersects per
    * edge — no wedge relation is ever materialized. The classic
    * strong-tie / community-backbone signal. Returns (u, v, c). */
  def edgeTriangleSupport(edges: DataFrame): DataFrame = {
    // the edge relation is checkpointed even when it is a landed scan:
    // it feeds three consumers (sym twice via the union, the join spine
    // once) and the adjacency aggregation re-derives the union per
    // consumer without the copy — measured at sf0.1: the landed-scan
    // variant ran 2× slower (g3 2.2→4.3 s).
    val e = edges.select(col("u"), col("v")).localCheckpoint()
    val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
    val nb = sym.groupBy(col("u").as("node"))
      .agg(array_sort(collect_list(col("v"))).as("nbrs"))
    e.join(nb.select(col("node").as("u"), col("nbrs").as("nu")), "u")
      .join(nb.select(col("node").as("v"), col("nbrs").as("nv")), "v")
      // native two-pointer merge over the sorted arrays — equals
      // size(array_intersect(nu, nv)) (property-tested) without the
      // generic intersect's per-row hash-set build
      .select(col("u"), col("v"),
        graft.expr.VectorExprs.sortedIntersectCountL(col("nu"), col("nv")).as("c"))
  }
}
