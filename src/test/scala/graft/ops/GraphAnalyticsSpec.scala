package graft.ops

import graft.SparkSpec.Sf0_001
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Hand-computed fixtures for the round-3 link-analysis operators. */
class GraphAnalyticsSpec extends SparkSpec {
  import spark.implicits._

  test("pageRankFixedPoint matches hand-computed integer ranks on a path graph") {
    // undirected path a–b–c (both directions materialized)
    val edges = Seq(
      ("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")
    ).toDF("src", "dst")
    // deg: a=1, b=2, c=1; r0 = 1_000_000 each
    // iter1: s(a)=500000, s(b)=2000000, s(c)=500000
    //        r1(a)=575000, r1(b)=1850000, r1(c)=575000
    // iter2: s(a)=925000, s(b)=1150000, s(c)=925000
    //        r2(a)=936250, r2(b)=1127500, r2(c)=936250
    val got = GraphOps.pageRankFixedPoint(edges, iters = 2)
      .as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 936250L, "b" -> 1127500L, "c" -> 936250L))
  }

  test("triangleEstimate: q=1 is the exact count; q=2 replays the hash coin") {
    // K5 (complete graph, 5 nodes): C(5,3) = 10 triangles, 10 edges
    val k5 = (for { u <- 1L to 5L; v <- (u + 1) to 5L } yield (u, v))
      .toDF("u", "v")
    val exact = GraphOps.triangleEstimate(k5, q = 1)
      .as[(Long, Long, Long, Long)].head()
    assert(exact == ((10L, 10L, 10L, 10L)),
      s"q=1 must keep every edge and count exactly: $exact")
    // q=2: replay the deterministic coin + brute-force count in scala
    val kept = (for { u <- 1L to 5L; v <- (u + 1) to 5L }
      yield (u, v)).filter { case (u, v) =>
        java.lang.Math.floorMod(TextOps.hxScala(s"tri:$u:$v"), 2L) == 0L
      }.toSet
    val triKept = (for {
      u <- 1L to 5L; v <- (u + 1) to 5L; w <- (v + 1) to 5L
      if kept((u, v)) && kept((v, w)) && kept((u, w))
    } yield 1).size.toLong
    val est = GraphOps.triangleEstimate(k5, q = 2)
      .as[(Long, Long, Long, Long)].head()
    assert(est == ((10L, kept.size.toLong, triKept, triKept * 8)),
      s"q=2 must equal the hash-coin replay (kept=$kept): $est")
  }

  test("labelPropagation: hand-computed two-triangles-with-a-bridge fixture") {
    // triangles {1,2,3} and {4,5,6}, bridge 3–4 (oriented u<v edges)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L)).toDF("u", "v")
    // round 1 (most frequent neighbor label, ties → min):
    //   1:{2,3}→2  2:{1,3}→1  3:{1,2,4}→1  4:{3,5,6}→3  5:{4,6}→4  6:{4,5}→4
    // round 2 over l1 = (1→2, 2→1, 3→1, 4→3, 5→4, 6→4):
    //   1:{1,1}→1  2:{2,1}→1  3:{2,1,3}→1  4:{1,4,4}→4  5:{3,4}→3  6:{3,4}→3
    val got = GraphOps.labelPropagation(edges, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 3L, 6L -> 3L))
  }

  test("labelPropagation is partition-invariant (min-struct argmax, no sweep order)") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L)).toDF("u", "v")
    val a = GraphOps.labelPropagation(edges, 3).as[(Long, Long)].collect().toMap
    val b = GraphOps.labelPropagation(edges.repartition(5), 3)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("pageRankFixedPoint symmetricEdges: node set from deg equals the " +
      "union+distinct form on a symmetrized graph (r16, guide §2.4)") {
    val base = Seq(("s1", "p1"), ("s1", "p2"), ("s2", "p2"), ("s2", "p3"))
      .toDF("src", "dst")
    val sym = base.unionByName(
      base.select(col("dst").as("src"), col("src").as("dst")))
    val general = GraphOps.pageRankFixedPoint(sym, 3)
      .as[(String, Long)].collect().toMap
    val fast = GraphOps.pageRankFixedPoint(sym, 3, symmetricEdges = true)
      .as[(String, Long)].collect().toMap
    assert(general == fast)
    // and the schema is unchanged (node, r)
    assert(GraphOps.pageRankFixedPoint(sym, 1, symmetricEdges = true)
      .columns.toSeq == Seq("node", "r"))
  }

  test("kCoreRounds/bfsLayers local summary tables keep the exact schema " +
      "(round/hop INT, counts BIGINT, non-null)") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("u", "v")
    val kc = GraphOps.kCoreRounds(edges, k = 2, rounds = 2)
    assert(kc.schema.map(f => (f.name, f.dataType.simpleString, f.nullable)) ==
      Seq(("round", "int", false), ("n_nodes", "bigint", false),
        ("n_edges", "bigint", false)))
    val sym = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
    val bl = GraphOps.bfsLayers(sym, Seq(1L).toDF("node"), hops = 2)
    assert(bl.schema.map(f => (f.name, f.dataType.simpleString, f.nullable)) ==
      Seq(("hop", "int", false), ("n_nodes", "bigint", false)))
  }

  test("pageRankFixedPoint keeps pure sinks: a dst-only node holds rank") {
    // directed a→b: b never appears as src but must receive a's mass.
    // iter1: r1(a)=150000, r1(b)=150000+85*1000000/100=1000000
    // iter2: r2(a)=150000, r2(b)=150000+(85*150000) div 100=277500
    val got = GraphOps.pageRankFixedPoint(Seq(("a", "b")).toDF("src", "dst"), 2)
      .as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 150000L, "b" -> 277500L))
  }

  test("pageRankFixedPoint: rank mass is bounded and deterministic across reruns") {
    val edges = Seq(
      ("s1", "p1"), ("p1", "s1"), ("s1", "p2"), ("p2", "s1"),
      ("s2", "p2"), ("p2", "s2"), ("s2", "p3"), ("p3", "s2")
    ).toDF("src", "dst")
    val a = GraphOps.pageRankFixedPoint(edges, 3).as[(String, Long)].collect().toMap
    val b = GraphOps.pageRankFixedPoint(edges.repartition(7), 3)
      .as[(String, Long)].collect().toMap
    assert(a == b, "integer ranks must not depend on partitioning")
    assert(a.values.forall(r => r >= 150000L && r <= 5000000L))
  }

  test("triangleCounts on K4 minus one edge") {
    // vertices 1..4, edges (1,2),(1,3),(2,3),(2,4),(3,4) — oriented u<v.
    // Triangles: (1,2,3) and (2,3,4).
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("u", "v")
    val got = GraphOps.triangleCountsAdj(edges).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("triangleCounts is partition-invariant") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L), (1L, 4L))
      .toDF("u", "v")
    val a = GraphOps.triangleCountsAdj(edges).as[(Long, Long)].collect().toMap
    val b = GraphOps.triangleCountsAdj(edges.repartition(5)).as[(Long, Long)].collect().toMap
    assert(a == b)
    // K4: every vertex sits in C(3,2) = 3 triangles
    assert(a == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangleCounts: triangle-free graph yields no rows") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    assert(GraphOps.triangleCountsAdj(edges).isEmpty)
  }

  test("bfsLayers walks a path graph one hop per layer, disconnected nodes unreached") {
    // path a-b-c-d (both directions) plus isolated edge x-y; seed {a}.
    val edges = Seq(
      ("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("c", "d"), ("d", "c"),
      ("x", "y"), ("y", "x")
    ).toDF("u", "v")
    val seeds = Seq("a").toDF("node")
    val got = GraphOps.bfsLayers(edges, seeds, hops = 4)
      .as[(Int, Long)].collect().sortBy(_._1).toSeq
    // hop0={a}, hop1={b}, hop2={c}, hop3={d}, hop4={} — x,y never appear
    assert(got == Seq((0, 1L), (1, 1L), (2, 1L), (3, 1L), (4, 0L)))
  }

  test("kCoreRounds peels a tadpole graph to its triangle core") {
    // triangle 1-2-3 plus a tail 3-4-5: at k=2 the tail peels over two
    // rounds (5 first, then 4), leaving the triangle stable.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("u", "v")
    val got = GraphOps.kCoreRounds(edges, k = 2, rounds = 3)
      .as[(Int, Long, Long)].collect().sortBy(_._1).toSeq
    // round1: deg(5)=1 < 2 peels node 5 -> nodes {1,2,3,4}, edges minus (4,5)
    // round2: deg(4)=1 peels 4 -> triangle, 3 edges
    // round3: stable
    assert(got == Seq((1, 4L, 4L), (2, 3L, 3L), (3, 3L, 3L)))
  }

  test("triangleCountsAdj ≡ wedge-join triangleCounts; edge support counts the wheel") {
    // wheel W8: per-edge support — every rim edge closes with the hub
    // (and rim neighbors), every spoke closes with the 2 rim neighbors
    val wheel = (1L to 8L).map(i => (0L, i)) ++
      (1L to 7L).map(i => (i, i + 1L)) :+ (1L, 8L)
    val edges = wheel.toDF("u", "v")
    val wedge = graft.ReferenceForms.triangleCounts(wheel)
    // 8 triangles (0, i, i+1): the hub sits in all 8, every rim node in 2
    assert(wedge == ((1L to 8L).map(_ -> 2L) :+ (0L -> 8L)).toMap)
    val adj = GraphOps.triangleCountsAdj(edges).as[(Long, Long)].collect().toMap
    assert(adj == wedge, "adjacency-intersection counts must equal the wedge count's")
    val support = GraphOps.edgeTriangleSupport(edges)
      .as[(Long, Long, Long)].collect().map { case (u, v, c) => (u, v) -> c }.toMap
    assert(support((0L, 1L)) == 2L) // spoke: rim neighbors 2 and 8
    assert(support((1L, 2L)) == 1L) // rim edge: hub only
    assert(support.values.sum == 3L * 8L, "each of the 8 triangles has 3 edges")
  }

  test("triangleEstimate equals brute force on random graphs (property)") {
    import org.scalacheck.Gen
    val graphGen = for {
      n <- Gen.chooseNum(3, 12)
      edges <- Gen.listOf(for {
        u <- Gen.chooseNum(1, n - 1)
        v <- Gen.chooseNum(u + 1, n)
      } yield (u.toLong, v.toLong))
    } yield edges.distinct
    def brute(es: Set[(Long, Long)]): Long = {
      val nodes = es.flatMap { case (u, v) => Seq(u, v) }.toSeq.sorted
      (for {
        i <- nodes; j <- nodes if j > i; k <- nodes if k > j
        if es((i, j)) && es((j, k)) && es((i, k))
      } yield 1).size.toLong
    }
    for (fx <- Gen.listOfN(6, graphGen).sample.get if fx.nonEmpty) {
      val edges = fx.toDF("u", "v")
      val exact = brute(fx.toSet)
      // q=1: the estimator degenerates to the exact count
      val e1 = GraphOps.triangleEstimate(edges, q = 1)
        .as[(Long, Long, Long, Long)].head()
      assert(e1 == ((fx.size.toLong, fx.size.toLong, exact, exact)),
        s"q=1 must be exact on $fx")
      // q=2: exact count on the hash-sparsified subgraph, ×8
      val kept = fx.filter { case (u, v) =>
        java.lang.Math.floorMod(TextOps.hxScala(s"tri:$u:$v"), 2L) == 0L
      }.toSet
      val e2 = GraphOps.triangleEstimate(edges, q = 2)
        .as[(Long, Long, Long, Long)].head()
      assert(e2 == ((fx.size.toLong, kept.size.toLong, brute(kept), brute(kept) * 8)),
        s"q=2 must equal the sparsified brute force on $fx (kept=$kept)")
    }
  }

  test("spNodeRouteCard (r15) ≡ nodeRouteCard over the symmetrized prefixed edges") {
    // overlapping key values across the two columns: the s/p prefixes
    // must keep them distinct nodes (supplier 3 ≠ part 3)
    val pairs = Seq((1L, 3L), (1L, 5L), (2L, 3L), (3L, 3L), (3L, 7L))
      .toDF("l_suppkey", "l_partkey")
    val base = pairs.select(
      concat(lit("s"), $"l_suppkey".cast("string")).as("src"),
      concat(lit("p"), $"l_partkey".cast("string")).as("dst"))
    val sym = base.unionByName(base.select($"dst".as("src"), $"src".as("dst")))
    val generic = GraphOps.nodeRouteCard(sym.select($"src".as("u"), $"dst".as("v"))).head()
    val fast = graft.queries.Pipelines.spNodeRouteCard(pairs).head()
    assert(fast.getAs[Long]("n_nodes") == generic.getAs[Long]("n_nodes"))
    assert(fast.getAs[Long]("est_bytes") == generic.getAs[Long]("est_bytes"))
    assert(fast.getAs[Long]("broadcast_threshold")
      == generic.getAs[Long]("broadcast_threshold"))
    assert(fast.getAs[String]("route") == generic.getAs[String]("route"))
    assert(fast.getAs[Long]("n_nodes") == 6L) // 3 suppliers + 3 parts
  }

  test("nodeRouteCard: t111 arithmetic, measured route matches both forced variants, tiny threshold flips it") {
    val edges = Seq(
      ("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("a", "c"), ("c", "a")
    ).toDF("u", "v")
    def route = GraphOps.nodeRouteCard(edges).head().getAs[String]("route")
    val card = GraphOps.nodeRouteCard(edges).head()
    assert(card.getAs[Long]("n_nodes") == 3L)
    assert(card.getAs[Long]("est_bytes") == 48L)
    assert(card.getAs[Long]("broadcast_threshold") == 10L * 1024 * 1024)
    assert(card.getAs[String]("route") == "broadcast")
    // the budget is the session's autoBroadcastJoinThreshold: past it
    // the route flips to the spec-proven shuffle variant, and the ranks
    // are route-invariant either way
    val prEdges = edges.select($"u".as("src"), $"v".as("dst"))
    val bc = GraphOps.pageRankFixedPoint(prEdges, 2).as[(String, Long)].collect().toMap
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // a 16-byte budget prices 3 nodes (48 B) past it
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "16")
      assert(GraphOps.nodeRouteCard(edges).head().getAs[Long]("broadcast_threshold") == 16L)
      assert(route == "shuffle", "route flips with the conf")
      val flipped = GraphOps.pageRankFixedPoint(prEdges, 2,
          broadcastNodes = DedupOps.cardIsBroadcast(GraphOps.nodeRouteCard(edges)))
        .as[(String, Long)].collect().toMap
      assert(flipped == bc)
      // operator-disabled auto-broadcast (-1): the route honors it
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(route == "shuffle")
      // byte-suffixed values parse like Spark parses them
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
      assert(route == "broadcast")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("pageRank shuffle variant (broadcastNodes=false): shuffled joins, identical ranks") {
    val edges = Seq(
      ("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("a", "c"), ("c", "a")
    ).toDF("src", "dst")
    val bc = GraphOps.pageRankFixedPoint(edges, 3).as[(String, Long)].collect().toMap
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val sh = GraphOps.pageRankFixedPoint(edges, 3, broadcastNodes = false)
      // the final iteration is un-checkpointed by design, so the
      // billions-of-nodes plan is inspectable: the node-sized joins must
      // really have become shuffles, not re-broadcasts
      val plan = sh.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"hint-free variant must not broadcast:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected shuffled joins:\n$plan")
      assert(sh.as[(String, Long)].collect().toMap == bc,
        "integer ranks must not depend on the join strategy")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("kCore shuffle variant (broadcastNodes=false): identical peel cascade") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("u", "v")
    val bc = GraphOps.kCoreRounds(edges, k = 2, rounds = 3)
      .as[(Int, Long, Long)].collect().sortBy(_._1).toSeq
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val sh = GraphOps.kCoreRounds(edges, k = 2, rounds = 3, broadcastNodes = false)
        .as[(Int, Long, Long)].collect().sortBy(_._1).toSeq
      assert(sh == bc && sh == Seq((1, 4L, 4L), (2, 3L, 3L), (3, 3L, 3L)))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bfs shuffle variant (broadcastNodes=false): identical layer counts") {
    val edges = (1L to 20L).map(i => (i, i + 1)).toDF("u", "v")
    val seeds = Seq(1L).toDF("node")
    val bc = GraphOps.bfsLayers(edges, seeds, 3)
      .as[(Int, Long)].collect().sortBy(_._1).toSeq
    assert(bc == Seq((0, 1L), (1, 1L), (2, 1L), (3, 1L)))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val sh = GraphOps.bfsLayers(edges, seeds, 3, broadcastNodes = false)
        .as[(Int, Long)].collect().sortBy(_._1).toSeq
      assert(sh == bc)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("iteration-count guards: non-positive rounds are rejected, not NoSuchElement") {
    val e = Seq(("a", "b")).toDF("src", "dst")
    intercept[IllegalArgumentException](GraphOps.pageRankFixedPoint(e, iters = 0))
    intercept[IllegalArgumentException](
      GraphOps.kCoreRounds(Seq((1L, 2L)).toDF("u", "v"), k = 2, rounds = 0))
  }

  test("minhashLshCandidates is the unsalted minhashLshPairs candidate front end") {
    val docs = (0L until 40L)
      .map(i => (i, if (i % 2 == 0) s"alpha beta gamma delta epsilon zeta eta theta run $i"
                    else s"totally different words here nothing shared at all row $i"))
      .toDF("doc_id", "text")
    val sh = DedupOps.shingleTable(docs, "doc_id", col("text"))
    val cand = DedupOps.minhashLshCandidates(sh, "doc_id", 16, 4)
      .as[(Long, Long)].collect().toSet
    // every candidate is an ordered distinct pair
    assert(cand.forall { case (x, y) => x < y })
    // near-identical even-id docs must collide in at least one band
    assert(cand.nonEmpty)
  }

  test("g9 assortativity: exact -1 on a star, in [-1,1] on the real graph") {
    // a star graph is maximally disassortative: every edge joins the
    // hub (deg k) to a leaf (deg 1), so r = -1 exactly. Replay the
    // registered integer kernel on the fixture.
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("u", "v")
    val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("d"))
    val xy = sym
      .join(deg.select(col("node"), col("d").as("x")), sym("u") === col("node")).drop("node")
      .join(deg.select(col("node"), col("d").as("y")), sym("v") === col("node")).drop("node")
    val r = xy.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(TextOps.round6p(
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
            * sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))))
        .as("r")).head().getDouble(0)
    assert(r == -1.0, s"star graph must be exactly -1, got $r")
    val real = graft.SparkEntry.queries("g9_assortativity")(
      spark, Sf0_001).head()
    val rr = real.getDouble(1)
    assert(rr >= -1.0 && rr <= 1.0 && real.getLong(0) > 0)
  }

  test("g10 modularity: counts reconcile with the strong subgraph exactly") {
    val dir = Sf0_001
    val rows = graft.SparkEntry.queries("g10_modularity")(spark, dir).collect()
    assert(rows.nonEmpty)
    val strong = graft.queries.Pipelines.partCoOrderEdgesWeighted(spark, dir)
      .filter(col("w") >= 3).select(col("u"), col("v"))
    val m = strong.count()
    // Σ d_tot = 2m (every edge end lands in exactly one community) and
    // internal edges can never exceed the edge count
    assert(rows.map(_.getLong(2)).sum == 2 * m)
    assert(rows.map(_.getLong(3)).sum <= m)
    rows.foreach { r =>
      val (nn, dTot, eIn, q) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(nn >= 1 && eIn >= 0 && dTot >= nn, r.toString)
      // a community's internal edges are bounded by its pair count
      assert(eIn <= nn * (nn - 1) / 2, r.toString)
      // each contribution lies in modularity's per-community range
      assert(q > -1.0 && q < 1.0, r.toString)
    }
    // total modularity of any partition is < 1 and >= -0.5
    val total = rows.map(_.getDouble(4)).sum
    assert(total >= -0.5 && total < 1.0, s"Q=$total")
  }
}
