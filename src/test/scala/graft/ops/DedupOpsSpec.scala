package graft.ops

import graft.SparkSpec.Sf0_001
import graft.{ReferenceForms, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unit tests for the training-data dedup/text operators on hand-
  * computed fixtures. */
class DedupOpsSpec extends SparkSpec {

  test("incrementalNearDup: duplicate arrival flagged, novel arrival admitted") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpusDocs = Seq((1L, base),
      (2L, "one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    val corpusSh = DedupOps.shingleTable(corpusDocs, "doc_id", col("text"))
    val corpusSigs = DedupOps.minhashSignatures(corpusSh, "doc_id", 16)
    val arrivals = Seq(
      (10L, base), // verbatim dup of corpus doc 1
      (11L, "completely novel words nothing shared here at all today ok"),
      (12L, "x")   // too short to shingle: admits with 0 candidates
    ).toDF("doc_id", "text")
    val got = DedupOps.incrementalNearDup(arrivals, "doc_id", col("text"),
        corpusSh, corpusSigs, threshold = 0.8, k = 16, bands = 4)
      .as[(Long, Long, Option[Long], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(10L)._2 == Some(1L) && !got(10L)._3, "verbatim dup must be rejected")
    assert(got(11L)._2.isEmpty && got(11L)._3, "novel doc must admit")
    assert(got(12L) == ((0L, None, true)), "unshingleable doc admits with 0 candidates")
  }

  test("saltedSelfJoinPairs: exact same pair set as the unsalted join, incl. one hot bucket") {
    import spark.implicits._
    // one mega-bucket (the skew case) + some small ones
    val rows = ((1L to 40L).map(i => (i, "hot")) ++
      Seq((100L, "a"), (101L, "a"), (102L, "b"), (103L, "c"))).toDF("doc_id", "bucket")
    val plain = rows.as("a").join(rows.as("b"),
        $"a.bucket" === $"b.bucket" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("id_x"), $"b.doc_id".as("id_y"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (g <- Seq(2, 3, 7)) {
      val salted = DedupOps.saltedSelfJoinPairs(rows, "doc_id", Seq("bucket"), g)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(salted.length == salted.toSet.size, s"g=$g: duplicate pair emitted")
      assert(salted.toSet == plain, s"g=$g: pair set diverged")
    }
  }

  test("measured salt: a >50%-hot boilerplate shingle trips the ladder and routes the salted join") {
    import spark.implicits._
    // one boilerplate shingle shared by 50 docs + 50 two-doc shingles:
    // the hot key owns 1225 of 1275 pair-work units (96% > 50%) — the
    // exact situation t74's pre-flight exists to catch.
    val rows = ((1L to 50L).map(i => (i, "the quick fox")) ++
      (0 until 50).flatMap(k => Seq((200L + 2 * k, s"rare gram $k"),
        (201L + 2 * k, s"rare gram $k")))).toDF("doc_id", "shingle")
    val prof = rows.groupBy($"shingle").agg(count(lit(1)).as("df"))
    val card = DedupOps.saltDecisionCard(prof, "df", parallelism = 32, maxSalt = 16)
      .head()
    assert(card.getAs[Long]("total_pairs") == 1275L)
    assert(card.getAs[Long]("max_pair_contrib") == 1225L)
    assert(card.getAs[Double]("hot_frac") > 0.5, "fixture must be >50% hot")
    // per_task = 1275 div 32 = 39; 1225 ≤ 64·39 but > 16·39 ⇒ g = 8
    assert(card.getAs[Long]("per_task") == 39L)
    val g = DedupOps.measuredSalt(prof, "df", parallelism = 32, maxSalt = 16)
    assert(g == 8, s"ladder must pick 8, got $g")
    // the measured g routes the SALTED join (grid columns in the plan)…
    val salted = DedupOps.saltedSelfJoinPairs(rows, "doc_id", Seq("shingle"), g)
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("ci") && plan.contains("cj"),
      s"salted grid keys must be join keys:\n$plan")
    // …and the pair set is EXACTLY the unsalted one
    val plain = rows.as("a").join(rows.as("b"),
        $"a.shingle" === $"b.shingle" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(salted.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == plain)
  }

  test("measured salt: an EMPTY key profile prices salt_g = 1, not maxSalt (ADVICE r12)") {
    import spark.implicits._
    val prof = Seq.empty[(String, Long)].toDF("shingle", "df")
    val card = DedupOps.saltDecisionCard(prof, "df", parallelism = 32, maxSalt = 16)
      .head()
    assert(card.getAs[Long]("n_keys") == 0L)
    assert(card.getAs[Long]("total_pairs") == 0L, "empty sums coalesce to 0")
    assert(card.getAs[Long]("max_pair_contrib") == 0L)
    assert(card.getAs[Int]("salt_g") == 1,
      "zero keys must price the cheapest grid, not fall through to maxSalt")
    assert(card.getAs[Double]("hot_frac") == 0.0)
    assert(DedupOps.measuredSalt(prof, "df", parallelism = 32, maxSalt = 16) == 1)
  }

  test("saltFrontier: the chosen rung is the FIRST budget-meeting g, and the frontier is monotone") {
    import spark.implicits._
    val rows = ((1L to 50L).map(i => (i, "the quick fox")) ++
      (0 until 50).flatMap(k => Seq((200L + 2 * k, s"rare gram $k"),
        (201L + 2 * k, s"rare gram $k")))).toDF("doc_id", "shingle")
    val prof = rows.groupBy($"shingle").agg(count(lit(1)).as("df"))
    val f = DedupOps.saltFrontier(prof, "df", parallelism = 32, maxSalt = 16)
      .orderBy($"g").collect()
      .map(r => (r.getInt(0), r.getLong(2), r.getBoolean(4), r.getBoolean(5)))
    assert(f.map(_._1).toSeq == Seq(1, 2, 4, 8, 16))
    // per-cell work is non-increasing in g; meets_budget is monotone
    assert(f.sliding(2).forall { case Array(a, b) => a._2 >= b._2 })
    assert(f.sliding(2).forall { case Array(a, b) => !a._3 || b._3 },
      "once a rung meets the budget every larger rung does")
    // the chosen rung is exactly the first meets_budget one (ladder = 8
    // on this fixture, proven in the measured-salt spec above)
    val firstOk = f.find(_._3).map(_._1)
    assert(f.filter(_._4).map(_._1).toSeq == firstOk.toSeq)
    assert(firstOk.contains(8))
  }

  test("lshCandidatesMeasured: measured route equals the fixed-salt route on the real corpus") {
    val docs = spark.read.parquet(s"$Sf0_001/documents.parquet")
    val sh = DedupOps.shingleTable(docs, "doc_id", col("text"))
    val sigs = DedupOps.minhashSignatures(sh, "doc_id", 16)
    def pairs(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val measured = pairs(DedupOps.lshCandidatesMeasured(sigs, "doc_id", 16, 4))
    val fixed = pairs(DedupOps.lshCandidatesFromSigs(sigs, "doc_id", 16, 4))
    assert(measured == fixed, "the measured decision must not change the candidate set")
  }

  test("containmentPairs: prefix front end is lossless vs the exact all-sharing-pairs join") {
    import spark.implicits._
    // every doc shares one boilerplate sentence — the hot shingle that
    // makes the raw self-join quadratic; the prefix filter must rank it
    // out yet still find every qualifying pair, including the excerpt
    val boiler = "click here to subscribe to our newsletter now"
    val body = (d: Long) => (0 until 12).map(i => s"w${d}_$i").mkString(" ")
    val docs = ((0L until 20L).map(d => (d, s"${body(d)} $boiler")) ++ Seq(
      // 100: a truncated copy of doc 0 (all but the last token) — every
      // one of its shingles appears in doc 0, containment(100→0) = 1.0
      (100L, s"${body(0L)} $boiler".split(" ").dropRight(1).mkString(" ")),
      // 101: a full copy of doc 1
      (101L, s"${body(1L)} $boiler"))).toDF("doc_id", "text")
    val sh = DedupOps.shingleTable(docs, "doc_id", col("text")).cache()
    // the exact semantics, stated directly (the t32 oracle's shape)
    def exact(threshold: Double): Set[(Long, Long, Double)] = {
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      sh.select(col("doc_id").as("id_x"), col("shingle"))
        .join(sh.select(col("doc_id").as("id_y"), col("shingle")), "shingle")
        .filter(col("id_x") =!= col("id_y"))
        .groupBy(col("id_x"), col("id_y")).agg(count(lit(1)).as("n_common"))
        .join(sizes.select(col("doc_id").as("id_x"), col("n_sh")), "id_x")
        .select(col("id_x"), col("id_y"),
          (col("n_common").cast("double") / col("n_sh").cast("double")).as("c"))
        .filter(col("c") >= threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    for (threshold <- Seq(0.5, 0.9)) {
      val got = DedupOps.containmentPairs(sh, "doc_id", threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == exact(threshold), s"threshold=$threshold: row set diverged")
    }
    // sanity: the asymmetric cases the operator exists for are present
    val at9 = DedupOps.containmentPairs(sh, "doc_id", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(at9.contains((100L, 0L)), "excerpt→source containment missed")
    assert(at9.contains((101L, 1L)) && at9.contains((1L, 101L)), "exact copy both ways")
  }

  test("containmentPairs on the real corpus: same rows as the exact join") {
    val docs = spark.read.parquet(s"$Sf0_001/documents.parquet")
    val sh = DedupOps.shingleTable(docs, "doc_id", col("text")).cache()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val exact = sh.select(col("doc_id").as("id_x"), col("shingle"))
      .join(sh.select(col("doc_id").as("id_y"), col("shingle")), "shingle")
      .filter(col("id_x") =!= col("id_y"))
      .groupBy(col("id_x"), col("id_y")).agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("doc_id").as("id_x"), col("n_sh")), "id_x")
      .select(col("id_x"), col("id_y"),
        (col("n_common").cast("double") / col("n_sh").cast("double")).as("c"))
      .filter(col("c") >= 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = DedupOps.containmentPairs(sh, "doc_id", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == exact)
  }

  test("jaccardPairs scale guard: over-cap input fails fast in-plan, " +
      "cap is an explicit escape hatch") {
    import spark.implicits._
    val sh = Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "b")).toDF("doc_id", "shingle")
    // under the default cap: normal result
    assert(DedupOps.jaccardPairs(sh, "doc_id", 0.5).count() == 1)
    // a cap below the input size refuses AT EXECUTION, naming the scale path
    val guarded = DedupOps.jaccardPairs(sh, "doc_id", 0.5, exactFormCap = 3)
    val e = intercept[Exception](guarded.collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("minhashLshPairsFrom")),
      s"guard message must name the scale path: ${msgs(e)}")
    // raising the cap deliberately runs the same plan
    assert(DedupOps.jaccardPairs(sh, "doc_id", 0.5, exactFormCap = 4).count() == 1)
    // the guard rides the INPUT rows: an over-cap input must fail even
    // when the thresholded OUTPUT would be empty (an output-side guard
    // would never evaluate on zero result rows — the review finding)
    val noPairs = DedupOps.jaccardPairs(
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("doc_id", "shingle"),
      "doc_id", 0.5, exactFormCap = 3)
    val e2 = intercept[Exception](noPairs.collect())
    assert(msgs(e2).exists(_.contains("minhashLshPairsFrom")),
      s"empty-output over-cap input must still fail: ${msgs(e2)}")
  }

  test("connectedComponents: transitive merge, triangle, singleton") {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 12L, 20L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("id_x", "id_y")
    val cc = DedupOps.connectedComponents(nodes, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // chain 1-2-3 merges transitively even though 1 and 3 never paired
    assert(cc(1L) == (1L, 3L) && cc(2L) == (1L, 3L) && cc(3L) == (1L, 3L))
    assert(cc(10L) == (10L, 3L) && cc(12L) == (10L, 3L))
    assert(cc(20L) == (20L, 1L))
  }

  test("connectedComponents shuffle variant (broadcastNodes=false): " +
      "shuffled round join, identical clusters") {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 12L, 20L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("id_x", "id_y")
    val bc = DedupOps.connectedComponents(nodes, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val sh = DedupOps.connectedComponents(nodes, "doc_id", pairs,
          broadcastNodes = false)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(sh == bc, "clusters must not depend on the join strategy")
      // the loop checkpoints every round, so assert the plan on the
      // exposed un-checkpointed round join: the billions-of-nodes
      // variant must really shuffle the label relation, not re-broadcast
      val sym = pairs.select(col("id_x").as("src"), col("id_y").as("dst"))
        .union(pairs.select(col("id_y").as("src"), col("id_x").as("dst")))
      val labels = nodes.select(col("doc_id"), col("doc_id").as("label"))
      val round = DedupOps.ccRound(sym, labels, "doc_id", broadcastNodes = false)
      val plan = round.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"hint-free CC round must not broadcast:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a shuffled CC round join:\n$plan")
      // and the default variant really does hint the broadcast
      val hinted = DedupOps.ccRound(sym, labels, "doc_id", broadcastNodes = true)
      assert(hinted.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "broadcastNodes=true must hint the label join")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("connectedComponentsMeasured: the t110 card route IS the executed route, and the result matches both forced variants") {
    import spark.implicits._
    // card arithmetic == the registered t110 cc_labels row: 16 B/row
    // against the 10 MiB threshold (10 485 760 B → flip at 655 361 rows)
    def route(nodes: DataFrame) = DedupOps.ccRouteCard(nodes).head().getAs[String]("route")
    val small = Seq(1L, 2L, 3L).toDF("doc_id")
    assert(route(small) == "broadcast")
    val big = spark.range(700000L).select(col("id").as("doc_id"))
    val card = DedupOps.ccRouteCard(big).head()
    assert(card.getAs[Long]("n_nodes") == 700000L)
    assert(card.getAs[Long]("est_bytes") == 700000L * 16L)
    assert(card.getAs[Long]("broadcast_threshold") == 10L * 1024 * 1024)
    assert(card.getAs[String]("route") == "shuffle")
    // card↔plan agreement (the t99 ledger↔plan move): a round join
    // driven by the MEASURED route over the big node set must really
    // shuffle — the card's verdict, not the old hand-picked default
    val pairs = Seq((1L, 2L)).toDF("id_x", "id_y")
    val sym = pairs.select(col("id_x").as("src"), col("id_y").as("dst"))
      .union(pairs.select(col("id_y").as("src"), col("id_x").as("dst")))
    val labelsBig = big.select(col("doc_id"), col("doc_id").as("label"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val round = DedupOps.ccRound(sym, labelsBig, "doc_id",
        broadcastNodes = DedupOps.cardIsBroadcast(DedupOps.ccRouteCard(big)))
      val plan = round.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"measured route 'shuffle' must drop the broadcast hint:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // and the measured form returns the variant-independent clusters
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 12L, 20L).toDF("doc_id")
    val ccPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("id_x", "id_y")
    def toMap(df: DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val measured = toMap(DedupOps.connectedComponentsMeasured(nodes, "doc_id", ccPairs))
    assert(measured == toMap(DedupOps.connectedComponents(nodes, "doc_id", ccPairs)))
    assert(measured == toMap(DedupOps.connectedComponents(nodes, "doc_id", ccPairs,
      broadcastNodes = false)))
    // the threshold is the session's own autoBroadcastJoinThreshold —
    // flipping the conf flips the route, and the measured form returns
    // the same clusters through the shuffle variant
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "16")
      assert(route(nodes) == "shuffle",
        "7 label rows (112 B) must price past a 16 B session budget")
      assert(DedupOps.ccRouteCard(nodes).head()
        .getAs[Long]("broadcast_threshold") == 16L)
      assert(measured == toMap(DedupOps.connectedComponentsMeasured(
        nodes, "doc_id", ccPairs)))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(route(nodes) == "shuffle",
        "operator-disabled broadcast must mean 'never broadcast'")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    assert(route(nodes) == "broadcast",
      "restored default conf prices the tiny fixture as broadcast again")
  }

  test("connectedComponents ≡ union-find on random graphs, all three routes (property)") {
    import spark.implicits._
    import org.scalacheck.Gen
    val graphGen = for {
      n <- Gen.chooseNum(2, 14)
      edges <- Gen.listOf(for {
        u <- Gen.chooseNum(1, n - 1)
        v <- Gen.chooseNum(u + 1, n)
      } yield (u.toLong, v.toLong))
    } yield (n, edges.distinct)
    def unionFind(n: Int, es: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map((1 to n).map(i => i.toLong -> i.toLong): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      es.foreach { case (u, v) =>
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
      }
      (1 to n).map(i => i.toLong -> find(i.toLong)).toMap
    }
    // seeded + total generation (ADVICE r14): `sample` can return None
    // and records no seed — pureApply with a fixed seed is deterministic
    // and reproducible, so a failure names its exact graphs
    val cases = Gen.listOfN(5, graphGen)
      .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(20260815L))
    for ((n, es) <- cases) {
      val expect = unionFind(n, es)
      val nodes = (1 to n).map(_.toLong).toDF("doc_id")
      val pairs = if (es.nonEmpty) es.toDF("id_x", "id_y")
        else spark.range(0).select(col("id").as("id_x"), col("id").as("id_y"))
      def run(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val measured = run(DedupOps.connectedComponentsMeasured(nodes, "doc_id", pairs)
        .select(col("doc_id"), col("cluster_id")))
      assert(measured == expect, s"measured CC must match union-find on n=$n $es")
      assert(run(DedupOps.connectedComponents(nodes, "doc_id", pairs)
        .select(col("doc_id"), col("cluster_id"))) == expect)
      assert(run(DedupOps.connectedComponents(nodes, "doc_id", pairs,
          broadcastNodes = false)
        .select(col("doc_id"), col("cluster_id"))) == expect)
    }
  }

  test("retractFromClusters shuffle variant: identical surviving relation") {
    import spark.implicits._
    // the bridge-split fixture of the main retraction test: removing
    // bridge B (2) splits {A,B,C}; removing min D (4) relabels E — the
    // repair must agree across join strategies
    def toks(lo: Int, hi: Int) = (lo to hi).map("w" + _).mkString(" ")
    val rdocs = Seq(
      (1L, toks(1, 20)), (2L, toks(11, 30)), (3L, toks(21, 40)),
      (4L, (1 to 15).map("x" + _).mkString(" ")),
      (5L, (1 to 15).map("x" + _).mkString(" ")),
      (6L, (1 to 15).map("y" + _).mkString(" "))
    ).toDF("doc_id", "text")
    val sh = DedupOps.shingleTable(rdocs, "doc_id", col("text"))
    val sigs = DedupOps.minhashSignatures(sh, "doc_id", 16)
    val landed = DedupOps.connectedComponents(rdocs, "doc_id",
        DedupOps.minhashLshPairsFrom(sh, sigs, "doc_id", 0.25, bands = 16)
          .select(col("id_x"), col("id_y")))
      .select(col("doc_id"), col("cluster_id"))
    val removed = Seq(2L, 4L).toDF("doc_id")
    def run() = DedupOps.retractFromClusters(landed, removed,
        "doc_id", sh, sigs, threshold = 0.25, bands = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = run()
    assert(base == Map(1L -> 1L, 3L -> 3L, 5L -> 5L, 6L -> 6L))
    // auto-broadcast off (-1) prices every node set past the session
    // budget, so the repair's measured CC runs the shuffle variant
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      assert(DedupOps.ccRouteCard(rdocs.select(col("doc_id"))).head()
        .getAs[String]("route") == "shuffle")
      assert(run() == base)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("minhashLshPairs with salt: identical result on the real corpus") {
    val docs = spark.read.parquet(s"$Sf0_001/documents.parquet")
    def run(salt: Int) =
      DedupOps.minhashLshPairs(docs, "doc_id", org.apache.spark.sql.functions.col("text"),
          0.8, 16, 4, salt)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(run(3) == run(1))
  }
  import spark.implicits._

  private lazy val docs: DataFrame = Seq(
    // 0 and 1: near-duplicates (one word changed out of 12)
    (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"),
    // 2: exact duplicate of 0
    (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
    // 3: unrelated
    (3L, "one two three four five six seven eight nine ten eleven twelve"),
    // 4: the quality/langid fixture (English markers present)
    (4L, "the cat and the dog of the house went to a tree")
  ).toDF("doc_id", "text")

  test("shingles: trigrams in order; short docs yield empty") {
    val sh = docs.filter($"doc_id" === 0)
      .select(TextOps.shingles(TextOps.tokens($"text")).as("sh"))
      .head.getSeq[String](0)
    assert(sh.length == 10)
    assert(sh.head == "alpha beta gamma" && sh.last == "kappa lambda mu")
    val short = Seq((9L, "a b")).toDF("doc_id", "text")
      .select(TextOps.shingles(TextOps.tokens($"text")).as("sh"))
      .head.getSeq[String](0)
    assert(short.isEmpty)
  }

  test("jaccardPairs: exact hand-computed jaccard") {
    val sh = DedupOps.shingleTable(docs, "doc_id", col("text"))
    val pairs = DedupOps.jaccardPairs(sh, "doc_id", 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // docs 0/1 differ in the last token only, which lives in exactly one
    // trigram: |∩|=9, |∪|=11
    assert(math.abs(pairs((0L, 1L)) - 9.0 / 11.0) < 1e-12)
    // exact dup: jaccard 1.0
    assert(pairs((0L, 2L)) == 1.0)
    // unrelated docs share nothing
    assert(!pairs.contains((0L, 3L)))
  }

  test("minhashLshPairs: finds exact and near dups, skips unrelated") {
    val found = DedupOps.minhashLshPairs(docs, "doc_id", col("text"), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.contains((0L, 2L))) // exact dup always survives LSH
    assert(!found.exists { case (x, y) => y == 3L || x == 3L })
  }

  test("simhash: identical docs get identical signatures; near-dups are close") {
    val sigs = DedupOps.simhash(docs, "doc_id", col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) == sigs(2L))
    val hamming01 = java.lang.Long.bitCount(sigs(0L) ^ sigs(1L))
    val hamming03 = java.lang.Long.bitCount(sigs(0L) ^ sigs(3L))
    assert(hamming01 < hamming03)
  }

  test("simhash: the native in-row kernel equals the explode/aggregate form corpus-wide") {
    val corpus = spark.read.parquet(s"$Sf0_001/documents.parquet")
    val kernel = DedupOps.simhash(corpus, "doc_id", col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agg = ReferenceForms.simhashAgg(corpus, "doc_id", col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kernel == agg, "native simhash kernel diverges from the aggregation form")
    assert(kernel.nonEmpty)
  }

  test("simhash: null-text rows are dropped — the aggregation form's contract (ADVICE r11)") {
    import spark.implicits._
    val withNull = Seq((1L, "alpha beta gamma"), (2L, null), (3L, ""))
      .toDF("doc_id", "text")
    val kernelIds = DedupOps.simhash(withNull, "doc_id", col("text"))
      .collect().map(_.getLong(0)).toSet
    val aggIds = ReferenceForms.simhashAgg(withNull, "doc_id", col("text"))
      .collect().map(_.getLong(0)).toSet
    assert(kernelIds == aggIds, "kernel and aggregation must agree on null text")
    assert(!kernelIds.contains(2L), "null-text doc must emit no signature row")
    assert(kernelIds.contains(1L) && kernelIds.contains(3L))
  }

  test("simhashPairs: exact dup at hamming 0") {
    val sigs = DedupOps.simhash(docs, "doc_id", col("text"))
    val pairs = DedupOps.simhashPairs(sigs, "doc_id", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((0L, 2L)) == 0)
  }

  test("dupGroups: canonical id is the min of each group") {
    val groups = DedupOps.dupGroups(docs, "doc_id", TextOps.contentHash(col("text")))
      .select("doc_id", "canonical_id", "n_members")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(groups(0L) == ((0L, 2L)) && groups(2L) == ((0L, 2L)))
    assert(groups(1L) == ((1L, 1L)))
  }

  test("winnowFingerprint: near-dups share the fingerprint key") {
    val fps = docs.select($"doc_id", TextOps.winnowFingerprint($"text").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(0L) == fps(2L)) // identical text → identical fingerprint
    assert(fps(0L) != fps(3L))
  }

  test("langId + quality: marker argmax and deterministic score") {
    val row = docs.filter($"doc_id" === 4)
      .select(
        TextOps.langId(TextOps.tokens($"text")).as("lang"),
        TextOps.qualityScore(TextOps.tokens($"text")).as("q"))
      .head
    assert(row.getString(0) == "en")
    // 12 tokens: 0.4*12/100 + 0.3*(9/12) + 0.3*(6/12) [the,the,the,a,and,of,to → 7? recount below]
    val toks = "the cat and the dog of the house went to a tree".split(" ")
    val hits = toks.count(Set("the", "a", "and", "of", "to"))
    val expected = 0.4 * (toks.length / 100.0) +
      0.3 * (toks.distinct.length.toDouble / toks.length) +
      0.3 * (hits.toDouble / toks.length)
    assert(math.abs(row.getDouble(1) - expected) < 1e-12)
    // no markers → und
    val und = docs.filter($"doc_id" === 0)
      .select(TextOps.langId(TextOps.tokens($"text"))).head.getString(0)
    assert(und == "und")
  }

  test("bpeMerges: classic low/lower fixture — greedy argmax with lexicographic ties") {
    import spark.implicits._
    // words: low ×3, lower ×2. Step 1: "l o"=5 ties "o w"=5 → "l o"
    // (lexicographically smaller). Step 2: "lo w"=5 wins. Step 3:
    // "low e"=2 ties "e r"=2 → "e r" wins ('e' < 'l').
    val docs = Seq((1L, "low low lower"), (2L, "low lower")).toDF("doc_id", "text")
    val got = TextOps.bpeMerges(docs, $"text", steps = 3)
      .select("step", "pair", "token", "freq")
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1, "l o", "lo", 5L), (2, "lo w", "low", 5L), (3, "e r", "er", 2L)))
  }

  test("bpeMerges: repeated-symbol runs merge non-overlapping left-to-right") {
    import spark.implicits._
    // "aaaa": step 1 pair "a a" counts 3 (overlapping occurrences all
    // count), but application is greedy non-overlapping → [aa, aa];
    // step 2 then merges "aa aa" once.
    val docs = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val got = TextOps.bpeMerges(docs, $"text", steps = 2)
      .select("step", "pair", "freq")
      .as[(Int, String, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1, "a a", 3L), (2, "aa aa", 1L)))
  }

  test("topTokenCount: most-repeated token occurrence count") {
    import spark.implicits._
    val got = Seq(
      (1L, "a b a c a b"),   // a ×3
      (2L, "x y z"),         // all unique
      (3L, "t t t t")        // t ×4
    ).toDF("doc_id", "text")
      .select($"doc_id", TextOps.topTokenCount(TextOps.tokens($"text")).as("c"))
      .as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 3, 2L -> 1, 3L -> 4))
  }

  test("scrubPii/piiCount: detect and redact email, phone, IPv4") {
    import spark.implicits._
    val df = Seq(
      (1L, "reach me at jane.doe+x@sub.example.org or 555-123-4567"),
      (2L, "server at 192.168.0.1 and 10.0.0.255 no phone"),
      (3L, "clean text with no identifiers at all")).toDF("id", "text")
    val out = df.select($"id",
      TextOps.piiCount($"text", TextOps.EmailRe).as("e"),
      TextOps.piiCount($"text", TextOps.PhoneRe).as("p"),
      TextOps.piiCount($"text", TextOps.Ipv4Re).as("i"),
      TextOps.scrubPii($"text").as("s"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(1L) == ((1L, 1L, 0L, "reach me at <EMAIL> or <PHONE>")))
    assert(out(2L) == ((0L, 0L, 2L, "server at <IP> and <IP> no phone")))
    assert(out(3L) == ((0L, 0L, 0L, "clean text with no identifiers at all")))
  }

  test("tokenBlocks/blockDupStats: disjoint blocks, partial tail kept, cross-doc dup flagged") {
    import spark.implicits._
    // one 10-token boilerplate block shared by docs 1 and 2; doc 3 distinct
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (1L, boiler + " " + (1 to 7).map(i => s"x$i").mkString(" ")),  // 17 toks → 2 blocks
      (2L, boiler + " " + (1 to 10).map(i => s"y$i").mkString(" ")), // 20 toks → 2 blocks
      (3L, (1 to 10).map(i => s"z$i").mkString(" "))                 // 1 block
    ).toDF("doc_id", "text")
    val blocks = DedupOps.tokenBlocks(docs, "doc_id", col("text"), 10)
    val m = blocks.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(m.size == 5)
    assert(m((1L, 0)) == boiler && m((2L, 0)) == boiler)
    assert(m((1L, 1)) == (1 to 7).map(i => s"x$i").mkString(" ")) // partial tail
    val stats = DedupOps.blockDupStats(blocks, "doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(stats(1L) == ((2L, 1L, 0.5)))
    assert(stats(2L) == ((2L, 1L, 0.5)))
    assert(stats(3L) == ((1L, 0L, 0.0)))
  }

  test("bpeEncodedWords: symbol counts after the trained merges (greedy fixpoint)") {
    import spark.implicits._
    // "aaaa": step 1 merges "a a" (freq 3), step 2 merges "aa aa" —
    // after BOTH applications the word is one symbol (the training-only
    // loop skips the last application; the encoder must not)
    val got = TextOps.bpeEncodedWords(
        Seq((1L, "aaaa")).toDF("doc_id", "text"), $"text", steps = 2)
      .as[(String, Long)].collect().toMap
    assert(got == Map("aaaa" -> 1L))
    val got2 = TextOps.bpeEncodedWords(
        Seq((1L, "ab ab b")).toDF("doc_id", "text"), $"text", steps = 1)
      .as[(String, Long)].collect().toMap
    assert(got2 == Map("ab" -> 1L, "b" -> 1L))
  }

  test("bpeEncodeCol: in-row encoding under trained merges equals the batch vocabulary join, and handles unseen words") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$Sf0_001/documents.parquet")
    val merges = TextOps.bpeMerges(docs, col("text"), steps = 4)
      .orderBy($"step").collect().map(_.getAs[String]("pair")).toSeq
    assert(merges.size == 4)
    val batch = TextOps.bpeEncodedWords(docs, col("text"), steps = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val vocab = batch.keys.toSeq.toDF("word")
    val inRow = vocab.select($"word", TextOps.bpeEncodeCol($"word", merges).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(inRow == batch, "in-row encode must equal the trained-vocabulary join")
    // a word training never saw still encodes (character fallback +
    // any merges that happen to apply) — the property that lets a
    // stream skip the vocabulary join entirely
    val unseen = Seq("zzqx").toDF("word")
      .select(TextOps.bpeEncodeCol($"word", merges)).head().getLong(0)
    assert(unseen >= 1L && unseen <= 4L)
  }

  test("rowBandKeys: per-row (streaming) band keys equal the batch explode+agg pipeline") {
    val docs = spark.read.parquet(s"$Sf0_001/documents.parquet")
    val batch = DedupOps.lshBands(DedupOps.minhashSignatures(
        DedupOps.shingleTable(docs, "doc_id", col("text")), "doc_id", 16),
        "doc_id", 4, 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val perRow = DedupOps.rowBandKeys(docs, "doc_id", col("text"), 16, 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(perRow == batch)
  }

  test("rowBandKeys rejects a k not divisible by bands (would drop trailing minima)") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      DedupOps.rowBandKeys(docs, "doc_id", col("text"), k = 10, bands = 4)
    }
    assert(e.getMessage.contains("divisible"))
  }

  test("tokenBlocks drops zero-content blocks, so empty docs can't pair as duplicates") {
    import spark.implicits._
    val docs = Seq((1L, ""), (2L, "   "), (3L, "a b c"), (4L, "a b c")).toDF("doc_id", "text")
    val blocks = DedupOps.tokenBlocks(docs, "doc_id", $"text", blockLen = 2)
    // the two blank docs emit nothing; the content docs emit their blocks
    assert(blocks.filter($"doc_id" <= 2).count() == 0)
    val stats = DedupOps.blockDupStats(blocks, "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(stats == Map(3L -> (2L, 2L), 4L -> (2L, 2L)))
  }

  test("sharedRunPairs: known shared passage found with exact run length; sub-threshold ignored") {
    import spark.implicits._
    // a 25-token passage shared verbatim between docs 1 and 2, embedded
    // at DIFFERENT offsets (prefix lengths 3 vs 7 — exercises the
    // diagonal alignment); doc 3 shares only a 12-token run with doc 1
    // (below the 20-token threshold); doc 4 is unrelated.
    val passage = (1 to 25).map(i => s"p$i").mkString(" ")
    val short = (1 to 12).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, s"a b c $passage x y z"),
      (2L, s"q r s t u v w $passage m n"),
      (3L, s"k1 k2 $short k3 k4 k5 k6 k7 k8 k9 k10 k11"),
      (4L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12 u13 u14 u15 u16 u17 u18 u19 u20 u21")
    ).toDF("doc_id", "text")
    val got = DedupOps.sharedRunPairs(docs, "doc_id", col("text"),
        minRunTokens = 20, seedW = 10, n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map((1L, 2L) -> ((1L, 25L))),
      s"expected exactly the (1,2) pair with one maximal 25-token run, got $got")
    // lowering the threshold (and seed width to keep losslessness)
    // surfaces the 12-token run too, with its exact length
    val loose = DedupOps.sharedRunPairs(docs, "doc_id", col("text"),
        minRunTokens = 11, seedW = 6, n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(loose((1L, 3L)) == ((1L, 12L)), s"12-token run missing or wrong length: $loose")
    assert(loose((1L, 2L)) == ((1L, 25L)))
  }

  test("excisionStats: first occurrence kept, later docs excised; overlapping and disjoint spans merge correctly") {
    import spark.implicits._
    val passage = (1 to 25).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      // doc 1 holds the first occurrence (smallest id) — never excised
      (1L, s"a b c $passage x y z"),
      // one 25-token span at offset 7 → kept = 34 - 25 = 9
      (2L, s"q r s t u v w $passage m n"),
      // unrelated — untouched, absent from the report
      (4L, (1 to 21).map(i => s"u$i").mkString(" ")),
      // passage TWICE (offsets 0 and 26): two DISJOINT spans → 2 islands
      (5L, s"$passage z1 $passage"),
      // passage + doc 1's tail: span [0,27] (vs doc 1, run length 28)
      // OVERLAPS span [0,24] (vs docs 2/5, run length 25) → ONE island
      (6L, s"$passage x y z")
    ).toDF("doc_id", "text")
    val got = DedupOps.excisionStats(docs, "doc_id", col("text"),
        minRunTokens = 20, seedW = 10, n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == Map(
      2L -> ((34L, 1L, 25L, 9L)),
      5L -> ((51L, 2L, 50L, 1L)),
      6L -> ((28L, 1L, 28L, 0L))),
      s"excision accounting mismatch: $got")
  }

  test("runAdmission: arriving doc sharing a run is flagged with exact partners/length; clean doc admits") {
    import spark.implicits._
    val passage = (1 to 25).map(i => s"p$i").mkString(" ")
    val corpus = Seq(
      (1L, s"a b c $passage x y z"),
      (2L, s"q r s t u v w $passage m n"),
      (3L, (1 to 30).map(i => s"c$i").mkString(" "))
    ).toDF("doc_id", "text")
    val arriving = Seq(
      // shares the 25-token passage with corpus docs 1 AND 2
      (10L, s"h1 h2 $passage h3"),
      // clean — no shared ≥20-token run anywhere
      (11L, (1 to 40).map(i => s"z$i").mkString(" ")),
      // too short to seed (< 10 tokens) — must still be reported, admitted
      (12L, "tiny doc only")
    ).toDF("doc_id", "text")
    val seeds = DedupOps.seedGramIndex(corpus, "doc_id", col("text"))
    val got = DedupOps.runAdmission(arriving, corpus, seeds, "doc_id", col("text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got == Map(
      10L -> ((2L, 25L, false)),
      11L -> ((0L, 0L, true)),
      12L -> ((0L, 0L, true))), s"admission verdicts wrong: $got")
  }

  test("sharedRunPairs rejects a threshold below the pigeonhole bound") {
    import spark.implicits._
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      DedupOps.sharedRunPairs(docs, "doc_id", col("text"),
        minRunTokens = 18, seedW = 10, n = 3)
    }
  }

  // --- multi-batch index growth (the s22/s23 ingest loop, driven batch
  // by batch): batch 1's arrival must collide with batch 0's arrival —
  // which a static-index gate can never report — and after the last
  // batch the grown index must be row-identical to a batch rebuild over
  // corpus ∪ arrivals.
  private def growthFixture = {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val novel = "one two three four five six seven eight nine ten"
    val corpus = Seq((1L, base)).toDF("doc_id", "text")
    val batch0 = Seq((2L, novel)).toDF("doc_id", "text")
    // 3 dups batch-0's arrival (growth-visible), 4 dups the corpus doc
    val batch1 = Seq((3L, novel), (4L, base)).toDF("doc_id", "text")
    (corpus, batch0, batch1)
  }

  private def initDirs(sub: String*): Seq[String] = {
    val root = graft.TempTrees.scratch("graft-growth-spec")
    sub.map(root.resolve(_).toString)
  }

  private def gateMap(gateDir: String): Map[Long, Long] =
    spark.read.parquet(gateDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def rowSet(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("near-dup index growth: later batch sees earlier arrivals; grown index == batch rebuild") {
    val (corpus, batch0, batch1) = growthFixture
    val Seq(bandsDir, shDir, gateDir) = initDirs("bands", "shingles", "gate")
    DedupOps.lshBands(
        DedupOps.minhashSignatures(
          DedupOps.shingleTable(corpus, "doc_id", col("text")), "doc_id", 16),
        "doc_id", 4, 4)
      .write.parquet(s"$bandsDir/batch_id=-1")
    DedupOps.shingleTable(corpus, "doc_id", col("text"))
      .write.parquet(s"$shDir/batch_id=-1")
    spark.range(0).select(col("id").as("doc_id"), col("id").as("n_candidates"))
      .write.parquet(s"$gateDir/batch_id=-1")
    graft.streaming.StreamOps.nearDupGrowStep(spark, batch0, bandsDir, shDir, gateDir, 0L)
    graft.streaming.StreamOps.nearDupGrowStep(spark, batch1, bandsDir, shDir, gateDir, 1L)
    val gate = gateMap(gateDir)
    assert(gate.get(2L).isEmpty, "batch-0 novel doc collides with nothing")
    assert(gate.get(3L).contains(1L),
      s"batch-1 dup of the BATCH-0 ARRIVAL must gate against the grown index: $gate")
    assert(gate.get(4L).contains(1L), s"batch-1 dup of the corpus doc: $gate")
    val all = corpus.union(batch0).union(batch1)
    val rebuildBands = DedupOps.lshBands(
      DedupOps.minhashSignatures(
        DedupOps.shingleTable(all, "doc_id", col("text")), "doc_id", 16),
      "doc_id", 4, 4)
    val grownBands = spark.read.parquet(bandsDir)
      .withColumn("batch_id", col("batch_id").cast("long"))
    assert(rowSet(grownBands.drop("batch_id")) == rowSet(rebuildBands),
      "grown band index must equal the batch rebuild over corpus ∪ arrivals")
    assert(rowSet(spark.read.parquet(shDir).drop("batch_id")) ==
      rowSet(DedupOps.shingleTable(all, "doc_id", col("text"))),
      "grown shingle index must equal the batch rebuild")
    // version tags: base rows at -1, each append at its batch id — and
    // the as-of view at batch 1 (batch_id < 1) excludes exactly batch 1
    val byBatch = grownBands.groupBy(col("batch_id")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byBatch.keySet == Set(-1L, 0L, 1L), s"version tags: $byBatch")
    val asOf1 = grownBands.filter(col("batch_id") < 1L)
    assert(rowSet(asOf1.drop("batch_id")) ==
      rowSet(DedupOps.lshBands(
        DedupOps.minhashSignatures(
          DedupOps.shingleTable(corpus.union(batch0), "doc_id", col("text")),
          "doc_id", 16), "doc_id", 4, 4)),
      "as-of batch 1 must equal the rebuild over corpus ∪ batch0")
    // EXACTLY-ONCE: a replayed micro-batch (foreachBatch's at-least-once
    // contract) overwrites its own version leaf and re-derives the same
    // version-bounded gate — index and gate states are unchanged
    val before = (rowSet(grownBands), gateMap(gateDir),
      rowSet(spark.read.parquet(shDir)))
    graft.streaming.StreamOps.nearDupGrowStep(spark, batch1, bandsDir, shDir, gateDir, 1L)
    val after = (rowSet(spark.read.parquet(bandsDir)
        .withColumn("batch_id", col("batch_id").cast("long"))),
      gateMap(gateDir), rowSet(spark.read.parquet(shDir)))
    assert(after == before, "a replayed batch must be a no-op")
  }

  test("cluster growth: a bridging arrival merges two existing clusters to the global min label") {
    import spark.implicits._
    // trigram-Jaccard geometry at the step's own MinHash family and
    // threshold (k = 16, bands = 4, J >= 0.8): A=w1..w100 and
    // B=w15..w114 share 84 of 112 trigrams, J = 0.75, below the
    // threshold; Y=w8..w107 shares 91 of 105 with each, J = 0.867, above
    // it — the bridge case incremental CC must merge.
    def toks(lo: Int, hi: Int) = (lo to hi).map("w" + _).mkString(" ")
    val corpus = Seq((1L, toks(1, 100)), (2L, toks(15, 114))).toDF("doc_id", "text")
    val batch0 = Seq((10L, toks(1, 100))).toDF("doc_id", "text")
    val batch1 = Seq((11L, toks(8, 107)),
      (12L, (1 to 12).map("z" + _).mkString(" "))).toDF("doc_id", "text")
    val Seq(bandsDir, shDir, base) = initDirs("bands", "shingles", "clusters")
    DedupOps.lshBands(
        DedupOps.minhashSignatures(
          DedupOps.shingleTable(corpus, "doc_id", col("text")), "doc_id", 16),
        "doc_id", 4, 4)
      .write.parquet(s"$bandsDir/batch_id=-1")
    DedupOps.shingleTable(corpus, "doc_id", col("text"))
      .write.parquet(s"$shDir/batch_id=-1")
    val v0 = s"$base/v0"
    DedupOps.connectedComponents(corpus, "doc_id",
        spark.emptyDataFrame.select(lit(0L).as("id_x"), lit(0L).as("id_y")).limit(0))
      .select(col("doc_id"), col("cluster_id")).write.parquet(v0)
    graft.streaming.StreamOps.clusterGrowStep(spark, batch0, bandsDir, shDir,
      v0, s"$base/v1", 0L)
    val mid = spark.read.parquet(s"$base/v1").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mid == Map(1L -> 1L, 2L -> 2L, 10L -> 1L),
      s"batch-0 copy of A joins A's cluster, B untouched: $mid")
    graft.streaming.StreamOps.clusterGrowStep(spark, batch1, bandsDir, shDir,
      s"$base/v1", s"$base/v2", 1L)
    val fin = spark.read.parquet(s"$base/v2").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fin == Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L, 12L -> 12L),
      s"the bridge must merge A's and B's clusters to the global min, novel doc singleton: $fin")
    // exactly-once: replaying batch 1 from the same input version
    // overwrites v2 with the identical relation
    graft.streaming.StreamOps.clusterGrowStep(spark, batch1, bandsDir, shDir,
      s"$base/v1", s"$base/v2", 1L)
    val replayed = spark.read.parquet(s"$base/v2").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(replayed == fin, "a replayed cluster batch must be a no-op")
  }

  test("embedding index growth: later batch sees earlier arrivals; grown buckets == rebuild") {
    import spark.implicits._
    def vec(seed: Int) = Array.tabulate(64)(i => math.sin(seed * 31 + i).toFloat)
    val corpus = Seq((1L, vec(1), 0)).toDF("vec_id", "embedding", "label")
    val batch0 = Seq((2L, vec(2), 0)).toDF("vec_id", "embedding", "label")
    // 3 carries batch-0's exact vector (identical buckets in all 16
    // tables — the growth-visible collision); 4 is novel
    val batch1 = Seq((3L, vec(2), 0), (4L, vec(4), 0))
      .toDF("vec_id", "embedding", "label")
    val Seq(bucketsDir, gateDir) = initDirs("emb_buckets", "emb_gate")
    VectorOps.bucketTable(corpus, "vec_id", "embedding", 16, 4)
      .write.parquet(s"$bucketsDir/batch_id=-1")
    spark.range(0).select(col("id").as("vec_id"), col("id").as("n_candidates"))
      .write.parquet(s"$gateDir/batch_id=-1")
    graft.streaming.StreamOps.embGrowStep(spark, batch0, bucketsDir, gateDir, 16, 4, 0L)
    graft.streaming.StreamOps.embGrowStep(spark, batch1, bucketsDir, gateDir, 16, 4, 1L)
    val gate = spark.read.parquet(gateDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gate.get(3L).contains(1L) || gate.get(3L).exists(_ >= 1L),
      s"batch-1 copy of the BATCH-0 ARRIVAL must collide via the grown index: $gate")
    val all = corpus.union(batch0).union(batch1)
    assert(rowSet(spark.read.parquet(bucketsDir).drop("batch_id")) ==
      rowSet(VectorOps.bucketTable(all, "vec_id", "embedding", 16, 4)),
      "grown bucket index must equal the batch rebuild over corpus ∪ arrivals")
  }

  test("cluster retraction: a removed bridge SPLITS its cluster; a removed min RELABELS; unaffected untouched") {
    import spark.implicits._
    // chain A-B-C: J(A,B)=J(B,C)=8/28≈0.286, J(A,C)=0 — at threshold
    // 0.25, {A,B,C} is one cluster held together by bridge B; {D,E} are
    // identical with D the min label; {F} is an untouched singleton
    def toks(lo: Int, hi: Int) = (lo to hi).map("w" + _).mkString(" ")
    val docs = Seq(
      (1L, toks(1, 20)),   // A
      (2L, toks(11, 30)),  // B (bridge)
      (3L, toks(21, 40)),  // C
      (4L, (1 to 15).map("x" + _).mkString(" ")), // D (min of {D,E})
      (5L, (1 to 15).map("x" + _).mkString(" ")), // E
      (6L, (1 to 15).map("y" + _).mkString(" "))  // F
    ).toDF("doc_id", "text")
    val sh = DedupOps.shingleTable(docs, "doc_id", col("text"))
    val sigs = DedupOps.minhashSignatures(sh, "doc_id", 16)
    val landed = DedupOps.connectedComponents(docs, "doc_id",
      DedupOps.minhashLshPairsFrom(sh, sigs, "doc_id", 0.25, bands = 16)
        .select(col("id_x"), col("id_y")))
    val landedMap = landed.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(landedMap == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L),
      s"fixture precondition (chain + twin + singleton): $landedMap")
    val removed = Seq(2L, 4L).toDF("doc_id")
    val got = DedupOps.retractFromClusters(landed.select(col("doc_id"), col("cluster_id")),
        removed, "doc_id", sh, sigs, threshold = 0.25, bands = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 3L -> 3L, 5L -> 5L, 6L -> 6L),
      s"removing bridge B must split {A,C}; removing min D must relabel E; F untouched: $got")
  }

  test("substring-seed index growth: later batch sees earlier arrivals; grown index == batch rebuild") {
    val (corpus, batch0, batch1) = growthFixture
    val Seq(seedsDir, gateDir) = initDirs("seeds", "gate")
    DedupOps.seedGramIndex(corpus, "doc_id", col("text"))
      .write.parquet(s"$seedsDir/batch_id=-1")
    spark.range(0).select(col("id").as("doc_id"), col("id").as("n_candidates"))
      .write.parquet(s"$gateDir/batch_id=-1")
    graft.streaming.StreamOps.seedGrowStep(spark, batch0, seedsDir, gateDir, 0L)
    graft.streaming.StreamOps.seedGrowStep(spark, batch1, seedsDir, gateDir, 1L)
    val gate = gateMap(gateDir)
    assert(gate.get(2L).isEmpty, "batch-0 novel doc collides with nothing")
    assert(gate.get(3L).contains(1L),
      s"batch-1 dup of the BATCH-0 ARRIVAL must gate against the grown seed index: $gate")
    assert(gate.get(4L).contains(1L), s"batch-1 dup of the corpus doc: $gate")
    val all = corpus.union(batch0).union(batch1)
    assert(rowSet(spark.read.parquet(seedsDir).drop("batch_id")) ==
      rowSet(DedupOps.seedGramIndex(all, "doc_id", col("text"))),
      "grown seed index must equal the batch rebuild over corpus ∪ arrivals")
    // exactly-once: a replayed batch is a no-op at this grain too
    val before = (rowSet(spark.read.parquet(seedsDir)), gateMap(gateDir))
    graft.streaming.StreamOps.seedGrowStep(spark, batch1, seedsDir, gateDir, 1L)
    assert((rowSet(spark.read.parquet(seedsDir)), gateMap(gateDir)) == before,
      "a replayed seed batch must be a no-op")
  }
}
