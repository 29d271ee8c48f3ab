package graft.ops

import graft.SparkSpec.Sf0_001
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Invariant tests for the round-9 packaging/selection queries
  * (t65 chunking, t66 token-budget selection, t67 shard assignment)
  * on the sf0.001 tables. */
class PackagingOpsSpec extends SparkSpec {

  private val dir = Sf0_001
  private def run(name: String) = graft.SparkEntry.queries(name)(spark, dir)

  test("t65: chunk grid covers every token exactly per the 50/40 stride") {
    val rows = run("t65_chunks").collect()
    assert(rows.nonEmpty)
    val docLens = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // per doc: chunk_ids are contiguous 0..ceil(n/40)-1, start = 40*id,
    // length = min(50, n-start) >= 1
    rows.groupBy(_.getLong(0)).foreach { case (doc, rs) =>
      val n = docLens(doc)
      val expected = (n + 39) / 40
      assert(rs.length == expected, s"doc $doc: ${rs.length} chunks, want $expected")
      val byId = rs.sortBy(_.getLong(1))
      byId.zipWithIndex.foreach { case (r, i) =>
        assert(r.getLong(1) == i, "chunk_id contiguous from 0")
        assert(r.getLong(2) == 40L * i, "start_tok = 40*chunk_id")
        assert(r.getLong(3) == math.min(50L, n - 40L * i), "n_tok = min(50, n-start)")
        assert(r.getLong(3) >= 1)
      }
      // consecutive full chunks overlap by 10 tokens (50-token window,
      // stride 40): next start < previous end whenever previous is full
      byId.sliding(2).foreach {
        case Array(a, b) if a.getLong(3) == 50L =>
          assert(b.getLong(2) == a.getLong(2) + 40 && b.getLong(2) < a.getLong(2) + 50)
        case _ => ()
      }
    }
    // chunk hash is the house hash of the sliced text (sampled doc)
    val doc0 = rows.map(_.getLong(0)).min
    val text = graft.Tables(spark, dir, "documents")
      .filter(col("doc_id") === doc0).select(col("text")).head().getString(0)
    val w = text.split(" ")
    rows.filter(_.getLong(0) == doc0).foreach { r =>
      val start = r.getLong(2).toInt
      val chunk = w.slice(start, math.min(start + 50, w.length)).mkString(" ")
      assert(r.getLong(4) == TextOps.hxScala(chunk), s"chunk hash at $start")
    }
  }

  test("t66: kept set is the maximal quality-ranked prefix within budget") {
    val kept = run("t66_source_budget").collect()
    assert(kept.nonEmpty)
    // recompute the full ranking independently: same q_micro via the
    // engine expression, greedy fill in plain Scala
    val all = graft.Tables(spark, dir, "documents")
      .select(col("source"), col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("source"), col("doc_id"),
        size(col("w")).cast("long").as("n_tok"),
        floor(TextOps.qualityScore(col("w")) * lit(1e6) + lit(0.5)).cast("long").as("q_micro"))
      .collect()
    val bySource = all.groupBy(_.getString(0))
    val expected = bySource.toSeq.flatMap { case (src, rs) =>
      val budget = rs.map(_.getLong(2)).sum / 2
      val ranked = rs.sortBy(r => (-r.getLong(3), r.getLong(1)))
      var cum = 0L
      ranked.takeWhile { r => cum += r.getLong(2); cum <= budget }
        .map(r => (src, r.getLong(1)))
    }.toSet
    val got = kept.map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == expected, "greedy prefix fill must match exactly")
    // rank prefix is contiguous and the running sum is honest
    kept.groupBy(_.getString(0)).foreach { case (src, rs) =>
      val sorted = rs.sortBy(_.getLong(4))
      sorted.zipWithIndex.foreach { case (r, i) =>
        assert(r.getLong(4) == i + 1, s"$src: rk prefix contiguous")
      }
      assert(sorted.map(_.getLong(3)).sum == sorted.last.getLong(5),
        s"$src: cum_tokens equals the sum of kept n_tok")
    }
  }

  test("t67: a deterministic permutation into 8 tolerably balanced shards") {
    val rows = run("t67_shard_assign").collect()
    val nDocs = graft.Tables(spark, dir, "documents").count()
    assert(rows.length == nDocs, "every document lands in exactly one shard")
    assert(rows.map(_.getLong(2)).distinct.length == nDocs)
    assert(rows.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 8))
    rows.groupBy(_.getLong(0)).foreach { case (shard, rs) =>
      val byPos = rs.sortBy(_.getLong(1))
      byPos.zipWithIndex.foreach { case (r, i) =>
        assert(r.getLong(1) == i + 1, s"shard $shard: pos contiguous from 1")
      }
      // write order is ascending in the shuffle key (ties impossible:
      // pos ties break on doc_id but skey collisions need an md5 prefix
      // collision)
      val keys = byPos.map(_.getLong(3))
      assert(keys.sameElements(keys.sorted), s"shard $shard: ordered by skey")
      // hash-mod balance: no shard more than 2x / less than half the mean
      val mean = nDocs.toDouble / 8
      assert(rs.length >= mean / 2 && rs.length <= mean * 2,
        s"shard $shard size ${rs.length} vs mean $mean")
    }
    // the shuffle key is the reproducible house hash, not an RNG
    rows.take(20).foreach { r =>
      assert(r.getLong(3) == TextOps.hxScala(s"shard:${r.getLong(2)}"))
      assert(r.getLong(0) == java.lang.Math.floorMod(r.getLong(3), 8L))
    }
  }

  test("t68: sketch quantiles land within one bucket width of the exact rank") {
    val est = run("t68_quantile_sketch").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(est.keySet == Set(25, 50, 90, 99))
    // independent exact nearest-rank percentiles over the token counts
    val lens = graft.Tables(spark, dir, "documents")
      .select(size(split(col("text"), " ")).as("n"))
      .collect().map(_.getInt(0)).sorted
    val n = lens.length
    est.foreach { case (q, e) =>
      val exact = lens(((q.toLong * n + 99) / 100).toInt - 1)
      // the estimate interpolates inside a width-4 bucket containing
      // the target rank, so it can't stray more than one bucket
      assert(math.abs(e - exact) <= 4.0, s"q=$q est=$e exact=$exact")
    }
    // quantile estimates are monotone in q
    assert(est(25) <= est(50) && est(50) <= est(90) && est(90) <= est(99))
  }

  test("t69: CMS estimates never undercount, and the heavy hitters are real") {
    val top = run("t69_cms_heavy_hitters").collect()
    assert(top.length == 20)
    // exact counts, independently
    val freq = graft.Tables(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    top.foreach { r =>
      val (tok, est, f) = (r.getString(0), r.getLong(1), r.getLong(2))
      assert(f == freq(tok), s"carried exact freq must match: $tok")
      assert(est >= f, s"CMS must overestimate: $tok est=$est freq=$f")
    }
    // ordering contract: est desc, tok asc
    val keys = top.map(r => (-r.getLong(1), r.getString(0))).toSeq
    assert(keys == keys.sorted, "top-20 ordered by (est desc, tok)")
    // the true #1 token cannot be displaced below CMS rank 20: its
    // estimate is >= its true count, which dominates every other count
    val top1 = freq.maxBy { case (t, c) => (c, t) }._1
    assert(top.exists(_.getString(0) == top1), "exact top-1 present")
  }

  test("t97: waterfill exhausts the budget exactly and respects every cap") {
    import spark.implicits._
    // hand fixture, both branches: caps 2/8/20, budget = 2*30/3 = 20 →
    // a and b capped, c absorbs the residual water level
    val fx = Seq(("a", 10L, 2L), ("b", 10L, 8L), ("c", 10L, 20L))
      .toDF("source", "n_tok", "cap")
    val got = graft.queries.TrainingData.waterfillAlloc(fx).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getBoolean(3), r.getLong(4)))).toMap
    assert(got("a") == ((2L, true, 2L)))
    assert(got("b") == ((8L, true, 8L)))
    assert(got("c") == ((20L, false, 10L)))
    // remainder split: equal caps 7/7/7, budget 14 → 5,5,4 in source order
    val fx2 = Seq(("a", 10L, 7L), ("b", 10L, 7L), ("c", 10L, 7L))
      .toDF("source", "n_tok", "cap")
    val g2 = graft.queries.TrainingData.waterfillAlloc(fx2).collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(g2 == Map("a" -> 5L, "b" -> 5L, "c" -> 4L))
    // corpus: exact exhaustion, caps respected, ledger arithmetic, and
    // both branches live under the hashed heterogeneous epoch caps
    val rows = run("t97_budget_waterfill").collect()
    assert(rows.nonEmpty)
    val sumCap = rows.map(_.getLong(2)).sum
    assert(rows.map(_.getLong(4)).sum == 2 * sumCap / 3, "sum(alloc) == budget exactly")
    rows.foreach { r =>
      assert(r.getLong(4) <= r.getLong(2), "alloc <= cap")
      if (r.getBoolean(3)) assert(r.getLong(4) == r.getLong(2), "capped -> alloc == cap")
      assert(r.getLong(5) == r.getLong(4) * 1000000L / r.getLong(1), "epochs_micro ledger")
    }
    val (capped, un) = rows.partition(_.getBoolean(3))
    assert(capped.nonEmpty && un.nonEmpty, "both waterfill branches exercised")
    assert(capped.map(_.getLong(2)).max <= un.map(_.getLong(4)).min + 1,
      "the water level separates capped caps from uncapped allocations")
  }

  test("t97 property: waterfill optimality conditions hold on random cap sets") {
    import spark.implicits._
    import org.scalacheck.Gen
    val capSet = Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(1L, 500L)))
    (1 to 6).foreach { round =>
      val caps = capSet.sample.get
      val fx = caps.zipWithIndex
        .map { case (c, i) => (s"s$i", 10L, c) }.toDF("source", "n_tok", "cap")
      val rows = graft.queries.TrainingData.waterfillAlloc(fx).collect()
        .map(r => (r.getString(0), r.getLong(2), r.getBoolean(3), r.getLong(4)))
      val budget = 2L * caps.sum / 3L
      // exact exhaustion, feasibility
      assert(rows.map(_._4).sum == budget, s"round $round: sum(alloc) != budget")
      rows.foreach { case (src, cap, isCapped, alloc) =>
        assert(alloc >= 0 && alloc <= cap, s"round $round $src: alloc out of [0, cap]")
        if (isCapped) assert(alloc == cap, s"round $round $src: capped must sit at cap")
      }
      // water-level optimality: uncapped allocations are level (within
      // the remainder unit), and no capped cap pokes above the water
      val un = rows.filter(!_._3).map(_._4)
      if (un.nonEmpty) {
        assert(un.max - un.min <= 1, s"round $round: uncapped allocs must be level")
        val cappedCaps = rows.filter(_._3).map(_._2)
        if (cappedCaps.nonEmpty)
          assert(cappedCaps.max <= un.min + 1,
            s"round $round: a capped cap above the water level means it was wrongly capped")
      }
      // determinism: a rerun is bit-identical
      val again = graft.queries.TrainingData.waterfillAlloc(fx).collect()
        .map(r => (r.getString(0), r.getLong(2), r.getBoolean(3), r.getLong(4)))
      assert(rows.toSeq == again.toSeq, s"round $round: waterfill must be deterministic")
    }
  }
}
