package graft.ops

import graft.SparkSpec.Sf0_001
import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Storage hygiene of the iterative operators: each loop must release
  * every superseded `localCheckpoint`'s blocks before it returns, so a
  * long session (the 121-query verify/bench sweep) holds only the
  * blocks the RETURNED plan still reads — not one generation per round
  * per query. Each test diffs `sparkContext.getPersistentRDDs` around a
  * run: unpersist removes the entry from that map synchronously, so the
  * surviving-new-entries count IS the leak count. */
class CheckpointHygieneSpec extends SparkSpec {

  private def newPersistent[A](body: => A): (A, Int) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val out = body
    val after = spark.sparkContext.getPersistentRDDs.keySet.toSet
    (out, (after -- before).size)
  }

  private def chainEdges(n: Int): DataFrame = {
    import spark.implicits._
    (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("u", "v")
  }

  test("connectedComponents keeps only the final label checkpoint") {
    import spark.implicits._
    // a 12-node path forces ~diameter/2 label-propagation rounds
    val pairs = (1 until 12).map(i => (i.toLong, (i + 1).toLong)).toDF("id_x", "id_y")
    val nodes = (1 to 12).map(_.toLong).toDF("doc_id")
    val (rows, kept) = newPersistent {
      DedupOps.connectedComponents(nodes, "doc_id", pairs).collect()
    }
    assert(rows.forall(_.getLong(1) == 1L), "one component labeled by min id")
    assert(kept <= 1, s"expected ≤1 surviving checkpoint (final labels), got $kept")
  }

  test("labelPropagation keeps only the last checkpointed round") {
    val edges = chainEdges(12)
    val (n, kept) = newPersistent {
      GraphOps.labelPropagation(edges, rounds = 4).count()
    }
    assert(n == 12)
    assert(kept <= 1, s"expected ≤1 surviving checkpoint (round rounds-1), got $kept")
  }

  test("pageRankFixedPoint keeps the edge list + last checkpointed round only") {
    import spark.implicits._
    val edges = chainEdges(30).select(col("u").as("src"), col("v").as("dst"))
    val (n, kept) = newPersistent {
      GraphOps.pageRankFixedPoint(edges, iters = 5).count()
    }
    assert(n == 30)
    // the edge list is read in place; only round iters-1 is checkpointed
    assert(kept <= 1, s"expected ≤1 surviving checkpoint (round iters-1), got $kept")
  }

  test("kCoreRounds keeps only the 1-row per-round summaries") {
    import spark.implicits._
    // K4 plus a pendant: round 1 peels the pendant, rounds 2-3 are stable
    val k4 = for (u <- 1 to 4; v <- (u + 1) to 4) yield (u.toLong, v.toLong)
    val edges = (k4 :+ (4L, 9L)).toDF("u", "v")
    val (rows, kept) = newPersistent {
      GraphOps.kCoreRounds(edges, k = 3, rounds = 3).collect()
    }
    assert(rows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet ==
      Set((1, 4L, 6L), (2, 4L, 6L), (3, 4L, 6L)))
    assert(kept <= 3, s"expected ≤3 surviving 1-row summaries, got $kept")
  }

  test("bfsLayers keeps only the 1-row per-hop summaries") {
    import spark.implicits._
    val base = chainEdges(20)
    val edges = base.unionByName(base.select(col("v").as("u"), col("u").as("v")))
    val seeds = Seq(1L).toDF("node")
    val (rows, kept) = newPersistent {
      GraphOps.bfsLayers(edges, seeds, hops = 4).collect()
    }
    assert(rows.map(r => (r.getInt(0), r.getLong(1))).toSet ==
      Set((0, 1L), (1, 1L), (2, 1L), (3, 1L), (4, 1L)))
    assert(kept <= 5, s"expected ≤5 surviving 1-row summaries, got $kept")
  }

  test("transitiveClosureDoubling keeps only the final closure checkpoint") {
    import spark.implicits._
    val edges = (1 until 17).map(i => (i.toLong, (i - 1).toLong)).toDF("child", "parent")
    val (n, kept) = newPersistent {
      GraphOps.transitiveClosureDoubling(edges).count()
    }
    assert(n == (16 * 17) / 2) // node i has i ancestors on the chain
    assert(kept <= 1, s"expected ≤1 surviving checkpoint (the closure), got $kept")
  }

  test("bpeMerges keeps only the 1-row per-step merge checkpoints") {
    import spark.implicits._
    val docs = Seq.fill(6)("banana band bandana").toDF("text")
    val (rows, kept) = newPersistent {
      TextOps.bpeMerges(docs, col("text"), steps = 3).collect()
    }
    assert(rows.length == 3)
    assert(kept <= 3, s"expected ≤3 surviving 1-row merge checkpoints, got $kept")
  }

  // ---- the sweep-context pin (round-6): per-operator release is
  // asserted above; this runs TEN registered iterative queries
  // back-to-back under the bench's own sweep discipline and asserts the
  // surviving-checkpoint count returns to baseline BETWEEN queries — the
  // monotonic cross-query growth suspected behind round-5's g2 median
  // inflation is pinned by a spec instead of inferred from bench deltas.
  test("mini-sweep: checkpoint blocks return to baseline between queries") {
    val sf = Sf0_001
    val sc = spark.sparkContext
    // the iterative/registered queries with loop checkpoints inside
    val names = Seq("g1_closure", "g2_pagerank", "g4_kcore", "g5_bfs_layers",
      "g7_part_clusters", "g8_label_prop", "t16_ann_ivf_kmeans",
      "t17_dedup_clusters", "t38_bpe_merges", "t48_bpe_encode")
    // landings (shingles/sigs/buckets) happen on first touch: they are
    // parquet writes, not persistent RDDs, so the baseline is stable
    val baseline = sc.getPersistentRDDs.keySet.toSet
    def newCheckpointed(): Seq[Int] =
      sc.getPersistentRDDs.collect {
        case (id, rdd) if !baseline.contains(id) && rdd.isCheckpointed => id
      }.toSeq
    names.foreach { name =>
      graft.SparkEntry.queries(name)(spark, sf).count()
      // the loop's own release keeps only FINAL-round blocks (the
      // returned plan reads them): a handful per query, never a
      // generation per round
      val kept = newCheckpointed()
      assert(kept.length <= 6,
        s"$name left ${kept.length} checkpointed RDDs before the sweep")
      // Bench.sweepQueryRdds discipline: the finished run's checkpoint
      // blocks are dead (every run replans; landings are parquet)
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!baseline.contains(id) && rdd.isCheckpointed)
          rdd.unpersist(blocking = true)
      }
      val after = newCheckpointed()
      assert(after.isEmpty,
        s"after $name + sweep, ${after.length} checkpointed RDDs survive: back to baseline failed")
    }
  }
}
