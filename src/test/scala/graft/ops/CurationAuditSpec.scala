package graft.ops

import graft.SparkSpec.Sf0_001
import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Invariant tests for the round-8 curation-audit queries
  * (t53 survivorship, t54 fertility, t55 int8 quantization) on the
  * sf0.001 tables. */
class CurationAuditSpec extends SparkSpec {

  private val dir = Sf0_001
  private def run(name: String) = graft.SparkEntry.queries(name)(spark, dir)

  test("t53: one survivor per cluster, and it dominates its cluster") {
    val rows = run("t53_dedup_survivorship").collect()
    assert(rows.nonEmpty)
    val clusters = rows.map(_.getLong(0))
    assert(clusters.distinct.length == clusters.length, "cluster_id is unique")
    rows.foreach { r =>
      val (size, dropped, total, survTok) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(5))
      assert(dropped == size - 1)
      assert(survTok <= total)
      // the survivor's token count is at least the cluster mean (it is
      // the max, so in particular ≥ mean)
      assert(survTok * size >= total)
    }
    // every document lands in exactly one cluster: sizes sum to corpus
    val nDocs = graft.Tables(spark, dir, "documents").count()
    assert(rows.map(_.getLong(1)).sum == nDocs)
  }

  test("t54: per-lang sums reconcile and fertility is bounded") {
    val rows = run("t54_token_fertility").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (words, sub, chars) = (r.getLong(2), r.getLong(3), r.getLong(5))
      val fertility = r.getDouble(6)
      // ceil(len/4) gives at least one subword unit per word and never
      // more units than characters
      assert(sub >= words && sub <= chars)
      assert(fertility >= 1.0)
    }
    val totalDocs = rows.map(_.getLong(1)).sum
    assert(totalDocs == graft.Tables(spark, dir, "documents").count())
  }

  test("t56: one verdict per sampled vector, vote counts in [1,5]") {
    val rows = run("t56_knn_label_audit").collect()
    val emb = graft.Tables(spark, dir, "embeddings")
    assert(rows.length == emb.filter(col("vec_id") % 10 === 0).count())
    val ids = rows.map(_.getLong(0))
    assert(ids.distinct.length == ids.length, "one verdict per query")
    rows.foreach { r =>
      val votes = r.getLong(3)
      assert(votes >= 1 && votes <= 5)
      assert(r.getBoolean(4) == (r.getInt(1) == r.getInt(2)))
    }
  }

  test("t57: KL ≥ 0 per source, token totals cover the corpus") {
    val rows = run("t57_source_kl_drift").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // Gibbs' inequality, with slack for the per-term 1e-9 rounding
      assert(r.getDouble(3) >= -1e-6, s"KL must be non-negative: $r")
      assert(r.getLong(2) <= r.getLong(1), "vocab cannot exceed token count")
    }
    val totalToks = graft.Tables(spark, dir, "documents")
      .select(size(split(col("text"), " "))).collect().map(_.getInt(0).toLong).sum
    assert(rows.map(_.getLong(1)).sum == totalToks)
  }

  test("s14: sliding windows count every event exactly twice") {
    val rows = run("s14_sliding_windows").collect()
    val nEvents = graft.Tables(spark, dir, "events").count()
    assert(rows.map(_.getLong(2)).sum == 2 * nEvents)
  }

  test("t58: recall ∈ [0,1], hits never exceed the exact top-k") {
    val rows = run("t58_ann_recall").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "hits ≤ exact neighbors")
      val rec = r.getDouble(3)
      assert(rec >= 0.0 && rec <= 1.0)
    }
    // the index should be useful: mean recall over the sample ≥ 0.5
    val mean = rows.map(_.getDouble(3)).sum / rows.length
    assert(mean >= 0.5, s"mean recall $mean")
  }

  test("t59: sweep is monotone — higher threshold, fewer pairs and docs") {
    val rows = run("t59_dedup_threshold_sweep").collect()
      .sortBy(_.getDouble(0))
    assert(rows.length == 3)
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi.getLong(1) <= lo.getLong(1), "pairs monotone")
      assert(hi.getLong(2) <= lo.getLong(2), "docs monotone")
    }
  }

  test("t60: correlation is a valid coefficient per language") {
    val rows = run("t60_len_quality_corr").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val c = r.getDouble(2)
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9, s"corr $c out of range")
    }
  }

  test("t63: tertile buckets are balanced and ordered by NLL") {
    val rows = run("t63_ppl_buckets").collect()
    val byBucket = rows.groupBy(_.getString(2))
    assert(byBucket.keySet == Set("head", "middle", "tail"))
    val n = rows.length
    byBucket.values.foreach(g =>
      assert(math.abs(g.length - n / 3.0) <= n / 6.0, "roughly balanced"))
    def maxNll(b: String) = byBucket(b).map(_.getDouble(1)).max
    def minNll(b: String) = byBucket(b).map(_.getDouble(1)).min
    assert(maxNll("head") <= minNll("middle"), "head below middle")
    assert(maxNll("middle") <= minNll("tail"), "middle below tail")
  }

  test("t55: int8 round trip bounds — err ≤ scale/2, cosine near 1") {
    val rows = run("t55_int8_quant").collect()
    assert(rows.nonEmpty)
    rows.foreach { case Row(_, _, scale: Double, cos: Double, err: Double) =>
      assert(scale > 0.0)
      // q = floor(x/s + 0.5) is within half a quantization step
      // (rounding of the reported values adds at most 1e-6 slack)
      assert(err <= scale / 2 + 1e-6, s"err=$err scale=$scale")
      assert(cos > 0.999 && cos <= 1.0 + 1e-9, s"recon_cos=$cos")
    }
  }

  test("t70: every flag is a train doc matched to a real eval near-dup") {
    val rows = run("t70_fuzzy_decontam").collect()
    assert(rows.nonEmpty, "the sf0.001 corpus carries cross-slice near-dups")
    val trains = rows.map(_.getLong(0))
    assert(trains.distinct.length == trains.length, "one verdict per train doc")
    rows.foreach { r =>
      val (train, eval0, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(train % 17 != 0 && eval0 % 17 == 0, "sides must straddle the split")
      assert(j >= 0.5 && j <= 1.0, s"jaccard=$j")
    }
    // recompute the reported jaccard independently for the first flag
    val Row(train, eval0, j) = rows.head
    def shingles(id: Long): Set[String] = {
      val text = graft.Tables(spark, dir, "documents")
        .filter(col("doc_id") === id).select(col("text")).head().getString(0)
      text.split(" ").sliding(3).map(_.mkString(" ")).toSet
    }
    val (a, b) = (shingles(train.asInstanceOf[Long]), shingles(eval0.asInstanceOf[Long]))
    val exact = a.intersect(b).size.toDouble / a.union(b).size.toDouble
    assert(math.abs(exact - j.asInstanceOf[Double]) < 1e-12,
      s"reported jaccard must be the exact set jaccard: $exact vs $j")
  }

  test("t71: per-source ledgers reconcile with the corpus and with t53") {
    val rows = run("t71_source_dedup_impact").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (docs, kept, dropped) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val (tokTotal, tokKept) = (r.getLong(4), r.getLong(5))
      assert(kept + dropped == docs, "every doc is kept or dropped")
      assert(tokKept <= tokTotal)
      assert(r.getDouble(6) >= 0.0 && r.getDouble(6) < 1.0, "doc_drop_frac")
      assert(r.getDouble(7) >= 0.0 && r.getDouble(7) < 1.0, "tok_drop_frac")
    }
    // the per-source ledgers tile the corpus exactly...
    val nDocs = graft.Tables(spark, dir, "documents").count()
    assert(rows.map(_.getLong(1)).sum == nDocs, "sources tile the corpus")
    // ...and agree with t53's per-cluster view: same survivor rule, so
    // total survivors = number of clusters, total drops match
    val t53 = run("t53_dedup_survivorship").collect()
    assert(rows.map(_.getLong(2)).sum == t53.length, "Σ kept = n_clusters")
    assert(rows.map(_.getLong(3)).sum == t53.map(_.getLong(2)).sum,
      "Σ dropped matches the cluster ledger")
  }

  test("t72: centroids are valid unit-free drift coordinates per source") {
    val rows = run("t72_source_centroid_drift").collect()
    assert(rows.nonEmpty)
    val nVecs = graft.Tables(spark, dir, "embeddings").count()
    assert(rows.map(_.getLong(1)).sum == nVecs, "sources tile the embeddings")
    rows.foreach { r =>
      val (cos, norm) = (r.getDouble(2), r.getDouble(3))
      assert(cos >= -1.0 - 1e-9 && cos <= 1.0 + 1e-9, s"cosine in range: $cos")
      assert(norm > 0.0, "a 100-vector mean collapses to 0 only if degenerate")
    }
    // sources are random slices of one synthetic distribution, so each
    // centroid should correlate positively with the corpus centroid
    assert(rows.count(_.getDouble(2) > 0) >= rows.length / 2,
      "most sources drift less than orthogonal")
  }

  test("t73: co-fire matrix is upper-triangular and bounded by its diagonal") {
    val rows = run("t73_rule_cofire").collect()
    assert(rows.nonEmpty)
    val cnt = rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    cnt.foreach { case ((a, b), n) =>
      assert(a <= b, "upper triangle only")
      assert(n > 0)
      if (a != b) {
        // a co-fire count can never exceed either rule's own rejections
        assert(n <= cnt((a, a)) && n <= cnt((b, b)),
          s"co-fire($a,$b)=$n exceeds a diagonal")
      }
    }
    // the diagonal agrees with t35's per-doc flags (same rule predicates)
    val t35 = run("t35_quality_rules").collect()
    val stopFails = t35.count(!_.getBoolean(7))
    cnt.get(("stop", "stop")).foreach(n =>
      assert(n == stopFails, s"diag(stop)=$n vs t35 fails=$stopFails"))
    val repFails = t35.count(!_.getBoolean(8))
    cnt.get(("rep", "rep")).foreach(n =>
      assert(n == repFails, s"diag(rep)=$n vs t35 fails=$repFails"))
  }

  test("t74: hot keys rank honestly and the pair-work ledger is exact") {
    val rows = run("t74_skew_preflight").collect()
    val byFam = rows.groupBy(_.getString(0))
    assert(byFam.keySet == Set("shingle", "emb_bucket", "frame_fp"),
      "all three landed index families audited")
    byFam.foreach { case (fam, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length).toSeq,
        s"$fam: rnk contiguous from 1")
      assert(sorted.length <= 5)
      // df non-increasing down the ranks; the ledger columns tie out
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getLong(3) >= b.getLong(3), s"$fam df order")
        case _ =>
      }
      rs.foreach { r =>
        val df = r.getLong(3)
        assert(r.getLong(4) == df * (df - 1) / 2, "pair_contrib = C(df,2)")
        val frac = r.getDouble(7)
        assert(frac >= 0.0 && frac <= 1.0, s"skew_frac=$frac")
      }
      // top-5 shares can never exceed the family total
      assert(rs.map(_.getDouble(7)).sum <= 1.0 + 1e-9, s"$fam Σ shares ≤ 1")
    }
    // the shingle family audits the SAME landed relation the dedup
    // queries join on — its key count must match that index exactly
    val nShingleKeys = byFam("shingle").head.getLong(5)
    val landed = graft.queries.TrainingData.docShingles(spark, dir)
      .select(col("shingle")).distinct().count()
    assert(nShingleKeys == landed, s"n_keys=$nShingleKeys vs landed=$landed")
  }

  test("t75: landing ledgers reconcile with the base tables") {
    val rows = run("t75_landing_integrity").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val nDocs = graft.Tables(spark, dir, "documents").count()
    val nVecs = graft.Tables(spark, dir, "embeddings").count()
    val (ccRows, ccClusters) = rows("dedup_clusters")
    assert(ccRows == nDocs, "every doc is in exactly one cluster")
    assert(ccClusters <= ccRows && ccClusters > 0)
    val (sigRows, sigDocs) = rows("doc_minhash_sigs")
    assert(sigRows == sigDocs, "one signature row per doc")
    assert(sigRows <= nDocs, "only docs with ≥1 shingle carry signatures")
    val (shRows, shDocs) = rows("doc_shingles")
    assert(shDocs == sigRows, "shingled docs = signed docs (same guard)")
    assert(shRows >= shDocs, "≥1 shingle per shingled doc")
    val (ebRows, ebBuckets) = rows("emb_buckets")
    assert(ebRows == nVecs * 32, "one bucket entry per vector per table")
    assert(ebBuckets <= ebRows)
    val (srRows, srPairs) = rows("shared_runs")
    assert(srPairs >= 1 && srPairs <= srRows, "≥1 run per reported pair")
    // the ledger audits the SAME landed run index t62/t76 consume
    val landed = graft.queries.TrainingData.sharedRunsLanded(spark, dir)
    assert(srRows == landed.count(), "run count equals the landed index")
    assert(srPairs == landed.select(col("id_x"), col("id_y")).distinct().count())
  }

  test("t76: excision ledgers are internally consistent and bounded by t62's runs") {
    val ex = run("t76_dup_excision").collect()
    assert(ex.nonEmpty)
    ex.foreach { r =>
      val (n, spans, cut, kept) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(spans >= 1 && cut >= 20L * spans,
        "each merged island contains at least one full >=20-token run")
      assert(cut <= n && kept == n - cut, s"token arithmetic broken: $r")
    }
    // every excised doc appears as the LATER side of some t62 pair, and
    // its excision is at least that pair's longest run (span union only grows)
    val pairs = run("t62_substring_runs").collect()
      .map(r => r.getLong(1) -> r.getLong(3)).groupBy(_._1)
      .map { case (id, rs) => id -> rs.map(_._2).max }
    val cutByDoc = ex.map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(cutByDoc.keySet == pairs.keySet,
      "excised docs = docs appearing as id_y in the detection relation")
    pairs.foreach { case (id, maxRun) =>
      assert(cutByDoc(id) >= maxRun, s"doc $id excises less than its longest run")
    }
  }

  test("t81: per-source excision ledger tiles the corpus and reconciles with t76") {
    val rows = run("t81_excision_by_source").collect()
    val nDocs = graft.Tables(spark, dir, "documents").count()
    assert(rows.map(_.getLong(1)).sum == nDocs, "sources tile the corpus")
    rows.foreach { r =>
      val (docs, toks, aff, cut, share) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(aff <= docs && cut <= toks, s"ledger out of bounds: $r")
      assert(math.abs(share - cut.toDouble / toks.toDouble) < 2e-6)
    }
    val t76 = run("t76_dup_excision").collect()
    assert(rows.map(_.getLong(3)).sum == t76.length, "Σ affected = t76 rows")
    assert(rows.map(_.getLong(4)).sum == t76.map(_.getLong(3)).sum,
      "Σ excised tokens match the per-doc ledger")
  }

  test("t82: split sizes tile the corpus and leakage matches the landed clusters") {
    val rows = run("t82_split_leakage").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows.keySet == Set("train", "val"))
    val nDocs = graft.Tables(spark, dir, "documents").count()
    assert(rows.values.map(_._1).sum == nDocs, "splits tile the corpus")
    // recompute the straddle count straight off the landed cluster relation
    val sp = graft.queries.TrainingData.dedupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_id"),
        (pmod(TextOps.hx(concat(lit("split:"), col("doc_id").cast("string"))),
          lit(10L)) < 8).as("is_train"))
    val straddling = sp.groupBy(col("cluster_id"))
      .agg(countDistinct(col("is_train")).as("nsp"))
      .filter(col("nsp") > 1).select(col("cluster_id"))
    val leaked = sp.join(straddling, "cluster_id")
      .groupBy(col("is_train")).count()
      .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(rows("train")._2 == leaked.getOrElse(true, 0L))
    assert(rows("val")._2 == leaked.getOrElse(false, 0L))
  }

  test("t84: the Venn ledger tiles the train split and its near-dup margin equals t70") {
    val rows = run("t84_decontam_matrix").collect()
      .map(r => (r.getBoolean(0), r.getBoolean(1), r.getBoolean(2)) -> r.getLong(3)).toMap
    val nTrain = graft.Tables(spark, dir, "documents")
      .filter(col("doc_id") % 17 =!= 0).count()
    assert(rows.values.sum == nTrain, "combos tile the train split")
    // t70 emits exactly one row per near-dup-flagged train doc — the
    // matrix's neardup margin must match it
    val t70 = run("t70_fuzzy_decontam").count()
    assert(rows.collect { case ((_, true, _), n) => n }.sum == t70,
      "near-dup margin equals the t70 relation")
  }

  test("t79: gram-count ledger is monotone and consistent across orders") {
    val rows = run("t79_ngram_dup_rate").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rows.keySet == Set(1, 2, 3))
    val nTokens = graft.Tables(spark, dir, "documents")
      .select(sum(size(TextOps.tokens(col("text"))))).head().getLong(0)
    assert(rows(1)._1 == nTokens, "unigram total = corpus token count")
    (1 to 3).foreach { n =>
      val (total, distinct, rate) = rows(n)
      assert(distinct >= 1 && distinct <= total)
      assert(math.abs(rate - (1.0 - distinct.toDouble / total.toDouble)) < 2e-6)
    }
    // longer grams are individually rarer: duplication can only fall
    assert(rows(1)._3 >= rows(2)._3 && rows(2)._3 >= rows(3)._3)
  }

  test("t86: serving HLL within ±5% of exact; contract form agrees bit-for-bit") {
    // The SERVING form is pure HLL (no exact distinct — plan-pinned in
    // PlanShapeSpec); its ±5% acceptance bound (50σ at rsd 0.01;
    // Spark's HLL++ has no RNG, so this is replayable) is checked here
    // against t79's exact ledger. The REGISTERED t86 (r15) carries the
    // same bound as a hash-checked `within_bound` column — assert the
    // two forms agree: same exact ledger, and the contract's boolean
    // holds exactly when the serving estimate is in bound (the
    // estimates are bit-identical: HLL registers are
    // duplicate-insensitive, so reading them off the (n, g)-distinct
    // relation changes nothing).
    val exact = run("t79_ngram_dup_rate").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val hll = graft.queries.TrainingData.ngramDupRateHll(spark, dir).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val contract = run("t86_ngram_dup_rate_hll").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(hll.keySet == Set(1, 2, 3))
    assert(contract.keySet == Set(1, 2, 3))
    (1 to 3).foreach { n =>
      val (totExact, distExact) = exact(n)
      val (tot, dist, rate) = hll(n)
      assert(tot == totExact, s"n=$n: total_grams is exact")
      assert(math.abs(dist - distExact).toDouble <= 0.05 * distExact,
        s"n=$n: HLL $dist vs exact $distExact beyond ±5%")
      assert(math.abs(rate - (1.0 - dist.toDouble / tot.toDouble)) < 2e-6)
      val (cTot, cDist, cBound) = contract(n)
      assert(cTot == totExact && cDist == distExact,
        s"n=$n: contract ledger must be the exact ledger")
      assert(cBound == (math.abs(dist - distExact).toDouble <= 0.05 * distExact),
        s"n=$n: contract bound must be the serving estimate's own bound")
    }
  }

  test("t80: cells tile the embeddings and the entropy is the ledger's own") {
    val rows = run("t80_cluster_diversity").collect()
    assert(rows.nonEmpty && rows.length <= 8)
    val nVecs = graft.Tables(spark, dir, "embeddings").count()
    assert(rows.map(_.getLong(1)).sum == nVecs, "every vector in exactly one cell")
    val ent = rows.map(_.getDouble(3)).distinct
    assert(ent.length == 1, "entropy column is the single corpus value")
    assert(ent.head >= 0.0 && ent.head <= math.log(8.0) + 1e-9,
      s"entropy out of [0, ln 8]: ${ent.head}")
    // recompute from the reported populations (same per-term rounding)
    val n = rows.map(_.getLong(1)).sum.toDouble
    val expect = rows.map { r =>
      val p = r.getLong(1) / n
      BigDecimal(-p * math.log(p)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    }.sum.toDouble
    assert(math.abs(ent.head - expect) < 2e-6, s"entropy ${ent.head} vs recomputed $expect")
  }

  test("t98: Zipf fit runs over exactly the top-256 ranks and recomputes from the vocab") {
    val r = run("t98_zipf_slope").collect()
    assert(r.length == 1)
    val (vocab, totTok, k) = (r(0).getLong(0), r(0).getLong(1), r(0).getLong(2))
    val (slope, icept) = (r(0).getDouble(3), r(0).getDouble(4))
    assert(k == math.min(256L, vocab), "regression over min(256, vocab) ranks")
    // corpus ledger: vocab/total from an independent recount
    val cf = graft.Tables(spark, dir, "documents")
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("text"), " ")).as("tok"))
      .groupBy("tok").count().collect().map(x => x.getString(0) -> x.getLong(1))
    assert(vocab == cf.length.toLong && totTok == cf.map(_._2).sum)
    // natural-ish text: slope strictly negative, intercept positive,
    // and the OLS recomputation from the exact counts agrees closely
    assert(slope < 0.0 && icept > 0.0, s"slope=$slope intercept=$icept")
    val top = cf.sortBy { case (t, n) => (-n, t) }.take(256)
    val xs = top.zipWithIndex.map { case (_, i) => math.log((i + 1).toDouble) }
    val ys = top.map { case (_, n) => math.log(n.toDouble) }
    val kk = top.length.toDouble
    val (sx, sy) = (xs.sum, ys.sum)
    val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
    val sxx = xs.map(a => a * a).sum
    val want = (kk * sxy - sx * sy) / (kk * sxx - sx * sx)
    assert(math.abs(slope - want) < 1e-4, s"slope $slope vs recomputed $want")
  }

  test("t99: join-route verdicts recompute from the measured sizes, and the broadcast claim matches a real gate plan") {
    val rows = run("t99_join_route").collect()
    assert(rows.map(_.getString(0)).sorted.toSeq ==
      Seq("band_index", "doc_minhash_sigs", "lm_unigrams", "seed_grams"))
    rows.foreach { r =>
      val (nRows, bytes, thr, route) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
      assert(nRows > 0 && bytes > 0)
      assert(thr == 10L * 1024 * 1024)
      assert(route == (if (bytes <= thr) "broadcast" else "shuffle"),
        s"verdict must recompute from the measured size: ${r.getString(0)}")
    }
    // the card's lm_unigrams verdict at this SF is 'broadcast' — and the
    // REAL LM gate plan broadcasts that side (t92's plan assert pins
    // BroadcastExchange), so ledger and physical plan agree
    val lm = rows.find(_.getString(0) == "lm_unigrams").get
    assert(lm.getString(4) == "broadcast")
    val plan = graft.SparkEntry.queries("t92_lm_drift")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      "the relation the card routes 'broadcast' must actually broadcast in the gate plan")
  }
}
