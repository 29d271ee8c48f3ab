package graft

import graft.SparkSpec.Sf0_001
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-shape regression tests: assert the SHUFFLE COUNT of key plans
  * stays at its designed minimum (SCALE.md's shuffle inventory). A code
  * change that silently adds an Exchange — the thing that becomes the
  * bottleneck at 100 TB — fails here, at sf0.001, in seconds. */
class PlanShapeSpec extends SparkSpec {

  private val dir = Sf0_001

  private def exchanges(df: DataFrame): Int = {
    // count distinct Exchange operators in the final adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    plan.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
  }

  test("citation parse pipeline is shuffle-free up to the H5 dedup window") {
    val pages = graft.queries.Citations.pages(spark, dir)
    val preDedup = graft.wcd.Extract.enrich(
      graft.wcd.Extract.widen(
        graft.wcd.Extract.withUnknownKeys(graft.wcd.Extract.templates(pages))
          .filter(size(col("unknown_keys")) === 0)).drop("unknown_keys"))
    assert(exchanges(preDedup) == 0, "parse/normalize/enrich must be narrow")
    // the full pipeline adds exactly the one dedup-window shuffle
    val full = graft.wcd.Extract.references(pages)
    assert(exchanges(full) == 1, "H5 dedup is the pipeline's only shuffle")
  }

  test("q1 aggregate: partial+final hash aggregate, broadcast-free") {
    val df = SparkEntry.queries("q1_agg")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"))
    assert(exchanges(df) <= 2, "agg + output sort only")
  }

  test("t55 int8 quant audit is a pure narrow map (zero shuffles)") {
    val df = SparkEntry.queries("t55_int8_quant")(spark, dir)
    // the trailing orderBy is presentation; everything before it is narrow
    val body = df.queryExecution.executedPlan.toString
      .linesIterator.count(l => l.contains("Exchange") &&
        !l.contains("Reused") && !l.contains("rangepartitioning"))
    assert(body == 0, "quantization must not shuffle")
  }

  test("t54 fertility: one partial+final aggregate over lang keys") {
    val df = SparkEntry.queries("t54_token_fertility")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"))
    assert(exchanges(df) <= 2, "lang agg + output sort only")
  }

  test("t57 KL drift: the corpus text is scanned once, totals broadcast") {
    val df = SparkEntry.queries("t57_source_kl_drift")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the (source, tok) counts are cached — cc/ns/nc and the term join
    // all read the materialized counts, never re-exploding the corpus
    assert(plan.contains("InMemoryTableScan"),
      "the (source, tok) counts must be materialized and reused")
    assert(plan.contains("BroadcastExchange"), "totals must broadcast")
  }

  test("t56 kNN audit: the query sample broadcasts against one corpus scan") {
    val df = SparkEntry.queries("t56_knn_label_audit")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), "query sample must broadcast")
  }

  test("q2 multi-way join: dimension joins are broadcast, not shuffled") {
    val df = SparkEntry.queries("q2_join_broadcast")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("q6 top-k compiles to TakeOrderedAndProject (no global sort)") {
    val plan = SparkEntry.queries("q6_topk")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("multimodal feature path never reads the payload-free columns it doesn't need") {
    val media = graft.ops.Multimodal.attachPayload(
      Tables(spark, dir, "documents"))
    // decode is mapPartitions: zero shuffles end to end
    val features = graft.ops.Multimodal.decodeFeatures(spark, media)
    assert(exchanges(features.toDF()) == 0)
  }

  test("as-of join: one shuffle on the key (union+window), no range explosion") {
    import org.apache.spark.sql.functions.col
    val ev = Tables(spark, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts"))
    val df = graft.ops.JoinOps.asOfJoin(clicks, views, "user_id",
      "ts", "ts", "event_id", "view_id", "view_id")
    assert(exchanges(df) == 1, "as-of must be a single key shuffle")
    assert(!df.queryExecution.executedPlan.toString.contains("NestedLoop"))
  }

  test("bucketed hash index: merge never shuffles the index side (A5 at 100 TB)") {
    import graft.wcd.HashIndex
    val entries = Tables(spark, dir, "customer")
      .select(md5(concat(lit("h"), col("c_custkey").cast("string"))).as("hash"))
      .select(col("hash"), HashIndex.mintId(col("hash")).as("qid"),
        lit("reference").as("item_type"))
    HashIndex.writeBucketed(entries, "graft_bucketed_index_spec", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val index = spark.table("graft_bucketed_index_spec")
      val incoming = Tables(spark, dir, "customer")
        .select(md5(concat(lit("h2"), col("c_custkey").cast("string"))).as("hash"))
      val (minted, _) = HashIndex.merge(index, incoming, "reference")
      val plan = minted.queryExecution.sparkPlan
      val join = plan.collectFirst {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }
      assert(join.nonEmpty, s"expected a shuffled anti-join, got:\n$plan")
      val indexSide = join.get.children(1).toString
      assert(!indexSide.contains("Exchange"),
        s"index side of the merge must read in place, not shuffle:\n$indexSide")
      assert(indexSide.contains("Bucketed: true"),
        s"index side must be the bucketed scan:\n$indexSide")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_index_spec")
    }
  }

  test("t12 LSH near-dup: equi-join candidates only — no cross product anywhere") {
    val plan = SparkEntry.queries("t12_embed_neardup")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("t15 curation: documents scan pruned to (doc_id, text), no cross product") {
    val plan = SparkEntry.queries("t15_curation_pipeline")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "scan must prune to the two consumed columns")
    assert(!plan.contains("CartesianProduct"))
  }

  test("c15 composed import: runs from raw wikitext (no refs landing), " +
      "claims branches read ONE in-plan materialization, no cartesian") {
    val df = SparkEntry.queries("c15_import_e2e")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the whole lifecycle must plan off the raw parse chain — a scan of
    // the landed refs table would mean the composition silently fell
    // back to the c1–c14 landing seam
    assert(!plan.contains("refs.parquet"),
      s"c15 must not read the refs landing:\n${plan.take(3000)}")
    // the parse lineage is checkpointed once inside the call: the claim
    // branches and merges read its rows instead of replaying the parse,
    // and the claims guard's cache is never needed
    assert(plan.contains("Scan ExistingRDD"),
      s"c15 must read its checkpointed materializations:\n${plan.take(3000)}")
    assert(!plan.contains("InMemoryTableScan"),
      "c15 must not trip the claims guard's cache materialization")
    // mint counters ride broadcast 1-row aggregates — never a cartesian
    assert(!plan.contains("CartesianProduct"))
  }

  test("c12 incremental delta: one anti-join, filters reach the scan") {
    val df = SparkEntry.queries("c12_incremental_delta")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), "delta gate must be an anti-join")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q17 pivot: single aggregate pass, no per-value scans") {
    val df = SparkEntry.queries("q17_pivot")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // one pivot aggregate reads events once — five FILTER columns must
    // not become five scans
    assert(plan.linesIterator.count(_.contains("FileScan parquet")) == 1,
      s"pivot must scan events exactly once:\n$plan")
  }

  test("t10 broadcast kNN: query side broadcast, corpus never shuffled") {
    val df = SparkEntry.queries("t10_ann_topk")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"))
  }

  test("q24 lateral top-n: correlated LIMIT decorrelates to a window, no cartesian") {
    val df = SparkEntry.queries("q24_lateral_topn")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), s"expected windowed decorrelation:\n$plan")
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("g3 triangles: equi-joins only, top-k stays TakeOrdered") {
    val df = SparkEntry.queries("g3_triangles")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("q30 basket lift: item-count and total relations broadcast onto the pair table") {
    val df = SparkEntry.queries("q30_basket_lift")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"item joins must broadcast:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the 1-row totals cross join must broadcast, not shuffle:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q28/q29 keyed analytics: no cartesian, aggregates stay partial+final") {
    for (q <- Seq("q28_sessionize", "q29_cohorts")) {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), q)
      assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"), q)
    }
  }

  test("round-3 join-heavy queries never fall back to cross products") {
    // every join here is a keyed equi-join (or broadcast of a node-sized
    // relation); a Catalyst regression to CartesianProduct would be the
    // classic silent 100×-scale killer
    for (q <- Seq("g2_pagerank", "g4_kcore", "t24_contamination",
        "t25_edit_rescore", "t29_minhash_accuracy", "q32_neighbor_similarity",
        "m4_media_dedup", "q22_grouping_sets", "q23_correlated_scalar")) {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), q)
    }
  }

  test("t9 top pairs: LSH bucket equi-join candidates, top-k stays TakeOrdered — no quadratic self-join") {
    val df = SparkEntry.queries("t9_embed_top_pairs")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the old registered form was `a.vec_id < b.vec_id` — a broadcast
    // nested loop over all pairs; the LSH form has only equi-joins
    assert(!plan.contains("CartesianProduct"), s"quadratic self-join crept back:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"quadratic self-join crept back:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"top-20 must never be a global sort:\n$plan")
  }

  test("t32 containment: rarest-shingle prefix ranking present, no cross product") {
    val df = SparkEntry.queries("t32_containment")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the prefix filter is the row_number window over (df, shingle) —
    // its absence means the raw all-sharing-pairs join is back
    assert(plan.contains("Window"), s"prefix-filter window missing:\n$plan")
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("t24 contamination: bloom might_contain prefilter guards the probe side") {
    val df = SparkEntry.queries("t24_contamination")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"bloom prefilter must sit on the held-out probe side:\n$plan")
  }

  test("t34/t35: repetition + quality-rule audits are narrow maps (one output sort only)") {
    for (name <- Seq("t34_repetition", "t35_quality_rules")) {
      val df = SparkEntry.queries(name)(spark, dir)
      assert(exchanges(df) <= 1, s"$name must shuffle only for the output sort")
    }
  }

  test("t36 domain mix: one partial-agg shuffle, total is a broadcast 1-row join") {
    val df = SparkEntry.queries("t36_domain_mix")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"the totals row must broadcast, never shuffle the per-source table:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("t37 PQ ANN: codebook/LUT joins broadcast, no cartesian, ADC is partial-agg") {
    val df = SparkEntry.queries("t37_pq_ann")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"PQ path must never go all-pairs:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"codebook and LUT are tiny — their joins must broadcast:\n$plan")
    // the ADC sum aggregates (query_id, vec_id) with map-side partials
    assert(plan.contains("HashAggregate"))
    // codebook training is an index-build cost: the timed query must
    // read the landed books, never re-run the Lloyd iterations
    assert(plan.contains("pq_books"), s"expected the landed codebook scan:\n$plan")
  }

  test("t40 bigram LM: count tables broadcast, no cartesian blowup") {
    val df = SparkEntry.queries("t40_bigram_ppl")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("BroadcastHashJoin"),
      s"the vocab-sized LM tables must broadcast onto the scoring join:\n$plan")
  }

  test("t41 sequence packing: per-source window + pack agg + output sort only") {
    val df = SparkEntry.queries("t41_seq_packing")(spark, dir)
    assert(exchanges(df) <= 3,
      "window shuffle on source, pack aggregate, output sort — nothing else")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Window") && !plan.contains("CartesianProduct"))
  }

  test("g6 edge support: top-k is TakeOrdered, no cartesian") {
    val df = SparkEntry.queries("g6_edge_support")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("TakeOrderedAndProject"), s"top-20 must never be a global sort:\n$plan")
  }

  test("q26 gap fill: grid explode is narrow, fill is a partitioned window") {
    val df = SparkEntry.queries("q26_gap_fill")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Window"))
    assert(!plan.contains("CartesianProduct"))
    // the events scan must push the user_id predicate down
    assert(plan.contains("PushedFilters: [IsNotNull(user_id), LessThan(user_id,20)]"),
      s"user_id filter must reach the parquet scan:\n$plan")
  }

  test("t43 PII scrub: one narrow regex pass — the only exchange is the output sort") {
    val df = SparkEntry.queries("t43_pii_scrub")(spark, dir)
    assert(exchanges(df) <= 1, "detect+redact must not shuffle")
    assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"))
  }

  test("t44 block dedup: block content is ONE aggregation key — no pair join anywhere") {
    val df = SparkEntry.queries("t44_block_dedup")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    // the designed minimum: nd aggregate on block content, the join
    // back (probe side shuffles BLOCK rows — a 10× reduction over raw
    // tokens, built per row with no exchange below the Generate), the
    // per-doc rollup, and the output sort. Anything more means token
    // rows started shuffling.
    assert(exchanges(df) <= 5, s"block dedup grew an extra shuffle:\n$plan")
    // and the explode that feeds everything generates BLOCKS (the
    // 10-token-joined strings), never raw per-token rows
    assert(plan.contains("Generate posexplode"))
  }

  test("t45 SemDeDup: pair search stays inside cells (equi-join on cell), centroids broadcast") {
    val df = SparkEntry.queries("t45_semdedup")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"in-cell join must be an equi-join:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      "the cell×dim centroid table must broadcast")
  }

  test("t48 BPE encode: vocabulary-sized symbol counts broadcast onto the token stream") {
    val df = SparkEntry.queries("t48_bpe_encode")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the encoded-word table must broadcast, never shuffle the corpus:\n$plan")
  }

  test("t46 URL domains: extraction+PSL is narrow — one agg, one output sort") {
    val df = SparkEntry.queries("t46_url_domains")(spark, dir)
    // count-distinct = two-phase agg: (fld, doc_id) partial, fld final,
    // plus the output sort — extraction and PSL never shuffle
    assert(exchanges(df) <= 3, "regex explode + PSL lookup must be narrow before the fld agg")
    assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"))
  }

  test("g2 PageRank graph input is the LANDED edge list, not a lineitem rebuild") {
    val edges = graft.queries.Pipelines.supplierPartEdges(spark, dir)
    val plan = edges.queryExecution.executedPlan.toString
    // the timed query must read the sp_pairs landing; the 600 k-row
    // distinct over lineitem belongs to the warm line (the r4 finding)
    assert(plan.contains("sp_pairs"), s"expected the landed parquet scan:\n$plan")
    assert(!plan.contains("lineitem"), s"lineitem must not re-enter the timed region:\n$plan")
    assert(exchanges(edges) == 0, "the landed scan is shuffle-free")
  }

  test("t50 model inference: weights join broadcasts, logit agg is partial on doc_id") {
    val df = SparkEntry.queries("t50_quality_model")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the k-row weights dim must broadcast, never shuffle the corpus:\n$plan")
    assert(!plan.contains("CartesianProduct"))
    // melt is narrow; exchanges = the doc_id logit agg + the output
    // sort + the weights BroadcastExchange itself
    assert(exchanges(df) <= 3, s"feature melt must stay narrow:\n$plan")
  }

  test("t51 importance weights: LM dims broadcast, doc-bucket agg exchange is reused") {
    val df = SparkEntry.queries("t51_importance_weights")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"the <=256-row LM tables must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 selection must never globally sort the corpus:\n$plan")
    // DSIR's honest cost is TWO corpus passes (fit the LM, score) —
    // the target slice must ride the background aggregation as a
    // conditional sum, never fork a third token explode
    val scans = plan.linesIterator.count(_.contains("documents.parquet"))
    assert(scans <= 2, s"expected <=2 corpus scans (LM fit + score), got $scans:\n$plan")
  }

  test("g8 label propagation: argmax is an aggregate, never a node-table window") {
    val df = SparkEntry.queries("g8_label_prop")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("WindowExec") && !plan.contains("Window "),
      s"per-node argmax must be min(struct), not a window over the node table:\n$plan")
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("TakeOrderedAndProject"),
      s"community top-20 must never globally sort:\n$plan")
    // edges come from the landed weighted co-order table
    assert(plan.contains("co_order_edges"), s"expected the landed edge scan:\n$plan")
  }

  test("t52 incremental gate: corpus side landed, kernel only on the arriving batch") {
    val df = SparkEntry.queries("t52_incremental_neardup")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // corpus relations must be landed scans — ingest cost scales with
    // the batch, never the corpus
    assert(plan.contains("doc_shingles"), s"expected the landed shingle scan:\n$plan")
    assert(plan.contains("doc_minhash_sigs"), s"expected the landed signature scan:\n$plan")
    // the per-row signature kernel runs on the ARRIVING slice only
    // (plan text may show the inlined expression several times inside
    // one Project — codegen CSE computes it once). The teeth (ADVICE
    // r5): a kernel re-run over the WHOLE corpus would need a raw
    // documents scan without the arriving-slice filter, so every
    // documents.parquet FileScan must carry the positive
    // (doc_id % 10) = 7 data filter — mirroring t15's negative assert
    assert(plan.contains("minhash_sigs_f"), s"expected the kernel on the new batch:\n$plan")
    val docScans = plan.linesIterator.filter(_.contains("documents.parquet")).toList
    assert(docScans.nonEmpty, s"expected raw documents scans for the arriving batch:\n$plan")
    docScans.foreach { l =>
      assert(l.contains("% 10) = 7") && !l.contains("NOT ("),
        s"raw documents scan without the arriving-slice filter (kernel over the corpus?):\n$l")
    }
    assert(!plan.contains("CartesianProduct"))
  }

  test("t15 curation near-dup stage reads the landed shingle/signature tables") {
    val df = SparkEntry.queries("t15_curation_pipeline")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // signatures/shingles are per-doc and survivor-independent: the
    // pipeline must scan the landings (semi-joined to survivors), never
    // re-derive either from raw text (the hidden ~134 s r4 iteration)
    assert(plan.contains("doc_shingles"), s"expected the landed shingle scan:\n$plan")
    assert(plan.contains("doc_minhash_sigs"), s"expected the landed signature scan:\n$plan")
    assert(!plan.contains("minhash_sigs_f"),
      s"the signature kernel must not re-run inside t15:\n$plan")
  }

  test("substring-run chain: every join keyed (no cartesian), rescore semi-restricted") {
    // the run-index BUILD (what the shared_runs landing executes)
    val df = graft.ops.DedupOps.sharedRunRelation(
      graft.Tables(spark, dir, "documents"), "doc_id", col("text"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"seed/rescore must stay equi-joins:\n$plan")
    // the trigram side is restricted to candidate docs before the
    // positional join — the semi-join must survive optimization
    assert(plan.contains("LeftSemi"), s"expected the candidate-doc semi-join:\n$plan")
  }

  test("t62/t76 read the LANDED run index, never re-running the seed+rescore chain") {
    for (q <- Seq("t62_substring_runs", "t76_dup_excision")) {
      val df = SparkEntry.queries(q)(spark, dir)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("shared_runs"), s"$q: expected the landed run scan:\n$plan")
      // the chain's seed join would betray itself as a join on the gram
      // hash; off the landing, t62 is agg-only and t76 joins only the
      // doc_id-keyed token-count relation
      assert(!plan.toLowerCase.contains("xxhash64"),
        s"$q: the seed stage must not run inside the query:\n$plan")
    }
  }

  test("t83 admission: corpus seed side is the LANDED index, not a corpus re-derivation") {
    val df = SparkEntry.queries("t83_substring_admission")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("seed_grams"), s"expected the landed seed-index scan:\n$plan")
    // candidate-restriction must survive optimization on the rescore
    // sides (the same LeftSemi contract as the shared-runs chain)
    assert(plan.contains("LeftSemi"), s"expected candidate-doc semi-joins:\n$plan")
  }

  test("t84 matrix: all three grain flags ride the landed indexes, scan counts pinned") {
    val df = SparkEntry.queries("t84_decontam_matrix")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    def scans(name: String) = plan.linesIterator
      .count(l => l.contains(name) && l.contains("Scan parquet"))
    // each grain reads ITS landing: exact → shingles, near-dup →
    // signatures (+ shingle rescore), substring → seed grams
    assert(scans("doc_shingles") >= 1 && scans("doc_minhash_sigs") >= 1 &&
      scans("seed_grams") >= 1, s"grain flags must read the landings:\n$plan")
    // no grain re-derives its index from the corpus: the signature
    // kernel must not run in-plan, and the scan counts stay at the
    // audited composition (exact 2 + rescore 4 shingle reads; band
    // self-join 2 signature reads; seed join 3 gram reads; corpus text
    // only on the substring rescore sides + the doc lists). A silent
    // extra branch-private re-scan fails here at sf0.001.
    assert(!plan.toLowerCase.contains("xxhash64"),
      s"the seed stage must not run inside the query:\n$plan")
    assert(scans("doc_shingles") <= 6, s"shingle-index reads grew:\n$plan")
    assert(scans("doc_minhash_sigs") <= 2, s"signature-index reads grew:\n$plan")
    assert(scans("seed_grams") <= 3, s"seed-index reads grew:\n$plan")
    assert(scans("documents") <= 7, s"corpus scans grew:\n$plan")
  }

  test("s22 growth assembly: grown + landed index reads; ONE corpus scan (the arriving doc list)") {
    val df = SparkEntry.queries("s22_neardup_index_growth")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    def scans(name: String) = plan.linesIterator
      .count(l => l.contains(name) && l.contains("Scan parquet"))
    assert(plan.contains("doc_minhash_sigs") && plan.contains("doc_shingles"),
      s"rebuild sides must read the landings:\n$plan")
    assert(scans("documents") == 1,
      s"the assembly touches the corpus only for the arriving doc list:\n$plan")
  }

  test("s24 assembly joins the incremental and landed cluster relations; zero corpus scans") {
    val df = SparkEntry.queries("s24_incremental_clusters")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dedup_clusters"),
      s"the rebuild side must be the landed cluster relation:\n$plan")
    assert(!plan.contains("documents"),
      s"the equivalence assembly must not re-scan the corpus:\n$plan")
  }

  test("t87 retraction: landed relations only — repair never re-scans the corpus") {
    val df = SparkEntry.queries("t87_cluster_retraction")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the re-CC subtree is eagerly localCheckpoint-ed inside
    // connectedComponents, so its landed shingle/signature inputs are
    // consumed at CONSTRUCTION time and surface here as the checkpointed
    // ExistingRDD scan; the final plan must read the landed cluster
    // relation plus that checkpoint — and never the corpus
    assert(plan.contains("dedup_clusters"),
      s"repair must reuse the landed cluster relation:\n$plan")
    assert(plan.contains("ExistingRDD"),
      s"the affected-cluster re-CC result enters as the checkpointed scan:\n$plan")
    assert(!plan.contains("documents"),
      s"retraction repair must not re-scan the corpus:\n$plan")
  }

  test("t85 sampled calibration: cutoffs broadcast; the full-table path has no global sort") {
    val df = SparkEntry.queries("t85_quality_calibration_sampled")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      s"the 9-row cutoff list must broadcast to the bucket map:\n$plan")
    // exactly one Window (the NTILE over the hash SAMPLE) — a second
    // would mean the full table re-acquired a global sort
    val windows = plan.linesIterator.count(l => l.trim.startsWith("Window") ||
      l.contains(") Window"))
    assert(windows <= 1, s"only the sample may be windowed:\n$plan")
  }

  test("t17/t53/t64 read the LANDED cluster relation, never re-running the CC loop") {
    for (q <- Seq("t17_dedup_clusters", "t53_dedup_survivorship", "t64_curated_snapshot",
                  "t71_source_dedup_impact")) {
      val df = SparkEntry.queries(q)(spark, dir)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("dedup_clusters"), s"$q: expected the landed cluster scan:\n$plan")
      // the landed scan means no iterative label-propagation inside the
      // query plan: a localCheckpoint RDD scan would betray the loop
      assert(!plan.contains("ExistingRDD"),
        s"$q: the CC loop must not run inside the query:\n$plan")
    }
  }

  test("t64 snapshot: one rollup on top of the cluster join (window + final agg)") {
    val df = SparkEntry.queries("t64_curated_snapshot")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), "the survivorship election is a window")
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"),
      "per-source rollup must aggregate")
    assert(!plan.contains("CartesianProduct"), s"no cartesian in t64:\n$plan")
  }

  test("t72 drift: corpus centroid broadcasts; per-source agg, no pair join") {
    val df = SparkEntry.queries("t72_source_centroid_drift")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"the 1-row corpus centroid must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian in t72:\n$plan")
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"),
      "per-(source,dim) mean must be a partial+final aggregate")
  }

  test("t73 co-fire: one flag pass, one agg over ≤R² keys, no self-join") {
    val df = SparkEntry.queries("t73_rule_cofire")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // pair generation is the in-row double explode, never a doc×doc join
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"pairs must come from the in-row explode, not a join:\n$plan")
    assert(exchanges(df) <= 2, "pair agg + output sort only")
  }

  test("t74 skew pre-flight reads the landed indexes; totals broadcast") {
    val df = SparkEntry.queries("t74_skew_preflight")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("doc_shingles"),
      s"shingle dfs must come from the landed shingle index:\n$plan")
    assert(plan.contains("emb_buckets"),
      s"bucket dfs must come from the landed LSH index:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      "the 3-row family totals must broadcast")
  }

  test("t75 integrity: the engine side reads ONLY the landings, never the corpus") {
    val df = SparkEntry.queries("t75_landing_integrity")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    for (l <- Seq("dedup_clusters", "doc_minhash_sigs", "doc_shingles", "emb_buckets"))
      assert(plan.contains(l), s"must audit the $l landing:\n$plan")
    // the recomputation lives in the ORACLE; the engine's audit is four
    // 1-row aggregates off the landed files — no documents/embeddings scan
    assert(!plan.contains("documents") && !plan.contains("embeddings.parquet"),
      s"the integrity audit must not re-scan the corpus:\n$plan")
  }

  test("s15 equivalence: batch side reads the landed signature index, dup subtree pruned") {
    val df = SparkEntry.queries("s15_gate_batch_equiv")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("doc_minhash_sigs"),
      s"batch gate must read the landed signature index:\n$plan")
    // the query only compares candidate COUNTS, so Catalyst must prune
    // the batch gate's entire dup-verdict subtree (the shingle-table
    // Jaccard rescore) out of the plan — the declarative-pipeline win
    assert(!plan.contains("doc_shingles"),
      s"unused dup-verdict subtree must be pruned:\n$plan")
  }

  test("t65 chunking is a pure narrow map (zero shuffles before the output sort)") {
    val df = SparkEntry.queries("t65_chunks")(spark, dir)
    val body = df.queryExecution.executedPlan.toString
      .linesIterator.count(l => l.contains("Exchange") &&
        !l.contains("Reused") && !l.contains("rangepartitioning"))
    assert(body == 0, "tokenize/explode/slice must not shuffle")
  }

  test("t66 budget selection: one source window + one budget agg, budgets broadcast") {
    val df = SparkEntry.queries("t66_source_budget")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "per-source budgets must broadcast")
    val body = plan.linesIterator.count(l => l.contains("Exchange") &&
      !l.contains("Reused") && !l.contains("rangepartitioning") &&
      !l.contains("BroadcastExchange"))
    assert(body <= 2, s"source window + budget agg are the only shuffles:\n$plan")
  }

  test("t67 shard assignment: exactly one shuffle (by shard) before the output sort") {
    val df = SparkEntry.queries("t67_shard_assign")(spark, dir)
    val body = df.queryExecution.executedPlan.toString
      .linesIterator.count(l => l.contains("Exchange") &&
        !l.contains("Reused") && !l.contains("rangepartitioning"))
    assert(body == 1, "hash-mod sharding needs one exchange, no global order")
  }

  test("t68 sketch: the corpus reduces to one partial+final histogram aggregate") {
    val df = SparkEntry.queries("t68_quantile_sketch")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), "histogram must aggregate")
    // everything after the 256-row histogram (cumulative walk, quantile
    // join) runs on sketch-sized relations: no second corpus-sized
    // exchange may appear
    val body = plan.linesIterator.count(l => l.contains("Exchange") &&
      !l.contains("Reused") && !l.contains("rangepartitioning") &&
      !l.contains("BroadcastExchange") && !l.contains("SinglePartition"))
    assert(body <= 2, s"histogram agg + sketch-sized work only:\n$plan")
  }

  test("t69 CMS: sketch and probe build from the vocab counts, never a pair blowup") {
    val df = SparkEntry.queries("t69_cms_heavy_hitters")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"no cartesian in t69:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-20 must compile to TakeOrdered, not a global sort")
  }

  test("g10 modularity: label joins broadcast, m is a 1-row broadcast cross") {
    val df = SparkEntry.queries("g10_modularity")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), "node-sized relations must broadcast")
    // the only nested-loop allowed is the 1-row m broadcast
    assert(!plan.contains("CartesianProduct"), s"no cartesian in g10:\n$plan")
  }

  test("t91 as-of read: the version filter PRUNES PARTITIONS at the scan") {
    val (_, grownBands, _) = graft.streaming.StreamOps.growNearDupIndex(spark, dir)
    val asOf = grownBands.filter(col("batch_id") < 1L)
    val scan = asOf.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scan.nonEmpty, "expected a file scan under the as-of filter")
    assert(scan.get.partitionFilters.exists(_.toString.contains("batch_id")),
      s"the batch_id bound must be a PARTITION filter (directory pruning), " +
        s"not a row filter:\n${scan.get}")
    // and no row-level batch_id predicate survives — the directory IS the filter
    assert(!scan.get.dataFilters.exists(_.toString.contains("batch_id")),
      "batch_id must never be evaluated per row")
  }

  test("t86 serving form: NO exact-distinct shuffle — partial HLL registers only") {
    // The 100 TB claim of the HLL duplication card is precisely "the
    // card without the distinct-shuffle of every gram". Pin it on the
    // SERVING form (the registered t86 is the verify-grain bound
    // contract, which pays the exact distinct BY DESIGN): a
    // count-distinct rewrite would reappear as an Expand node
    // (distinct-agg planning) or a `count(distinct` aggregate
    // expression; pure HLL++ plans as ordinary partial+final
    // HashAggregate carrying fixed-size register buffers, i.e. exactly
    // ONE shuffle over the n=1..3 keys.
    val df = graft.queries.TrainingData.ngramDupRateHll(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), s"no distinct-agg Expand in t86 serving form:\n$plan")
    assert(!plan.toLowerCase.contains("count(distinct"),
      s"no exact distinct aggregate in t86 serving form:\n$plan")
    assert(plan.contains("approx_count_distinct") || plan.contains("HyperLogLog"),
      "the HLL aggregate must be the one under test")
    val body = plan.linesIterator.count(l => l.contains("Exchange") &&
      !l.contains("Reused") && !l.contains("rangepartitioning"))
    assert(body == 1, s"one partial-agg shuffle only, got $body:\n$plan")
  }

  test("t86 bound contract: Expand-free two-level agg, bound evaluated in-plan") {
    // The REGISTERED t86 pays the exact distinct (that is the point of
    // the contract — the ±5% bound rides the driver's hash gate), but
    // it must do so via the (n, g) pre-aggregation, never the
    // distinct-agg Expand that would triple the gram relation: two
    // exchanges total ((n, g) collapse, then the 3-key card), HLL
    // registers read off the SAME distinct relation.
    val df = SparkEntry.queries("t86_ngram_dup_rate_hll")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), s"no distinct-agg Expand in t86 contract:\n$plan")
    assert(plan.contains("approx_count_distinct") || plan.contains("HyperLogLog"),
      "the HLL aggregate must stay in the contract plan")
    val body = plan.linesIterator.count(l => l.contains("Exchange") &&
      !l.contains("Reused") && !l.contains("rangepartitioning"))
    assert(body == 2, s"two shuffles ((n,g) collapse + card), got $body:\n$plan")
  }

  test("t95 S-curve card is SCAN-FREE; t96 frontier reads exactly one landed scan") {
    // t95 is pure literal arithmetic — a plan with a parquet scan would
    // mean the card accidentally grew a data dependency
    val p95 = SparkEntry.queries("t95_lsh_curve")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p95.contains("Scan parquet"), s"t95 must not scan data:\n$p95")
    // t96 collapses the landed signature scan to a vocab-sized profile
    // then explodes 5 literal rungs — one scan, nothing else
    val p96 = SparkEntry.queries("t96_salt_frontier")(spark, dir)
      .queryExecution.executedPlan.toString
    val scans = p96.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"t96 must read exactly the landed sigs, got $scans:\n$p96")
  }

  test("t97 waterfill: reads only the landed source-token relation, never the corpus") {
    val df = SparkEntry.queries("t97_budget_waterfill")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the per-source totals are a LANDING (source_tokens.parquet) — the
    // registered steady-state plan must not re-scan documents.parquet;
    // the landing read is cached so every branch (totals, ranked
    // prefix, water-level constants) shares one tiny scan
    assert(!plan.contains("documents.parquet"),
      s"t97 must read the landing, not the corpus:\n$plan")
    val imts = plan.linesIterator.count(_.contains("InMemoryTableScan"))
    assert(imts >= 3, s"all three waterfill branches must read the cache, got $imts:\n$plan")
    assert(plan.contains("BroadcastExchange"), "budget/nsrc and kk/pk must broadcast")
    assert(!plan.contains("CartesianProduct"), "scalar crosses must stay broadcast-nested")
  }

  test("t98 Zipf: distributed TakeOrdered feeds the regression, no global window sort") {
    val df = SparkEntry.queries("t98_zipf_slope")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-256 must be a distributed TakeOrdered, not a single-task window:\n$plan")
    // the rank window runs AFTER the 256-row cut: exactly one window op
    assert(plan.linesIterator.count(_.trim.startsWith("Window")) <= 1)
  }

  test("m8 VAD: narrow frame path, both island windows partition by audio") {
    val df = SparkEntry.queries("m8_audio_vad")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // every window/agg keys on doc_id — no global (empty-key) window
    assert(!plan.contains("Window [") || !plan.contains("windowspecdefinition()"),
      "no unpartitioned window in the VAD chain")
    // one doc_id shuffle feeds both island passes and the rollups; the
    // only other exchange is the presentation sort
    val nonSort = plan.linesIterator.count(l => l.contains("Exchange") &&
      !l.contains("Reused") && !l.contains("rangepartitioning"))
    assert(nonSort <= 2, s"VAD must reuse the doc_id partitioning, got $nonSort:\n$plan")
  }

  test("t92 LM scoring: unigram side broadcasts, no cartesian in the gate family") {
    val plan = SparkEntry.queries("t92_lm_drift")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      "the vocabulary-sized unigram LM must broadcast")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin Inner"),
      s"no pair blowup in the LM scoring pass:\n$plan")
  }
}
