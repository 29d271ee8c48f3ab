package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data curation, each designed for
  * the 100 TB shape first and verified for correctness at small SF:
  *
  *   - exact / fingerprint dedup: one hash-partial-aggregate shuffle;
  *   - MinHash + LSH near-dup: explode shingles → map-side partial MIN
  *     per permutation → band-key equi-join. Candidate generation never
  *     compares all pairs — cost is Σ bucket² over band buckets, the
  *     standard sub-quadratic LSH bound;
  *   - SimHash: one partial-aggregate per doc + banded Hamming join
  *     (pigeonhole: hamming ≤ maxDist ⇒ some band of the signature is
  *     equal, so candidates come from band equi-joins, never a cross
  *     join);
  *   - exact n-gram Jaccard: shingle-keyed equi-join (the verification
  *     primitive the LSH paths reuse).
  *
  * All hashing bottoms out in [[TextOps.hx]] so a DuckDB oracle can
  * recompute every intermediate bit-for-bit.
  */
object DedupOps {
  import TextOps._

  /** Exact-dup groups keyed by an arbitrary key column (content md5 for
    * exact dedup, [[TextOps.winnowFingerprint]] for near-dup clustering).
    * Returns (id, key, canonical_id = min id in group, n_members).
    * One shuffle; partial aggregation map-side. */
  def dupGroups(df: DataFrame, id: String, key: Column): DataFrame = {
    val keyed = df.select(col(id), key.as("dup_key"))
    val groups = keyed.groupBy(col("dup_key"))
      .agg(min(col(id)).as("canonical_id"), count(lit(1)).as("n_members"))
    keyed.join(groups, "dup_key")
  }

  /** (id, shingle) exploded distinct-shingle table — the base relation
    * for Jaccard verification and MinHash. */
  def shingleTable(docs: DataFrame, id: String, text: Column, n: Int = 3): DataFrame =
    docs.select(col(id), explode(array_distinct(shingles(tokens(text), n))).as("shingle"))

  /** Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle,
    * thresholded. Equi-join on the shingle key (never a cross join); at
    * extreme scale the hot-shingle skew is handled by AQE skew-join
    * splitting. Returns (id_x, id_y, jaccard) with id_x < id_y.
    *
    * SCALE GUARD: this is the DEFINITIONAL exact form — quadratic in a
    * hot shingle by definition — registered (t5) as the small-scale
    * cross-check the sub-quadratic LSH family is proven against. It is
    * NOT the production route (that is minhashLshPairsFrom + the t93
    * measured salt), so it refuses inputs past `exactFormCap` shingle
    * rows IN-PLAN: a broadcast 1-row count rides the result behind an
    * `assert_true` filter, so pointing the definitional form at a
    * 100 TB corpus fails fast with a message naming the scale path
    * instead of melting the shuffle. The guard rides the INPUT rows —
    * not the thresholded output — so it fires while the shingle table
    * is being scanned, BEFORE the quadratic join runs (an over-cap
    * input whose output happened to be empty would never evaluate an
    * output-side guard at all). Cost: one cheap count over a relation
    * the join reads anyway; raise the cap explicitly to run bigger
    * deliberate cross-checks. */
  def jaccardPairs(sh: DataFrame, id: String, threshold: Double,
      exactFormCap: Long = 100000000L): DataFrame = {
    val shG = sh
      .crossJoin(broadcast(sh.agg(count(lit(1)).as("_sh_rows"))))
      .filter(assert_true(col("_sh_rows") <= exactFormCap,
        concat(lit("jaccardPairs is the definitional exact form (t5 disposition): "),
          col("_sh_rows"),
          lit(s" shingle rows > cap $exactFormCap — use minhashLshPairsFrom" +
            " (+ measured salt) at scale, or raise exactFormCap deliberately")))
        .isNull)
      .drop("_sh_rows")
    val sizes = shG.groupBy(col(id)).agg(count(lit(1)).as("n_sh"))
    val a = shG.select(col(id).as("id_x"), col("shingle"))
    val b = shG.select(col(id).as("id_y"), col("shingle"))
    val common = a.join(b, Seq("shingle")).filter(col("id_x") < col("id_y"))
      .groupBy(col("id_x"), col("id_y")).agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col(id).as("id_x"), col("n_sh").as("n_x")), "id_x")
      .join(sizes.select(col(id).as("id_y"), col("n_sh").as("n_y")), "id_y")
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_x") + col("n_y") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_x"), col("id_y"), col("jaccard"))
  }

  /** MinHash signatures: k independent hash functions, each the MIN over
    * the doc's distinct shingles of hxk(i, shingle). One aggregation with
    * map-side partial MINs — the scalable form of per-doc signature
    * computation. Returns (id, sig_0..sig_{k-1}). */
  def minhashSignatures(sh: DataFrame, id: String, k: Int = 16): DataFrame =
    sh.groupBy(col(id))
      .agg(min(hxk(0, col("shingle"))).as("sig_0"),
        (1 until k).map(i => min(hxk(i, col("shingle"))).as(s"sig_$i")): _*)

  /** LSH banding over a MinHash signature: `bands` bands of `rows` sigs
    * each; band key = md5 of the comma-joined band slice (+ band index
    * for domain separation). Returns (id, band, band_key) exploded. */
  def lshBands(sigs: DataFrame, id: String, bands: Int, rows: Int): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      val slice = (0 until rows).map(r => col(s"sig_${b * rows + r}").cast("string"))
      struct(lit(b).as("band"),
        md5(concat_ws(",", lit(b.toString) +: slice: _*)).as("band_key"))
    }
    sigs.select(col(id), explode(array(bandStructs: _*)).as("bk"))
      .select(col(id), col("bk.band"), col("bk.band_key"))
  }

  /** Per-row MinHash band keys — the STATELESS narrow-map form of
    * [[minhashSignatures]] + [[lshBands]] for streaming ingest: the
    * whole signature and all band keys compute inside one row, no
    * explode-groupBy, so a stream can band-key each arriving document
    * without any state. Same hash family, same md5 band-key
    * construction — a row's keys are IDENTICAL to what the batch
    * pipeline computes for it (asserted in DedupOpsSpec), which is what
    * makes the stream-vs-landed-index join meaningful. The k minima
    * come from the native one-pass kernel
    * ([[graft.expr.VectorExprs.minhashSigsF]]) — the declarative form
    * (k separate `array_min(transform(...))` higher-order chains, each
    * re-deriving the shingle array interpreted) was ~40× slower on the
    * ingest path. Documents too short to shingle are dropped (the batch
    * form drops them too: no shingle rows → no signature row). */
  def rowBandKeys(docs: DataFrame, id: String, text: Column,
      k: Int, bands: Int): DataFrame = {
    // mirror lshBands' explicit (bands, rows) contract: a non-divisible
    // k would silently drop the trailing signature minima and emit band
    // keys matching neither the full-k batch family nor failing loudly
    require(k % bands == 0, s"rowBandKeys needs k divisible by bands, got k=$k bands=$bands")
    val rows = k / bands
    val bandStructs = (0 until bands).map { b =>
      val slice = (b * rows until (b + 1) * rows)
        .map(i => element_at(col("sigs"), i + 1).cast("string"))
      struct(lit(b).as("band"),
        md5(concat_ws(",", lit(b.toString) +: slice: _*)).as("band_key"))
    }
    docs.select(col(id), graft.expr.VectorExprs.minhashSigsF(text, k).as("sigs"))
      .filter(col("sigs").isNotNull)
      .select(col(id), explode(array(bandStructs: _*)).as("bk"))
      .select(col(id), col("bk.band"), col("bk.band_key"))
  }

  /** Skew-proof candidate-pair generation for a bucketed SELF-join: rows
    * sharing `bucketCols` are candidate pairs, but one hot bucket (a
    * boilerplate shingle, a degenerate LSH band) concentrates O(bucket²)
    * pair work in a single task — the classic scale-killer AQE's skew
    * splitting can't fix for a self-join (it splits one side's partition,
    * not the pair grid). Salting splits every bucket into `g` groups by
    * a hash of the id and routes each (i,j) group pair to its own join
    * cell, spreading a hot bucket over g² independent tasks at the cost
    * of g× row replication. The emitted pair set is EXACTLY the unsalted
    * one (each pair meets in exactly one cell — asserted in
    * DedupOpsSpec). Returns (id_x, id_y) with id_x < id_y, not
    * deduplicated across buckets (callers `.distinct()` as usual). */
  def saltedSelfJoinPairs(rows: DataFrame, id: String,
      bucketCols: Seq[String], g: Int): DataFrame = {
    val grid = explode(sequence(lit(0), lit(g - 1)))
    val salt = pmod(hash(col(id)), lit(g))
    val bc = bucketCols.map(col)
    val a = rows.select(bc :+ col(id).as("id_x") :+ salt.as("ci") :+ grid.as("cj"): _*)
    val b = rows.select(bc :+ col(id).as("id_y") :+ grid.as("ci") :+ salt.as("cj"): _*)
    a.join(b, bucketCols ++ Seq("ci", "cj"))
      .filter(col("id_x") < col("id_y"))
      .select(col("id_x"), col("id_y"))
  }

  /** The MEASURED salt decision — the consumer of the t74-style skew
    * pre-flight (VERDICT r11 #3). Input is a (…, df) key-frequency
    * profile of the join key space (one partial agg over the landed
    * index — vocab-sized, orders smaller than the corpus); output is a
    * 1-row decision card:
    *
    *   n_keys, total_pairs = Σ df·(df−1)/2, max_pair_contrib,
    *   per_task = max(1, total_pairs div parallelism),
    *   salt_g   = smallest g ∈ {1,2,4,8,16} with
    *              max_pair_contrib ≤ g²·per_task  (else maxSalt)
    *
    * Rationale: a self-join bucket of df rows costs df·(df−1)/2 pair
    * work in ONE task; [[saltedSelfJoinPairs]] spreads it over g²
    * independent cells, so g²·per_task is the smallest grid that brings
    * the hottest bucket down to the average task's budget. Everything
    * is integer arithmetic — the same CASE ladder is expressible in
    * ANSI SQL, so the decision itself is oracle-checkable (t93). */
  def saltDecisionCard(keyDf: DataFrame, dfCol: String = "df",
      parallelism: Int = 32, maxSalt: Int = 16): DataFrame = {
    // integer `div` (not fp /): DuckDB's `//` must reproduce every bit
    val contrib = expr(s"CAST($dfCol * ($dfCol - 1) div 2 AS BIGINT)")
    // coalesce(…, 0): an EMPTY key profile aggregates to NULL sums/maxes,
    // every ladder rung would evaluate NULL and fall through to the
    // otherwise(maxSalt) — pricing the most expensive grid for the least
    // skewed possible input (and replicating an empty relation 16×
    // downstream). 0 ≤ g²·per_task already holds at g = 1, so zero keys
    // price salt_g = 1 (ADVICE r12).
    val card = keyDf.agg(
      count(lit(1)).as("n_keys"),
      coalesce(sum(contrib), lit(0L)).as("total_pairs"),
      coalesce(max(contrib), lit(0L)).as("max_pair_contrib"))
    val perTask = greatest(lit(1L),
      expr(s"CAST(total_pairs div $parallelism AS BIGINT)"))
    val ladder = Seq(1, 2, 4, 8).filter(_ < maxSalt)
      .foldRight(lit(maxSalt): Column) { (g, rest) =>
        when(col("max_pair_contrib") <= lit(g.toLong * g) * col("per_task"), g)
          .otherwise(rest)
      }
    card.withColumn("per_task", perTask)
      .withColumn("salt_g", ladder)
      .withColumn("hot_frac",
        when(col("total_pairs") > 0, col("max_pair_contrib").cast("double")
          / col("total_pairs").cast("double")).otherwise(lit(0.0)))
  }

  /** The cost FRONTIER the salt ladder traverses — one row per
    * candidate g with the quantities the [[saltDecisionCard]] decision
    * weighs: grid_cells = g² (independent tasks the hottest bucket
    * spreads over), pair_work_per_cell = ceil(max_pair_contrib / g²)
    * (the hottest bucket's per-task share after salting),
    * repl_factor = g (the join-input row blowup salting costs), and
    * meets_budget = the ladder's own test
    * (max_pair_contrib ≤ g²·per_task). Publishing the whole frontier —
    * not just the verdict — is what lets an operator see WHY g was
    * picked and what the next rung would have cost. All integer
    * arithmetic; oracle-checkable (t96). */
  def saltFrontier(keyDf: DataFrame, dfCol: String = "df",
      parallelism: Int = 32, maxSalt: Int = 16): DataFrame = {
    val gs = Iterator.iterate(1)(_ * 2).takeWhile(_ <= maxSalt).toSeq
    saltDecisionCard(keyDf, dfCol, parallelism, maxSalt)
      .withColumn("g", explode(array(gs.map(lit): _*)))
      .withColumn("grid_cells", (col("g") * col("g")).cast("long"))
      .withColumn("pair_work_per_cell",
        expr("CAST((max_pair_contrib + grid_cells - 1) div grid_cells AS BIGINT)"))
      .withColumn("repl_factor", col("g").cast("long"))
      .withColumn("meets_budget",
        col("max_pair_contrib") <= col("grid_cells") * col("per_task"))
      .withColumn("chosen", col("g") === col("salt_g"))
      .select(col("g"), col("grid_cells"), col("pair_work_per_cell"),
        col("repl_factor"), col("meets_budget"), col("chosen"))
  }

  /** Scalar form of [[saltDecisionCard]]: the pre-flight read a dedup
    * launch makes before picking its join route. The collect is a 1-row
    * decision scalar off a vocab-sized profile (the same class of read
    * as broadcasting trained centroids) — it runs once per index
    * snapshot, never per row. */
  def measuredSalt(keyDf: DataFrame, dfCol: String = "df",
      parallelism: Int = 32, maxSalt: Int = 16): Int =
    saltDecisionCard(keyDf, dfCol, parallelism, maxSalt)
      .select(col("salt_g")).head().getInt(0)

  /** Candidate pairs with the salt picked BY MEASUREMENT from the band
    * index itself: profile the (band, band_key) frequencies, run
    * [[saltDecisionCard]]'s ladder, and route — g = 1 keeps the plain
    * equi-join, g > 1 goes through [[saltedSelfJoinPairs]] (identical
    * pair set either way). This is the wired form of the t74 pre-flight:
    * the decision consumes the measurement instead of a hand-picked
    * constant. */
  def lshCandidatesMeasured(sigs: DataFrame, id: String, k: Int, bands: Int,
      parallelism: Int = 32, maxSalt: Int = 16): DataFrame = {
    val bk = lshBands(sigs, id, bands, k / bands)
    val profile = bk.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("df"))
    val g = measuredSalt(profile, "df", parallelism, maxSalt)
    (if (g <= 1) {
      bk.select(col(id).as("id_x"), col("band"), col("band_key"))
        .join(bk.select(col(id).as("id_y"), col("band"), col("band_key")),
          Seq("band", "band_key"))
        .filter(col("id_x") < col("id_y"))
        .select("id_x", "id_y")
    } else saltedSelfJoinPairs(bk, id, Seq("band", "band_key"), g))
      .distinct()
  }

  /** MinHash+LSH candidate pairs from a shingle table: the banded
    * equi-join alone, no rescore — the sub-quadratic front end shared by
    * every rescoring strategy (Jaccard, edit distance, embedding). */
  def minhashLshCandidates(sh: DataFrame, id: String, k: Int, bands: Int,
      salt: Int = 1): DataFrame =
    lshCandidatesFromSigs(minhashSignatures(sh, id, k), id, k, bands, salt)

  /** Band-join candidates from an ALREADY-computed signature table — the
    * one-signature-pass form for callers that also score the signatures
    * themselves (t29's accuracy audit), so the expensive 16-min aggregate
    * runs once, not twice. `salt > 1` routes the self-join through
    * [[saltedSelfJoinPairs]] (identical pair set) so a large duplicate
    * cluster — every member in one (band, band_key) bucket — can't
    * concentrate O(cluster²) pair work in a single task. */
  def lshCandidatesFromSigs(sigs: DataFrame, id: String, k: Int, bands: Int,
      salt: Int = 1): DataFrame = {
    val bk = lshBands(sigs, id, bands, k / bands)
    (if (salt <= 1) {
      bk.select(col(id).as("id_x"), col("band"), col("band_key"))
        .join(bk.select(col(id).as("id_y"), col("band"), col("band_key")),
          Seq("band", "band_key"))
        .filter(col("id_x") < col("id_y"))
        .select("id_x", "id_y")
    } else saltedSelfJoinPairs(bk, id, Seq("band", "band_key"), salt))
      .distinct()
  }

  /** MinHash+LSH near-duplicate pairs: band-join candidates, then exact
    * Jaccard verification on the candidate set only. The full pipeline a
    * 100 TB dedup run uses: sub-quadratic candidate generation + exact
    * rescoring. `salt > 1` routes candidate generation through
    * [[saltedSelfJoinPairs]] (same result, hot-band-proof). */
  def minhashLshPairs(docs: DataFrame, id: String, text: Column,
      threshold: Double, k: Int = 16, bands: Int = 4, salt: Int = 1): DataFrame = {
    // the shingle table feeds both signature generation and candidate
    // verification — materialize it once (the production run lands it)
    val sh = shingleTable(docs, id, text).cache()
    minhashLshPairsFrom(sh, minhashSignatures(sh, id, k), id, threshold, bands, salt)
  }

  /** [[minhashLshPairs]] over ALREADY-built shingle + signature tables —
    * the landed-table entry point: a production run (and the bench, via
    * the shared doc_shingles/minhash_sigs landings) computes both ONCE
    * and feeds every downstream dedup/rescore/cluster query from them.
    * `k` is read off the signature schema. */
  def minhashLshPairsFrom(sh: DataFrame, sigs: DataFrame, id: String,
      threshold: Double, bands: Int, salt: Int = 1): DataFrame = {
    val k = sigs.columns.count(_.startsWith("sig_"))
    val cand = lshCandidatesFromSigs(sigs, id, k, bands, salt)
    // exact Jaccard on the CANDIDATE SET ONLY — never on all sharing
    // pairs (that cost is what LSH exists to avoid)
    val sizes = sh.groupBy(col(id)).agg(count(lit(1)).as("n_sh"))
    val common = cand
      .join(sh.select(col(id).as("id_x"), col("shingle")), "id_x")
      .join(sh.select(col(id).as("id_y"), col("shingle")), Seq("id_y", "shingle"))
      .groupBy(col("id_x"), col("id_y")).agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col(id).as("id_x"), col("n_sh").as("n_x")), "id_x")
      .join(sizes.select(col(id).as("id_y"), col("n_sh").as("n_y")), "id_y")
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_x") + col("n_y") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_x"), col("id_y"), col("jaccard"))
  }

  /** Incremental near-dup admission check — the batch twin of the
    * streaming gate: an ARRIVING batch of documents is banded per row
    * (the stateless [[rowBandKeys]] kernel — its signatures are not
    * landed yet) and candidate-joined against the LANDED corpus band
    * index, then exact-Jaccard rescored against the landed corpus
    * shingles. Per new doc: candidate count, the smallest corpus doc it
    * duplicates at `threshold` (NULL if none), and the admission
    * verdict. 100 TB shape: the new batch is tiny relative to the
    * corpus, so every corpus-side relation arrives pre-built (landed
    * scans) and the two joins are equi-joins on (band, band_key) and
    * shingle — ingest cost scales with the BATCH, never the corpus.
    * Returns (id, n_candidates, dup_of, is_new), one row per new doc
    * (docs too short to shingle admit with 0 candidates, like the
    * batch signature path drops them). */
  def incrementalNearDup(newDocs: DataFrame, id: String, text: Column,
      corpusSh: DataFrame, corpusSigs: DataFrame, threshold: Double,
      k: Int, bands: Int): DataFrame = {
    val newBk = rowBandKeys(newDocs, id, text, k, bands)
      .select(col(id).as("new_id"), col("band"), col("band_key"))
    val corpusBk = lshBands(corpusSigs, id, bands, k / bands)
      .select(col(id).as("corpus_id"), col("band"), col("band_key"))
    val cand = newBk.join(corpusBk, Seq("band", "band_key"))
      .select(col("new_id"), col("corpus_id")).distinct()
    val newSh = shingleTable(newDocs, id, text)
      .select(col(id).as("new_id"), col("shingle"))
    val cSh = corpusSh.select(col(id).as("corpus_id"), col("shingle"))
    val nx = newSh.groupBy(col("new_id")).agg(count(lit(1)).as("n_x"))
    val ny = cSh.groupBy(col("corpus_id")).agg(count(lit(1)).as("n_y"))
    val common = cand
      .join(newSh, "new_id")
      .join(cSh, Seq("corpus_id", "shingle"))
      .groupBy(col("new_id"), col("corpus_id")).agg(count(lit(1)).as("n_common"))
    val dup = common
      .join(nx, "new_id").join(ny, "corpus_id")
      .filter(col("n_common").cast("double") /
        (col("n_x") + col("n_y") - col("n_common")).cast("double") >= threshold)
      .groupBy(col("new_id")).agg(min(col("corpus_id")).as("dup_of"))
    val nCand = cand.groupBy(col("new_id")).agg(count(lit(1)).as("n_candidates"))
    newDocs.select(col(id))
      .join(nCand.withColumnRenamed("new_id", id), Seq(id), "left")
      .join(dup.withColumnRenamed("new_id", id), Seq(id), "left")
      .select(col(id), coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("dup_of"), col("dup_of").isNull.as("is_new"))
  }

  /** Connected components over a near-dup pair graph — the clustering
    * step a real dedup run needs (pairs alone under-merge: a≈b, b≈c
    * must land a, b, c in ONE cluster even when a≉c directly).
    * Deterministic min-id label propagation to fixpoint: every node
    * starts as its own label; each round takes the min of its own and
    * its neighbors' labels. Rounds = cluster diameter (near-dup clusters
    * are shallow); each round is ONE job — the eager `localCheckpoint`
    * that also caps lineage — with the node-sized label relation
    * broadcast onto the edge scan (the g2 PageRank pattern). Convergence
    * is read off the already-checkpointed `dec` flag with a limit-1
    * `isEmpty` probe, NOT a per-round full `count()` job over fresh
    * lineage. `broadcastNodes = false` is the billions-of-nodes shape
    * (the g2/g4 GraphOps convention): the per-round label join drops
    * its hint and becomes a shuffle on the node key — same plan
    * otherwise, identical clusters (variant equality + no hinted
    * BroadcastHashJoin plan shape pinned in DedupOpsSpec). The final
    * cluster-size join is unhinted either way (sizes ≤ nodes; AQE
    * picks). Returns (id, cluster_id = min id in component,
    * cluster_size).
    *
    * EAGERNESS CONTRACT: this method materializes its whole fixpoint
    * EAGERLY — the label seed and every round are
    * `localCheckpoint(eager = true)` — so by return time the returned
    * plan reads ONLY this method's own surviving checkpoint blocks,
    * never the `nodes`/`pairs` input lineage. Callers rely on that to
    * release their input checkpoints on return
    * ([[connectedComponentsMeasured]] frees the shared node blocks in
    * a `finally`); any future lazy seed (`localCheckpoint(false)`) or
    * early-return path would break them — keep the seed eager. */
  def connectedComponents(nodes: DataFrame, id: String, pairs: DataFrame,
      broadcastNodes: Boolean = true): DataFrame = {
    val sym = pairs.select(col("id_x").as("src"), col("id_y").as("dst"))
      .union(pairs.select(col("id_y").as("src"), col("id_x").as("dst")))
      .localCheckpoint()
    var labels = nodes.select(col(id), col(id).as("label")).localCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < CcMaxRounds) {
      val updated = ccRound(sym, labels, id, broadcastNodes)
        .localCheckpoint() // eager: the one real job this round
      converged = updated.filter(col("dec")).isEmpty // limit-1 over cached blocks
      Checkpoints.release(labels) // superseded round: blocks free now, not at session end
      labels = updated.select(col(id), col("label"))
      iter += 1
    }
    Checkpoints.release(sym) // the result below reads only the final labels
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col(id), col("label").as("cluster_id"), col("cluster_size"))
  }

  /** Round cap of [[connectedComponents]]: far above the diameter of any
    * near-dup or thresholded co-order cluster. */
  private val CcMaxRounds = 30

  /** The broadcast budget FALLBACK: Spark's standard 10 MiB
    * autoBroadcastJoinThreshold default, used when the session conf is
    * unreadable. The route cards normally resolve the budget from
    * `spark.sql.autoBroadcastJoinThreshold` itself
    * ([[sessionBroadcastThresholdBytes]]) so they move with the knob a
    * cluster operator actually tunes. */
  val CcBroadcastThresholdBytes: Long = 10L * 1024 * 1024

  /** The broadcast budget the session's OPERATOR tuned:
    * `spark.sql.autoBroadcastJoinThreshold`, parsed like Spark parses
    * it (bare number = bytes, else a byte-suffixed string). A
    * non-positive value means the operator DISABLED auto-broadcast —
    * the measured routes honor that as "never broadcast" (threshold
    * 0). Unreadable/unset falls back to the 10 MiB standard.
    *
    * Two deliberate consequences, stated so nobody trips on them:
    * (1) the registered route-card ORACLES pin Spark's default
    * 10485760 as a literal (static SQL cannot read a session conf), so
    * the driver's hash contract assumes the verify session runs the
    * default threshold — the same class of assumption as its UTC
    * timezone and shuffle-partition settings; (2) a LANDED card bakes
    * the threshold in force at snapshot-build time — landing semantics,
    * not staleness: the route is a snapshot-grain decision, re-priced
    * when the snapshot's landings rebuild, and a mid-JVM conf flip
    * deliberately does not re-route consumers of an already-landed
    * card (t75 audits the landed value). Un-landed measured routes
    * ([[connectedComponentsMeasured]], the streamed cluster-growth
    * bound) read the conf live at every call. */
  def sessionBroadcastThresholdBytes(s: org.apache.spark.sql.SparkSession): Long = {
    val raw = try s.conf.get("spark.sql.autoBroadcastJoinThreshold",
      CcBroadcastThresholdBytes.toString)
    catch { case _: Exception => return CcBroadcastThresholdBytes }
    val bytes = try raw.trim.toLong catch {
      case _: NumberFormatException =>
        try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw.trim)
        catch { case _: Exception => CcBroadcastThresholdBytes }
    }
    if (bytes > 0) bytes else 0L
  }

  /** The broadcast rule every route card applies: a relation estimated
    * at `estBytes` broadcasts while it fits `threshold`, else shuffles. */
  def route(estBytes: Column, threshold: Column): Column =
    when(estBytes <= threshold, lit("broadcast")).otherwise(lit("shuffle"))

  /** The route tail shared by every route card: appends
    * `broadcast_threshold` (the session budget,
    * [[sessionBroadcastThresholdBytes]], read when the card is built)
    * and the [[route]] verdict to a card that carries `est_bytes`. */
  def routeTail(card: DataFrame): DataFrame =
    card.withColumn("broadcast_threshold",
        lit(sessionBroadcastThresholdBytes(card.sparkSession)))
      .withColumn("route", route(col("est_bytes"), col("broadcast_threshold")))

  /** True iff a (possibly landed) 1-row route card says 'broadcast' —
    * the single-read every measured call site shares. */
  def cardIsBroadcast(card: DataFrame): Boolean =
    card.select(col("route")).head().getString(0) == "broadcast"

  /** Estimated bytes per CC label row — two longs (id, label), t110's
    * own arithmetic. */
  val CcLabelBytesPerRow: Long = 16L

  /** Measured broadcast-vs-shuffle ROUTE for the CC label relation —
    * t110's arithmetic as a CONSUMABLE 1-row card (the
    * [[IndexMaintenance.gateRouteCard]] pattern at clustering grain).
    * The per-round label relation is node-sized at ~16 B/row (two
    * longs); it is broadcast-safe only while it fits the session
    * broadcast threshold. Integer arithmetic only, so the hash-checked
    * t110 card and this decision are the same computation. Returns
    * (n_nodes, est_bytes, broadcast_threshold, route). */
  def ccRouteCard(nodes: DataFrame): DataFrame =
    routeTail(nodes.agg(count(lit(1)).as("n_nodes"))
      .select(col("n_nodes"),
        (col("n_nodes") * lit(CcLabelBytesPerRow)).cast("long").as("est_bytes")))

  /** [[connectedComponents]] with `broadcastNodes` picked BY
    * MEASUREMENT from [[ccRouteCard]] — the wired form of the t110
    * decision. The collect is a 1-row decision scalar off one count: it
    * runs once per CC run, never per round or per row. Billions of
    * nodes price past the threshold and the whole fixpoint loop runs
    * the spec-proven shuffle variant. */
  def connectedComponentsMeasured(nodes: DataFrame, id: String,
      pairs: DataFrame): DataFrame = {
    // one pass over the nodes lineage: the route count and the label
    // seed both read these blocks — without the checkpoint, a derived
    // node set (the retraction's semi-joined members) would compute
    // twice. The fixpoint loop inside connectedComponents runs EAGERLY,
    // so by return time only the final label checkpoint is live and the
    // node blocks release here, not at session end.
    val n = nodes.localCheckpoint()
    try connectedComponents(n, id, pairs,
      broadcastNodes = cardIsBroadcast(ccRouteCard(n)))
    finally Checkpoints.release(n)
  }

  /** One CC min-label-propagation round, un-checkpointed: each node's
    * label becomes the min of its own and its neighbors' labels, plus a
    * `dec` flag marking nodes that changed this round. Exposed so the
    * per-round join plan is inspectable (the loop above checkpoints
    * every round, hiding the join from the final plan): DedupOpsSpec
    * asserts `broadcastNodes = false` really yields a shuffled join,
    * not a re-broadcast. */
  private[graft] def ccRound(sym: DataFrame, labels: DataFrame, id: String,
      broadcastNodes: Boolean): DataFrame = {
    def side(df: DataFrame) = if (broadcastNodes) broadcast(df) else df
    val nbMin = sym.join(side(labels), col("src") === col(id))
      .groupBy(col("dst")).agg(min(col("label")).as("nb_min"))
    labels
      .join(nbMin, col(id) === col("dst"), "left")
      .select(col(id),
        least(col("label"), coalesce(col("nb_min"), col("label"))).as("label"),
        (coalesce(col("nb_min"), col("label")) < col("label")).as("dec"))
  }

  /** Cluster-relation RETRACTION repair — the delete complement of the
    * ingest-growth family: given the landed cluster relation and a set
    * of ids to forget, return the relation over the surviving docs
    * WITHOUT corpus-wide CC. A removed doc can split its cluster (it
    * was a bridge) or relabel it (it held the component-min id), so
    * exactly the AFFECTED clusters — those containing a removed doc —
    * re-pair among their surviving members (candidate-bounded: the
    * shingle/signature inputs are semi-joined to affected membership)
    * and re-run CC; every unaffected row is reused verbatim. Work is
    * bounded by affected-cluster membership, never the corpus. The
    * inner CC routes BY MEASUREMENT over the affected-member node set
    * ([[connectedComponentsMeasured]] — billions of affected members
    * price past the threshold and the repair runs the shuffle variant).
    * Returns (id, cluster_id) for every surviving doc. */
  def retractFromClusters(landed: DataFrame, removed: DataFrame, id: String,
      sh: DataFrame, sigs: DataFrame, threshold: Double, bands: Int): DataFrame = {
    val affected = landed.join(removed, Seq(id), "left_semi")
      .select(col("cluster_id")).distinct()
    val keepRows = landed.join(removed, Seq(id), "left_anti")
    val unaffected = keepRows.join(affected, Seq("cluster_id"), "left_anti")
      .select(col(id), col("cluster_id"))
    val members = keepRows.join(affected, Seq("cluster_id"), "left_semi")
      .select(col(id))
    val rePairs = minhashLshPairsFrom(
        sh.join(members, Seq(id), "left_semi"),
        sigs.join(members, Seq(id), "left_semi"),
        id, threshold, bands)
      .select(col("id_x"), col("id_y"))
    val reCC = connectedComponentsMeasured(members, id, rePairs)
      .select(col(id), col("cluster_id"))
    unaffected.union(reCC)
  }

  /** Asymmetric containment pairs — excerpt/subset detection: emit every
    * ORDERED pair (x, y) where ≥ `threshold` of x's distinct shingles
    * appear in y. The candidate front end is the classic lossless prefix
    * filter: rank each doc's shingles by ascending global document
    * frequency (rarest first, ties by shingle) and keep the first
    * `floor((1-threshold)·n)+1`; if containment(x→y) ≥ threshold then by
    * pigeonhole at least one of x's prefix shingles is in y, so joining
    * PREFIX(x) ⋈ ALL(y) on the shingle key finds every qualifying pair —
    * the result is provably identical to the exact all-sharing-pairs
    * join (asserted in DedupOpsSpec), but the join's left side shrinks
    * to ~(1-threshold) of the shingle table and, crucially, hot
    * boilerplate shingles (high df) are exactly the ones ranked OUT of
    * the prefix, so the Σ df_prefix·df blowup a hot shingle causes in
    * the raw self-join cannot happen. Exact containment is then rescored
    * on the candidate pairs only. Returns (id_x, id_y, containment). */
  def containmentPairs(sh: DataFrame, id: String, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col(id))
    val dfs = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val prefix = sh.join(dfs, "shingle")
      .withColumn("n_sh", count(lit(1)).over(byDoc))
      .withColumn("rk", row_number().over(byDoc.orderBy(col("df"), col("shingle"))))
      // the +1e-6 guards the exact-boundary case against float dust:
      // 1.0-0.9 = 0.0999…98 in binary, so ×n can land a hair BELOW the
      // exact integer and floor would undercut the prefix by one — a
      // recall bug, not a rounding nit. 1e-6 is far above the ~n·1e-16
      // error yet far below the 10^-d gap to the next integer for a
      // d-decimal threshold, so the computed size is exactly
      // floor((1-threshold)·n)+1.
      .filter(col("rk") <= floor(lit(1.0 - threshold) * col("n_sh") + lit(1e-6)) + 1)
      .select(col(id).as("id_x"), col("shingle"))
    val cand = prefix
      .join(sh.select(col(id).as("id_y"), col("shingle")), "shingle")
      .filter(col("id_x") =!= col("id_y"))
      .select(col("id_x"), col("id_y")).distinct()
    // rescore = shared-shingle counts for the candidate pairs. Join
    // ORDER matters enormously here: expanding cand by id_x's shingles
    // first (cand ⋈ sh ⋈ sh) multiplies |cand| by shingles-per-doc
    // BEFORE any match — on a low-vocabulary corpus where candidates
    // barely prune (measured: 6.9M pairs at a 50k-doc replica test,
    // 400M-row intermediate, 138 s) that expansion dominates the whole
    // operator. Instead: shingle-keyed self-join over ONLY the docs
    // that appear in cand (semi-joins), then restrict the matched
    // pairs to cand — the intermediate is Σ df² over candidate docs
    // (25M rows on the same test, 16x smaller), and on a selective
    // corpus the semi-joins shrink it further to candidate docs only.
    val shX = sh.select(col(id).as("id_x"), col("shingle"))
      .join(cand.select(col("id_x")).distinct(), Seq("id_x"), "left_semi")
    val shY = sh.select(col(id).as("id_y"), col("shingle"))
      .join(cand.select(col("id_y")).distinct(), Seq("id_y"), "left_semi")
    val common = shX.join(shY, "shingle")
      .join(cand, Seq("id_x", "id_y"), "left_semi")
      .groupBy(col("id_x"), col("id_y")).agg(count(lit(1)).as("n_common"))
    val sizes = sh.groupBy(col(id)).agg(count(lit(1)).as("n_sh"))
    common.join(sizes.select(col(id).as("id_x"), col("n_sh")), "id_x")
      .withColumn("containment",
        col("n_common").cast("double") / col("n_sh").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_x"), col("id_y"), col("containment"))
  }

  /** Disjoint fixed-length token blocks — the segment granularity of
    * line/paragraph-level dedup (the CCNet/RefinedWeb move: boilerplate
    * repeats at segment level long before whole documents collide).
    * Blocks are built per row from the token array (a pure narrow map —
    * at 100 TB this beats exploding every token into a (doc, pos)
    * shuffle just to regroup them), then posexploded to one row per
    * (id, blk, block). The trailing partial block is kept: truncating
    * it would blind the dedup to short-document collisions.
    * Zero-content blocks are dropped — a blank/whitespace-only document
    * would otherwise emit one empty-string block (tokens("") = [""]),
    * and any two empty docs would register as 100% duplicate segments
    * in [[blockDupStats]]. */
  def tokenBlocks(docs: DataFrame, id: String, text: Column,
      blockLen: Int): DataFrame = {
    require(blockLen >= 1, s"tokenBlocks needs blockLen >= 1, got $blockLen")
    val w = tokens(text)
    val nBlk = greatest(lit(1L),
      floor((size(w).cast("long") + lit(blockLen - 1)) / lit(blockLen)).cast("long"))
    val blocks = transform(sequence(lit(0L), nBlk - 1),
      j => array_join(slice(w, (j * blockLen + 1).cast("int"), lit(blockLen)), " "))
    docs.select(col(id), posexplode(blocks).as(Seq("blk", "block")))
      .filter(trim(col("block")) =!= "")
  }

  /** Per-document duplicate-segment audit over a [[tokenBlocks]] table:
    * a block is duplicated when its exact content appears in more than
    * one DISTINCT document. One partial-agg shuffle keyed on the block
    * content (a hot boilerplate block is one aggregation group, never a
    * pair explosion), one join back, one per-doc rollup. Returns
    * (id, n_blocks, n_dup_blocks, dup_frac). */
  def blockDupStats(blocks: DataFrame, id: String): DataFrame = {
    val bc = blocks.groupBy(col("block")).agg(countDistinct(col(id)).as("nd"))
    blocks.join(bc, "block")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup_blocks"))
      .withColumn("dup_frac",
        TextOps.round6p(col("n_dup_blocks").cast("double") / col("n_blocks").cast("double")))
  }

  /** SimHash signature: frequency-weighted sign-sum of token hash
    * bits, as the native one-pass in-row kernel (`simhash_f`) — a
    * narrow map over the documents scan. The declarative aggregation
    * form (`ReferenceForms.simhashAgg`, test scope) is the contract the kernel is
    * spec-asserted bit-equal against; at 100 TB it shuffles one row per
    * TOKEN (corpus token count) with `bits` aggregation columns, while
    * the kernel shuffles nothing. Returns (id, simhash LONG).
    *
    * Null-text rows are DROPPED — the contract of the aggregation form
    * (explode of a null token array emits no rows, so the doc never
    * reaches the groupBy); the filter makes kernel ≡ aggregation hold
    * on EVERY input, nulls included (spec-pinned in DedupOpsSpec). */
  def simhash(docs: DataFrame, id: String, text: Column, bits: Int = 48): DataFrame =
    docs.filter(text.isNotNull)
      .select(col(id), graft.expr.VectorExprs.simhashF(text, bits).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, found via
    * byte-band equi-joins (pigeonhole over `bands` bands guarantees
    * recall when maxDist < bands). Never compares all pairs. */
  def simhashPairs(sigs: DataFrame, id: String, maxDist: Int,
      bits: Int = 48, bands: Int = 6): DataFrame = {
    val width = bits / bands
    val bandCols = (0 until bands).map(b => struct(lit(b).as("band"),
      shiftright(col("simhash"), b * width).bitwiseAND(lit((1L << width) - 1)).as("band_val")))
    val banded = sigs.select(col(id), col("simhash"), explode(array(bandCols: _*)).as("bk"))
      .select(col(id), col("simhash"), col("bk.band"), col("bk.band_val"))
    banded.select(col(id).as("id_x"), col("simhash").as("sim_x"), col("band"), col("band_val"))
      .join(banded.select(col(id).as("id_y"), col("simhash").as("sim_y"), col("band"), col("band_val")),
        Seq("band", "band_val"))
      .filter(col("id_x") < col("id_y"))
      .select(col("id_x"), col("id_y"),
        bit_count(col("sim_x").bitwiseXOR(col("sim_y"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Positional g-gram table `(id, pos, gram)` — pos is the 0-based
    * token offset of the gram's first token; grams are the space-joined
    * g-token windows. Built per row from the token array (narrow map)
    * then posexploded, like [[tokenBlocks]]. */
  def positionalGrams(docs: DataFrame, id: String, text: Column, g: Int): DataFrame = {
    require(g >= 1, s"positionalGrams needs g >= 1, got $g")
    // r15: the per-position array_join(slice(…)) interpreted lambda is
    // the native grams_f kernel now — index i of the vector IS token
    // position i, value-identical (spec: ExprPropertySpec)
    docs.select(col(id),
      posexplode(graft.expr.VectorExprs.gramsF(tokens(text), g))
        .as(Seq("pos", "gram")))
  }

  /** Stages 1–2 of the substring-run machinery, one row per maximal
    * qualifying run: (id_x, id_y, diag, py_start, run_tokens) — the run
    * covers y-side token positions [py_start, py_start+run_tokens-1].
    * Shared by [[sharedRunPairs]] (detection) and [[excisionStats]]
    * (removal accounting).
    *
    * Two stages, lossless by pigeonhole (requires
    * minRunTokens ≥ 2·seedW − 1):
    *  1. SEED — a wide seedW-gram equi-join whose left side keeps only
    *     grams starting at positions ≡ 0 (mod seedW). A shared run of
    *     length L ≥ 2·seedW−1 spans ≥ seedW consecutive gram starts in
    *     each doc, so one of them is strided: no qualifying pair can be
    *     missed, while the join's left side is 1/seedW of the position
    *     table and hot SHORT grams (the skew class) never join — seeds
    *     are seedW-token strings, far rarer than shingles.
    *  2. RESCORE — candidates only: join the two docs' positional
    *     n-grams, group matches by alignment diagonal (pos_x − pos_y),
    *     merge consecutive positions into maximal islands
    *     (pos − row_number), and keep runs of k matched grams with
    *     k + n − 1 ≥ minRunTokens.
    *
    * 100 TB shape: stage 1 is a strided equi-join (AQE skew-split on a
    * pathological hot seed); stage 2's work is candidate-pair-bounded —
    * the positional-gram join re-reads only candidate docs' grams.
    * Fully deterministic and window-replayable by a SQL oracle. */
  def sharedRunRelation(docs: DataFrame, id: String, text: Column,
      minRunTokens: Int = 20, seedW: Int = 10, n: Int = 3,
      seedIndex: Option[DataFrame] = None): DataFrame = {
    require(minRunTokens >= 2 * seedW - 1,
      s"lossless seeding needs minRunTokens >= 2*seedW-1 (got $minRunTokens < ${2 * seedW - 1})")
    import org.apache.spark.sql.expressions.Window
    // seeds join on an 8-byte hash of the seedW-gram, not the ~70-char
    // string: the seed stage only proposes CANDIDATES (the rescore
    // recomputes exact runs from real grams and thresholds), so a hash
    // collision can only ADD a candidate that rescores to nothing —
    // the final relation is unchanged (and the oracle, which seeds on
    // the strings, reaches the same final rows), while the seed
    // shuffle shrinks ~9x. Pass `seedIndex` (a landed [[seedGramIndex]])
    // to skip the derivation entirely — the admission family's index
    // doubles as this chain's seed stage.
    val seeds = seedIndex.getOrElse(
      positionalGrams(docs, id, text, seedW)
        .select(col(id), col("pos"), xxhash64(col("gram")).as("gram")))
    val cand = seeds.filter(col("pos") % seedW === 0)
      .select(col(id).as("id_l"), col("gram"))
      .join(seeds.select(col(id).as("id_r"), col("gram")), "gram")
      .filter(col("id_l") =!= col("id_r"))
      .select(least(col("id_l"), col("id_r")).as("id_x"),
        greatest(col("id_l"), col("id_r")).as("id_y"))
      .distinct()
    // trigram positions only for docs that appear in a candidate pair:
    // the narrow gram map and both join inputs shrink to the candidate
    // neighborhood instead of re-deriving the whole corpus (the same
    // rescore-restriction move as containmentPairs)
    val candDocs = cand.select(col("id_x").as(id))
      .unionByName(cand.select(col("id_y").as(id))).distinct()
    val tri = positionalGrams(docs.join(candDocs, Seq(id), "left_semi"),
      id, text, n)
    val matches = cand
      .join(tri.select(col(id).as("id_x"), col("pos").as("px"), col("gram")), "id_x")
      .join(tri.select(col(id).as("id_y"), col("pos").as("py"), col("gram")),
        Seq("id_y", "gram"))
    val wDiag = Window.partitionBy(col("id_x"), col("id_y"), col("diag"))
      .orderBy(col("px"))
    matches
      .withColumn("diag", col("px") - col("py"))
      .withColumn("grp", col("px") - row_number().over(wDiag))
      .groupBy(col("id_x"), col("id_y"), col("diag"), col("grp"))
      .agg(count(lit(1)).as("k"), min(col("py")).as("py_start"))
      .withColumn("run_tokens", col("k") + lit(n - 1))
      .filter(col("run_tokens") >= minRunTokens)
  }

  /** Positional seedW-gram index `(id, pos, gram)` with the gram hashed
    * by the house hash [[TextOps.hx]] — the LANDABLE form of the seed
    * table (an oracle can mirror hx, so candidate COUNTS taken straight
    * off this index are engine-portable, not just rescored results).
    * The substring-run admission family joins arriving rows against
    * this index exactly as the MinHash gate joins the landed band
    * index. */
  def seedGramIndex(docs: DataFrame, id: String, text: Column,
      seedW: Int = 10): DataFrame =
    // r15: the (pos → hx(window)) vector computes in ONE native kernel
    // call per document (bit-identical to positionalGrams + hx — spec:
    // ExprPropertySpec) instead of a per-position array_join/md5-hex/
    // conv tree; index-build cost drops ~4x at sf0.1 (OPTIMIZATION_r15)
    docs.select(col(id),
        posexplode(graft.expr.VectorExprs.seedGramHashesF(text, seedW))
          .as(Seq("pos", "gram")))

  /** Substring-run ADMISSION — the t52/s12 incremental gate at
    * substring grain: for each ARRIVING doc, find every corpus partner
    * sharing a maximal aligned run of ≥ `minRunTokens` tokens and
    * report (id, n_dup_partners, max_run_tokens, admit). The corpus
    * side is the LANDED [[seedGramIndex]] — ingest cost scales with
    * the batch, never the corpus.
    *
    * Lossless by the same pigeonhole as [[sharedRunRelation]]: the
    * ARRIVING side keeps only stride-aligned seeds, the corpus index
    * holds every position, so a qualifying run always collides.
    * Rescore (exact positional n-grams, candidate-restricted on both
    * sides) removes hash-collision candidates, so the verdict is
    * exact. */
  def runAdmission(arriving: DataFrame, corpus: DataFrame,
      corpusSeeds: DataFrame, id: String, text: Column,
      minRunTokens: Int = 20, seedW: Int = 10, n: Int = 3): DataFrame = {
    require(minRunTokens >= 2 * seedW - 1,
      s"lossless seeding needs minRunTokens >= 2*seedW-1 (got $minRunTokens < ${2 * seedW - 1})")
    import org.apache.spark.sql.expressions.Window
    val arrSeeds = seedGramIndex(arriving, id, text, seedW)
      .filter(col("pos") % seedW === 0)
      .select(col(id).as("arr_id"), col("gram"))
    val cand = arrSeeds
      .join(corpusSeeds.select(col(id).as("corpus_id"), col("gram")), "gram")
      .filter(col("arr_id") =!= col("corpus_id"))
      .select(col("arr_id"), col("corpus_id")).distinct()
    val triA = positionalGrams(arriving.join(
        cand.select(col("arr_id").as(id)).distinct(), Seq(id), "left_semi"),
      id, text, n)
    val triC = positionalGrams(corpus.join(
        cand.select(col("corpus_id").as(id)).distinct(), Seq(id), "left_semi"),
      id, text, n)
    val matches = cand
      .join(triA.select(col(id).as("arr_id"), col("pos").as("px"), col("gram")),
        "arr_id")
      .join(triC.select(col(id).as("corpus_id"), col("pos").as("py"), col("gram")),
        Seq("corpus_id", "gram"))
    val wDiag = Window.partitionBy(col("arr_id"), col("corpus_id"), col("diag"))
      .orderBy(col("px"))
    val runs = matches
      .withColumn("diag", col("px") - col("py"))
      .withColumn("grp", col("px") - row_number().over(wDiag))
      .groupBy(col("arr_id"), col("corpus_id"), col("diag"), col("grp"))
      .agg(count(lit(1)).as("k"))
      .withColumn("run_tokens", col("k") + lit(n - 1))
      .filter(col("run_tokens") >= minRunTokens)
    val verdict = runs.groupBy(col("arr_id"))
      .agg(countDistinct(col("corpus_id")).as("n_dup_partners"),
        max(col("run_tokens")).as("max_run_tokens"))
    arriving.select(col(id))
      .join(verdict, col(id) === col("arr_id"), "left")
      .select(col(id),
        coalesce(col("n_dup_partners"), lit(0L)).as("n_dup_partners"),
        coalesce(col("max_run_tokens"), lit(0L)).as("max_run_tokens"),
        col("arr_id").isNull.as("admit"))
  }

  /** The candidate stage of [[runAdmission]] alone — per arriving doc,
    * the count of DISTINCT corpus partners colliding on a strided seed
    * (no rescore): the batch mirror of the streaming substring gate,
    * which reports candidate pressure per arriving row off the landed
    * index exactly like the s12 MinHash gate reports band collisions.
    * hx-hashed seeds ⇒ the count itself is oracle-mirrorable. */
  def runGateCandidates(arriving: DataFrame, corpusSeeds: DataFrame,
      id: String, text: Column, seedW: Int = 10): DataFrame =
    seedGramIndex(arriving, id, text, seedW)
      .filter(col("pos") % seedW === 0)
      .select(col(id).as("arr_id"), col("gram"))
      .join(corpusSeeds.select(col(id).as("corpus_id"), col("gram")), "gram")
      .filter(col("arr_id") =!= col("corpus_id"))
      .groupBy(col("arr_id"))
      .agg(countDistinct(col("corpus_id")).as("n_candidates"))
      .select(col("arr_id").as(id), col("n_candidates"))

  /** Exact cross-document substring-run dedup — the "no shared ≥k-token
    * run" curation rule (suffix-array substring dedup re-expressed at
    * n-gram grain): for every document pair sharing at least one
    * maximal aligned token run of ≥ `minRunTokens`, report how many
    * such runs they share and the longest one's token length. Returns
    * (id_x, id_y, n_runs, max_run_tokens) with id_x < id_y.
    * See [[sharedRunRelation]] for the two-stage lossless shape. */
  def sharedRunPairs(docs: DataFrame, id: String, text: Column,
      minRunTokens: Int = 20, seedW: Int = 10, n: Int = 3): DataFrame =
    runPairsFrom(sharedRunRelation(docs, id, text, minRunTokens, seedW, n))

  /** [[sharedRunPairs]]' tail over an already-computed (or landed) run
    * relation from [[sharedRunRelation]] — one pair agg. */
  def runPairsFrom(runs: DataFrame): DataFrame =
    runs.groupBy(col("id_x"), col("id_y"))
      .agg(count(lit(1)).as("n_runs"), max(col("run_tokens")).as("max_run_tokens"))

  /** Substring-run EXCISION accounting — the curation step that follows
    * detection (Lee et al.'s "Deduplicating Training Data" removes the
    * duplicated span, not the document): keep each shared ≥k-token run's
    * FIRST occurrence corpus-wide (the smaller doc id) and excise it
    * from every later doc. For each affected doc this reports the token
    * positions lost to excision as merged maximal spans:
    * (doc_id, n_tokens, n_spans, excised_tokens, kept_tokens).
    *
    * Shape on top of [[sharedRunRelation]] (candidate-pair-bounded): the
    * qualifying runs' y-side spans [py_start, py_start+run_tokens-1]
    * are deduped, then unioned per doc with the classic
    * interval-island window (running max of span end over the
    * start-ordered prefix marks island breaks) — one extra narrow
    * window pass partitioned BY DOC, never cross-doc. A doc that only
    * ever appears as the earlier (kept) side is untouched and not
    * reported. 100 TB: span count is bounded by qualifying runs (already
    * threshold-filtered), and the island merge is per-doc local work. */
  def excisionStats(docs: DataFrame, id: String, text: Column,
      minRunTokens: Int = 20, seedW: Int = 10, n: Int = 3): DataFrame =
    excisionStatsFrom(sharedRunRelation(docs, id, text, minRunTokens, seedW, n),
      docs, id, text)

  /** [[excisionStats]]' tail over an already-computed (or landed) run
    * relation from [[sharedRunRelation]] — the per-doc interval-island
    * merge and token arithmetic only. */
  def excisionStatsFrom(runs: DataFrame, docs: DataFrame, id: String,
      text: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = runs
      .select(col("id_y").as(id), col("py_start").as("s"),
        (col("py_start") + col("run_tokens") - 1).as("e"))
      .distinct()
    val wPrev = Window.partitionBy(col(id)).orderBy(col("s"), col("e"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col(id)).orderBy(col("s"), col("e"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val islands = spans
      .withColumn("brk", // null prefix-max (first span of a doc) opens an island too
        when(col("s") <= max(col("e")).over(wPrev), 0).otherwise(1))
      .withColumn("island", sum(col("brk")).over(wRun))
      .groupBy(col(id), col("island"))
      .agg((max(col("e")) - min(col("s")) + 1).as("span_tokens"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_tokens")).cast("long").as("excised_tokens"))
    docs.select(col(id), size(tokens(text)).cast("long").as("n_tokens"))
      .join(islands, id)
      .select(col(id), col("n_tokens"), col("n_spans"), col("excised_tokens"),
        (col("n_tokens") - col("excised_tokens")).as("kept_tokens"))
  }

}
