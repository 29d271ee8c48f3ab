package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding-similarity operators over `ARRAY<FLOAT>` columns.
  *
  * Numeric contract: every element is cast FLOAT→DOUBLE (exact) before
  * any arithmetic, and sums fold left-to-right via `aggregate` — IEEE
  * doubles in a fixed order, so any engine (and the DuckDB oracle)
  * reproduces the result bit-for-bit.
  *
  * Scale shapes:
  *   - [[topKNeighbors]] broadcasts the (small) query set against the
  *     full corpus: a broadcast nested-loop with per-query top-k via
  *     window — linear in corpus size, embarrassingly parallel;
  *   - the quadratic exact all-pairs self-join is only a test-scope
  *     reference (`ReferenceForms.scoredPairs`) for the LSH recall specs;
  *   - [[lshAnnTopK]] is the 100 TB path: deterministic random-hyperplane
  *     signs bucket the corpus, candidates come from an equi-join on the
  *     bucket key, exact cosine rescoring runs only inside buckets.
  */
object VectorOps {
  import graft.expr.VectorExprs

  /** Ordered dot product with FLOAT→DOUBLE promotion per element — the
    * native codegen expression (graft.expr.DotProductF); bit-identical
    * to the `aggregate(zip_with(...))` fold it replaces, ~10× faster on
    * the O(n²) pair kernels because it never leaves whole-stage codegen. */
  def dot(a: Column, b: Column): Column = VectorExprs.dotF(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Embedding near-dup, the 100 TB default: LSH-bucketed candidate
    * generation + exact cosine rescoring. Candidates come from a banded
    * self-equi-join on deterministic sign-random-projection bucket keys
    * (Σ bucket² work, never all pairs); only candidate pairs are scored,
    * with hoisted norms and the native dot kernel. Deterministic planes ⇒
    * the candidate set (and thus the result) is engine-reproducible — the
    * DuckDB oracle mirrors the buckets exactly. Recall vs the exact
    * all-pairs form (the sf0.01 cross-check in VectorOpsSpec) is ≥0.9
    * at the registered parameters. */
  def lshNearDupPairs(vecs: DataFrame, id: String, vec: String, threshold: Double,
      tables: Int = 16, planes: Int = 4, salt: Int = 1): DataFrame =
    lshScoredPairs(vecs, id, vec, tables, planes, salt)
      .filter(col("cos") >= threshold)

  /** [[lshNearDupPairs]] against a precomputed `(id, bucket)` table —
    * pass [[bucketTable]] landed once per corpus (the ANN index-build
    * shape: at 100 TB the bucket index is built in one pass and every
    * downstream near-dup / top-pairs / ANN job reads it, instead of
    * each query re-deriving 64 plane projections per row). */
  def lshNearDupPairsFrom(buckets: DataFrame, vecs: DataFrame, id: String,
      vec: String, threshold: Double, salt: Int = 1): DataFrame =
    lshScoredPairsFrom(buckets, vecs, id, vec, salt)
      .filter(col("cos") >= threshold)

  /** Top-`k` most-similar pairs, LSH-fronted — the 100 TB form of the
    * exact quadratic self-join: same deterministic bucketed candidate
    * generation as [[lshNearDupPairs]], then a global top-k
    * (TakeOrdered, never a full sort) over the rescored candidates.
    * Highly-similar pairs collide in ≥1 of the 16 tables w.h.p., so
    * top-of-the-ranking recall vs the exact quadratic form is ≥0.95 at
    * the registered parameters (asserted in VectorOpsSpec against the
    * exact form). */
  def lshTopSimilarPairs(vecs: DataFrame, id: String, vec: String, k: Int,
      tables: Int = 16, planes: Int = 4, salt: Int = 1): DataFrame =
    lshScoredPairs(vecs, id, vec, tables, planes, salt)
      .orderBy(col("cos").desc, col("id_x"), col("id_y"))
      .limit(k)

  /** [[lshTopSimilarPairs]] against a precomputed bucket table (see
    * [[lshNearDupPairsFrom]]). */
  def lshTopSimilarPairsFrom(buckets: DataFrame, vecs: DataFrame, id: String,
      vec: String, k: Int, salt: Int = 1): DataFrame =
    lshScoredPairsFrom(buckets, vecs, id, vec, salt)
      .orderBy(col("cos").desc, col("id_x"), col("id_y"))
      .limit(k)

  /** The exploded `(id, bucket)` LSH index table — one row per (vector,
    * table). Landed once per corpus by the callers that reuse it (the
    * index-build pass of a production ANN deployment). The (tables,
    * planes) family is stamped on the bucket column's metadata —
    * bucket keys from different families PARTIALLY overlap (bucket =
    * signs + (tbl << planes)), so joining mismatched families would
    * silently collapse recall; [[lshAnnTopKFrom]] checks the stamp. */
  def bucketTable(vecs: DataFrame, id: String, vec: String,
      tables: Int, planes: Int): DataFrame = {
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("lsh_tables", tables.toLong)
      .putLong("lsh_planes", planes.toLong)
      .build()
    vecs.select(col(id),
      explode(lshBuckets(col(vec), tables, planes)).as("bucket", meta))
  }

  /** Assert a precomputed bucket table's stamped family (when present —
    * a parquet round trip preserves it) matches the family the caller
    * is about to generate query-side keys with. */
  private def requireFamily(buckets: DataFrame, tables: Int, planes: Int): Unit = {
    val m = buckets.schema.find(_.name == "bucket").map(_.metadata)
    m.filter(md => md.contains("lsh_tables") && md.contains("lsh_planes"))
      .foreach { md =>
        require(md.getLong("lsh_tables") == tables && md.getLong("lsh_planes") == planes,
          s"bucket table was built with family (${md.getLong("lsh_tables")}, " +
            s"${md.getLong("lsh_planes")}), caller expects ($tables, $planes) — " +
            "mixed-family joins silently collapse recall")
      }
  }

  /** Shared LSH-candidate + exact-rescore kernel: banded self-equi-join
    * on deterministic sign-random-projection bucket keys (Σ bucket²
    * work, never all pairs), exact cosine on candidates only, with
    * hoisted norms and the native dot kernel. Deterministic planes ⇒
    * the candidate set is engine-reproducible (the DuckDB oracles
    * mirror the buckets exactly). */
  private def lshScoredPairs(vecs: DataFrame, id: String, vec: String,
      tables: Int, planes: Int, salt: Int): DataFrame =
    lshScoredPairsFrom(bucketTable(vecs, id, vec, tables, planes),
      vecs, id, vec, salt)

  private def lshScoredPairsFrom(buckets: DataFrame, vecs: DataFrame,
      id: String, vec: String, salt: Int): DataFrame = {
    val b = buckets.select(col(id).as("bid"), col("bucket"))
    val cand = (if (salt <= 1) {
      b.as("a").join(b.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.bid") < col("b.bid"))
        .select(col("a.bid").as("id_x"), col("b.bid").as("id_y"))
    } else {
      // hot-bucket-proof grid self-join; identical pair set
      DedupOps.saltedSelfJoinPairs(b, "bid", Seq("bucket"), salt)
    }).distinct()
    val va = vecs.select(col(id).as("id_x"), col(vec).as("v_x"), norm(col(vec)).as("norm_x"))
    val vb = vecs.select(col(id).as("id_y"), col(vec).as("v_y"), norm(col(vec)).as("norm_y"))
    cand.join(va, "id_x").join(vb, "id_y")
      .select(col("id_x"), col("id_y"),
        TextOps.round6p(dot(col("v_x"), col("v_y")) / (col("norm_x") * col("norm_y"))).as("cos"))
  }

  /** Default ceiling for a broadcast query frame — the audit-sample
    * contract the exact scorers carry: past this, the caller wanted the
    * bucketed LSH/IVF front end (t11/t13), not a corpus broadcast. */
  val AnnQueryCap: Long = 100000L

  /** In-plan query-side scale guard (the t5 `exactFormCap` pattern):
    * [[topKNeighbors]] and [[lshAnnTopKFrom]] BROADCAST the query
    * frame, which is sound only for a bounded audit sample. The guard
    * rides the query rows behind an `assert_true` — a broadcast 1-row
    * count the join ships anyway — so pointing a corpus-sized frame at
    * the broadcast path fails fast naming the bucketed scale path
    * instead of OOMing the driver at 100×. Raise `queryCap` explicitly
    * for bigger deliberate audits. */
  private def cappedQueries(queries: DataFrame, cap: Long,
      what: String, scalePath: String): DataFrame =
    queries
      .crossJoin(broadcast(queries.agg(count(lit(1)).as("_q_rows"))))
      .filter(assert_true(col("_q_rows") <= cap,
        concat(lit(s"$what broadcasts the query frame (audit-sample " +
            "contract): "), col("_q_rows"),
          lit(s" query rows > cap $cap — use $scalePath at scale, or " +
            "raise queryCap deliberately")))
        .isNull)
      .drop("_q_rows")

  /** Exact top-`k` neighbors for each query vector: broadcast the query
    * set, scan the corpus once, rank per query with a unique tie-break.
    * Rank on the ROUNDED cosine so float last-ulp noise can never flip
    * an ordering across engines. Query side capped in-plan
    * ([[cappedQueries]]) — this is the audit/cross-check form; the
    * corpus-scale route is [[lshAnnTopK]]/[[ivfAnnTopK]]. */
  def topKNeighbors(corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, k: Int,
      queryCap: Long = AnnQueryCap): DataFrame = {
    val qg = cappedQueries(queries, queryCap, "topKNeighbors",
      "lshAnnTopK/ivfAnnTopK (t11/t13)")
    val q = broadcast(qg.select(col(id).as("query_id"), col(vec).as("q_vec"),
      norm(col(vec)).as("q_norm")))
    val c = corpus.select(col(id).as("neighbor_id"), col(vec).as("c_vec"),
      norm(col(vec)).as("c_norm"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        TextOps.round6p(dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm"))).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** All `tables` sign-random-projection bucket keys for a vector, as
    * an array column — the native one-call kernel (r15): bit-identical
    * to an array of per-table literal-plane expression trees
    * (`ReferenceForms.lshBucket`, spec: VectorOpsSpec) without the tables×planes-subexpression tree every
    * consumer query re-plans and re-codegens. */
  def lshBuckets(vec: Column, tables: Int, planes: Int): Column =
    graft.expr.VectorExprs.lshBucketsF(vec, tables, planes, 64)

  /** IVF coarse quantizer: per-cell centroids as float arrays. The cell
    * seed here is the corpus's label column (a stand-in for a trained
    * k-means codebook — swapping in trained centroids changes only this
    * function); the IVF STRUCTURE (inverted lists, nprobe cell probing,
    * exact in-cell rescoring) is the real thing. The per-dimension mean
    * accumulates micro-unit integers (order-independent, unlike a double sum
    * across shuffled partials) and divides in DOUBLE, so centroids —
    * and hence cell assignment and the whole ANN result — are
    * deterministic and engine-reproducible (the t13 oracle mirrors
    * this). */
  def ivfCentroids(corpus: DataFrame, vec: String, label: String): DataFrame =
    centroidMeans(corpus.select(col(label).as("cell"), col(vec).as("v")), "v")

  /** Trained coarse quantizer: Lloyd's k-means with deterministic
    * init (the `k` vectors of smallest id-hash, ranked — a top-k, not a
    * sort, at scale) and integer-accumulated mean updates (same numeric
    * contract as [[ivfCentroids]]), so every iteration — and therefore
    * the final codebook — is bit-reproducible across engines and
    * partitionings. Each iteration: broadcast centroids, argmax
    * assignment (narrow), one partial-agg shuffle for the means. */
  def kmeansCentroids(corpus: DataFrame, id: String, vec: String,
      k: Int, iters: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // seed selection is a distributed top-k (TakeOrderedAndProject via
    // limit), never a global sort; the row_number that assigns cell ids
    // then runs over the k surviving rows only
    val seeds = corpus
      .select(col(id), col(vec),
        graft.ops.TextOps.hx(col(id).cast("string")).as("hk"))
      .orderBy(col("hk"), col(id)).limit(k)
    var cents = seeds
      .withColumn("cell", row_number().over(Window.orderBy(col("hk"), col(id))))
      .select(col("cell"), col(vec).as("centroid"))
    for (_ <- 1 to iters) {
      val scored = corpus.select(col(id), col(vec)).crossJoin(broadcast(cents))
        .select(col(id), col(vec), col("cell"),
          (dot(col(vec), col("centroid")) / norm(col("centroid"))).as("score"))
      // r15 (guide §2.3/§2.4): the per-id argmax was a row_number window
      // — a full shuffle+sort of the n×k scored rows per iteration. A
      // struct-max aggregate picks the identical row ((score DESC, cell
      // ASC) ⇔ lexicographic max of (score, −cell); cells are distinct
      // within an id, so the trailing vec field never drives the
      // comparison) with map-side partial aggregation — the n×k rows
      // collapse to ≤n per task before the exchange.
      val assigned = scored
        .groupBy(col(id))
        .agg(max(struct(col("score"), (-col("cell")).as("negc"),
          col(vec).as("v"))).as("best"))
      cents = centroidMeans(
        assigned.select((-col("best.negc")).as("cell"), col("best.v").as("v")), "v")
    }
    cents
  }

  /** Shared centroid numeric contract (the one the t13/t16/t26/t28
    * oracles mirror): per-dimension exact BIGINT sum of floor(x·10⁶)
    * micro-units, DOUBLE divide, dim-ordered FLOAT array. Integer
    * accumulation is both order-independent AND engine-portable —
    * FLOAT→DECIMAL casts are not (Spark rounds the float's shortest
    * decimal representation, other engines the exact binary expansion,
    * and boundary elements land on different sides). */
  private def centroidMeans(cells: DataFrame, vec: String): DataFrame =
    centroidMeansBy(cells, Seq("cell"), vec)

  /** [[centroidMeans]] generalized to a composite cell key (the PQ
    * codebooks group by (sub, code) — as integers, not a concat'd
    * string key: same groups, same micro-unit arithmetic, narrower
    * shuffle rows). */
  private def centroidMeansBy(cells: DataFrame, keys: Seq[String],
      vec: String): DataFrame = {
    val ks = keys.map(col)
    cells.select(ks :+ posexplode(col(vec)).as(Seq("dim", "x")): _*)
      .groupBy(ks :+ col("dim"): _*)
      .agg((sum(floor(col("x").cast("double") * 1000000)).cast("double") /
        count(lit(1)).cast("double") / lit(1000000.0)).as("c"))
      .groupBy(ks: _*)
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        s => s.getField("c").cast("float")).as("centroid"))
  }

  /** IVF-flat ANN: assign every vector to its best centroid cell
    * (inverted lists), probe the query's `nprobe` nearest cells, exact
    * cosine rescoring inside the probed cells only. Centroid table is
    * broadcast (tiny); candidate volume ≈ corpus × nprobe/cells. */
  def ivfAnnTopK(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, label: String, k: Int, nprobe: Int = 4,
      queryCap: Long = AnnQueryCap): DataFrame =
    ivfAnnTopKWith(ivfCentroids(corpus, vec, label), corpus, queries, id, vec,
      k, nprobe, queryCap)

  /** IVF-flat ANN against an explicit centroid table — pass
    * [[kmeansCentroids]] for a trained codebook or [[ivfCentroids]] for
    * the label-seeded one; the IVF structure is identical. The probe
    * relation (query-sized × nprobe) broadcasts, so the query frame
    * carries the same in-plan cap as [[topKNeighbors]]; the corpus-scale
    * all-pairs form is [[semDedup]]'s in-cell self-join. */
  def ivfAnnTopKWith(centroids: DataFrame, corpus: DataFrame, queries0: DataFrame,
      id: String, vec: String, k: Int, nprobe: Int = 4,
      queryCap: Long = AnnQueryCap): DataFrame = {
    // guard rides the cell-rank reference only (the probes broadcast
    // always materializes); the q_vec join below reads the raw frame
    val queries = cappedQueries(queries0, queryCap, "ivfAnnTopKWith",
      "an in-cell self-join over the landed inverted lists (the semDedup shape)")
    val cents = broadcast(centroids)
    def cellRank(side: DataFrame, idName: String) = {
      val scored = side.crossJoin(cents)
        .select(col(idName), col("cell"),
          (dot(col(vec), col("centroid")) / norm(col("centroid"))).as("score"))
      val w = Window.partitionBy(col(idName)).orderBy(col("score").desc, col("cell"))
      scored.withColumn("cr", row_number().over(w))
    }
    val inv = cellRank(corpus.select(col(id), col(vec)), id)
      .filter(col("cr") === 1).select(col(id).as("neighbor_id"), col("cell"))
      .join(corpus.select(col(id).as("neighbor_id"), col(vec).as("c_vec"),
        norm(col(vec)).as("c_norm")), "neighbor_id")
    val probes = cellRank(queries.select(col(id), col(vec)), id)
      .filter(col("cr") <= nprobe).select(col(id).as("query_id"), col("cell"))
      .join(queries0.select(col(id).as("query_id"), col(vec).as("q_vec"),
        norm(col(vec)).as("q_norm")), "query_id")
    val scored = broadcast(probes).join(inv, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        TextOps.round6p(dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm"))).as("cos"))
      .distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** SemDeDup — cluster-scoped semantic deduplication (Abbas et al.
    * 2023, arXiv:2303.09540): assign every vector to its nearest
    * coarse-quantizer cell, then drop any vector with a SMALLER-id
    * in-cell neighbor of cosine ≥ `threshold` (the deterministic
    * lowest-id-wins rule the t15 curation pipeline uses). The pair
    * search never leaves a cell — Σ cell² work like IVF, not n² — and
    * at corpus scale the cell count grows with the corpus (trained
    * codebook via [[kmeansCentroids]]), keeping cells bounded. The
    * label-seeded [[ivfCentroids]] quantizer keeps the whole operator
    * deterministic and oracle-mirrorable (same micro-unit centroid
    * contract as t13). Returns (id, cell, dup_of nullable, kept 0/1). */
  def semDedup(corpus: DataFrame, id: String, vec: String, label: String,
      threshold: Double): DataFrame =
    semDedupWith(ivfCentroids(corpus, vec, label), corpus, id, vec, threshold)

  /** [[semDedup]] against an explicit `(cell, centroid)` quantizer —
    * pass [[kmeansCentroids]] for the trained codebook whose cell count
    * a production run scales with the corpus (keeping Σ cell² bounded
    * as the corpus grows — the claim the fixed-label seed can't make),
    * or [[ivfCentroids]] for the label-seeded stand-in. Both are
    * deterministic under the shared micro-unit centroid contract, so
    * either way the full operator is oracle-mirrorable. */
  def semDedupWith(centroids: DataFrame, corpus: DataFrame, id: String,
      vec: String, threshold: Double): DataFrame = {
    val assign = cellAssignments(centroids, corpus, id, vec)
    val inv = assign
      .join(corpus.select(col(id), col(vec), norm(col(vec)).as("nrm")), id)
    val a = inv.select(col("cell"), col(id).as("id_x"),
      col(vec).as("v_x"), col("nrm").as("n_x"))
    val b = inv.select(col("cell"), col(id).as("id_y"),
      col(vec).as("v_y"), col("nrm").as("n_y"))
    val dups = a.join(b, Seq("cell"))
      .filter(col("id_x") < col("id_y"))
      .select(col("id_y"), col("id_x"),
        TextOps.round6p(dot(col("v_x"), col("v_y")) / (col("n_x") * col("n_y"))).as("cos"))
      .filter(col("cos") >= threshold)
      .groupBy(col("id_y")).agg(min(col("id_x")).as("dup_of"))
    assign.join(dups, col(id) === col("id_y"), "left")
      .select(col(id), col("cell"), col("dup_of"),
        when(col("dup_of").isNull, 1).otherwise(0).as("kept"))
  }

  /** Best-centroid cell assignment `(id, cell)` under the shared scoring
    * contract (cosine against the broadcast centroid table, score-desc
    * with cell tiebreak — the relation every quantizer consumer keys
    * on: IVF inverted lists, SemDeDup cells, the t80 diversity card).
    * One narrow scored map + a per-id window; the corpus never
    * shuffles on anything but its own id. */
  def cellAssignments(centroids: DataFrame, corpus: DataFrame, id: String,
      vec: String): DataFrame =
    cellAssignmentsScored(centroids, corpus, id, vec).drop("score")

  /** [[cellAssignments]] keeping the winning projection score — the
    * fit statistic the t88 codebook-drift monitor aggregates (a vector
    * that projects weakly onto its nearest centroid is evidence the
    * trained quantizer no longer covers the distribution). */
  def cellAssignmentsScored(centroids: DataFrame, corpus: DataFrame, id: String,
      vec: String): DataFrame = {
    val scored = corpus.select(col(id), col(vec)).crossJoin(broadcast(centroids))
      .select(col(id), col("cell"),
        (dot(col(vec), col("centroid")) / norm(col("centroid"))).as("score"))
    val wa = Window.partitionBy(col(id)).orderBy(col("score").desc, col("cell"))
    scored.withColumn("cr", row_number().over(wa))
      .filter(col("cr") === 1).select(col(id), col("cell"), col("score"))
  }

  /** Micro-unit squared L2 distance `floor(‖a−b‖²·10⁶)` as BIGINT:
    * per-element FLOAT→DOUBLE promotion, exact double subtract/square,
    * left-fold sum — then one floor to integer micro-units, so every
    * downstream comparison and SUM is integer arithmetic
    * (order-independent and engine-portable; the PQ oracles mirror this
    * fold verbatim). Runs through the native codegen kernel
    * ([[graft.expr.VectorExprs.l2sqMicroF]]) — bit-identical to the
    * `zip_with`/`aggregate`/`floor` composition it replaces, but inside
    * whole-stage codegen (the PQ encode/LUT stages evaluate it once per
    * (row, subspace, codebook entry); interpreted HOF lambdas were the
    * hot path). */
  def l2sqMicro(a: Column, b: Column): Column = VectorExprs.l2sqMicroF(a, b)

  /** PQ encoding: for every (row, subspace), the codebook entry with
    * the smallest micro-unit squared L2 distance (ties → smallest
    * code). The argmin is a `min(struct(d2, code))` partial aggregate —
    * map-side combinable, so the shuffle carries one row per (id, sub),
    * never the ×codebook candidate fan-out; the codebook itself is
    * broadcast. Returns (id, sub, code) — m small ints per vector, the
    * ~32× compression PQ exists for. */
  def pqEncode(vecs: DataFrame, id: String, vec: String, books: DataFrame,
      m: Int, subDim: Int): DataFrame = {
    val sub = vecs
      .select(col(id), col(vec).as("v"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .select(col(id), col("sub"),
        slice(col("v"), col("sub") * lit(subDim) + lit(1), lit(subDim)).as("sv"))
    sub.join(broadcast(books), "sub")
      .select(col(id), col("sub"), col("code"),
        l2sqMicro(col("sv"), col("centroid")).as("d2"))
      .groupBy(col(id), col("sub"))
      .agg(min(struct(col("d2"), col("code"))).as("best"))
      .select(col(id), col("sub"), col("best.code").as("code"))
  }

  /** Trained PQ codebooks: per-subspace Lloyd's k-means with the same
    * deterministic contract as [[kmeansCentroids]] — seeds are the `k`
    * vectors of smallest id-hash (a distributed top-k), assignment is
    * the micro-unit L2 argmin (integer comparisons, ties → smallest
    * code), means re-accumulate micro-unit integers — so every
    * iteration and the final codebook are bit-reproducible across
    * engines (the t37 oracle unrolls the iterations). All `m` subspaces
    * train in ONE pass per iteration: `sub` is just another grouping
    * column, so the per-iteration cost is one broadcast join + one
    * partial-agg shuffle regardless of m. Returns (sub, code, centroid). */
  def pqTrainedCodebooks(corpus: DataFrame, id: String, vec: String,
      m: Int, subDim: Int, k: Int, iters: Int): DataFrame = {
    val seeds = corpus
      .select(col(id), graft.ops.TextOps.hx(col(id).cast("string")).as("hk"))
      .orderBy(col("hk"), col(id)).limit(k)
      .withColumn("code", row_number().over(Window.orderBy(col("hk"), col(id))))
      .select(col(id), col("code"))
    val sv = corpus
      .select(col(id), col(vec).as("v"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .select(col(id), col("sub"),
        slice(col("v"), col("sub") * lit(subDim) + lit(1), lit(subDim)).as("svec"))
      .cache() // reused every iteration (training set; landed in production)
    var books = sv.join(broadcast(seeds), id)
      .select(col("sub"), col("code"), col("svec").as("centroid"))
    for (_ <- 1 to iters) {
      // r15 (guide §2.4): svec rides THROUGH the argmin — it is constant
      // within the (id, sub) group, and (d2, code) is already a total
      // order within the group (codes distinct), so appending it to the
      // min-struct never changes which row wins. The re-join of the
      // assignment back onto the cached subvector table (a full shuffle
      // join of n×m rows per iteration) disappears; the mean groups by
      // (sub, code) as integers instead of a concat'd string cell.
      val assigned = sv.join(broadcast(books), "sub")
        .select(col(id), col("sub"), col("code"),
          l2sqMicro(col("svec"), col("centroid")).as("d2"), col("svec"))
        .groupBy(col(id), col("sub"))
        .agg(min(struct(col("d2"), col("code"), col("svec").as("v"))).as("best"))
      val cells = assigned.select(col("sub"), col("best.code").as("code"),
        col("best.v").as("v"))
      books = centroidMeansBy(cells, Seq("sub", "code"), "v")
    }
    books
  }

  /** PQ asymmetric-distance (ADC) ANN with exact rescoring: encode the
    * corpus against `books` once, build the per-query distance look-up
    * table (query-subvector → every codebook entry: `queries × m ×
    * codebook` rows — tiny, broadcast), approximate each query–vector
    * distance as the integer SUM of the m looked-up micro-unit cell
    * distances, keep the best `shortlist` per query, then exact
    * full-vector micro-L2 on the shortlist only. The ADC scan touches
    * only the (id, sub, code) code table — m small ints per vector, the
    * ~32× compressed representation, which is the whole point of PQ at
    * 100 TB: the raw vectors are read back for `shortlist` rows per
    * query, never for the corpus scan. Everything downstream of the
    * (deterministic) codebooks is integer arithmetic.
    * Returns (query_id, rank, neighbor_id, l2_micro). */
  def pqAdcTopK(corpus: DataFrame, queries0: DataFrame, id: String,
      vec: String, books: DataFrame, k: Int, shortlist: Int,
      m: Int = 8, subDim: Int = 8, queryCap: Long = AnnQueryCap): DataFrame = {
    // the per-query LUT (m × 256 rows per query) and the rescore frame
    // broadcast: same bounded-audit-sample contract, same in-plan cap
    // (guard rides the LUT reference only — it always materializes;
    // the rescore side reads the raw frame)
    val queries = cappedQueries(queries0, queryCap, "pqAdcTopK",
      "a landed code join keyed on (sub, code) with a shuffled rescore")
    val codes = pqEncode(corpus, id, vec, books, m, subDim)
    val qsub = queries
      .select(col(id).as("query_id"), col(vec).as("v"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .select(col("query_id"), col("sub"),
        slice(col("v"), col("sub") * lit(subDim) + lit(1), lit(subDim)).as("qv"))
    val lut = qsub.join(broadcast(books), "sub")
      .select(col("query_id"), col("sub"), col("code"),
        l2sqMicro(col("qv"), col("centroid")).as("d2"))
    val approx = codes.join(broadcast(lut), Seq("sub", "code"))
      .filter(col("query_id") =!= col(id))
      .groupBy(col("query_id"), col(id))
      .agg(sum(col("d2")).as("adc_micro"))
    val ws = Window.partitionBy(col("query_id")).orderBy(col("adc_micro"), col(id))
    val short = approx.withColumn("sr", row_number().over(ws))
      .filter(col("sr") <= shortlist)
      .select(col("query_id"), col(id).as("neighbor_id"))
    val qv = queries0.select(col(id).as("query_id"), col(vec).as("q_vec"))
    val cv = corpus.select(col(id).as("neighbor_id"), col(vec).as("c_vec"))
    val rescored = short.join(broadcast(qv), "query_id").join(cv, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        l2sqMicro(col("q_vec"), col("c_vec")).as("l2_micro"))
    val wr = Window.partitionBy(col("query_id")).orderBy(col("l2_micro"), col("neighbor_id"))
    rescored.withColumn("rank", row_number().over(wr)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("l2_micro"))
  }

  /** ANN top-`k` via multi-table LSH (the standard recall amplifier:
    * candidates = union over L independent tables of same-bucket rows).
    * Queries join the corpus on the bucket key only; exact cosine
    * rescoring runs inside the candidate set. Sub-linear candidate
    * volume — the shape that survives a 1000-executor 100 TB corpus
    * (tables/planes tune the recall-vs-candidates trade-off). */
  def lshAnnTopK(corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, k: Int,
      tables: Int = 32, planes: Int = 4,
      queryCap: Long = AnnQueryCap): DataFrame =
    lshAnnTopKFrom(bucketTable(corpus, id, vec, tables, planes),
      corpus, queries, id, vec, k, tables, planes, queryCap)

  /** [[lshAnnTopK]] against a precomputed corpus-side bucket table (see
    * [[lshNearDupPairsFrom]] — the landed ANN index). The query side is
    * a bounded audit sample by contract and stays inline — now enforced
    * in-plan by [[cappedQueries]] rather than left to discipline. */
  def lshAnnTopKFrom(corpusBuckets: DataFrame, corpus: DataFrame,
      queries: DataFrame, id: String, vec: String, k: Int,
      tables: Int = 32, planes: Int = 4,
      queryCap: Long = AnnQueryCap): DataFrame = {
    requireFamily(corpusBuckets, tables, planes)
    val queriesG = cappedQueries(queries, queryCap, "lshAnnTopKFrom",
      "a landed query-side bucket table joined on the band key")
    // candidate ids FIRST, cosine once per unique pair AFTER: a pair
    // colliding in j of the 32 tables must not pay j rescores, and the
    // dedup shuffle carries two longs per row, never the 64-float
    // vectors (same rows and cosines as scoring-then-distinct)
    val c = corpusBuckets.select(col(id).as("neighbor_id"), col("bucket"))
    // the guard rides ONE reference (this broadcast always materializes,
    // so an over-cap frame fails regardless); the rescore side below
    // reads the raw frame — a second guarded reference would pay the
    // count scan twice (review finding r14)
    val q = broadcast(queriesG.select(col(id).as("query_id"),
      explode(lshBuckets(col(vec), tables, planes)).as("bucket")))
    val cand = q.join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id")).distinct()
    val qv = broadcast(queries.select(col(id).as("query_id"), col(vec).as("q_vec"),
      norm(col(vec)).as("q_norm")))
    val cv = corpus.select(col(id).as("neighbor_id"), col(vec).as("c_vec"),
      norm(col(vec)).as("c_norm"))
    val scored = cand.join(qv, "query_id").join(cv, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        TextOps.round6p(dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm"))).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }
}
