package graft.ops

import graft.SparkSpec.{Sf0_001, Sf0_01}
import graft.{ReferenceForms, SparkSpec}
import org.apache.spark.sql.functions._

/** Embedding-similarity operator tests: exact kernels on hand-computed
  * vectors, and LSH-ANN recall against the brute-force baseline on the
  * real sf0.001 embeddings table. */
class VectorOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.0f, 1.0f, 0.0f)),
    (2L, Array(2.0f, 0.0f, 0.0f)),  // colinear with 0
    (3L, Array(1.0f, 1.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("cosine: hand-computed values") {
    val c = vecs.as("a").join(vecs.as("b"), $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id", $"b.vec_id",
        VectorOps.cosine($"a.embedding", $"b.embedding").as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(c((0L, 2L)) == 1.0)                         // colinear
    assert(c((0L, 1L)) == 0.0)                         // orthogonal
    assert(math.abs(c((0L, 3L)) - 1.0 / math.sqrt(2)) < 1e-12)
  }

  test("topKNeighbors: correct ranking with id tie-break") {
    val res = VectorOps.topKNeighbors(vecs, vecs.filter($"vec_id" === 0),
        "vec_id", "embedding", 3)
      .orderBy($"rank")
      .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank")))
    assert(res.map(_._1).toSeq == Seq(2L, 3L, 1L)) // cos: 1.0, 0.707, 0.0
  }

  test("query-side scale guard: over-cap query frame fails fast in-plan, cap is an explicit escape hatch") {
    // the t5 exactFormCap discipline at ANN grain (r13 verdict #3):
    // topKNeighbors / lshAnnTopKFrom broadcast the QUERY frame, so an
    // over-cap query set must refuse AT EXECUTION naming the scale
    // path, instead of OOMing the driver at 100×
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val e = intercept[Exception](
      VectorOps.topKNeighbors(vecs, vecs, "vec_id", "embedding", 2,
        queryCap = 3).collect())
    assert(msgs(e).exists(m => m.contains("lshAnnTopK") && m.contains("audit-sample")),
      s"guard message must name the scale path: ${msgs(e)}")
    // raising the cap deliberately runs the same plan, same rows
    val forced = VectorOps.topKNeighbors(vecs, vecs, "vec_id", "embedding", 2,
        queryCap = 4)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val default = VectorOps.topKNeighbors(vecs, vecs, "vec_id", "embedding", 2)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(forced == default && default.nonEmpty)
    // and the LSH front end carries the same guard on ITS query side
    val buckets = VectorOps.bucketTable(vecs, "vec_id", "embedding", 4, 2)
    val e2 = intercept[Exception](
      VectorOps.lshAnnTopKFrom(buckets, vecs, vecs, "vec_id", "embedding", 2,
        tables = 4, planes = 2, queryCap = 3).collect())
    assert(msgs(e2).exists(_.contains("lshAnnTopKFrom")),
      s"LSH guard must fire on the query frame: ${msgs(e2)}")
    // the class is CLOSED: the IVF probe broadcast and the PQ LUT/rescore
    // broadcasts carry the identical contract
    val labeled = vecs.withColumn("label", ($"vec_id" % 2).cast("int"))
    val e3 = intercept[Exception](
      VectorOps.ivfAnnTopK(labeled, labeled, "vec_id", "embedding", "label", 2,
        queryCap = 3).collect())
    assert(msgs(e3).exists(_.contains("ivfAnnTopKWith")),
      s"IVF guard must fire on the query frame: ${msgs(e3)}")
    val books = VectorOps.pqTrainedCodebooks(vecs, "vec_id", "embedding",
      m = 1, subDim = 3, k = 2, iters = 1)
    val e4 = intercept[Exception](
      VectorOps.pqAdcTopK(vecs, vecs, "vec_id", "embedding", books, 2,
        shortlist = 3, m = 1, subDim = 3, queryCap = 3).collect())
    assert(msgs(e4).exists(_.contains("pqAdcTopK")),
      s"PQ guard must fire on the query frame: ${msgs(e4)}")
  }

  test("lshBuckets native kernel ≡ per-table literal-plane tree, real embeddings (r15)") {
    // plus one NaN-bearing vector: every projection of it is NaN, which
    // Spark's >= orders above 0, so each of its sign bits is set
    val nanVec = Array.tabulate(64)(i => if (i == 5) Float.NaN else 0.5f)
    val emb = spark.read.parquet(s"$Sf0_001/embeddings.parquet")
      .select("vec_id", "embedding")
      .union(Seq((-1L, nanVec)).toDF("vec_id", "embedding"))
    for ((tables, planes) <- Seq((4, 3), (16, 4), (32, 4))) {
      val declarative = (0 until tables).map(t =>
        ReferenceForms.lshBucket($"embedding", t, planes))
      val rows = emb.select($"vec_id",
          VectorOps.lshBuckets($"embedding", tables, planes).as("native"),
          array(declarative: _*).as("tree"))
        .collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"family ($tables,$planes) mismatch for vec ${r.getLong(0)}")
      }
    }
  }

  test("ivfAnnTopK: recall ≥ 0.5 vs brute force on real embeddings") {
    val emb = spark.read.parquet(s"$Sf0_001/embeddings.parquet")
    val queries = emb.filter($"vec_id" % 50 === 0)
    val exact = VectorOps.topKNeighbors(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = VectorOps.ivfAnnTopK(emb, queries, "vec_id", "embedding", "label", 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF ANN recall $recall below 0.5")
  }

  test("kmeans IVF: recall ≥ 0.5 vs brute force on real embeddings") {
    val emb = spark.read.parquet(s"$Sf0_001/embeddings.parquet")
    val queries = emb.filter($"vec_id" % 50 === 0)
    val exact = VectorOps.topKNeighbors(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cents = VectorOps.kmeansCentroids(emb, "vec_id", "embedding", 8, 2)
    val approx = VectorOps.ivfAnnTopKWith(cents, emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"kmeans IVF recall $recall below 0.5")
  }

  test("lshNearDupPairs: recall ≥ 0.9 vs exact all-pairs at the registered params") {
    val emb = spark.read.parquet(s"$Sf0_01/embeddings.parquet")
    val exact = ReferenceForms.scoredPairs(emb, "vec_id", "embedding")
      .filter(col("cos") >= 0.45)
      .select("id_x", "id_y")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = VectorOps.lshNearDupPairs(emb, "vec_id", "embedding", 0.45, 16, 4)
      .select("id_x", "id_y")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "exact near-dup baseline found no pairs — test vacuous")
    assert(lsh.subsetOf(exact), "LSH rescore admitted a pair below threshold")
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH near-dup recall $recall below 0.9 (${exact.size} exact pairs)")
  }

  test("lshTopSimilarPairs: top-20 recall ≥ 0.95 vs the exact quadratic form (t9's contract)") {
    // the registered t9 parameters; the exact scored self-join is the
    // correctness baseline, lshTopSimilarPairs the registered 100 TB shape
    val emb = spark.read.parquet(s"$Sf0_01/embeddings.parquet")
    val exact = ReferenceForms.scoredPairs(emb, "vec_id", "embedding")
      .orderBy(col("cos").desc, col("id_x"), col("id_y")).limit(20)
      .select("id_x", "id_y")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = VectorOps.lshTopSimilarPairs(emb, "vec_id", "embedding", 20, 16, 4)
      .select("id_x", "id_y")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size == 20 && lsh.size == 20)
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.95, s"LSH top-pairs recall $recall below 0.95")
  }

  test("l2sqMicro: hand-computed integer micro-distances") {
    val d = vecs.as("a").join(vecs.as("b"), $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id", $"b.vec_id",
        VectorOps.l2sqMicro($"a.embedding", $"b.embedding").as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(d((0L, 1L)) == 2000000L) // (1,0,0)-(0,1,0): 1+1 = 2.0
    assert(d((0L, 2L)) == 1000000L) // (1,0,0)-(2,0,0): 1.0
    assert(d((0L, 3L)) == 1000000L)
    assert(d((1L, 2L)) == 5000000L)
  }

  test("pqEncode: exactly m codes per vector, all from the codebook") {
    val emb = spark.read.parquet(s"$Sf0_001/embeddings.parquet")
    val books = VectorOps.pqTrainedCodebooks(emb, "vec_id", "embedding",
      m = 8, subDim = 8, k = 16, iters = 1)
    val codes = VectorOps.pqEncode(emb, "vec_id", "embedding", books, 8, 8)
    val perVec = codes.groupBy("vec_id").count().select("count")
      .distinct().as[Long].collect().toSeq
    assert(perVec == Seq(8L), s"every vector must get exactly m=8 codes, got $perVec")
    val range = codes.agg(min($"code"), max($"code")).head()
    assert(range.getInt(0) >= 1 && range.getInt(1) <= 16)
  }

  test("pqAdcTopK: trained books, recall@10 ≥ 0.75 vs exact L2 (t37's contract)") {
    import org.apache.spark.sql.expressions.Window
    val emb = spark.read.parquet(s"$Sf0_01/embeddings.parquet")
    val queries = emb.filter($"vec_id" % 50 === 0)
    val books = VectorOps.pqTrainedCodebooks(emb, "vec_id", "embedding",
      m = 8, subDim = 8, k = 16, iters = 2)
    val got = VectorOps.pqAdcTopK(emb, queries, "vec_id", "embedding", books,
        k = 10, shortlist = 100)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact baseline: brute-force scan under the SAME integer metric
    val q = queries.select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val c = emb.select($"vec_id".as("neighbor_id"), $"embedding".as("cv"))
    val exact = q.crossJoin(c).filter($"query_id" =!= $"neighbor_id")
      .select($"query_id", $"neighbor_id", VectorOps.l2sqMicro($"qv", $"cv").as("d"))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"query_id").orderBy($"d", $"neighbor_id")))
      .filter($"rank" <= 10).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.size == exact.size)
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.75, s"PQ ADC+rescore recall $recall below 0.75")
  }

  test("lshAnnTopK: recall ≥ 0.6 vs brute force on real embeddings") {
    val emb = spark.read.parquet(s"$Sf0_001/embeddings.parquet")
    val queries = emb.filter($"vec_id" % 50 === 0)
    val exact = VectorOps.topKNeighbors(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = VectorOps.lshAnnTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"LSH ANN recall $recall below 0.6")
  }

  test("semDedup: lowest-id-wins within cells; dissimilar cell-mates survive") {
    import spark.implicits._
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    // cell 0: three near-identical vectors; cell 1: two orthogonal ones
    val rows = Seq(
      (1L, v(1, 0, 0, 0), 0), (2L, v(0.99, 0.01, 0, 0), 0),
      (3L, v(0.98, 0.02, 0, 0), 0),
      (10L, v(0, 0, 1, 0), 1), (11L, v(0, 0, 0, 1), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = VectorOps.semDedup(rows, "vec_id", "embedding", "label", 0.95)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), Option(r.get(2)), r.getInt(3)))).toMap
    assert(out(1L)._3 == 1 && out(1L)._2.isEmpty)  // canonical survives
    assert(out(2L) == ((0, Some(1L), 0)))          // dropped to the MIN id,
    assert(out(3L) == ((0, Some(1L), 0)))          // not to the nearest
    assert(out(10L)._3 == 1 && out(11L)._3 == 1)   // orthogonal cell-mates kept
  }

  test("cellAssignmentsScored: keeps the winning projection; plain form is the same minus score") {
    import spark.implicits._
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val cents = Seq((0, v(1, 0, 0, 0)), (1, v(0, 1, 0, 0)))
      .toDF("cell", "centroid")
    val vecs = Seq((1L, v(0.9, 0.1, 0, 0)), (2L, v(0.1, 0.9, 0, 0)))
      .toDF("vec_id", "embedding")
    val scored = VectorOps.cellAssignmentsScored(cents, vecs, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    assert(scored(1L)._1 == 0 && scored(2L)._1 == 1)
    // unit centroids: the winning score IS the matching component
    assert(math.abs(scored(1L)._2 - 0.9) < 1e-6)
    assert(math.abs(scored(2L)._2 - 0.9) < 1e-6)
    val plain = VectorOps.cellAssignments(cents, vecs, "vec_id", "embedding")
    assert(plain.columns.toSeq == Seq("vec_id", "cell"))
    assert(plain.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap ==
      scored.view.mapValues(_._1).toMap)
  }
}
