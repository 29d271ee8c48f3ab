package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.TextOps.{hx, hxScala, tokens}

/** The readable forms that the native kernels replaced, kept as the
  * references their specs assert the kernels bit-equal against. No
  * query runs them; each names the main-scope function it pins. */
object ReferenceForms {

  /** [[graft.ops.TextOps.shingles]] as the transform/sequence/concat_ws
    * composition. Sub-n documents yield an empty array (NOT a
    * descending `sequence`). */
  def shinglesDeclarative(toks: Column, n: Int = 3): Column = {
    val idx = sequence(lit(1), size(toks) - lit(n - 1))
    val gram = (i: Column) =>
      concat_ws(" ", (0 until n).map(o => element_at(toks, i + lit(o))): _*)
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(idx, gram))
  }

  /** Deterministic pseudo-random hyperplane component p_j[i] ∈ [-1, 1]
    * from the shared hash family, computed at plan time. */
  private def planeComponent(j: Int, i: Int): Float =
    (((hxScala(s"$j:$i") % 2001L) - 1000L).toDouble / 1000.0).toFloat

  /** One table of [[graft.ops.VectorOps.lshBuckets]] as a literal-plane
    * expression tree: `planes` sign bits of the dot product with
    * hyperplanes of family `table`, domain-separated by table. */
  def lshBucket(vec: Column, table: Int, planes: Int, dims: Int = 64): Column = {
    val sigs = (0 until planes).map { j =>
      val plane = Array.tabulate(dims)(i => planeComponent(table * planes + j, i))
      when(graft.ops.VectorOps.dot(vec, typedLit(plane)) >= 0, lit(1L << j))
        .otherwise(lit(0L))
    }
    sigs.reduce(_ + _).+(lit(table.toLong << planes))
  }

  /** [[graft.ops.DedupOps.simhash]] as explode → one partial-aggregated
    * groupBy (`bits` SUMs) → bit reassembly: integer ±1 vote sums
    * commute, so kernel ≡ aggregation on every input. */
  def simhashAgg(docs: DataFrame, id: String, text: Column,
      bits: Int = 48): DataFrame = {
    val tok = docs.select(col(id), explode(tokens(text)).as("tok"))
      .withColumn("h", hx(col("tok")))
    val sums = (0 until bits).map(i =>
      sum(shiftright(col("h"), i).bitwiseAND(lit(1L)) * lit(2L) - lit(1L)).as(s"b_$i"))
    val agg = tok.groupBy(col(id)).agg(sums.head, sums.tail: _*)
    val sig = (0 until bits).map(i =>
      when(col(s"b_$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    agg.select(col(id), sig.as("simhash"))
  }

  /** [[graft.ops.Multimodal.shotCountCol]] as a higher-order-function
    * chain: frame levels via `transform`, boundary flags via `zip_with`,
    * one `aggregate` fold. Character-indexed, so it equals the
    * byte-indexed kernel on ASCII payloads. */
  def shotCountColHof(text: Column, frameSize: Int = 16,
      levelJump: Int = 12): Column = {
    val n = length(text)
    // integer ceil-div via floor on doubles: all values are tiny
    // positive ints (frame counts, per-frame byte sums ≤ 16·255), far
    // below any double-precision boundary
    val nf = floor((n + lit(frameSize - 1)).cast("double") / lit(frameSize.toDouble))
      .cast("int")
    val levels = transform(sequence(lit(0), nf - 1), f => {
      val start = f * frameSize
      val flen = least(lit(frameSize), n - start)
      val byteSum = aggregate(sequence(lit(1), flen), lit(0L),
        (acc, i) => acc + ascii(text.substr(start + i, lit(1))))
      floor(byteSum.cast("double") / flen.cast("double")).cast("long")
    })
    val brks = zip_with(
      slice(levels, lit(1), nf - 1), slice(levels, lit(2), nf - 1),
      (a, b) => when(abs(b - a) >= lit(levelJump), 1L).otherwise(lit(0L)))
    when(nf > 0, aggregate(brks, lit(1L), (acc, x) => acc + x))
      .otherwise(lit(0L))
  }

  /** [[graft.wcd.Extract.fixParams]] (F4 key normalization) as a Scala
    * UDF. Collisions after normalization keep the LAST value and move
    * the key to the END. It takes `map_keys`/`map_values` arrays, which
    * keep the parser's order, instead of a converted `Map`, whose
    * conversion stops preserving insertion order past 4 entries. */
  private val fixKvUdf = udf { (ks: Seq[String], vs: Seq[String]) =>
    val out = scala.collection.mutable.LinkedHashMap[String, String]()
    var i = 0
    while (i < ks.length) {
      val fk = graft.wcd.ReferenceSchema.fixKey(ks(i))
      out.remove(fk)
      out.put(fk, vs(i))
      i += 1
    }
    scala.collection.immutable.ListMap(out.toSeq: _*)
  }

  def fixParamsUdf(m: Column): Column = fixKvUdf(map_keys(m), map_values(m))

  /** The exact quadratic scored self-join over embeddings: every pair
    * `id_x < id_y` with its cosine (norms hoisted per row, rounded like
    * the LSH forms). The all-pairs baseline that the recall specs hold
    * [[graft.ops.VectorOps.lshNearDupPairs]] (filter on `cos`) and
    * [[graft.ops.VectorOps.lshTopSimilarPairs]] (top-k on `cos`) to. */
  def scoredPairs(vecs: DataFrame, id: String, vec: String): DataFrame = {
    import graft.ops.VectorOps.{dot, norm}
    val a = vecs.select(col(id).as("id_x"), col(vec).as("v_x"), norm(col(vec)).as("norm_x"))
    val b = vecs.select(col(id).as("id_y"), col(vec).as("v_y"), norm(col(vec)).as("norm_y"))
    a.join(b, col("id_x") < col("id_y"))
      .select(col("id_x"), col("id_y"), graft.ops.TextOps.round6p(
        dot(col("v_x"), col("v_y")) / (col("norm_x") * col("norm_y"))).as("cos"))
  }

  /** [[graft.ops.GraphOps.transitiveClosureDoubling]] as a plain set
    * fixpoint over `(child, parent)` pairs, stepping one edge per
    * round: every (node, ancestor) pair reachable through the edges. */
  def transitiveClosure(edges: Seq[(Long, Long)]): Set[(Long, Long)] = {
    val parents = edges.groupBy(_._1).map { case (c, ps) => c -> ps.map(_._2) }
    var closure = edges.toSet
    var frontier = closure
    while (frontier.nonEmpty) {
      frontier = (for {
        (node, anc) <- frontier
        next <- parents.getOrElse(anc, Nil)
      } yield (node, next)) -- closure
      closure ++= frontier
    }
    closure
  }

  /** [[graft.ops.GraphOps.triangleCountsAdj]] as a plain wedge count
    * over an undirected edge set (either orientation): for every wedge
    * u < v < w whose three edges exist, each corner counts one
    * triangle. Nodes in no triangle are omitted. */
  def triangleCounts(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val es = edges.map { case (u, v) => (math.min(u, v), math.max(u, v)) }.toSet
    val nodes = es.flatMap { case (u, v) => Seq(u, v) }.toSeq.sorted
    val corners = for {
      u <- nodes; v <- nodes if v > u && es((u, v))
      w <- nodes if w > v && es((v, w)) && es((u, w))
      n <- Seq(u, v, w)
    } yield n
    corners.groupBy(identity).map { case (n, ts) => n -> ts.size.toLong }
  }
}
