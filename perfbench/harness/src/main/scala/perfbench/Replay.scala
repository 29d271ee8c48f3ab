package perfbench

import java.nio.file.Paths

import scala.collection.mutable.Buffer

import graft.Tables
import graft.expr.RefExprs
import graft.ops.{DedupOps, GraphOps, VectorOps}
import graft.parse.TemplateFunctions
import graft.queries.Citations
import graft.wcd.{Claims, Extract, HashIndex, ReadQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The traced run's layer-by-layer replay of the citation pipeline and
  * the dedup, vector and graph operators, through the program's public
  * functions, on a fresh copy of the tables. It runs after the timed
  * region, each step its own bounded call and span, so the trace says
  * what each layer costs on this data. */
final class Replay(o: Harness.Opts, spark: SparkSession, bounded: Bounded,
    meter: WriteMeter, tr: Tracer) {

  private val out = Paths.get(o.work, "replay")

  private def land(df: DataFrame, name: String): DataFrame = {
    val p = out.resolve(name).toString
    df.write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  def run(spans: Buffer[Span]): Seq[(String, Double, String)] = {
    val dir = Harness.freshCopy(o, "replay")
    val metrics = Buffer[(String, Double, String)]()
    def step[T](name: String, parent: String = "replay")(body: => T): (Double, T) = {
      val (call, r) = bounded(name, Harness.BuildDeadlineS)(body)
      tr.drain()
      spans += Span.ofCall(call, parent, tr.record(call.group))
      (call.seconds, r.getOrElse(throw new IllegalStateException(
        s"replay step $name failed: ${call.error.get}")))
    }
    val t0 = System.currentTimeMillis()

    // Tables: the multi-file re-landing of the raw tables
    val (relandS, relandMb) = step("tables.reland") {
      Tables.reland(spark, dir, o.cores)
    } match { case (s, _) => (s, meter.mb(spans.last.id)) }
    metrics += (("tables.reland_s", relandS, "s"))
    metrics += (("tables.reland_mb", relandMb, "MB"))

    // parse: template extraction over the synthesized pages, in full
    val pages = Citations.pages(spark, dir)
    val (extractS, templates) = step("parse.extract") {
      Fingerprint.of(pages.select(TemplateFunctions.extractTemplatesRows(col("wikitext"))
        .as(Seq("ref_pos", "tmpl_name", "tmpl_params")))).rows
    }
    // wcd: references, claims, the hash index merge and the read
    // queries. `Extract.references` contains the parse, so its self time
    // is its own step minus the parse step before it: approximate, since
    // the two are separate runs
    val (refsS, refs) = step("wcd.references")(land(Extract.references(pages), "refs"))
    val refsRows = refs.count()
    val (claimsS, claims) = step("wcd.claims")(land(
      Claims.allClaims(pages, refs, to_timestamp(lit("2026-08-12 00:00:00"))), "claims"))
    val (mergeS, minted) = step("wcd.hash_merge") {
      val (newEntries, resolved) = HashIndex.merge(HashIndex.empty(spark),
        refs.select(col("md5hash").as("hash")), "reference")
      Fingerprint.of(resolved)
      Fingerprint.of(newEntries).rows
    }
    val (readS, _) = step("wcd.read") {
      Fingerprint.of(ReadQueries.propertyStatistics(claims))
      Fingerprint.of(ReadQueries.classCounts(claims))
    }
    metrics ++= Seq(
      ("parse.extract_s", extractS, "s"),
      ("parse.templates", templates.toDouble, "count"),
      ("wcd.references_s", refsS - extractS, "s"),
      ("wcd.refs_rows", refsRows.toDouble, "count"),
      ("wcd.refs_per_template", refsRows.toDouble / math.max(1L, templates), "ratio"),
      ("wcd.claims_s", claimsS, "s"),
      ("wcd.claims_rows", claims.count().toDouble, "count"),
      ("wcd.hash_merge_s", mergeS, "s"),
      ("wcd.minted", minted.toDouble, "count"),
      ("wcd.read_s", readS, "s"))

    // expr: the public-suffix first-level-domain kernel over refs URLs
    val (fldS, _) = step("expr.fld")(
      Fingerprint.of(refs.select(RefExprs.firstLevelDomain(col("url")).as("fld"))))
    metrics += (("expr.fld_s", fldS, "s"))

    // ops: MinHash LSH candidates and verified pairs, connected
    // components over the pairs, IVF ANN and PageRank
    val docs = Tables(spark, dir, "documents")
    val shingles = land(DedupOps.shingleTable(docs, "doc_id", col("text")), "shingles")
    val (lshS, (candidates, pairs)) = step("ops.minhash_lsh") {
      val sigs = DedupOps.minhashSignatures(shingles, "doc_id", 16)
      val cand = Fingerprint.of(DedupOps.lshCandidatesFromSigs(sigs, "doc_id", 16, 4)).rows
      val p = land(DedupOps.minhashLshPairsFrom(shingles, sigs, "doc_id", 0.8, 4), "pairs")
      (cand, p)
    }
    val pairRows = pairs.count()
    val (ccS, _) = step("ops.cc")(Fingerprint.of(
      DedupOps.connectedComponents(docs.select(col("doc_id")), "doc_id", pairs)))
    val ccRounds = tr.counters(spans.last.id).isEmptyJobs.get
    val emb = Tables(spark, dir, "embeddings")
    val (annS, _) = step("ops.ann")(Fingerprint.of(VectorOps.ivfAnnTopK(
      emb, emb.filter(col("vec_id") % 50 === 0), "vec_id", "embedding", "label", 5)))
    val (prS, _) = step("ops.pagerank") {
      val base = Tables(spark, dir, "lineitem")
        .select(col("l_suppkey").as("src"), (-col("l_partkey")).as("dst")).distinct()
      val edges = base.unionByName(base.select(col("dst").as("src"), col("src").as("dst")))
      Fingerprint.of(GraphOps.pageRankFixedPoint(edges, iters = 2, symmetricEdges = true))
    }
    metrics ++= Seq(
      ("ops.minhash_lsh_s", lshS, "s"),
      ("ops.lsh_candidates", candidates.toDouble, "count"),
      ("ops.lsh_pairs", pairRows.toDouble, "count"),
      ("ops.lsh_precision", pairRows.toDouble / math.max(1L, candidates), "ratio"),
      ("ops.cc_s", ccS, "s"),
      ("ops.cc_rounds", ccRounds.toDouble, "count"),
      ("ops.ann_s", annS, "s"),
      ("ops.pagerank_s", prS, "s"))
    spans += Span("replay", "replay", "", -1, t0, System.currentTimeMillis(), ok = true, Nil)
    metrics.toSeq
  }
}
