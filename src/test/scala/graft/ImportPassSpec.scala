package graft

import graft.SparkSpec.Sf0_001
import graft.queries.Citations
import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}

/** The two shapes the `import` pass relies on: the warm build records
  * every landing under a fixed key order (`reland`, then the landings in
  * chain order; `refs` builds beside the other chains), and c15 runs its
  * whole chain from raw wikitext without tripping the claims guard's
  * stderr-announced cache materialization. */
class ImportPassSpec extends SparkSpec {

  private val dir = Sf0_001

  test("warmSharedTimed records reland and the 18 landings in a fixed order") {
    // a private copy of the tables: the warm build re-lands the raw
    // tables per source dir, and other specs read `dir` unchanged
    val copy = TempTrees.scratch("graft-import-warm")
    Files.list(Paths.get(dir)).forEach { table =>
      val files = Files.walk(table)
      try files.forEach { f =>
        Files.copy(f, copy.resolve(Paths.get(dir).relativize(f).toString)); ()
      } finally files.close()
    }
    val parts = Citations.warmSharedTimed(spark, copy.toString)
    assert(parts.map(_._1) == Seq("reland", "refs", "claims", "node_route_cc",
      "doc_shingles", "minhash_sigs", "dedup_clusters", "pq_books",
      "co_order_edges", "node_route_coorder", "seed_grams", "shared_runs",
      "kmeans_books", "sp_pairs", "node_route_pagerank", "lm_bigrams",
      "lm_unigrams", "emb_buckets_neardup", "emb_buckets_ann"))
    assert(parts.forall(_._2 >= 0.0))
  }

  test("c15_import_e2e writes no claims-guard materialization line to stderr") {
    val captured = new ByteArrayOutputStream()
    val err = System.err
    System.setErr(new PrintStream(captured, true, "UTF-8"))
    val rows =
      try SparkEntry.queries("c15_import_e2e")(spark, dir).collect()
      finally System.setErr(err)
    assert(rows.length == 23)
    val log = captured.toString("UTF-8")
    assert(!log.contains("[claims] materializing un-landed refs input"), log)
  }
}
