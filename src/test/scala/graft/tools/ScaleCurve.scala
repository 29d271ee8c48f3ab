package graft.tools

import graft.SparkSpec.Sf0_1
import org.apache.spark.sql.functions._

/** Cores-scaling evidence harness (test scope): times the heavy operator
  * kernels on a REPLICATED corpus where data volume, not per-query fixed
  * cost, dominates — the sf0.1 suite queries are megabyte-scale and
  * measure scheduling/micro-batch floors, so their cores curve is flat
  * by construction (see SCALE.md "Cores-scaling curve").
  *
  * The corpus is `documents` replicated `reps` times with doc_ids
  * offset per replica and every token suffixed with the replica index:
  * replicas are textually DISJOINT, so candidate pairs scale linearly
  * with reps (verbatim replication would instead manufacture a
  * quadratic all-replicas-match blowup no real corpus has).
  *
  * Usage:
  *   SPARK_GRAFT_CPUS=8 sbt "Test/runMain graft.tools.ScaleCurve <sf dir> 10 2"
  */
object ScaleCurve {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else Sf0_1
    val reps = if (args.length > 1) args(1).toInt else 10
    val iters = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Session.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(100000).selectExpr("id % 7 AS k", "id AS v")
      .groupBy("k").sum("v").count()

    val base = graft.Tables(spark, sfDir, "documents")
    val nBase = base.count()
    // replicate with disjoint ids and per-replica token suffixing; land
    // it once so every timed operator reads the same parquet scan (the
    // production landing posture — replication cost is not operator cost)
    val root = graft.TempTrees.scratch("graft-scale-curve")
    val repl = base.crossJoin(
        spark.range(reps.toLong).select(col("id").as("rep")))
      .select(
        (col("doc_id") + col("rep") * lit(nBase)).as("doc_id"),
        // suffix every token with the replica index: " " -> "_r "
        concat(regexp_replace(col("text"), lit(" "),
          concat(lit("_"), col("rep").cast("string"), lit(" "))),
          lit("_"), col("rep").cast("string")).as("text"))
    val docsPath = root.resolve("docs.parquet").toString
    // land in 64 files: the replicated frame is one in-memory partition
    // (small base read × broadcast range), and a single-file landing is
    // a single parquet row group — every narrow pre-shuffle stage
    // (shingling, hashing: the dominant cost) would read it with ONE
    // task no matter how many cores the session has. 64 splits is the
    // cluster posture: scan parallelism must come from the layout.
    repl.repartition(64, col("doc_id")).write.parquet(docsPath)
    def docs = spark.read.parquet(docsPath)
    println(s"SCALECURVE corpus rows=${docs.count()} reps=$reps cpus=$cpus")

    import graft.ops.{DedupOps, GraphOps}
    def time(name: String)(fn: => Long): Unit = {
      val times = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        val n = fn
        ((System.nanoTime() - t0) / 1e9, n)
      }
      println(f"SCALECURVE $name%-22s cpus=$cpus%-3s min=${times.map(_._1).min}%.3f rows=${times.head._2} runs=${times.map(t => f"${t._1}%.2f").mkString(",")}")
    }

    time("t62_shared_runs") {
      DedupOps.sharedRunPairs(docs, "doc_id", col("text")).count()
    }
    time("t32_containment") {
      DedupOps.containmentPairs(
        DedupOps.shingleTable(docs, "doc_id", col("text")), "doc_id", 0.6).count()
    }
    time("t6_minhash_lsh") {
      val sh = DedupOps.shingleTable(docs, "doc_id", col("text"))
      val sigs = DedupOps.minhashSignatures(sh, "doc_id", 16)
      val bands = DedupOps.lshBands(sigs, "doc_id", 4, 4)
      bands.select(col("doc_id").as("id_x"), col("band"), col("band_key"))
        .join(bands.select(col("doc_id").as("id_y"), col("band"), col("band_key")),
          Seq("band", "band_key"))
        .filter(col("id_x") < col("id_y"))
        .select(col("id_x"), col("id_y")).distinct().count()
    }
    time("g1_closure_doubling") {
      val edges = docs.filter(col("doc_id") >= 1)
        .select(col("doc_id").as("child"), expr("(doc_id - 1) div 2").as("parent"))
      GraphOps.transitiveClosureDoubling(edges)
        .groupBy(col("node")).agg(count(lit(1)).as("n")).count()
    }
    time("t1_text_stats") {
      docs.select(col("doc_id"), graft.ops.TextOps.tokens(col("text")).as("w"))
        .select(sum(size(col("w"))).as("n"))
        .count()
    }
    spark.stop()
  }
}
