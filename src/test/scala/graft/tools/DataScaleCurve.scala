package graft.tools

import graft.SparkSpec.{Sf0_01, Sf0_1}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DATA-scaling evidence harness (VERDICT r11 #5): times the top-10
  * heaviest registered BATCH queries at sf0.01, sf0.1 and a synthetic
  * ~sf0.5 (sf0.1 with its three scale-bearing tables replicated 5x),
  * and writes `SCALE_CURVE.json` with per-query scaling exponents
  * (alpha in t ~ scale^alpha, least-squares over the log-log points).
  *
  * Complements [[ScaleCurve]] (the CORES curve on a replicated corpus):
  * this one holds cores fixed and scales the DATA, which is the axis a
  * 100 TB deployment actually moves along. At these scale factors every
  * query carries a fixed scheduling/planning floor, so alpha << 1 is
  * expected and healthy; what the curve exists to catch is alpha > 1 —
  * work growing faster than the data, the signature of a pair blowup or
  * an unpruned rescan. Streaming queries get their OWN section (r13
  * verdict #4) instead of a raw alpha: their sweep cost is dominated by
  * per-micro-batch restart floors, so the harness MEASURES the floor —
  * `floor_sec` is the query's time with every feed resolved to an
  * empty directory (`StreamOps.emptyFeeds`: all micro-batch machinery,
  * zero arriving rows) — and reports `work_sec = min_sec - floor_sec`,
  * the data term, at sf0.01 and sf0.1.
  *
  * The synthetic point replicates with DISJOINT key/token spaces so no
  * cross-replica matches are manufactured (verbatim replication would
  * hand every dedup query a quadratic all-replicas-collide blowup no
  * real corpus has — the [[ScaleCurve]] lesson):
  *   - documents: doc_id offset per replica, every token suffixed
  *     `_<rep>`, n_chars recomputed from the rewritten text;
  *   - lineitem: l_orderkey/l_partkey/l_suppkey offset per replica
  *     (stride = max+1), so the co-order graph and basket relations
  *     become 5 disjoint copies;
  *   - embeddings: vec_id offset, each component nudged by a
  *     deterministic per-(replica, dim) epsilon so replicas are not
  *     bit-identical vectors (an exact-duplicate vector set would feed
  *     SemDeDup/ANN queries a degenerate all-in-one-cell corpus);
  *   - every other table is symlinked from sf0.1 unchanged.
  *
  * Per (dir, query): the shared warm line runs first (reland + landed
  * index builds — their wall time is recorded per scale, because index
  * BUILD scaling is part of the scale story), then each query runs
  * `iters` times; the min is the steady-state serving number the
  * exponents use, the first run is kept as `cold` (includes any
  * query-private landing).
  *
  * Usage:
  *   sbt "Test/runMain graft.tools.DataScaleCurve SCALE_CURVE.json"
  */
object DataScaleCurve {

  private val TopQueries = Seq(
    "g1_closure", "t84_decontam_matrix", "t87_cluster_retraction",
    "g2_pagerank", "t32_containment", "q32_neighbor_similarity",
    "t15_curation_pipeline", "q30_basket_lift", "g5_bfs_layers",
    "g3_triangles",
    // r13: the composed import lifecycle — heaviest batch newcomer
    // (quiet 5.5 s at sf0.1); its whole chain is per-page narrow work +
    // the H5 window + claims union, so alpha should sit near 1
    "c15_import_e2e",
    // r13: the DOULION estimate — g3's scale path; the point of carrying
    // both is the measured exact-vs-approx gap at the synth point where
    // the exact wedge work goes superlinear
    "g11_triangle_estimate")

  def main(args: Array[String]): Unit = {
    val outPath = if (args.nonEmpty) args(0) else "SCALE_CURVE.json"
    val reps = if (args.length > 1) args(1).toInt else 5
    val iters = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Session.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(100000).selectExpr("id % 7 AS k", "id AS v")
      .groupBy("k").sum("v").count()

    val skipBatch = sys.env.get("SPARK_GRAFT_SCURVE_SKIP_BATCH").contains("1")
    val points = Seq(
      ("sf0.01", Sf0_01, 0.01),
      ("sf0.1", Sf0_1, 0.1)) ++
      (if (skipBatch) Seq.empty
       else Seq((s"synth${"%.1f".format(0.1 * reps)}",
         buildSynth(spark, Sf0_1, reps), 0.1 * reps)))

    // (point -> (warmSec, perTable)), then (query -> point -> (cold, min))
    val warms = scala.collection.mutable.LinkedHashMap[String, (Double, Seq[(String, Double)])]()
    val times = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.LinkedHashMap[String, (Double, Double)]]()

    points.foreach { case (label, dir, _) =>
      val w0 = System.nanoTime()
      val perTable = graft.queries.Citations.warmSharedTimed(spark, dir)
      warms(label) = ((System.nanoTime() - w0) / 1e9, perTable)
      println(f"SCALECURVE warm $label ${warms(label)._1}%.2f s")
      (if (skipBatch) Seq.empty else TopQueries).foreach { name =>
        val fn = graft.SparkEntry.queries(name)
        val runs = (1 to iters).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, dir).count()
          (System.nanoTime() - t0) / 1e9
        }
        times.getOrElseUpdate(name,
          scala.collection.mutable.LinkedHashMap()) (label) = (runs.head, runs.min)
        println(f"SCALECURVE $label $name%-26s cold=${runs.head}%.3f min=${runs.min}%.3f")
      }
    }

    // ---- streaming floors (r13 verdict #4): the s-family is ~40% of
    // the quiet sweep sum but was excluded from the alpha curve because
    // micro-batch restart floors dominate its times. Measure the floor
    // instead of asserting it: per s-query at sf0.01 and sf0.1,
    //   min_sec   = steady-state time over the REAL feed (min of iters),
    //   floor_sec = min time with EVERY feed resolved to an empty dir
    //               (StreamOps.emptyFeeds) — source listing, trigger,
    //               checkpoint/commit-log fsyncs, memoized-state reads,
    //               ZERO arriving rows,
    //   work_sec  = min_sec - floor_sec, the data term the 100× ingest
    //               claims actually ride on.
    // Floors run AFTER the real runs so memoized state is built from
    // real feeds and the floor pass can never poison a memo. The synth
    // point is skipped: the floor is machinery, not data, and two real
    // SFs give the work term its 10× ratio.
    // dev-loop knobs (the SPARK_GRAFT_BENCH_ONLY convention; the
    // committed SCALE_CURVE.json always comes from an unfiltered run):
    // SPARK_GRAFT_SCURVE_ONLY narrows the stream set by name prefix,
    // SPARK_GRAFT_SCURVE_SKIP_BATCH=1 skips the batch alpha section.
    val sOnly = sys.env.get("SPARK_GRAFT_SCURVE_ONLY").map(_.split(",").toSet)
    val streamNames = graft.SparkEntry.queries.keys.filter(_.startsWith("s"))
      .filter(n => sOnly.forall(_.exists(n.startsWith))).toSeq.sorted
    val sPoints = points.filter(p => p._1 == "sf0.01" || p._1 == "sf0.1")
    val sTimes = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.LinkedHashMap[String, (Double, Double, Double)]]()
    sPoints.foreach { case (label, dir, _) =>
      def runOnce(name: String): Double = {
        val t0 = System.nanoTime()
        try { graft.SparkEntry.queries(name)(spark, dir).count(); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          println(s"SCALECURVE stream $label $name FAILED: ${e.toString.linesIterator.next()}")
          -1.0
        }
      }
      streamNames.foreach { name =>
        val raw = (1 to iters).map(_ => runOnce(name))
        val oks = raw.filter(_ >= 0)
        // cold is the FIRST run or nothing — a later warm run must not
        // masquerade as cold when run 1 failed (review finding r14)
        val cold = raw.head
        val mn = if (oks.nonEmpty) oks.min else -1.0
        val floor = if (oks.isEmpty) -1.0 else {
          graft.streaming.StreamOps.emptyFeeds = true
          val floors = try (1 to 2).map(_ => runOnce(name)).filter(_ >= 0)
            finally graft.streaming.StreamOps.emptyFeeds = false
          if (floors.nonEmpty) floors.min else -1.0
        }
        sTimes.getOrElseUpdate(name,
          scala.collection.mutable.LinkedHashMap())(label) = (cold, mn, floor)
        println(f"SCALECURVE stream $label $name%-28s cold=$cold%.3f min=$mn%.3f floor=$floor%.3f")
      }
    }

    // least-squares slope of ln(t_min) on ln(scale)
    def alpha(ts: Seq[(Double, Double)]): Double = {
      val xs = ts.map(t => math.log(t._1)); val ys = ts.map(t => math.log(t._2))
      val n = xs.size; val mx = xs.sum / n; val my = ys.sum / n
      val cov = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
      val vx = xs.map(x => (x - mx) * (x - mx)).sum
      cov / vx
    }
    val scaleOf = points.map(p => p._1 -> p._3).toMap
    def j(d: Double) = f"$d%.4f"
    val rows = (if (skipBatch) Seq.empty[String] else TopQueries).map { name =>
      val m = times(name)
      val pts = points.map { case (l, _, s) => (s, m(l)._2) }
      val a = alpha(pts)
      val entries = m.map { case (l, (c, mn)) =>
        s""""$l":{"scale":${scaleOf(l)},"cold_sec":${j(c)},"min_sec":${j(mn)}}"""
      }.mkString(",")
      s""""$name":{$entries,"alpha":${j(a)}}"""
    }
    val warmJson = warms.map { case (l, (sec, per)) =>
      val perJ = per.map { case (k, v) => s""""$k":${j(v)}""" }.mkString("{", ",", "}")
      s""""$l":{"scale":${scaleOf(l)},"warm_sec":${j(sec)},"per_table":$perJ}"""
    }.mkString(",")
    val sRows = sTimes.map { case (name, m) =>
      val entries = m.map { case (l, (c, mn, fl)) =>
        val work = if (mn >= 0 && fl >= 0) math.max(0.0, mn - fl) else -1.0
        s""""$l":{"scale":${scaleOf(l)},"cold_sec":${j(c)},"min_sec":${j(mn)},""" +
          s""""floor_sec":${j(fl)},"work_sec":${j(work)}}"""
      }.mkString(",")
      s""""$name":{$entries}"""
    }
    val note = "alpha = least-squares slope of ln(min_sec) vs ln(scale) over " +
      "the three points; fixed per-query floors at these sizes push alpha " +
      "toward 0, so the signal is alpha > 1 (super-linear work). Streaming " +
      "queries are in their own section with a MEASURED floor column: " +
      "floor_sec is the empty-feed restart time (all micro-batch machinery, " +
      "zero arriving rows — StreamOps.emptyFeeds), work_sec = min_sec - " +
      "floor_sec is the data term; the synth point is skipped for streams " +
      "(the floor is machinery, not data). " +
      "The synth point replicates documents/lineitem/embeddings with " +
      "disjoint keys and tokens; all other tables are sf0.1 verbatim."
    val json = s"""{"cpus":$cpus,"reps":$reps,"iters":$iters,""" +
      s""""note":"$note","warm":{$warmJson},"queries":{${rows.mkString(",")}},""" +
      s""""streaming":{${sRows.mkString(",")}}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    println(s"SCALECURVE wrote $outPath")
    spark.stop()
  }

  /** The synthetic ~5x dir: scale-bearing tables replicated with
    * disjoint key/token spaces, the rest symlinked. */
  private def buildSynth(spark: SparkSession, baseDir: String, reps: Int): String = {
    val root = graft.TempTrees.scratch("graft-data-scale")
    val repIdx = spark.range(reps.toLong).select(col("id").as("rep"))

    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    val nDocs = docs.count()
    docs.crossJoin(repIdx)
      .select(
        (col("doc_id") + col("rep") * lit(nDocs)).as("doc_id"),
        concat(regexp_replace(col("text"), lit(" "),
            concat(lit("_"), col("rep").cast("string"), lit(" "))),
          lit("_"), col("rep").cast("string")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(64, col("doc_id"))
      .write.parquet(root.resolve("documents.parquet").toString)

    val li = spark.read.parquet(s"$baseDir/lineitem.parquet")
    val (maxO, maxP, maxS) = {
      val r = li.agg(max("l_orderkey"), max("l_partkey"), max("l_suppkey")).head()
      (r.getLong(0) + 1, r.getLong(1) + 1, r.getLong(2) + 1)
    }
    li.crossJoin(repIdx)
      .withColumn("l_orderkey", col("l_orderkey") + col("rep") * lit(maxO))
      .withColumn("l_partkey", col("l_partkey") + col("rep") * lit(maxP))
      .withColumn("l_suppkey", col("l_suppkey") + col("rep") * lit(maxS))
      .drop("rep")
      .repartition(64)
      .write.parquet(root.resolve("lineitem.parquet").toString)

    val emb = spark.read.parquet(s"$baseDir/embeddings.parquet")
    val nVec = emb.count()
    emb.crossJoin(repIdx)
      .select(
        (col("vec_id") + col("rep") * lit(nVec)).as("vec_id"),
        // deterministic per-(rep, dim) nudge, zero for rep 0: replicas
        // stay near the original direction but are never bit-identical
        zip_with(col("embedding"),
          transform(sequence(lit(0), size(col("embedding")) - 1),
            i => (col("rep") % 7).cast("float") * lit(0.003f)
              * ((i * lit(2654435761L) % 17) - lit(8)).cast("float")),
          (e, d) => e + d).as("embedding"),
        col("label"))
      .repartition(16)
      .write.parquet(root.resolve("embeddings.parquet").toString)

    val base = java.nio.file.Paths.get(baseDir)
    val done = Set("documents.parquet", "lineitem.parquet", "embeddings.parquet")
    java.nio.file.Files.list(base).forEach { p =>
      val n = p.getFileName.toString
      if (n.endsWith(".parquet") && !done(n))
        java.nio.file.Files.createSymbolicLink(root.resolve(n), p.toAbsolutePath)
    }
    root.toString
  }
}
