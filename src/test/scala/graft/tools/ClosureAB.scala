package graft.tools

import graft.SparkSpec.Sf0_1
import org.apache.spark.sql.functions._

/** A/B harness for the two spec-equal transitive-closure forms on the
  * g1 corpus shape (test scope — adjudication evidence for SCALE.md,
  * not part of the driver contract). Usage:
  *
  *   sbt "Test/runMain graft.tools.ClosureAB <sf dir> 3"
  */
object ClosureAB {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else Sf0_1
    val iters = if (args.length > 1) args(1).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Session.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(100000).selectExpr("id % 7 AS k", "id AS v")
      .groupBy("k").sum("v").count()
    def edges = graft.Tables(spark, sfDir, "documents")
      .filter(col("doc_id") >= 1)
      .select(col("doc_id").as("child"), expr("(doc_id - 1) div 2").as("parent"))
    def agg(closure: org.apache.spark.sql.DataFrame): Long =
      closure.groupBy(col("node"))
        .agg(count(lit(1)).as("n_ancestors"), min(col("ancestor")).as("top_ancestor"))
        .count()
    val variants: Seq[(String, () => Long)] = Seq(
      "doubling" -> (() => agg(graft.ops.GraphOps.transitiveClosureDoubling(edges))),
      // both stepping arms pin Some(true) (the historical default) so
      // the A/B isolates materialization cost — the measured default
      // would add a route-count lineage replay to the nomat arm only
      "stepping" -> (() => agg(graft.ops.GraphOps.transitiveClosure(edges,
        broadcastEdges = Some(true)))),
      "stepping_nomat" -> (() => agg(graft.ops.GraphOps.transitiveClosure(edges,
        materializeEdges = false, broadcastEdges = Some(true)))))
    for ((name, fn) <- variants) {
      val times = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        val n = fn()
        val dt = (System.nanoTime() - t0) / 1e9
        (dt, n)
      }
      println(f"CLOSURE_AB $name%-16s min=${times.map(_._1).min}%.3f rows=${times.head._2} runs=${times.map(t => f"${t._1}%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
