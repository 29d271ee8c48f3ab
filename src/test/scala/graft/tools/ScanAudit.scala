package graft.tools

import graft.SparkSpec.Sf0_001


/** Diagnostic: count parquet scans per source table in every registered
  * query's executed plan, flagging queries that replay an expensive
  * derivation instead of materializing it (the t57 four-explode bug).
  * Run: sbt 'Test/runMain graft.tools.ScanAudit [minScans]'.
  *
  * Read the output with judgment — a high count is a SMELL, not a
  * verdict: (a) scans printed inside InMemoryRelation subtrees don't
  * re-execute (the cache serves them), so cached queries overcount;
  * (b) re-reading a PRUNED landed scan per iteration/stage is the
  * documented design for iterative ops (SCALE.md: cheaper than writing
  * the relation to block storage); (c) multi-branch set ops / funnel
  * stages legitimately scan per branch with a stage filter pushed down.
  * The actionable pattern is the same expensive explode/agg chain
  * repeated above several scans with NO cache in between — that was
  * t57's bug (4 corpus explodes), fixed by caching the finest-grain
  * counts. Round-8 audit adjudicated every ≥3 hit as (a)/(b)/(c). */
object ScanAudit {
  def main(args: Array[String]): Unit = {
    val min = if (args.nonEmpty) args(0).toInt else 3
    val spark = graft.Session.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = Sf0_001
    val tables = graft.Tables.all
    graft.queries.Citations.warmSharedTimed(spark, dir)
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, dir).queryExecution.executedPlan.toString
        val counts = tables.map { t =>
          t -> plan.linesIterator.count(l =>
            l.contains("Scan parquet") && l.contains(s"/$t.parquet"))
        }.filter(_._2 >= min)
        if (counts.nonEmpty)
          println(s"$name: ${counts.map { case (t, c) => s"$t x$c" }.mkString(", ")}")
      } catch { case e: Throwable =>
        println(s"$name: ERROR ${e.getMessage.linesIterator.next()}")
      }
    }
    spark.stop()
  }
}
