package graft.tools

import java.nio.file.{Files, Paths}

/** Plan-evidence dump (test scope — NOT part of the driver contract):
  * write `.explain("formatted")` for a comma-separated subset of
  * `SparkEntry.queries` (or `all`) under the same session config as
  * `graft.Bench`, one file per query. The r15 optimization round
  * commits these as `plans/r15/<query>_{before,after}.txt` so plan
  * claims in OPTIMIZATION_r15.md are checkable without running Spark.
  *
  *   sbt "Test/runMain graft.tools.PlanDump <sf dir> plans/r15 before g1_closure,t86_ngram_dup_rate_hll"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2) // "before" / "after"
    val names: Seq[String] =
      if (args.length < 4 || args(3) == "all") graft.SparkEntry.queries.keys.toSeq.sorted
      else args(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Session.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    graft.queries.Citations.warmSharedTimed(spark, sfDir)
    Files.createDirectories(Paths.get(outDir))
    for (name <- names) {
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        // same string explain("formatted") prints, captured to a file
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        println(s"PLANDUMP wrote $outDir/${name}_$suffix.txt")
      } catch { case e: Throwable =>
        System.err.println(s"PLANDUMP $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
