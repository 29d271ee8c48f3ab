package graft.tools

import java.nio.file.{Files, Paths}

/** Serial per-landing seconds of the warm build: re-lands a private copy
  * of the source tables, then builds the warm chains on ONE worker, so
  * each landing's seconds are its own (the warm build overlaps them).
  * Each of the `runs` passes uses a fresh copy, so a pass after the
  * first measures a warm JVM rebuilding every landing. These are the
  * numbers behind the chain order in `Citations.warmChains` (SCALE.md).
  * Run: sbt 'Test/runMain graft.tools.WarmSerial <sfDir> [runs] [cpus]'. */
object WarmSerial {
  def main(args: Array[String]): Unit = {
    val src = Paths.get(args(0))
    val runs = if (args.length > 1) args(1).toInt else 2
    val spark = graft.Session.local(if (args.length > 2) args(2).toInt else 4)
    spark.sparkContext.setLogLevel("ERROR")
    for (run <- 1 to runs) {
      val copy = graft.TempTrees.scratch("graft-warm-serial")
      val files = Files.walk(src)
      try files.forEach { f =>
        if (f != src) Files.copy(f, copy.resolve(src.relativize(f).toString)); ()
      } finally files.close()
      val dir = copy.toString
      val t0 = System.nanoTime()
      graft.Tables.reland(spark, dir, spark.conf.get("spark.sql.shuffle.partitions").toInt)
      val reland = "reland" -> (System.nanoTime() - t0) / 1e9
      val parts = reland +: graft.Landing.buildAll(spark.sparkContext,
        graft.queries.Citations.warmChains(spark, dir), workers = 1)
      parts.foreach { case (name, s) => println(f"run $run%d  $name%-20s $s%6.2f s") }
      println(f"run $run%d  ${"total"}%-20s ${parts.map(_._2).sum}%6.2f s")
    }
    spark.stop()
  }
}
