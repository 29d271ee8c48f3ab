package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

/** Serial per-landing seconds and on-disk bytes of the warm build:
  * re-lands a private copy of the source tables, then builds the warm
  * chains on ONE worker, so each landing's seconds are its own (the warm
  * build overlaps them). A landing's bytes are the sum of its part
  * files; the re-land's are listed per table too. Each of the `runs`
  * passes uses a fresh copy, so a pass after the first measures a warm
  * JVM rebuilding every landing. These are the numbers behind the chain
  * order in `Citations.warmChains` and the landing encoding (SCALE.md).
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
      val relandS = (System.nanoTime() - t0) / 1e9
      val chains = graft.queries.Citations.warmChains(spark, dir)
      val parts = graft.Landing.buildAll(spark.sparkContext, chains, workers = 1)
      // a second call of a build is a memo hit: it reads the landing back
      val landings = chains.flatten.map(_._2().asInstanceOf[DataFrame])
      val tables = graft.Tables.relandable.map(t => s"reland/$t" -> graft.Tables(spark, dir, t))
      val rows = ("reland", Some(relandS), tables.map(t => bytes(t._2)).sum) +:
        (tables.map { case (name, df) => (name, None, bytes(df)) } ++
          parts.zip(landings).map { case ((name, s), df) => (name, Some(s), bytes(df)) })
      for ((name, s, b) <- rows :+ ("total", Some(relandS + parts.map(_._2).sum),
          bytes(tables.map(_._2) ++ landings: _*)))
        println(f"run $run%d  $name%-24s ${s.fold(" " * 8)(x => f"$x%6.2f s")}  $b%,12d B")
    }
    spark.stop()
  }

  /** On-disk bytes of the part files behind `dfs`. */
  private def bytes(dfs: DataFrame*): Long =
    dfs.flatMap(_.inputFiles).map(f =>
      Files.size(Paths.get(new org.apache.hadoop.fs.Path(f).toUri.getPath))).sum
}
