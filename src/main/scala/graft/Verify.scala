package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name prefixes (dev loop
    // shortcut — the driver always passes exactly two args)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def selected(name: String) =
      only.forall(_.exists(p => name.startsWith(p)))
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    graft.queries.Citations.warmSharedTimed(spark, sfDir)
    val sweep = graft.ops.Checkpoints.sweeper(spark.sparkContext)
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name)) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        finally sweep()
      }
    }
    // JSON escaping via the shared helper: a tab or CR in builder-
    // authored SQL would otherwise make the driver's json.load fail and
    // silently zero the round's correctness.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${JsonText.quote(k)}: ${JsonText.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
