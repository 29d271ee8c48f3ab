package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession builder, shared by Bench, Verify and the
  * specs. */
object Session {
  /** A `local[cpus]` session with `cpus` shuffle partitions. Shuffle,
    * spill and broadcast files go to RAM-backed scratch (see
    * [[TempTrees.scratch]]), removed at JVM exit. */
  def local(cpus: Int): SparkSession = {
    val scratch = TempTrees.scratch("graft-spark-scratch")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", scratch.resolve("local").toString)
      // duplicate template keys fold like a Python dict: last value wins
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .getOrCreate()
  }
}
