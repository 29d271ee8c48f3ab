package graft
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Benchmark main: times every registered query at SPARK_GRAFT_SF_DIR and
  * prints one JSON contract line (the slowest queries, length-budgeted
  * for log-tail capture); the full-precision record of every query lands
  * in ./BENCH_LOCAL.json.
  *
  * The JVM is warmed first (codegen, shuffle and parquet machinery), and
  * the shared landings are built outside the per-query timings and
  * reported as `warm_sec`. Every query then runs SPARK_GRAFT_BENCH_ITERS
  * times (default 2). Per query the record keeps the wall-time min
  * (`queries`, summed into `value`), the wall-time median
  * (`queries_median`) and the min of the process CPU seconds the runs
  * took (`queries_cpu`, summed with the warm build's into `cpu_sec`).
  * Beside them, `warm_jit_sec` and `queries_jit` (the latter from each
  * query's wall-time min run) record the JIT compiler's seconds: the
  * compiler threads' CPU is part of the process CPU, and on a short
  * pass a large share of it.
  *
  * Why CPU: a busy box takes wall time from a query (its tasks wait for
  * a core) but not CPU time, which counts only the work the JVM itself
  * did. Beside 4 busy-loop processes on a 4-vCPU VM, a 15-query sf0.1
  * sweep took 1.7-1.8x the wall time of a quiet run but 1.01-1.04x its
  * CPU time. So a query whose wall min rises while its CPU min stays
  * flat was slowed by contention; one whose CPU min rises too does more
  * work, i.e. a plan regression. A fixed shuffle probe, timed at
  * the start and the end of the sweep, shows whether the box drifted.
  *
  * A failing query is recorded in `failed` (timing omitted) and makes
  * the exit code non-zero, so a regression can't pass as a speedup. */
object Bench {
  /** One successful run's seconds: wall, process CPU and JIT compiler. */
  private final case class Run(wall: Double, cpu: Double, jit: Double)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "2").toInt
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def cpuSec(): Double = os.getProcessCpuTime / 1e9
    // summed over the compiler threads, so it can exceed wall time
    val jit = ManagementFactory.getCompilationMXBean
    def jitSec(): Double = jit.getTotalCompilationTime / 1e3
    // warm the JVM outside the timed region: shuffle machinery, parquet
    // reader and whole-stage codegen compilation are session costs, not
    // query costs
    spark.range(100000).selectExpr("id % 7 AS k", "id AS v")
      .groupBy("k").sum("v").count()
    spark.read.parquet(s"$sfDir/nation.parquet").count()
    // shared landings, split per table so a landing regression is
    // attributable; the build runs several landings at once, so the
    // warm_tables entries overlap and can sum to more than warm_sec
    val warmT0 = System.nanoTime()
    val warmC0 = cpuSec()
    val warmJ0 = jitSec()
    val warmParts = graft.queries.Citations.warmSharedTimed(spark, sfDir)
    val warmSec = (System.nanoTime() - warmT0) / 1e9
    val warmCpu = cpuSec() - warmC0
    val warmJit = jitSec() - warmJ0

    // each query's checkpoint blocks go after its run, outside the
    // timed window
    val sweepQueryRdds = graft.ops.Checkpoints.sweeper(spark.sparkContext)

    /** One run's seconds, or the failure's first line. */
    def once(fn: (SparkSession, String) => DataFrame): Either[String, Run] = {
      val t0 = System.nanoTime()
      val c0 = cpuSec()
      val j0 = jitSec()
      try {
        fn(spark, sfDir).count()
        Right(Run((System.nanoTime() - t0) / 1e9, cpuSec() - c0, jitSec() - j0))
      }
      catch { case e: Throwable =>
        Left(e.toString.linesIterator.nextOption().getOrElse(e.getClass.getName))
      }
      finally sweepQueryRdds()
    }

    // a fixed ~100 MB repartition of incompressible hashes, written and
    // read back: the shuffle path the heavy queries use
    def shuffleProbe(): Double = {
      val t0 = System.nanoTime()
      spark.range(6000000L)
        .selectExpr("hash(id) AS k", "hash(id * 31 + 7) AS a", "hash(id * 131 + 3) AS b")
        .repartition(col("k"))
        .selectExpr("sum(cast(a AS bigint) + b) AS s", "max(k) AS m")
        .count()
      (System.nanoTime() - t0) / 1e9
    }

    // deterministic name order, so per-query timings compare across
    // runs. SPARK_GRAFT_BENCH_ONLY (comma-separated name prefixes)
    // narrows the sweep for dev A/B runs.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val toRun = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
    val shufStart = shuffleProbe()
    val results = toRun.map { case (name, fn) =>
      val runs = (1 to iters).map(_ => once(fn))
      val ok = runs.collect { case Right(r) => r }
      name -> (if (ok.nonEmpty) Right(ok)
               else Left(runs.collectFirst { case Left(e) => e }.getOrElse("?")))
    }
    val shufEnd = shuffleProbe()

    val done = results.collect { case (n, Right(rs)) => n -> rs }
    val ok = done.map { case (n, rs) => n -> rs.map(_.wall).min }
    val med = done.map { case (n, rs) => n -> rs.map(_.wall).sorted.apply(rs.length / 2) }
    val cpu = done.map { case (n, rs) => n -> rs.map(_.cpu).min }
    val jitQ = done.map { case (n, rs) => n -> rs.minBy(_.wall).jit }
    val failed = results.collect { case (n, Left(e)) => n -> e }
    val total = warmSec + ok.map(_._2).sum
    val cpuTotal = warmCpu + cpu.map(_._2).sum
    // Locale.ROOT: a comma-decimal default locale would break the JSON
    def ms(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
    def obj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => JsonText.quote(k) + ":" + v }.mkString("{", ",", "}")
    def nums(kvs: Seq[(String, Double)]): String = obj(kvs.map { case (k, v) => k -> v.toString })
    def write(file: String, line: String): Unit =
      try Files.write(Paths.get(file), (line + "\n").getBytes("UTF-8"))
      catch { case e: Exception => System.err.println(s"[bench] $file not written: $e") }

    // full-precision record of every query. Best-effort: the printed
    // contract line must survive a write failure. SPARK_GRAFT_RECORD_FILE
    // lands the same record under a second, stable name, because
    // BENCH_LOCAL.json is overwritten by every run.
    val full = s"""{"metric":"total","value":$total,"unit":"sec","warm_sec":$warmSec,""" +
      s""""warm_cpu_sec":$warmCpu,"warm_jit_sec":$warmJit,"cpu_sec":$cpuTotal,""" +
      s""""warm_tables":${nums(warmParts)},"iterations":$iters,""" +
      s""""shuffle_probe":[$shufStart,$shufEnd],"queries":${nums(ok)},""" +
      s""""queries_median":${nums(med)},"queries_cpu":${nums(cpu)},"queries_jit":${nums(jitQ)},""" +
      s""""failed":${obj(failed.map { case (k, e) => k -> JsonText.quote(e) })},"sf":"$sfDir"}"""
    write("BENCH_LOCAL.json", full)
    sys.env.get("SPARK_GRAFT_RECORD_FILE").foreach(write(_, full))

    spark.stop() // stop FIRST: shutdown warnings must not trail the metric line

    // contract line, printed last: the harness parses the final ~2000
    // output chars, so the complete line plus sbt's closing "[success]"
    // line must fit there. Slowest queries first, stopping before the
    // budget with the suffix pre-charged; `queries_omitted` counts the
    // (fast) remainder. Failure reasons share the budget: each is
    // clipped and at most 8 are shown.
    val budget = 1500
    val failedShown = failed.take(8)
    val fs = obj(failedShown.map { case (k, e) => k -> JsonText.quote(e.take(80)) }) +
      (if (failed.length > failedShown.length)
         s""","failed_omitted":${failed.length - failedShown.length}""" else "")
    // the median total shows a first-run cost the min hides, and the
    // query with the worst median/min ratio (min >= 0.5 s) names it
    val medianTotal = warmSec + med.map(_._2).sum
    val minByName = ok.toMap
    val worstMinMed = med
      .flatMap { case (n, m) => minByName.get(n).filter(_ >= 0.5).map(mn => (n, m / mn)) }
      .sortBy(-_._2).headOption
      .map { case (n, r) => s""""worst_min_median":"$n:${ms(r)}",""" }
      .getOrElse("")
    val header = s"""{"metric":"total","value":${ms(total)},"unit":"sec","warm_sec":${ms(warmSec)},""" +
      s""""cpu_sec":${ms(cpuTotal)},"median_total":${ms(medianTotal)},$worstMinMed""" +
      s""""shuffle_probe":[${ms(shufStart)},${ms(shufEnd)}],"queries":{"""
    def suffix(omitted: Int) =
      s"""},"queries_omitted":$omitted,"failed":$fs,"sf":"$sfDir"}"""
    val entries = ok.sortBy(-_._2).map { case (k, v) => s"\"" + k + "\":" + ms(v) }
    var used = header.length + suffix(entries.length).length
    val kept = entries.takeWhile { e => used += e.length + 1; used <= budget }
    val tailLine = header + kept.mkString(",") + suffix(entries.length - kept.length)
    // the exact printed line also lands as a bare single-line file, so
    // the record parses even when sbt's log prefix fuses with stdout
    write("BENCH_TAIL.json", tailLine)
    // both streams, flushed: whichever the harness captures last ends
    // with a bare JSON line
    println(tailLine)
    System.out.flush()
    System.err.println(tailLine)
    System.err.flush()
    if (failed.nonEmpty) sys.exit(1)
  }
}
