package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.BenchShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters Spark reports for one job group: a timed call, a set-up
  * build or a replay step. Filled from listener callbacks. */
final class Counters {
  val jobs, stages, tasks, exchanges = new AtomicLong
  val runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = new AtomicLong
  val analysisMs, optimizationMs, planningMs = new AtomicLong
  /** jobs whose call site is `isEmpty`: one per connected-components round */
  val isEmptyJobs = new AtomicLong
  private val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]

  def addJobSpan(start: Long, end: Long): Unit = jobSpans.add((start, end))

  /** Milliseconds of `[from, to]` during which at least one job ran. */
  def busyMs(from: Long, to: Long): Long = {
    val spans = jobSpans.asScala.toSeq
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0L
    var (curS, curE) = (-1L, -1L)
    spans.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    busy
  }

  def values: Seq[(String, Double)] = Seq(
    "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
    "tasks" -> tasks.get.toDouble, "exchanges" -> exchanges.get.toDouble,
    "exec_run_s" -> runMs.get / 1e3, "exec_cpu_s" -> cpuNs.get / 1e9,
    "exec_gc_s" -> gcMs.get / 1e3, "shuffle_read_mb" -> shuffleRead.get / 1e6,
    "shuffle_write_mb" -> shuffleWrite.get / 1e6, "spill_mb" -> spill.get / 1e6,
    "analysis_s" -> analysisMs.get / 1e3,
    "optimization_s" -> optimizationMs.get / 1e3, "planning_s" -> planningMs.get / 1e3)
}

/** Streaming micro-batch totals from `StreamingQueryProgress`. */
final class StreamTotals {
  val runs, batches, inputRows, stateCommitMs = new AtomicLong
  val phaseMs = new ConcurrentHashMap[String, AtomicLong]()
  /** state rows and bytes after each run's latest batch */
  val lastState = new ConcurrentHashMap[java.util.UUID, (Long, Long)]()
  def phase(name: String): Long = Option(phaseMs.get(name)).map(_.get).getOrElse(0L)
  def stateRows: Long = lastState.values.asScala.map(_._1).sum
  def stateBytes: Long = lastState.values.asScala.map(_._2).sum
}

/** Bytes written per job group. Registered in every run: `landed_mb`
  * is an end-to-end metric, and one counter per finished task is all
  * it costs. The traced run's spans take their bytes written from it. */
final class WriteMeter(spark: SparkSession) extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val written = new ConcurrentHashMap[String, AtomicLong]()
  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Tracer.callOf(e.properties).foreach(g => e.stageIds.foreach(stageGroup.put(_, g)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (g <- Option(stageGroup.get(e.stageId)); m <- Option(e.taskMetrics))
      written.computeIfAbsent(g, _ => new AtomicLong).addAndGet(m.outputMetrics.bytesWritten)

  def mb(group: String): Double = {
    BenchShim.drain(spark.sparkContext)
    Option(written.get(group)).map(_.get / 1e6).getOrElse(0.0)
  }
}

/** The traced run's recorder: Spark's own `SparkListener`,
  * `QueryExecutionListener` and `StreamingQueryListener`, registered
  * from the benchmark and attributing every job, task and planned query
  * to the job group the harness set around the call that caused it.
  * Streaming runs execute under Spark's own per-run job groups, so
  * their micro-batch progress is kept as workload totals. */
final class Tracer(spark: SparkSession, meter: WriteMeter) {
  private val groups = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobInfo = new ConcurrentHashMap[Int, (String, Long)]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  val streams = new StreamTotals

  /** Nanoseconds the trace's own callbacks took: its direct cost. */
  val callbackNs = new AtomicLong
  private def timed(body: => Unit): Unit = {
    val t = System.nanoTime()
    try body finally callbackNs.addAndGet(System.nanoTime() - t)
  }

  def counters(group: String): Counters = groups.computeIfAbsent(group, _ => new Counters)

  /** A span's counters: what the listeners recorded for its job group. */
  def record(group: String): Seq[(String, Double)] =
    counters(group).values :+ ("written_mb" -> meter.mb(group))

  def snapshotGroups: Seq[(String, Counters)] = groups.asScala.toSeq

  private object PlanWalk extends AdaptiveSparkPlanHelper

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val g = Tracer.callOf(e.properties).getOrElse("")
      jobInfo.put(e.jobId, (g, e.time))
      e.stageIds.foreach(stageGroup.put(_, g))
      val c = counters(g)
      c.jobs.incrementAndGet()
      c.stages.addAndGet(e.stageInfos.size.toLong)
      if (e.stageInfos.exists(_.name.startsWith("isEmpty"))) c.isEmptyJobs.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobInfo.remove(e.jobId)).foreach { case (g, t0) => counters(g).addJobSpan(t0, e.time) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val c = counters(Option(stageGroup.get(e.stageId)).getOrElse(""))
      c.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        c.runMs.addAndGet(m.executorRunTime)
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = timed(e match {
      case s: SparkListenerSQLExecutionStart => execGroup.put(s.executionId, s.jobGroupId.getOrElse(""))
      case s: SparkListenerSQLExecutionEnd if BenchShim.queryExecution(s) != null =>
        val qe = BenchShim.queryExecution(s)
        val g = Option(execGroup.remove(s.executionId)).getOrElse("")
        Option(planned.remove(qe)) match {
          case Some(p) => attribute(g, p)
          case None => qeGroup.put(qe, g)
        }
      case _ =>
    })
  }

  // The QueryExecutionListener sees the QueryExecution but not its SQL
  // execution id; the execution-end event carries both. Whichever of the
  // two arrives second attributes the planning record to the call. Both
  // run on the listener bus's shared-queue thread.
  private val planned = new ConcurrentHashMap[QueryExecution, Seq[Long]]()
  private val qeGroup = new ConcurrentHashMap[QueryExecution, String]()

  private def attribute(group: String, p: Seq[Long]): Unit = {
    val c = counters(group)
    c.analysisMs.addAndGet(p(0))
    c.optimizationMs.addAndGet(p(1))
    c.planningMs.addAndGet(p(2))
    c.exchanges.addAndGet(p(3))
  }

  private val planning = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = timed {
      def phaseMs(name: String) = qe.tracker.phases.get(name).map(_.durationMs).getOrElse(0L)
      val record = Seq(phaseMs("analysis"), phaseMs("optimization"), phaseMs("planning"),
        PlanWalk.collectWithSubqueries(qe.executedPlan) { case x: Exchange => x }.size.toLong)
      Option(qeGroup.remove(qe)) match {
        case Some(g) => attribute(g, record)
        case None => planned.put(qe, record)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      timed(streams.runs.incrementAndGet())
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val p = e.progress
      streams.batches.incrementAndGet()
      streams.inputRows.addAndGet(p.numInputRows)
      p.durationMs.asScala.foreach { case (k, v) =>
        streams.phaseMs.computeIfAbsent(k, _ => new AtomicLong).addAndGet(v.longValue)
      }
      p.stateOperators.foreach(s => streams.stateCommitMs.addAndGet(s.commitTimeMs))
      streams.lastState.put(p.runId,
        (p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  def start(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    classic.listenerManager.register(planning)
    spark.streams.addListener(streaming)
  }

  def stop(): Unit = {
    drain()
    spark.streams.removeListener(streaming)
    classic.listenerManager.unregister(planning)
    spark.sparkContext.removeSparkListener(jobs)
  }

  def drain(): Unit = BenchShim.drain(spark.sparkContext)
}

object Tracer {
  /** The harness call a job belongs to: its `perfbench.call` property,
    * else its job group. */
  def callOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p =>
      Option(p.getProperty(Bounded.CallProperty)).orElse(Option(p.getProperty("spark.jobGroup.id"))))
}
