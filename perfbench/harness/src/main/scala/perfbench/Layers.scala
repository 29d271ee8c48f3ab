package perfbench

import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.ObjectMapper

/** One traced span: a workload, a pass, a call or a replay step, with
  * the counters Spark reported for it. */
final case class Span(id: String, name: String, parent: String, client: Int,
    startMs: Long, endMs: Long, ok: Boolean, counters: Seq[(String, Double)])

object Span {
  def ofCall(c: Call, parent: String, counters: Seq[(String, Double)]): Span =
    Span(c.group, c.label, parent, c.client, c.startMs, c.endMs, c.ok, counters)

  /** One JSON object per line. */
  def write(path: Path, spans: Seq[Span]): Unit = {
    val mapper = new ObjectMapper()
    Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      val n = mapper.createObjectNode()
      n.put("span", s.name); n.put("id", s.id); n.put("parent", s.parent)
      n.put("client", s.client); n.put("start_ms", s.startMs); n.put("end_ms", s.endMs)
      n.put("ok", s.ok)
      val c = n.putObject("counters")
      s.counters.foreach { case (k, v) => c.put(k, v) }
      mapper.writeValueAsString(n)
    }
    Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** The traced run's per-layer metrics for the timed region: the
  * `queries` layer (planning phases, jobs, executor work, shuffle, the
  * warm landing scheduler), the `streaming` layer and the JVM. */
object Layers {

  def collect(o: Harness.Opts, tr: Tracer, timed: Seq[Call],
      builds: Seq[(Call, Seq[(String, Double)], Double)],
      measuredBuilds: Seq[(Call, Seq[(String, Double)], Double)],
      passes: Seq[(Double, Double)], wall: Double, gcS: Double, heapPeakMb: Double,
      regionStartMs: Long, regionEndMs: Long, spans: scala.collection.mutable.Buffer[Span])
      : Seq[(String, Double, String)] = {
    tr.drain()
    // every job since the tracer started belongs to the timed region
    val total = tr.snapshotGroups.map(_._2.values.toMap)
      .foldLeft(Map.empty[String, Double])((acc, m) =>
        (acc.keySet ++ m.keySet).map(k => k -> (acc.getOrElse(k, 0.0) + m.getOrElse(k, 0.0))).toMap)
    def q(k: String) = total.getOrElse(k, 0.0)
    val driverS = timed.map { c =>
      c.seconds - tr.counters(c.group).busyMs(c.startMs, c.endMs) / 1e3
    }.sum
    val byPass = timed.groupBy(_.pass).toSeq.sortBy(_._1)
    val overlap = Stats.median(byPass.zip(passes).map { case ((_, cs), (w, _)) =>
      cs.map(_.seconds).sum / w
    })
    val st = tr.streams
    val root = s"workload-${o.workload}"
    spans += Span(root, o.workload, "", -1, regionStartMs, regionEndMs, timed.forall(_.ok),
      Seq("passes" -> passes.size.toDouble, "wall_s" -> wall))
    byPass.zip(passes).foreach { case ((p, cs), (w, cpu)) =>
      val id = s"$root-pass$p"
      spans += Span(id, s"pass$p", root, -1, cs.map(_.startMs).min, cs.map(_.endMs).max,
        cs.forall(_.ok), Seq("wall_s" -> w, "cpu_s" -> cpu))
      cs.foreach(c => spans += Span.ofCall(c, id, tr.record(c.group)))
    }
    val setups = builds.map(_._1).filter(_.pass < 0)
    if (setups.nonEmpty) spans += Span("setup", "setup", "", -1, setups.map(_.startMs).min,
      setups.map(_.endMs).max, setups.forall(_.ok), Seq("setups" -> setups.size.toDouble))
    builds.foreach { case (c, parts, mb) =>
      if (c.pass < 0) spans += Span.ofCall(c, "setup", tr.record(c.group))
      if (parts.nonEmpty) spans += Span(c.group + "-landings", "landings", c.group, c.client,
        c.startMs, c.endMs, c.ok, parts.map { case (n, s) => s"$n.s" -> s } :+ ("landed_mb" -> mb))
    }
    Seq(
      ("queries.analysis_s", q("analysis_s"), "s"),
      ("queries.optimization_s", q("optimization_s"), "s"),
      ("queries.planning_s", q("planning_s"), "s"),
      ("queries.driver_s", driverS, "s"),
      ("queries.jobs", q("jobs"), "count"),
      ("queries.stages", q("stages"), "count"),
      ("queries.tasks", q("tasks"), "count"),
      ("queries.exchanges", q("exchanges"), "count"),
      ("queries.exec_run_s", q("exec_run_s"), "s"),
      ("queries.exec_cpu_s", q("exec_cpu_s"), "s"),
      ("queries.exec_gc_s", q("exec_gc_s"), "s"),
      ("queries.shuffle_read_mb", q("shuffle_read_mb"), "MB"),
      ("queries.shuffle_write_mb", q("shuffle_write_mb"), "MB"),
      ("queries.spill_mb", q("spill_mb"), "MB"),
      ("queries.warm_build_s", Stats.median(measuredBuilds.map(_._1.seconds)), "s"),
      ("queries.warm_landing_sum_s", Stats.median(measuredBuilds.map(_._2.map(_._2).sum)), "s"),
      ("queries.warm_overlap",
        Stats.median(measuredBuilds.map(b => b._2.map(_._2).sum / b._1.seconds)), "ratio"),
      ("streaming.runs", st.runs.get.toDouble, "count"),
      ("streaming.batches", st.batches.get.toDouble, "count"),
      ("streaming.input_rows", st.inputRows.get.toDouble, "count"),
      ("streaming.latest_offset_ms", st.phase("latestOffset").toDouble, "ms"),
      ("streaming.get_batch_ms", st.phase("getBatch").toDouble, "ms"),
      ("streaming.query_planning_ms", st.phase("queryPlanning").toDouble, "ms"),
      ("streaming.add_batch_ms", st.phase("addBatch").toDouble, "ms"),
      ("streaming.wal_commit_ms", st.phase("walCommit").toDouble, "ms"),
      ("streaming.trigger_ms", st.phase("triggerExecution").toDouble, "ms"),
      ("streaming.state_rows", st.stateRows.toDouble, "count"),
      ("streaming.state_mem_mb", st.stateBytes / 1e6, "MB"),
      ("streaming.state_commit_ms", st.stateCommitMs.get.toDouble, "ms"),
      ("streaming.overlap", overlap, "ratio"),
      ("streaming.trigger_overlap", st.phase("triggerExecution") / 1e3 / wall, "ratio"),
      ("jvm.gc_s", gcS, "s"),
      ("jvm.heap_peak_mb", heapPeakMb, "MB"),
      ("trace.wall_s", wall, "s"),
      ("trace.overhead_s", tr.callbackNs.get / 1e9, "s"))
  }
}
