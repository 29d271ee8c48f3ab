package graft

import graft.queries.Citations.{WarmTask, runWarmTasks}
import org.apache.spark.{JobExecutionStatus, TaskContext}
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.SpanSugar._

/** The bounded-concurrency warm-landing scheduler: dependency-aware
  * heaviest-first task draining with a small worker pool. The contract
  * the warm build relies on: every task runs exactly once, never before
  * its dependencies, at most `workers` concurrently; a bad task graph
  * fails before anything runs; a failure cancels the sibling tasks'
  * Spark jobs and propagates within a bounded time; and jobs started by
  * a task carry the caller's local properties. */
class WarmSchedulerSpec extends SparkSpec with TimeLimits {
  // interrupt the test thread at the limit, so a hang fails the test
  private implicit val signaler: Signaler = ThreadSignaler

  private def sc = spark.sparkContext

  private def task(name: String, deps: Seq[String], prio: Double,
      body: () => Unit) = WarmTask(name, deps, prio, body)

  test("all tasks run exactly once and dependencies complete first") {
    val log = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val tasks = Seq(
      task("a", Nil, 5.0, () => { Thread.sleep(5); log.add("a"); () }),
      task("b", Seq("a"), 4.0, () => { log.add("b"); () }),
      task("c", Seq("a", "b"), 3.0, () => { log.add("c"); () }),
      task("d", Nil, 2.0, () => { Thread.sleep(3); log.add("d"); () }),
      task("e", Seq("d"), 1.0, () => { log.add("e"); () }))
    val parts = runWarmTasks(sc, tasks, workers = 3)
    assert(parts.map(_._1).sorted == Seq("a", "b", "c", "d", "e"))
    val order = scala.jdk.CollectionConverters.ListHasAsScala(log).asScala.toSeq
    assert(order.count(_ == "a") == 1)
    assert(order.indexOf("a") < order.indexOf("b"))
    assert(order.indexOf("b") < order.indexOf("c"))
    assert(order.indexOf("d") < order.indexOf("e"))
  }

  test("at most `workers` tasks run concurrently") {
    val running = new java.util.concurrent.atomic.AtomicInteger(0)
    val peak = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = (1 to 8).map { i =>
      task(s"t$i", Nil, i.toDouble, () => {
        val now = running.incrementAndGet()
        peak.accumulateAndGet(now, math.max)
        Thread.sleep(20)
        running.decrementAndGet(); ()
      })
    }
    runWarmTasks(sc, tasks, workers = 2)
    assert(peak.get() <= 2, s"peak concurrency ${peak.get()} > 2")
  }

  test("a failing task propagates after the drain; later tasks are abandoned") {
    val ran = java.util.Collections.synchronizedSet(
      new java.util.HashSet[String]())
    val tasks = Seq(
      task("boom", Nil, 9.0, () => { Thread.sleep(5)
        throw new RuntimeException("landing failed") }),
      // lower priority AND gated on a dep the failure strands, so it
      // must never run on any interleaving
      task("gated", Seq("boom"), 8.0, () => { ran.add("gated"); () }))
    val e = intercept[RuntimeException] {
      runWarmTasks(sc, tasks, workers = 2)
    }
    assert(e.getMessage == "landing failed")
    assert(!ran.contains("gated"))
  }

  test("heavier ready tasks start before lighter ones (single worker)") {
    val log = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val tasks = Seq(
      task("light", Nil, 1.0, () => { log.add("light"); () }),
      task("heavy", Nil, 10.0, () => { log.add("heavy"); () }))
    runWarmTasks(sc, tasks, workers = 1)
    val order = scala.jdk.CollectionConverters.ListHasAsScala(log).asScala.toSeq
    assert(order == Seq("heavy", "light"))
  }

  test("a misspelled dependency fails before any task runs") {
    failAfter(30.seconds) {
      val ran = new java.util.concurrent.atomic.AtomicInteger(0)
      val tasks = Seq(
        task("seed_grams", Nil, 2.0, () => { ran.incrementAndGet(); () }),
        task("shared_runs", Seq("seed_gram"), 1.0, () => { ran.incrementAndGet(); () }))
      val e = intercept[IllegalArgumentException](runWarmTasks(sc, tasks, workers = 2))
      assert(e.getMessage.contains("shared_runs -> seed_gram"), e.getMessage)
      assert(ran.get() == 0)
    }
  }

  test("a dependency cycle fails before any task runs") {
    failAfter(30.seconds) {
      val ran = new java.util.concurrent.atomic.AtomicInteger(0)
      val tasks = Seq(
        task("free", Nil, 3.0, () => { ran.incrementAndGet(); () }),
        task("x", Seq("y"), 2.0, () => { ran.incrementAndGet(); () }),
        task("y", Seq("x"), 1.0, () => { ran.incrementAndGet(); () }))
      val e = intercept[IllegalArgumentException](runWarmTasks(sc, tasks, workers = 2))
      assert(e.getMessage.contains("cycle through: x, y"), e.getMessage)
      assert(ran.get() == 0)
    }
  }

  test("a failing task cancels a sibling's running Spark job and returns promptly") {
    failAfter(60.seconds) {
      val slowTag = "warm-spec-slow"
      def slowJobs = sc.statusTracker.getJobIdsForTag(slowTag).toSeq
      val tasks = Seq(
        // 2 partitions × 200 rows × 200 ms: 40 s if nothing cancels it
        task("slow", Nil, 9.0, () => {
          sc.addJobTag(slowTag)
          sc.parallelize(1 to 400, 2).map { x => Thread.sleep(200); x }.count()
          ()
        }),
        task("boom", Nil, 1.0, () => {
          val deadline = System.nanoTime() + 20e9.toLong
          while (slowJobs.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
          throw new RuntimeException("landing failed")
        }))
      val t0 = System.nanoTime()
      val e = intercept[RuntimeException](runWarmTasks(sc, tasks, workers = 2))
      val seconds = (System.nanoTime() - t0) / 1e9
      assert(e.getMessage == "landing failed")
      assert(slowJobs.nonEmpty, "the sibling's job never started")
      assert(seconds < 20, f"the failed build took $seconds%.1f s to return")
      // the cancel is an event on the scheduler loop; the status store
      // sees the failed job shortly after
      val deadline = System.nanoTime() + 10e9.toLong
      def statuses = slowJobs.flatMap(id => sc.statusTracker.getJobInfo(id)).map(_.status)
      while (statuses.contains(JobExecutionStatus.RUNNING) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(statuses.nonEmpty && statuses.forall(_ == JobExecutionStatus.FAILED),
        s"sibling job status: $statuses")
    }
  }

  test("a job started inside a task carries the caller's job group") {
    failAfter(60.seconds) {
      sc.setJobGroup("warm-spec-caller", "warm scheduler spec")
      try {
        val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val tasks = Seq(task("probe", Nil, 1.0, () => {
          sc.parallelize(Seq(1), 1)
            .map(_ => TaskContext.get().getLocalProperty("spark.jobGroup.id"))
            .collect().foreach(seen.add)
        }))
        runWarmTasks(sc, tasks, workers = 2)
        assert(seen.size == 1 && seen.peek() == "warm-spec-caller", s"job group: $seen")
      } finally sc.clearJobGroup()
    }
  }
}
