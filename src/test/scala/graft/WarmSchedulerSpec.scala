package graft

import org.apache.spark.{JobExecutionStatus, TaskContext}
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.SpanSugar._

/** The bounded landing runner [[Landing.buildAll]] the warm build relies
  * on: every landing runs exactly once, in order within its chain, at
  * most `workers` chains at once, chains starting in declaration order;
  * a failure stops its chain and the queued chains, cancels the sibling
  * chains' Spark jobs and propagates within a bounded time; and jobs
  * started by a landing carry the caller's local properties. */
class WarmSchedulerSpec extends SparkSpec with TimeLimits {
  // interrupt the test thread at the limit, so a hang fails the test
  private implicit val signaler: Signaler = ThreadSignaler

  private def sc = spark.sparkContext

  private def logged(log: java.util.List[String]) =
    scala.jdk.CollectionConverters.ListHasAsScala(log).asScala.toSeq

  // dependencies are the earlier links of a chain; the seconds come back
  // in declaration order
  test("all tasks run exactly once and dependencies complete first") {
    failAfter(30.seconds) {
      val log = java.util.Collections.synchronizedList(
        new java.util.ArrayList[String]())
      def landing(name: String, sleepMs: Long) =
        name -> (() => { Thread.sleep(sleepMs); log.add(name) })
      // the first chain is the slowest, so its results complete last
      val chains = Seq(
        Seq(landing("a", 30), landing("b", 0), landing("c", 0)),
        Seq(landing("d", 0), landing("e", 0)),
        Seq(landing("f", 0)))
      val parts = Landing.buildAll(sc, chains, workers = 3)
      assert(parts.map(_._1) == Seq("a", "b", "c", "d", "e", "f"))
      assert(parts.forall(_._2 >= 0.0))
      val order = logged(log)
      assert(order.sorted == Seq("a", "b", "c", "d", "e", "f"))
      assert(order.indexOf("a") < order.indexOf("b"))
      assert(order.indexOf("b") < order.indexOf("c"))
      assert(order.indexOf("d") < order.indexOf("e"))
    }
  }

  test("at most `workers` tasks run concurrently") {
    failAfter(30.seconds) {
      val running = new java.util.concurrent.atomic.AtomicInteger(0)
      val peak = new java.util.concurrent.atomic.AtomicInteger(0)
      val chains = (1 to 8).map { i =>
        Seq(s"t$i" -> (() => {
          val now = running.incrementAndGet()
          peak.accumulateAndGet(now, math.max)
          Thread.sleep(20)
          running.decrementAndGet()
        }))
      }
      Landing.buildAll(sc, chains, workers = 2)
      assert(peak.get() <= 2, s"peak concurrency ${peak.get()} > 2")
    }
  }

  test("a failing task propagates after the drain; later tasks are abandoned") {
    failAfter(30.seconds) {
      val ran = java.util.Collections.synchronizedSet(
        new java.util.HashSet[String]())
      val chains = Seq(
        // the landing behind the failure in its own chain
        Seq("boom" -> (() => { Thread.sleep(5); throw new RuntimeException("landing failed") }),
          "after_boom" -> (() => ran.add("after_boom"))),
        // one worker: this chain is queued behind the failing one
        Seq("queued" -> (() => ran.add("queued"))))
      val e = intercept[RuntimeException] {
        Landing.buildAll(sc, chains, workers = 1)
      }
      assert(e.getMessage == "landing failed")
      assert(ran.isEmpty, s"ran after the failure: $ran")
    }
  }

  test("chains start in declaration order (single worker)") {
    failAfter(30.seconds) {
      val log = java.util.Collections.synchronizedList(
        new java.util.ArrayList[String]())
      val chains = Seq("long_pole", "b", "c", "d").map(n => Seq(n -> (() => log.add(n))))
      Landing.buildAll(sc, chains, workers = 1)
      assert(logged(log) == Seq("long_pole", "b", "c", "d"))
    }
  }

  test("a failing task cancels a sibling's running Spark job and returns promptly") {
    failAfter(60.seconds) {
      val slowTag = "warm-spec-slow"
      def slowJobs = sc.statusTracker.getJobIdsForTag(slowTag).toSeq
      val chains = Seq(
        // declared first: a runner that awaits chains in declaration
        // order instead of completion order blocks on it
        // 2 partitions × 200 rows × 200 ms: 40 s if nothing cancels it
        Seq("slow" -> (() => {
          sc.addJobTag(slowTag)
          sc.parallelize(1 to 400, 2).map { x => Thread.sleep(200); x }.count()
        })),
        Seq("boom" -> (() => {
          val deadline = System.nanoTime() + 20e9.toLong
          while (slowJobs.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
          throw new RuntimeException("landing failed")
        })))
      val t0 = System.nanoTime()
      val e = intercept[RuntimeException](Landing.buildAll(sc, chains, workers = 2))
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
        val chains = Seq(Seq("probe" -> (() => {
          sc.parallelize(Seq(1), 1)
            .map(_ => TaskContext.get().getLocalProperty("spark.jobGroup.id"))
            .collect().foreach(seen.add)
        })))
        Landing.buildAll(sc, chains, workers = 2)
        assert(seen.size == 1 && seen.peek() == "warm-spec-caller", s"job group: $seen")
      } finally sc.clearJobGroup()
    }
  }
}
