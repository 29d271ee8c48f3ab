package graft.ops

import graft.SparkSpec.Sf0_001
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable

import graft.SparkSpec
import graft.streaming.StreamOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.concurrent.{Eventually, Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Seconds, Span}

/** `StreamOps.runToTable` and `StreamOps.runEach`: concurrent runs
  * overlap, the caller's conf comes back unchanged, every stream runs
  * under `runConf`, and every state operator runs one partition. */
class StreamRunSpec extends SparkSpec with TimeLimits with Eventually {
  import StreamRunSpec._

  implicit val signaler: Signaler = ThreadSignaler
  private val dir = Sf0_001
  private val runKeys = StreamOps.runConf.map(_._1)

  /** A stateful stream whose rows pass a UDF that waits on [[gate]]. */
  private def blockedCounts(): DataFrame = {
    val hold = udf { (id: Long) =>
      entered.countDown()
      gate.await()
      id
    }.asNondeterministic()
    val agg = StreamOps.eventStream(spark, dir)
      .select(col("event_type"), hold(col("user_id")).as("user_id"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("user_id")).as("sum_user"))
    StreamOps.runToTable(spark, agg, "spec_blocked_counts", "complete")
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("a run blocked in its stream does not hold up a second run; conf restored; one partition per state operator") {
    val seen = mutable.Map[String, Seq[Int]]().withDefaultValue(Nil)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = seen.synchronized {
        seen(e.progress.name) ++= e.progress.stateOperators.map(_.numShufflePartitions.toInt)
      }
    }
    val before = runKeys.map(k => k -> spark.conf.getOption(k))
    spark.streams.addListener(listener)
    try {
      gate = new CountDownLatch(0)
      val serialBlocked = rows(blockedCounts())
      val serialWindowed = rows(StreamOps.windowedCounts(spark, dir))

      gate = new CountDownLatch(1)
      entered = new CountDownLatch(1)
      val blocked = new AtomicReference[Either[Throwable, Seq[String]]]()
      val a = new Thread(() => blocked.set(
        try Right(rows(blockedCounts())) catch { case t: Throwable => Left(t) }))
      a.start()
      // bounds the test if the second run cannot start until the first ends
      val release = new Thread(() =>
        try { Thread.sleep(120000); gate.countDown() }
        catch { case _: InterruptedException => () })
      release.setDaemon(true)
      release.start()
      val overlapped = try {
        assert(entered.await(60, TimeUnit.SECONDS), "the first run's stream never reached its UDF")
        failAfter(Span(60, Seconds)) { rows(StreamOps.windowedCounts(spark, dir)) }
      } finally {
        gate.countDown()
        release.interrupt()
        a.join()
      }
      assert(overlapped == serialWindowed)
      blocked.get match {
        case Left(t) => throw t
        case Right(r) => assert(r == serialBlocked)
      }

      assert(runKeys.map(k => k -> spark.conf.getOption(k)) == before)
      eventually(timeout(Span(30, Seconds))) {
        seen.synchronized {
          assert(seen("spec_blocked_counts").nonEmpty && seen("stream_windowed_counts").nonEmpty,
            s"state operators seen per query: $seen")
          assert(seen.values.flatten.forall(_ == 1), s"state partitions per query: $seen")
        }
      }
    } finally spark.streams.removeListener(listener)
  }

  test("runEach: each batch runs under runConf, conf restored; a blocked step does not hold up a runToTable run") {
    val before = runKeys.map(k => k -> spark.conf.getOption(k))
    val inRun = StreamOps.runConf.map { case (k, v) => k -> Some(v) }
    assert(before != inRun, "the caller's session must differ from runConf to show it applied")
    val serialWindowed = rows(StreamOps.windowedCounts(spark, dir))

    val seen = new AtomicReference[Seq[(String, Option[String])]]()
    val stepEntered = new CountDownLatch(1)
    val stepGate = new CountDownLatch(1)
    val done = new AtomicReference[Option[Throwable]]()
    val a = new Thread(() => done.set(
      try {
        StreamOps.runEach(spark, StreamOps.eventStream(spark, dir).select(col("user_id"))) {
          (batch, _) =>
            seen.compareAndSet(null, runKeys.map(k => k -> batch.sparkSession.conf.getOption(k)))
            stepEntered.countDown()
            stepGate.await()
        }
        None
      } catch { case t: Throwable => Some(t) }))
    a.start()
    // bounds the test if the runToTable run cannot start until the step ends
    val release = new Thread(() =>
      try { Thread.sleep(120000); stepGate.countDown() }
      catch { case _: InterruptedException => () })
    release.setDaemon(true)
    release.start()
    val overlapped = try {
      assert(stepEntered.await(60, TimeUnit.SECONDS), "the runEach step never ran")
      failAfter(Span(60, Seconds)) { rows(StreamOps.windowedCounts(spark, dir)) }
    } finally {
      stepGate.countDown()
      release.interrupt()
      a.join()
    }
    done.get.foreach(t => throw t)
    assert(overlapped == serialWindowed)
    assert(seen.get == inRun)
    assert(runKeys.map(k => k -> spark.conf.getOption(k)) == before)
  }
}

object StreamRunSpec {
  // read by the UDF inside tasks, so they live outside any closure
  @volatile var gate = new CountDownLatch(0)
  @volatile var entered = new CountDownLatch(0)
}
