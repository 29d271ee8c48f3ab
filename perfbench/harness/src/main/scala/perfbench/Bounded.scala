package perfbench

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession

/** One call into the program: its label, the job group its Spark jobs
  * ran under, wall-clock span and outcome. */
final case class Call(label: String, group: String, client: Int, pass: Int,
    startMs: Long, endMs: Long, seconds: Double, error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

/** Runs each call on its own thread inside its own Spark job group, with
  * a deadline. When the deadline passes the group's jobs are cancelled,
  * the thread is interrupted, and the call is reported as failed, so a
  * hang costs one deadline instead of the rest of the run.
  *
  * The group is also set as the `perfbench.call` local property: Spark
  * local properties are inherited by threads the call starts (the warm
  * build's pool, streaming micro-batch threads), and streaming replaces
  * the job group with its own, so listeners attribute by this property. */
final class Bounded(spark: SparkSession) {
  private val ids = new AtomicInteger
  private val pool = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "perfbench-call")
    t.setDaemon(true)
    t
  }

  def apply[T](label: String, deadlineS: Double, client: Int = 0, pass: Int = 0)
      (body: => T): (Call, Option[T]) = {
    val group = f"pb${ids.incrementAndGet()}%05d-$label"
    val sc = spark.sparkContext
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val fut = pool.submit(new Callable[T] {
      def call(): T = {
        sc.setJobGroup(group, label, interruptOnCancel = true)
        sc.setLocalProperty(Bounded.CallProperty, group)
        try body
        finally { sc.clearJobGroup(); sc.setLocalProperty(Bounded.CallProperty, null) }
      }
    })
    val result: Either[String, T] =
      try Right(fut.get((deadlineS * 1000).toLong, TimeUnit.MILLISECONDS))
      catch {
        case _: TimeoutException =>
          sc.cancelJobGroup(group)
          fut.cancel(true)
          Left(s"deadline of ${deadlineS}s passed")
        case e: ExecutionException => Left(Bounded.describe(e.getCause))
      }
    val seconds = (System.nanoTime() - t0) / 1e9
    val call = Call(label, group, client, pass, startMs, System.currentTimeMillis(),
      seconds, result.left.toOption)
    (call, result.toOption)
  }
}

object Bounded {
  val CallProperty = "perfbench.call"

  def describe(e: Throwable): String =
    Option(e.getMessage).flatMap(_.linesIterator.nextOption())
      .map(m => s"${e.getClass.getSimpleName}: ${m.take(300)}")
      .getOrElse(e.getClass.getName)
}
