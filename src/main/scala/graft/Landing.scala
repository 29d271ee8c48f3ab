package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, ExecutionException}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The land-once policy. Each derived artifact (a parquet landing, a
  * text-format landing, a staged stream feed, a growth run's output
  * dirs) is built once per key for the JVM's lifetime, and every later
  * reader reuses it: the snapshot-grain "build once, then load" posture
  * of a production run. Landings live in [[TempTrees.scratch]] dirs,
  * removed at JVM exit. */
object Landing {

  /** A land-once memo. `apply` installs an empty future under the key,
    * so the map's bin lock is held only for the install; the installing
    * caller then runs `build` outside any lock. Concurrent callers of
    * the key wait for that one build, and a build may land other keys
    * of the same memo (claims reads refs, dedup_clusters reads
    * doc_shingles). A failed build rethrows to its waiters and is then
    * uninstalled, so the next call rebuilds. */
  final class Memo[V] {
    private val built = new ConcurrentHashMap[String, CompletableFuture[V]]()

    def apply(key: String)(build: => V): V = {
      val mine = new CompletableFuture[V]()
      val fut = built.putIfAbsent(key, mine) match {
        case null =>
          try mine.complete(build)
          catch { case e: Throwable =>
            // release the waiters before opening the retry window: a
            // caller arriving between the two would otherwise start a
            // second concurrent build of the same key
            mine.completeExceptionally(e)
            built.remove(key, mine)
            throw e
          }
          mine
        case theirs => theirs
      }
      try fut.get() catch { case e: ExecutionException => throw e.getCause }
    }

    /** The value of a build that completed successfully; never waits. */
    def done(key: String): Option[V] = Option(built.get(key))
      .filter(f => f.isDone && !f.isCompletedExceptionally).map(_.join())
  }

  /** `write` into `name` under a fresh scratch dir, once per
    * `$dir/$name`; returns the written path. */
  def path(memo: Memo[String], dir: String, name: String)(write: String => Unit): String =
    memo(s"$dir/$name") {
      val p = TempTrees.scratch("graft-landed").resolve(name).toString
      write(p)
      p
    }

  /** `df` landed as parquet once per `$dir/$name`, read back. Planning
    * against the landed scan costs milliseconds where a plan-keyed cache
    * re-analyzes the whole derivation per query. */
  def parquet(s: SparkSession, memo: Memo[String], dir: String, name: String)
      (df: => DataFrame): DataFrame =
    s.read.parquet(path(memo, dir, name)(df.write.parquet(_)))

  /** A streaming file-source feed staged once per key: one
    * `batch_NN.parquet` file per batch, with mtimes 60 s apart, so a
    * `maxFilesPerTrigger=1` source replays the batches as that many
    * micro-batches in order. Returns the directory to monitor. */
  def feed(memo: Memo[Path], key: String)(batches: => Seq[DataFrame]): Path =
    memo(key) {
      val stage = TempTrees.scratch("graft-feed")
      val tmp = TempTrees.scratch("graft-feed-write")
      batches.zipWithIndex.foreach { case (df, i) =>
        val out = tmp.resolve(s"out_$i")
        df.coalesce(1).write.parquet(out.toString)
        val part = {
          val s = Files.list(out)
          try s.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
          finally s.close()
        }
        val dst = stage.resolve(f"batch_$i%02d.parquet")
        Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
      }
      stage
    }
}
