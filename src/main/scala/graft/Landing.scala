package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, ExecutionException,
  ExecutorCompletionService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}

/** The land-once policy. Each derived artifact (a parquet landing, a
  * text-format landing, a staged stream feed, a growth run's output
  * dirs) is built once per key for the JVM's lifetime, and every later
  * reader reuses it: the snapshot-grain "build once, then load" posture
  * of a production run. Landings live in [[TempTrees.scratch]] dirs,
  * removed at JVM exit. [[buildAll]] is the one bounded runner that
  * builds a set of landings up front (the warm build, the raw-table
  * re-land), [[writer]] is the one parquet encoding every landed file
  * uses, and [[read]] is the one way a parquet table is read back. */
object Landing {

  /** The writer of every parquet file the program lands: zstd, not
    * Spark's default snappy. A landing is written once and scanned by
    * many queries, so its bytes are worth the encoder's time; the warm
    * build lands 18% fewer bytes than with snappy (SCALE.md, "Landing
    * encoding (measured)"). The codec is a constant, not a setting:
    * one encoding for every landing, growth dir and index table. */
  def writer(df: DataFrame): DataFrameWriter[Row] =
    df.write.option("compression", "zstd")

  /** `path` (a parquet file, or a directory of part files) read with the
    * schema in its footer. Without a schema, `spark.read.parquet` runs a
    * Spark job to read that one footer; here the driver reads it, from
    * the file Spark's inference would pick (the file itself, or a
    * directory's first data file in path order), and converts it the
    * way inference does: the Spark row metadata when the writer stored
    * it, else the parquet types under the session's SQL conf
    * (nanos-as-long among them). The schema is the inferred one, and a
    * table landed once is scanned with no job but the scan. Partitioned
    * dirs stay on `spark.read.parquet`, whose partition discovery types
    * the partition column. */
  def read(s: SparkSession, path: String): DataFrame = {
    val conf = s.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val status = fs.getFileStatus(p)
    val file = if (!status.isDirectory) Some(status) else fs.listStatus(p)
      .filter { f => val n = f.getPath.getName; f.isFile && !n.startsWith("_") && !n.startsWith(".") }
      .sortBy(_.getPath.toString).headOption
    file match {
      case Some(f) =>
        val footer = new Footer(f.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS))
        val converter = new ParquetToSparkSchemaConverter(
          s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf)
        s.read.schema(ParquetFileFormat.readSchemaFromFooter(footer, converter)).parquet(path)
      // no footer to read: Spark's inference raises its own error
      case None => s.read.parquet(path)
    }
  }

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

  /** The parquet landings of every source dir, keyed `$dir/$name`; the
    * names are unique across the query families that land here. */
  private val landed = new Memo[String]

  /** `df` landed as parquet once per `$dir/$name`, read back, and reused
    * for the JVM's lifetime. LANDING (not caching) is the production
    * shape at 100 TB: a derivation shared by several queries (the parse
    * pipeline, the shingle and MinHash tables, the co-order graph, the
    * trained codebooks) runs once per snapshot, the result persists on
    * storage, and every downstream query plans against a flat columnar
    * scan. A plan-keyed cache instead re-analyzes the whole derivation
    * per query (3–25 s of driver time per c-query at sf0.1 against the
    * 300-column enrichment DAG), and a `cache()` is not shared across
    * independent query plans. A landing's build may read other landings
    * (claims reads refs, dedup_clusters reads doc_shingles and
    * minhash_sigs). Bench charges the landings it builds up front to its
    * warm line, not to whichever query reads them first. */
  def parquet(s: SparkSession, dir: String, name: String)(df: => DataFrame): DataFrame =
    read(s, path(landed, dir, name)(writer(df).parquet(_)))

  /** Landing builds that run in order on one worker; a build reads its
    * inputs through their memos, so each sits behind its inputs. */
  type Chain = Seq[(String, () => Any)]

  /** How long a failed [[buildAll]] waits for its cancelled builds to stop. */
  private val DrainS = 120L

  /** Runs each chain on a fixed pool of `workers` threads, its builds in
    * order, chains starting in declaration order; returns each build's
    * seconds in declaration order. Seconds of builds on different chains
    * overlap, so they attribute cost; the wall time of the whole run is
    * the caller's to measure.
    *
    * The pool's threads are created from the caller, so they inherit its
    * Spark local properties (a caller's job group among them), and every
    * build's jobs also carry one job tag for the run. Chains are awaited
    * in completion order, so a failure surfaces while slower chains still
    * run. On the first failure, or an interrupt of the caller, the tagged
    * jobs are cancelled, the pool is interrupted and drained for at most
    * [[DrainS]] seconds, and the failure is rethrown: the rest of the
    * failed chain and the chains still queued never start, and a failed
    * run must not let the JVM exit (TempTrees' shutdown hooks delete the
    * landing dirs) while sibling landings are still writing. */
  def buildAll(sc: SparkContext, chains: Seq[Chain], workers: Int): Seq[(String, Double)] = {
    val tag = s"graft-landing-${java.util.UUID.randomUUID()}"
    // set by the first failure, before a worker can take the next chain
    val stop = new AtomicBoolean(false)
    val pool = Executors.newFixedThreadPool(workers)
    val done = new ExecutorCompletionService[Seq[(String, Double)]](pool)
    try {
      val runs = chains.map { chain =>
        done.submit(() => {
          sc.addJobTag(tag)
          try chain.iterator.takeWhile(_ => !stop.get).map { case (name, build) =>
            val t0 = System.nanoTime()
            build()
            name -> (System.nanoTime() - t0) / 1e9
          }.toSeq
          catch { case e: Throwable => stop.set(true); throw e }
          finally sc.removeJobTag(tag)
        })
      }
      chains.foreach(_ => done.take().get())
      runs.flatMap(_.get())
    } catch { case e: Throwable =>
      stop.set(true)
      sc.cancelJobsWithTag(tag)
      pool.shutdownNow()
      pool.awaitTermination(DrainS, TimeUnit.SECONDS)
      throw (e match { case x: ExecutionException => x.getCause; case x => x })
    } finally pool.shutdown()
  }

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
        writer(df.coalesce(1)).parquet(out.toString)
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
