package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.SpanSugar._

/** The land-once seam: one build per key however many callers race for
  * it, the build outside any map lock (so builds of unrelated keys and
  * nested builds proceed), failures rethrown to every waiter and then
  * retried, a never-waiting peek at finished values, and one parquet
  * encoding for every landed file. */
class LandingSpec extends SparkSpec with TimeLimits {
  // interrupt the test thread at the limit, so a hang fails the test
  private implicit val signaler: Signaler = ThreadSignaler

  /** Runs `body` on a new thread; `join` gives its value or what it threw. */
  private final class Worker[T](body: => T) {
    @volatile private var out: Either[Throwable, T] = null
    val thread = new Thread(() => out = try Right(body) catch { case e: Throwable => Left(e) })
    thread.start()
    def join(): Either[Throwable, T] = { thread.join(); out }
  }

  /** Two distinct keys in one bin of a fresh 16-bin ConcurrentHashMap
    * (the JDK's spread of `hashCode`, masked to 4 bits). */
  private lazy val sameBin: (String, String) = {
    def bin(k: String) = { val h = k.hashCode; (h ^ (h >>> 16)) & 15 }
    val keys = (0 until 64).map(i => s"sf/t$i")
    keys.tail.collectFirst { case k if bin(k) == bin(keys.head) => (keys.head, k) }.get
  }

  /** Waits until `t` is parked, i.e. blocked waiting on a build. */
  private def awaitParked(t: Thread): Unit =
    while (t.getState != Thread.State.WAITING) Thread.sleep(1)

  test("concurrent callers of one key share exactly one build") {
    failAfter(30.seconds) {
      val memo = new Landing.Memo[Object]
      val builds = new AtomicInteger(0)
      val go = new CountDownLatch(1)
      val callers = (1 to 8).map(_ => new Worker({
        go.await()
        memo("k") { builds.incrementAndGet(); Thread.sleep(50); new Object }
      }))
      go.countDown()
      val got = callers.map(_.join().toOption.get)
      assert(builds.get() == 1)
      assert(got.forall(_ eq got.head))
    }
  }

  test("a failed build rethrows to its waiters and the next call rebuilds") {
    failAfter(30.seconds) {
      val memo = new Landing.Memo[Int]
      val started = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      val builder = new Worker(memo("k") {
        started.countDown(); release.await(); throw new IllegalStateException("boom")
      })
      started.await()
      val waiters = (1 to 3).map(_ => new Worker(memo("k")(fail("a waiter must not build"))))
      waiters.foreach(w => awaitParked(w.thread))
      release.countDown()
      for (w <- builder +: waiters) {
        val e = w.join().swap.toOption.get
        assert(e.isInstanceOf[IllegalStateException] && e.getMessage == "boom")
      }
      assert(memo.done("k").isEmpty)
      assert(memo("k")(42) == 42)
      assert(memo.done("k").contains(42))
    }
  }

  test("a build may land another key of the same memo") {
    failAfter(30.seconds) {
      // claims reads refs: the nested key shares the outer key's bin,
      // where a nested computeIfAbsent is a recursive update
      val (claims, refs) = sameBin
      val memo = new Landing.Memo[String]
      assert(memo(claims)(memo(refs)("refs") + "+claims") == "refs+claims")
      assert(memo.done(refs).contains("refs"))
    }
  }

  test("builds of two keys in one map bin run at the same time") {
    failAfter(30.seconds) {
      val (a, b) = sameBin
      val memo = new Landing.Memo[Boolean]
      val both = new CountDownLatch(2)
      def build() = { both.countDown(); both.await(10, TimeUnit.SECONDS) }
      val workers = Seq(new Worker(memo(a)(build())), new Worker(memo(b)(build())))
      assert(workers.map(_.join()) == Seq(Right(true), Right(true)),
        "each build must see the other one running")
    }
  }

  test("done never waits: None while the build is in flight") {
    failAfter(30.seconds) {
      val memo = new Landing.Memo[String]
      val started = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      val builder = new Worker(memo("k") { started.countDown(); release.await(); "v" })
      started.await()
      assert(memo.done("k").isEmpty)
      assert(memo.done("other").isEmpty)
      release.countDown()
      assert(builder.join() == Right("v"))
      assert(memo.done("k").contains("v"))
    }
  }

  test("feed stages one file per batch with mtimes 60 s apart, once per key") {
    failAfter(60.seconds) {
      import java.nio.file.Files
      val memo = new Landing.Memo[java.nio.file.Path]
      val dir = Landing.feed(memo, "f")((0 until 3).map(i => spark.range(i * 10L, i * 10L + 5).toDF()))
      val files = Files.list(dir).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .sortBy(_.getFileName.toString)
      assert(files.map(_.getFileName.toString).toSeq ==
        Seq("batch_00.parquet", "batch_01.parquet", "batch_02.parquet"))
      assert(files.map(Files.getLastModifiedTime(_).toMillis).toSeq ==
        Seq(1700000000000L, 1700000060000L, 1700000120000L))
      assert(spark.read.parquet(files(1).toString).collect().map(_.getLong(0)).sorted.toSeq ==
        (10L until 15L))
      assert(Landing.feed(memo, "f")(fail("a staged feed must not rebuild")) == dir)
    }
  }

  /** The codec of every column chunk in the parquet `files`, read from
    * their footers. */
  private def chunkCodecs(files: Seq[String]): Seq[String] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    files.flatMap { f =>
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f), conf))
      try r.getFooter.getBlocks.asScala.toSeq
        .flatMap(_.getColumns.asScala.map(_.getCodec.name))
      finally r.close()
    }
  }

  test("every landed parquet file is zstd: parquet, reland, feed, growth run, index table") {
    failAfter(180.seconds) {
      import java.nio.file.Files
      import org.apache.spark.sql.functions._
      // a source dir of every re-landable table, written with Spark's
      // default codec; embeddings carries what the embedding-index
      // growth run reads (ids 7, 17, 27, 37 form its arrival slice)
      val sf = TempTrees.scratch("graft-codec-src").toString
      for (t <- Seq("documents", "lineitem", "orders", "events", "customer", "supplier", "part"))
        spark.range(20).write.parquet(s"$sf/$t.parquet")
      spark.range(40).select(col("id").as("vec_id"),
          array((0 until 64).map(i => ((col("id") * 7 + i) % 11 - 5).cast("float")): _*)
            .as("embedding"),
          (col("id") % 3).cast("int").as("label"))
        .write.parquet(s"$sf/embeddings.parquet")

      val landed = Landing.parquet(spark, sf, "codec_probe.parquet")(spark.range(50).toDF())
      Tables.reland(spark, sf, 2)
      val feed = Landing.feed(new Landing.Memo[java.nio.file.Path], "codec")(
        Seq(spark.range(5).toDF()))
      val (gate, buckets) = graft.streaming.StreamOps.growEmbIndex(spark, sf)
      // a catalog table: the codec reaches the writer as a table option
      val table = "graft_codec_probe"
      try {
        graft.ops.IndexMaintenance.writeCompacted(spark.range(40).toDF(), table, 2, "id")
        val places = Seq(
          "Landing.parquet" -> landed.inputFiles.toSeq,
          "Tables.reland" -> Tables(spark, sf, "orders").inputFiles.toSeq,
          "Landing.feed" -> Files.list(feed).toArray.map(_.toString).toSeq,
          "growEmbIndex" -> (gate.inputFiles ++ buckets.inputFiles).toSeq,
          "writeCompacted" -> spark.table(table).inputFiles.toSeq)
        // distinct codecs per place: ZSTD alone, so at least one chunk
        val codecs = places.map { case (place, files) => place -> chunkCodecs(files).distinct }
        assert(codecs.forall(_._2 == Seq("ZSTD")), codecs)
      } finally spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  /** The Spark jobs `body` starts on this thread, counted by job group.
    * A sentinel job run afterwards flushes the listener bus, which
    * delivers events in order, so every counted job has been seen. */
  private def jobsOf(body: => Any): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"graft-jobs-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-sentinel"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted reads")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "listener flush")
      try spark.range(1).count() finally sc.clearJobGroup()
      while (!seen.contains(sentinel)) Thread.sleep(5)
      seen.toArray.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  test("reading a raw table, a re-landed table and a built landing starts no job") {
    failAfter(180.seconds) {
      // a source dir with region (read raw) and the re-landable tables
      val sf = TempTrees.scratch("graft-jobs-src").toString
      for (t <- "region" +: Tables.relandable)
        spark.range(20).selectExpr("id", "cast(id AS string) AS name")
          .write.parquet(s"$sf/$t.parquet")
      Tables.reland(spark, sf, 2)
      val probe = spark.range(30).toDF()
      Landing.parquet(spark, sf, "jobs_probe.parquet")(probe)
      val jobs = jobsOf {
        Seq(Tables(spark, sf, "region"), Tables(spark, sf, "orders"),
          Landing.parquet(spark, sf, "jobs_probe.parquet")(fail("a built landing must not rebuild"))
        ).map(_.schema)
      }
      assert(jobs == 0)
      // the reads still scan: the raw table and the re-landed copy
      assert(Tables(spark, sf, "orders").inputFiles.length == 2)
      assert(Tables(spark, sf, "region").count() == 20)
    }
  }

  test("main code reads parquet through Landing.read, bar the named partitioned and warm-up reads") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // the reads outside Landing that may infer their schema, each once:
    // partition discovery types a grown dir's batch_id (readGrown), and
    // Bench's warm-up job warms the inference path on purpose
    val allowed = Seq(
      "graft/streaming/StreamOps.scala" ->
        """spark.read.parquet(dir).withColumn("batch_id", col("batch_id").cast("long"))""",
      "graft/Bench.scala" -> """spark.read.parquet(s"$sfDir/nation.parquet").count()""")
    val root = Paths.get("src/main/scala")
    val sources = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.nonEmpty)
    val reads = for {
      file <- sources
      rel = root.relativize(file).toString if rel != "graft/Landing.scala"
      line <- Files.readAllLines(file).asScala if line.contains(".read.parquet(")
    } yield rel -> line.trim
    assert(reads.sorted == allowed.sorted,
      s"schema-inferring reads outside Landing: ${reads.diff(allowed)}")
  }
}
