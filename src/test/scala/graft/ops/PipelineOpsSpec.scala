package graft.ops

import graft.SparkSpec.Sf0_001
import graft.{ReferenceForms, SparkSpec}
import graft.streaming.StreamOps
import org.apache.spark.sql.functions._

/** Multimodal decode, transitive closure and streaming parity tests. */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  test("emptyFeeds seam: empty-feed run yields zero rows, normal run is untouched (floor-harness inertness)") {
    // the DataScaleCurve floor mode must (a) really starve the feed —
    // all machinery, zero rows — and (b) leave normal runs bit-identical
    // when the flag is off (it is off everywhere outside the harness)
    val dir = Sf0_001
    graft.streaming.StreamOps.emptyFeeds = true
    val starved = try StreamOps.qualityMonitor(spark, dir).count()
      finally graft.streaming.StreamOps.emptyFeeds = false
    assert(starved == 0L, s"empty-feed run must see zero rows, got $starved")
    val normal = StreamOps.qualityMonitor(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(normal.nonEmpty && normal.values.sum > 0,
      s"normal run after the flag reset must see the corpus: $normal")
  }

  test("multimodal stub decode: hand-computed features from a known payload") {
    val docs = Seq((7L, "abc")).toDF("doc_id", "text")
    val f = Multimodal.decodeFeatures(spark, Multimodal.attachPayload(docs)).head()
    assert(f.n_bytes == 3)
    assert(f.checksum == 'a'.toInt + 'b'.toInt + 'c'.toInt)
    assert(f.sampled_checksum == 'a'.toInt) // every 10th byte → index 0 only
    val h = java.lang.Long.parseLong(md5hex("abc").take(15), 16)
    assert(f.width == (1L + h % 640L).toInt)
    assert(f.height == (1L + (h >> 10) % 480L).toInt)
    assert(f.brightness == f.checksum.toDouble / 3.0)
  }

  test("multimodal: payload column stays pruned out of feature-only plans") {
    val docs = Seq((1L, "xyz")).toDF("doc_id", "text")
    val features = Multimodal.decodeFeatures(spark, Multimodal.attachPayload(docs))
    assert(features.columns.toSeq == Seq("doc_id", "n_bytes", "checksum",
      "sampled_checksum", "width", "height", "brightness"))
  }

  test("pHash DCT basis: DC row flat, every AC row sums to exactly zero") {
    val C = Multimodal.PHash.C
    assert(C(0).forall(_ == 256L), "DC row must be the flat 256 row")
    (1 until 8).foreach { k =>
      assert(C(k).sum == 0L, s"AC row $k sums to ${C(k).sum}, breaking shift invariance")
    }
    // fixed-point magnitudes appear in ± pairs: C(k)(7-n) = (-1)^k C(k)(n)
    for (k <- 1 until 8; n <- 0 until 4)
      assert(C(k)(7 - n) == (if (k % 2 == 0) C(k)(n) else -C(k)(n)))
  }

  test("pHash: uniform brightness shift collides, different content separates") {
    val rnd = new scala.util.Random(7)
    val p1 = Array.fill(333)((40 + rnd.nextInt(80)).toByte)
    val shifted = p1.map(b => (b + 5).toByte)
    val other = Array.fill(333)((40 + rnd.nextInt(80)).toByte)
    assert(Multimodal.PHash.phash(p1) == Multimodal.PHash.phash(shifted),
      "a uniform +5 brightness shift must not change the hash")
    assert(Multimodal.PHash.phash(p1) != Multimodal.PHash.phash(other),
      "independent content should separate")
    // and through the registered m4 path: same (n_bytes, phash) group key
    val docs = Seq((1L, new String(p1.map(_.toChar))),
      (2L, new String(shifted.map(_.toChar)))).toDF("doc_id", "text")
    val sigs = Multimodal.perceptualHashes(spark, Multimodal.attachPayload(docs))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(sigs.size == 1, "brightness-shifted payloads must share one dedup group")
  }

  test("phashNearDupPairs: banded pairs equal the brute-force Hamming<=2 set") {
    val rnd = new scala.util.Random(11)
    val payloads = (1L to 12L).map { i =>
      i -> Array.fill(200 + rnd.nextInt(100))((35 + rnd.nextInt(85)).toByte)
    }
    // doc 13 = doc 1 shifted (hamming 0 by the brightness invariance)
    val all = payloads :+ (13L -> payloads.head._2.map(b => (b + 3).toByte))
    val docs = all.map { case (id, p) => (id, new String(p.map(_.toChar))) }
      .toDF("doc_id", "text")
    val got = Multimodal.phashNearDupPairs(spark, Multimodal.attachPayload(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ph = all.map { case (id, p) => id -> Multimodal.PHash.phash(p) }.toMap
    val want = (for {
      x <- all.map(_._1); y <- all.map(_._1) if x < y
      h = java.lang.Long.bitCount(ph(x) ^ ph(y)) if h <= 2
    } yield (x, y, h.toLong)).toSet
    assert(got == want,
      s"banding must be lossless to Hamming 2: got $got want $want")
    assert(got.contains((1L, 13L, 0L)),
      "the brightness-shifted twin must pair at distance 0")
  }

  test("transitiveClosure: all ancestors on a known tree") {
    // 0 ← 1,2 ; 1 ← 3,4 : node 3's ancestors are {1, 0}
    val tree = Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L))
    val want = Set((1L, 0L), (2L, 0L), (3L, 1L), (3L, 0L), (4L, 1L), (4L, 0L))
    assert(graft.ReferenceForms.transitiveClosure(tree) == want)
    val closure = GraphOps.transitiveClosureDoubling(tree.toDF("child", "parent"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(closure == want)
  }

  test("transitiveClosureDoubling equals the stepping closure (tree + deep chain + DAG)") {
    // tree fixture above, a 17-deep chain (forces >4 doubling rounds),
    // and a diamond DAG (two paths to the same ancestor must not dup)
    val fixtures = Seq(
      Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L)),
      (1 until 17).map(i => (i.toLong, (i - 1).toLong)),
      Seq((1L, 0L), (2L, 0L), (3L, 1L), (3L, 2L), (4L, 3L)))
    for (fx <- fixtures) {
      val edges = fx.toDF("child", "parent")
      val step = graft.ReferenceForms.transitiveClosure(fx)
      val dbl = GraphOps.transitiveClosureDoubling(edges)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(dbl.length == dbl.toSet.size, "doubling must not emit duplicate pairs")
      assert(dbl.toSet == step, s"closures diverged on fixture $fx")
    }
  }

  test("transitiveClosureDoubling equals stepping on random DAGs (property)") {
    import org.scalacheck.Gen
    // random DAGs: edges only point from higher to lower ids, so no
    // cycles by construction; sizes chosen to cross several doubling
    // round boundaries (depth can reach ~n on chain-heavy draws)
    val dagGen = for {
      n <- Gen.chooseNum(2, 24)
      edges <- Gen.listOf(for {
        c <- Gen.chooseNum(1, n - 1)
        p <- Gen.chooseNum(0, c - 1)
      } yield (c.toLong, p.toLong))
    } yield edges.distinct
    for (fx <- Gen.listOfN(8, dagGen).sample.get if fx.nonEmpty) {
      val edges = fx.toDF("child", "parent")
      val step = graft.ReferenceForms.transitiveClosure(fx)
      val dbl = GraphOps.transitiveClosureDoubling(edges)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(dbl.length == dbl.toSet.size, s"duplicate pairs on $fx")
      assert(dbl.toSet == step, s"closures diverged on $fx")
    }
  }

  test("A4 recentchange parity: language/namespace filter + seen-title dedup over micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def rc(server: String, ns: Int, title: String) = (server, ns, title, false, "edit", t0)
    val input = MemoryStream[(String, Int, String, Boolean, String, java.sql.Timestamp)]
    val stream = StreamOps.recentChangeDedup(
      input.toDF().toDF("server_name", "namespace", "title", "bot", "type", "ts"))
    val q = stream.writeStream.format("memory").queryName("rc_dedup")
      .outputMode("append").start()
    // batch 1: en article, en talk-page (ns 1), german article, a dup
    input.addData(rc("en.wikipedia.org", 0, "A"), rc("en.wikipedia.org", 1, "Talk:A"),
      rc("de.wikipedia.org", 0, "B"), rc("en.wikipedia.org", 0, "A"))
    q.processAllAvailable()
    // batch 2: same title again (state dedup across batches) + a new one
    input.addData(rc("en.wikipedia.org", 0, "A"), rc("en.wikipedia.org", 0, "C"))
    q.processAllAvailable()
    q.stop()
    val titles = spark.table("rc_dedup").select("title")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(titles == Seq("A", "C")) // ns-1, de, and dups all dropped
  }

  test("streaming windowed counts equal the batch group-by (parity)") {
    val streamed = StreamOps.windowedCounts(spark, Sf0_001)
      .select("day", "event_type", "n_events")
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = graft.Tables(spark, Sf0_001, "events")
      .groupBy(date_trunc("day", $"ts").as("day"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
  }

  test("streaming sources read a data dir given relative to the working directory") {
    // the file sources stage a symlink to the table in a scratch dir; a
    // relative link target would resolve against that dir and dangle
    val abs = java.nio.file.Paths.get(Sf0_001)
    val rel = java.nio.file.Paths.get("").toAbsolutePath.relativize(abs).toString
    assert(!rel.startsWith("/"), rel)
    import org.apache.spark.sql.{DataFrame, SparkSession}
    val queries = Seq[(String, (SparkSession, String) => DataFrame)](
      "qualityMonitor" -> StreamOps.qualityMonitor, "windowedCounts" -> StreamOps.windowedCounts)
    for ((name, q) <- queries) {
      def rows(dir: String) = q(spark, dir).collect().map(_.toString).sorted.toSeq
      val fromRel = rows(rel)
      assert(fromRel.nonEmpty, s"$name from $rel")
      assert(fromRel == rows(abs.toString), name)
    }
  }

  test("s16: streamed CMS cells are bit-identical to the batch sketch") {
    val dir = Sf0_001
    val tc = graft.queries.TrainingData.cmsVocab(spark, dir)
    val batch = graft.queries.TrainingData.cmsRows(tc)
      .groupBy(col("k"), col("b")).agg(sum(col("freq")).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val streamed = StreamOps.cmsCellStream(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    // cell-grain equality — stronger than the top-20 the oracle checks:
    // the mergeable sketch is the SAME object however it was built
    assert(streamed == batch)
    assert(batch.nonEmpty && batch.values.forall(_ >= 1))
  }

  test("s20: streamed histogram cells are bit-identical to the batch sketch") {
    val dir = Sf0_001
    val streamed = StreamOps.histCellStream(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.Tables(spark, dir, "documents")
      .select(least(expr("size(split(text, ' ')) div 4"), lit(255)).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
    assert(batch.values.sum == graft.Tables(spark, dir, "documents").count())
  }

  test("s17: streamed per-source totals are bit-identical to the batch mixture") {
    val dir = Sf0_001
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    val streamed = keyed(graft.SparkEntry.queries("s17_stream_domain_mix")(spark, dir).collect())
    val batch = keyed(graft.SparkEntry.queries("t36_domain_mix")(spark, dir).collect())
    // full-report equality — counts, token sums AND the derived shares:
    // the additive aggregate is the SAME object however it was built
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("s18: left-outer interval join emits matches in-batch and the NULL row after the watermark passes") {
    val rows = StreamOps.leftOuterIntervalJoin(spark)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(3)).map(_.asInstanceOf[Long]))).toSet
    // clicks 1 and 3 match their views; click 2 NULL-extends only
    // because the AvailableNow cleanup batch ran with the watermark
    // (19:30) past its last possible match time (10:00)
    assert(rows == Set((1L, 1L, Some(100L)), (2L, 2L, None), (3L, 9L, Some(101L))))
  }

  test("m6: shot boundaries split on a >=12 mean-level jump and merge runs below it") {
    import spark.implicits._
    // 2 frames of 'a' (mean 97), 2 frames of 'z' (mean 122): one jump
    // of 25 at frame 2 → two 2-frame shots. Doc 2 is uniform → 1 shot.
    // Doc 3's partial tail frame ('b'*8, mean 98) stays in shot 1
    // (delta 1 < 12).
    val docs = Seq(
      (1L, "a" * 32 + "z" * 32),
      (2L, "q" * 48),
      (3L, "a" * 32 + "b" * 8)
    ).toDF("doc_id", "text")
    val got = Multimodal.shotBoundaries(spark, Multimodal.attachPayload(docs))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      1L -> ((4L, 2L, 2L)),
      2L -> ((3L, 1L, 3L)),
      3L -> ((3L, 1L, 3L))), s"shot segmentation mismatch: $got")
  }

  test("m8: VAD hangover merges interior 1-frame silences, never boundary ones") {
    import spark.implicits._
    // frames of 8: 'z'*8 → mean 122 (voiced), ' '*8 → mean 32 (silent).
    // doc 1 V S V: interior 1-frame silence merges → ONE 3-frame segment
    // doc 2 V S S V: 2-frame gap ≥ minGap stays → TWO 1-frame segments
    // doc 3 S V: boundary silence never merges → one segment, ratio 0.5
    // doc 4 all silence: zero segments, ratio 0
    val V = "z" * 8; val S = " " * 8
    val docs = Seq(
      (1L, V + S + V),
      (2L, V + S + S + V),
      (3L, S + V),
      (4L, S + S)
    ).toDF("doc_id", "text")
    val got = Multimodal.vadSegments(spark, Multimodal.attachPayload(docs))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got == Map(
      1L -> ((3L, 3L, 1L, 3L, 1.0)),
      2L -> ((4L, 2L, 2L, 1L, 0.5)),
      3L -> ((2L, 1L, 1L, 1L, 0.5)),
      4L -> ((2L, 0L, 0L, 0L, 0.0))), s"VAD segmentation mismatch: $got")
  }

  test("m8/s34: the in-row VAD kernel equals the window-based path per doc") {
    import spark.implicits._
    val V = "z" * 8; val S = " " * 8
    val fixture = Seq(
      (1L, V + S + V), (2L, V + S + S + V), (3L, S + V), (4L, S + S),
      (5L, V + S + V + S + S + V + S), (6L, "z" * 3), (7L, " " * 3)
    ).toDF("doc_id", "text")
    val corpus = graft.Tables(spark, Sf0_001, "documents")
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) > 0)
    for (docs <- Seq(fixture, corpus)) {
      val batch = Multimodal.vadSegments(spark, Multimodal.attachPayload(docs))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      val kernel = docs.select(col("doc_id"),
          graft.expr.VectorExprs.vadStatsF(col("text"), 8, 100, 2).as("v"))
        .collect().map { r =>
          val a = r.getSeq[Long](1)
          r.getLong(0) -> ((a(0), a(1), a(2), a(3)))
        }.toMap
      assert(kernel.nonEmpty && kernel == batch,
        "in-row VAD kernel must equal the window-based batch path row by row")
    }
  }

  test("m8 property: VAD kernel equals an independent reference on random payloads") {
    import org.scalacheck.Gen
    // independent re-implementation: frames -> flags -> hangover -> segments
    def reference(s: String, frame: Int, thr: Int, minGap: Int): (Long, Long, Long, Long) = {
      val bytes = s.getBytes("UTF-8")
      if (bytes.isEmpty) return (0L, 0L, 0L, 0L)
      val flags = bytes.grouped(frame)
        .map(f => f.map(_ & 0xff).sum / f.length >= thr).toArray
      // run-length encode
      val runs = scala.collection.mutable.ArrayBuffer[(Boolean, Int)]()
      flags.foreach { v =>
        if (runs.nonEmpty && runs.last._1 == v)
          runs(runs.length - 1) = (v, runs.last._2 + 1)
        else runs += ((v, 1))
      }
      // hangover: interior short silences flip voiced
      val sm = runs.zipWithIndex.map { case ((v, len), i) =>
        if (!v && len < minGap && i > 0 && i < runs.length - 1) (true, len) else (v, len)
      }
      // merge adjacent voiced runs into segments
      val segs = scala.collection.mutable.ArrayBuffer[Long]()
      var acc = 0L
      sm.foreach { case (v, len) =>
        if (v) acc += len
        else { if (acc > 0) segs += acc; acc = 0 }
      }
      if (acc > 0) segs += acc
      (flags.length.toLong, segs.sum, segs.length.toLong,
        if (segs.isEmpty) 0L else segs.max)
    }
    val payload: Gen[String] = Gen.chooseNum(0, 60).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(
        (5, Gen.const('z')), (5, Gen.const(' ')), (2, Gen.alphaNumChar))).map(_.mkString))
    val inputs = Gen.listOfN(120, payload).sample.get
    inputs.foreach { s =>
      val a = org.apache.spark.sql.graftshim.VadUtil.stats(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), 8, 100, 2)
      val got = (a(0), a(1), a(2), a(3))
      assert(got == reference(s, 8, 100, 2),
        s"kernel vs reference mismatch on ${s.length}-byte payload '$s'")
    }
  }

  test("m6/s21: the in-row shot-count kernel equals the window-based path per doc") {
    val dir = Sf0_001
    val docs = graft.Tables(spark, dir, "documents").filter(length($"text") > 0)
    val inRow = docs
      .select($"doc_id", Multimodal.shotCountCol($"text").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val windowed = Multimodal.shotBoundaries(spark, Multimodal.attachPayload(docs))
      .select($"doc_id", $"n_shots")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inRow == windowed, "stateless kernel diverges from the window path")
    assert(inRow.nonEmpty && inRow.values.forall(_ >= 1))
    // and the native codegen kernel equals the declarative HOF contract
    // it replaced (the minhashSigsF precedent), corpus-wide
    val hof = docs
      .select($"doc_id", ReferenceForms.shotCountColHof($"text").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inRow == hof, "native shot kernel diverges from the HOF form")
  }

  test("shotCountCol public contract is BYTE-indexed: non-ASCII divergence from the char HOF is pinned") {
    // 16 ASCII 'a' (1 byte each) + 8 '£' (2 UTF-8 bytes each): byte
    // frames at 16 are [97, 178] (Δ81), char frames are [97, 163]
    // (Δ66). At levelJump 70 the byte-indexed kernel — the public,
    // shotBoundaries-compatible contract — counts 2 shots while the
    // char-indexed HOF counts 1. This golden pins the intentional
    // divergence (ADVICE r11) so a non-ASCII caller can't mistake the
    // HOF equivalence for a universal one; at the default levelJump 12
    // both forms agree (2) even on this payload.
    val df = Seq(("a" * 16) + ("£" * 8)).toDF("text")
    def one(c: org.apache.spark.sql.Column): Long =
      df.select(c.cast("long")).head().getLong(0)
    assert(one(Multimodal.shotCountCol($"text", 16, 70)) == 2L,
      "byte-indexed kernel golden")
    assert(one(ReferenceForms.shotCountColHof($"text", 16, 70)) == 1L,
      "char-indexed HOF golden (the documented divergence)")
    assert(one(Multimodal.shotCountCol($"text", 16, 12)) == 2L &&
      one(ReferenceForms.shotCountColHof($"text", 16, 12)) == 2L,
      "default levelJump agrees on this payload")
  }

  test("m5: flagged pairs verify against independently recomputed frame sets") {
    val dir = Sf0_001
    val rows = graft.SparkEntry.queries("m5_video_neardup")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "oriented pairs")
      val ov = r.getDouble(3)
      assert(ov >= 0.5 && ov <= 1.0, s"overlap=$ov escaped the 50% gate")
    }
    // recompute the first flagged pair's frame sets independently from
    // the raw payload bytes: sampled 16-byte frames at stride 48,
    // distinct house-hash fingerprints, overlap vs the smaller set
    val first = rows.head
    def fps(id: Long): Set[Long] = {
      val text = graft.Tables(spark, dir, "documents")
        .filter(col("doc_id") === id).select(col("text")).head().getString(0)
      (0 until (text.length + 15) / 16).filter(_ % 3 == 0)
        .map(i => TextOps.hxScala(
          text.substring(i * 16, math.min(i * 16 + 16, text.length)))).toSet
    }
    val (fa, fb) = (fps(first.getLong(0)), fps(first.getLong(1)))
    val common = fa.intersect(fb).size
    assert(common == first.getLong(2), "n_common must be the exact set intersection")
    val exactOv = common.toDouble / math.min(fa.size, fb.size)
    assert(math.abs(exactOv - first.getDouble(3)) < 1e-6,
      s"reported overlap must match the recomputed one: $exactOv vs ${first.getDouble(3)}")
  }
}
