package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media as opaque `BINARY` payloads with a
  * typed metadata struct, and partition-wise batch decoding.
  *
  * The Spark-side architecture is the real thing — binary columns flow
  * through parquet/shuffle untouched, decode runs as `mapPartitions`
  * over typed Datasets (one decoder instance per partition, streaming
  * through rows without materializing the partition), features come back
  * as columns. The DECODER ITSELF IS A STUB: this container has no image
  * /audio codecs, so `decode` derives deterministic pseudo-features
  * (dimensions from an md5 of the payload, brightness from byte
  * statistics) instead of real pixel data. Swapping in a real codec
  * changes only the body of [[MultimodalStub.decode]].
  *
  * At 100 TB: payloads dominate bytes, so the layout keeps them in a
  * separate projected column (parquet column pruning skips them unless a
  * query touches `payload`), and decode parallelism is input-partition
  * parallelism — no shuffle anywhere in the feature path.
  */
object Multimodal {

  /** One media record: id + opaque payload + typed metadata. */
  final case class MediaRecord(doc_id: Long, payload: Array[Byte], format: String)

  /** Decoded per-item features (all deterministic from the payload). */
  final case class MediaFeatures(
      doc_id: Long,
      n_bytes: Long,
      checksum: Long,
      sampled_checksum: Long,
      width: Int,
      height: Int,
      brightness: Double)

  /** STUB decoder — deterministic fake in place of a codec call.
    * `width`/`height` are carved from md5(payload) exactly like
    * [[TextOps.hx]] (so the oracle recomputes them); `checksum` is the
    * unsigned byte sum; `sampled_checksum` reads every 10th byte (the
    * frame-sampling access pattern for video). */
  object MultimodalStub {
    def decode(r: MediaRecord): MediaFeatures = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(r.payload).map("%02x".format(_)).mkString.take(15)
      val h = java.lang.Long.parseLong(hex, 16)
      var checksum = 0L
      var sampled = 0L
      var i = 0
      while (i < r.payload.length) {
        val b = (r.payload(i) & 0xff).toLong
        checksum += b
        if (i % 10 == 0) sampled += b
        i += 1
      }
      MediaFeatures(
        doc_id = r.doc_id,
        n_bytes = r.payload.length.toLong,
        checksum = checksum,
        sampled_checksum = sampled,
        width = (1L + h % 640L).toInt,
        height = (1L + (h >> 10) % 480L).toInt,
        brightness = checksum.toDouble / r.payload.length.toDouble)
    }
  }

  /** documents → media records: the text payload stands in for an
    * encoded image/audio blob (UTF-8 bytes). Real ingestion would read
    * `binaryFile` sources or parquet BINARY columns into this shape. */
  def attachPayload(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text").cast("binary").as("payload"),
      lit("txt").as("format"))

  /** Partition-wise batch decode: one decoder per partition, iterator in
    * / iterator out (no per-partition materialization). */
  def decodeFeatures(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.as[MediaRecord].mapPartitions(_.map(MultimodalStub.decode))
  }

  /** One sampled frame of a (stub) video payload. */
  final case class FrameSample(
      doc_id: Long, frame_idx: Int, frame_bytes: Long, frame_checksum: Long)

  /** Frame sampling — the 1:N decode shape for video: the payload is a
    * sequence of `frameSize`-byte frames; every `every`-th frame is
    * emitted with its byte statistics. Real plumbing (flatMap inside
    * mapPartitions, no shuffle, payload column pruned upstream); the
    * per-frame "decode" is the stub byte sum, a codec swaps in at the
    * same seam as [[MultimodalStub.decode]]. */
  def sampleFrames(spark: SparkSession, media: DataFrame,
      frameSize: Int = 16, every: Int = 3): Dataset[FrameSample] = {
    import spark.implicits._
    media.as[MediaRecord].mapPartitions(_.flatMap { r =>
      val n = r.payload.length
      val frames = (n + frameSize - 1) / frameSize
      Iterator.range(0, frames, every).map { f =>
        val start = f * frameSize
        val end = math.min(start + frameSize, n)
        var sum = 0L
        var i = start
        while (i < end) { sum += (r.payload(i) & 0xff).toLong; i += 1 }
        FrameSample(r.doc_id, f, (end - start).toLong, sum)
      }
    })
  }

  /** Shot-boundary detection — temporal segmentation of a (stub) video
    * from its per-frame mean byte level (the luma-delta heuristic real
    * shot detectors use; a codec swaps real luma into the same
    * per-frame statistic at the [[sampleFrames]] decode seam). A
    * boundary opens where the integer mean level jumps by ≥ `levelJump`
    * against the previous frame; consecutive same-shot frames fold via
    * the running-sum island window. Returns one row per video:
    * (doc_id, n_frames, n_shots, max_shot_frames).
    *
    * Scale shape: the frame explode is the m2 narrow mapPartitions path
    * (no shuffle), both windows partition BY VIDEO (per-key local
    * sorts, never a global window), and the two rollups are one
    * partial-agg shuffle each. Integer arithmetic throughout, so the
    * SQL oracle replays it exactly. */
  def shotBoundaries(spark: SparkSession, media: DataFrame,
      frameSize: Int = 16, levelJump: Int = 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, 0)
    sampleFrames(spark, media, frameSize = frameSize, every = 1)
      .toDF()
      .withColumn("m", expr("frame_checksum div frame_bytes"))
      // null LAG (first frame) falls to otherwise(1): it opens shot 1
      .withColumn("brk",
        when(abs(col("m") - lag(col("m"), 1).over(w)) < levelJump, 0).otherwise(1))
      .withColumn("shot", sum(col("brk")).over(wRun))
      .groupBy(col("doc_id"), col("shot"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("doc_id"))
      .agg(sum(col("len")).cast("long").as("n_frames"),
        count(lit(1)).as("n_shots"),
        max(col("len")).as("max_shot_frames"))
  }

  /** IN-ROW shot count — [[shotBoundaries]]' n_shots as a single
    * stateless per-row expression over the raw text payload: the form a
    * streaming ingest can evaluate per arriving row with NO windows and
    * NO state (the rowBandKeys move, for shot segmentation). Zero-frame
    * payloads (empty text) count 0 shots.
    *
    * Runs as the native codegen kernel (`shot_count_f`, one O(n) pass
    * over the UTF-8 PAYLOAD BYTES — the same representation
    * [[shotBoundaries]] frames, so the two agree on EVERY input). The
    * declarative HOF form (`ReferenceForms.shotCountColHof`, test
    * scope) is the readable
    * contract the kernel is spec-asserted against; that HOF form is
    * CHARACTER-indexed, so kernel ≡ HOF holds on the ASCII corpus
    * contract (every codepoint < 128 — the synthetic corpus). The
    * PUBLIC CONTRACT of this function is the BYTE-indexed one: frames
    * are `frameSize` UTF-8 bytes, exactly [[shotBoundaries]]' framing
    * of the same payload — on non-ASCII payloads this intentionally
    * diverges from the char-indexed HOF (a multi-byte codepoint fills
    * more than one frame slot), and the divergence is pinned by a
    * non-ASCII golden case in PipelineOpsSpec so it can never pass
    * unnoticed. Perf
    * history: the HOF chain (interpreted lambdas + O(position) per-char
    * substring) made s21 the suite's slowest kernel; a split(text,"")
    * rewrite A/B'd SLOWER still (7.5 s vs 4.9 s — per-row char-array
    * allocation); the native kernel replaces both. */
  def shotCountCol(text: Column, frameSize: Int = 16, levelJump: Int = 12): Column =
    graft.expr.VectorExprs.shotCountF(text, frameSize, levelJump)

  /** Voice-activity segmentation of a (stub) audio payload — the VAD
    * pass an ASR training pipeline runs before transcription/packing
    * (silence removal + utterance splitting). Energy per `frameSize`-
    * byte frame is the stub mean byte level (a codec swaps real RMS
    * energy in at the [[sampleFrames]] decode seam); frames at level ≥
    * `threshold` are voiced; interior silence runs shorter than
    * `minGap` frames merge into the surrounding speech (the classic
    * VAD hangover, so breaths don't split utterances — boundary
    * silences never merge); voiced islands then aggregate to one row
    * per audio: (doc_id, n_frames, voiced_frames, n_segments,
    * max_segment_frames, voiced_ratio).
    *
    * Scale shape: the frame explode is the m2 narrow mapPartitions
    * path (no shuffle); both island passes window BY AUDIO (per-key
    * local sorts — the second pass runs on the RUN relation, ~segments
    * rows, not frames); integer arithmetic end to end with one
    * portable ratio, so the SQL oracle replays it exactly. */
  def vadSegments(spark: SparkSession, media: DataFrame,
      frameSize: Int = 8, threshold: Int = 100, minGap: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, 0)
    val flags = sampleFrames(spark, media, frameSize = frameSize, every = 1)
      .toDF()
      .withColumn("m", expr("frame_checksum div frame_bytes"))
      .withColumn("vc", when(col("m") >= threshold, 1).otherwise(0))
      .withColumn("brk", when(col("vc") === lag(col("vc"), 1).over(w), 0).otherwise(1))
      .withColumn("isl", sum(col("brk")).over(wRun))
    val runs = flags.groupBy(col("doc_id"), col("isl"))
      .agg(min(col("vc")).as("vc"), count(lit(1)).as("len"),
        min(col("frame_idx")).as("start"))
    val wD = Window.partitionBy(col("doc_id"))
    val wS = Window.partitionBy(col("doc_id")).orderBy(col("start"))
    val segs = runs
      .withColumn("vc2",
        when(col("vc") === 1, 1)
          .when(col("len") < minGap
            && col("isl") > min(col("isl")).over(wD)
            && col("isl") < max(col("isl")).over(wD), 1)
          .otherwise(0))
      .withColumn("brk2", when(col("vc2") === lag(col("vc2"), 1).over(wS), 0).otherwise(1))
      .withColumn("seg", sum(col("brk2")).over(
        wS.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("seg"))
      .agg(min(col("vc2")).as("vc2"), sum(col("len")).as("seg_len"))
    segs.groupBy(col("doc_id"))
      .agg(sum(col("seg_len")).cast("long").as("n_frames"),
        sum(when(col("vc2") === 1, col("seg_len")).otherwise(lit(0L)))
          .cast("long").as("voiced_frames"),
        sum(when(col("vc2") === 1, 1).otherwise(0)).cast("long").as("n_segments"),
        coalesce(max(when(col("vc2") === 1, col("seg_len"))), lit(0L))
          .cast("long").as("max_segment_frames"))
      .withColumn("voiced_ratio", graft.ops.TextOps.round6p(
        col("voiced_frames").cast("double") / col("n_frames").cast("double")))
  }

  /** Integer 8×8 DCT-II perceptual hash over the payload bytes — the
    * real pHash shape (dedupe near-identical media, not identical
    * bytes), in pure integer arithmetic so the DuckDB oracle replays it
    * bit-for-bit (the m4 query's SQL embeds [[PHash.C]] as a literal).
    *
    * Pipeline per payload: (1) a 64-cell "luma grid" — the payload is
    * cut into 64 equal byte segments and each cell is the fixed-point
    * segment mean `segSum * 64 / segLen` (floor); a codec would feed
    * real 8×8 downsampled luma into the same grid. (2) a 2-D DCT-II
    * with the fixed-point basis [[C]]. (3) the 15 low-frequency AC
    * coefficients (u,v ∈ 0..3, DC excluded) are compared against their
    * mean (`cf*15 > Σcf`, division-free) → a 15-bit hash.
    *
    * Brightness invariance is EXACT — for shifts that do not overflow
    * any byte: every AC basis row sums to zero even after rounding
    * (the magnitudes appear in ± pairs), and a uniform byte shift +c
    * with all `b+c` still in 0..255 moves every cell by exactly c·64
    * (`(seg + c·len)·64 / len = seg·64/len + c·64` — the shift term
    * divides out), so it cancels from every AC coefficient. A shift
    * that wraps any byte (`(b+c).toByte` wraps mod 256) changes cells
    * non-uniformly and the collision no longer holds — like real luma
    * clipping would. Payloads that differ only in a non-overflowing
    * brightness shift land in the same group; PipelineOpsSpec pins
    * both properties. */
  object PHash {
    /** Fixed-point DCT-II basis, scale 256: C(k)(n) =
      * round(256·cos(π(2n+1)k/16)). Row 0 is the DC row (all 256);
      * rows 1–7 sum to exactly 0. */
    val C: Array[Array[Long]] = Array.tabulate(8, 8)((k, n) =>
      Math.round(256.0 * math.cos(math.Pi * (2 * n + 1) * k / 16.0)))

    /** The flattened basis as a SQL list literal (oracle embedding). */
    def sqlLiteral: String =
      C.flatten.mkString("[", ", ", "]")

    def phash(payload: Array[Byte]): Long = {
      val n = payload.length
      val g = new Array[Long](64)
      var j = 0
      while (j < 64) {
        val s0 = j * n / 64
        val e0 = (j + 1) * n / 64
        if (e0 > s0) {
          var sum = 0L
          var i = s0
          while (i < e0) { sum += payload(i) & 0xff; i += 1 }
          g(j) = sum * 64L / (e0 - s0)
        }
        j += 1
      }
      val cf = new Array[Long](16)
      var t = 1
      while (t < 16) {
        val u = t / 4
        val v = t % 4
        var acc = 0L
        var i = 0
        while (i < 64) { acc += C(u)(i / 8) * C(v)(i % 8) * g(i); i += 1 }
        cf(t) = acc
        t += 1
      }
      val tot = cf.sum
      var h = 0L
      t = 1
      while (t < 16) { if (cf(t) * 15 > tot) h |= 1L << (t - 1); t += 1 }
      h
    }
  }

  /** Per-item perceptual signatures: `(doc_id, n_bytes, phash)`. The
    * same narrow mapPartitions decode seam as [[decodeFeatures]] — no
    * shuffle; the m4 dedup groups on (n_bytes, phash) downstream.
    * `n_bytes` doubles as the cheap first-pass bucket: it is invariant
    * under brightness shift (unlike the md5-derived stub dims, which
    * change with any byte), so shifted near-identical payloads still
    * collide. */
  def perceptualHashes(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.as[MediaRecord]
      .mapPartitions(_.map(r => (r.doc_id, r.payload.length.toLong, PHash.phash(r.payload))))
      .toDF("doc_id", "n_bytes", "phash")
  }

  /** Perceptual NEAR-dup pairs at Hamming distance ≤ `maxHamming` over
    * the 15-bit DCT pHash — the t8 SimHash move at the media grain:
    * three 5-bit bands (pigeonhole: ≤ 2 differing bits leave ≥ 1 of 3
    * bands intact, so banding is lossless at maxHamming = 2), equi-join
    * per band, distinct candidates, exact `bit_count(xor)` rescore.
    * Complements m4: exact pHash grouping catches non-overflowing
    * brightness shifts; the banded form also catches edits that flip a
    * couple of hash bits. Production scales the same plan by widening
    * the hash (64-bit pHash → 4×16-bit or 8×8-bit bands); the band
    * count, not the bit budget, fixes the join shape. */
  def phashNearDupPairs(spark: SparkSession, media: DataFrame,
      maxHamming: Int = 2): DataFrame = {
    require(maxHamming <= 2, "3-band pigeonhole is lossless only to Hamming 2")
    val sigs = perceptualHashes(spark, media).select(col("doc_id"), col("phash"))
    val bands = sigs.select(col("doc_id"), col("phash"),
      explode(array((0 until 3).map(t =>
        struct(lit(t).as("b"),
          (shiftright(col("phash"), 5 * t).bitwiseAND(lit(31L))).as("v"))): _*))
        .as("bk"))
      .select(col("doc_id"), col("phash"), col("bk.b"), col("bk.v"))
    val a = bands.select(col("doc_id").as("id_x"), col("phash").as("px"),
      col("b"), col("v"))
    val b = bands.select(col("doc_id").as("id_y"), col("phash").as("py"),
      col("b"), col("v"))
    a.join(b, Seq("b", "v"))
      .filter(col("id_x") < col("id_y"))
      .select(col("id_x"), col("id_y"), col("px"), col("py")).distinct()
      .select(col("id_x"), col("id_y"),
        expr("cast(bit_count(px ^ py) as bigint)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** A (stub) resize result: original dims, target dims preserving the
    * aspect ratio, and the downsampled byte statistics. */
  final case class ResizedMedia(
      doc_id: Long, width: Int, height: Int,
      out_width: Int, out_height: Int,
      out_bytes: Long, resized_checksum: Long)

  /** Resize — the 1:1 transform shape: target width `outW`, height
    * scaled to preserve the stub aspect ratio, payload downsampled by a
    * deterministic byte stride (the codec-free stand-in for pixel
    * resampling; the stride read pattern is what a real thumbnailer's
    * IO looks like). */
  def resizeMedia(spark: SparkSession, media: DataFrame, outW: Int = 64)
      : Dataset[ResizedMedia] = {
    import spark.implicits._
    media.as[MediaRecord].mapPartitions(_.map { r =>
      val f = MultimodalStub.decode(r)
      val n = r.payload.length
      val stride = math.max(n / 256, 1)
      var sum = 0L
      var count = 0L
      var i = 0
      while (i < n) { sum += (r.payload(i) & 0xff).toLong; count += 1; i += stride }
      ResizedMedia(r.doc_id, f.width, f.height,
        outW, (f.height * outW) / f.width, count, sum)
    })
  }
}
