package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming parity for the reference's designed-but-disabled
  * EventStream consumer (SURVEY.md A4: SSE `recentchange` events →
  * filter → in-memory seen-title dedup). The reference's unbounded
  * seen-set is exactly the anti-pattern watermarks fix: here state is
  * bounded by `withWatermark`, dedup is `dropDuplicates` over the key,
  * and windowed aggregation replaces the ad-hoc per-event counters.
  *
  * These helpers run the stream with `Trigger.AvailableNow` over the
  * bounded test table so batch-vs-stream parity is oracle-checkable; a
  * production deployment swaps the file source for Kafka/SSE and the
  * memory sink for a real one — the query graph is unchanged.
  */
object StreamOps {

  /** Raw parquet schema of the events table. `ts` has been generated as
    * TIMESTAMP(NANOS) (→ read as LONG) in some driver rounds and
    * TIMESTAMP(MICROS, NTZ) in others, so the raw type is probed from
    * the file footer (batch read, schema only) and the stream source
    * declares whatever is physically there; graft.Tables.normalizeTsCol
    * then maps it to session-TZ TimestampType either way. */
  private def eventsRawSchema(tsType: DataType) = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming source over the events parquet (file-source micro-batches
    * stand in for the SSE/Kafka feed). The file source requires a
    * DIRECTORY to monitor; the test table is a single file, so stage a
    * symlink to it in a temp dir — zero-copy, and the same shape as a
    * landing-directory ingest layout in production. */
  /** Scratch dirs staged once per key and reused across every
    * Verify/Bench/test invocation in the JVM: source symlinks, empty
    * feeds, synthesized and sliced feeds, the streamed hash index. */
  private val staged = new graft.Landing.Memo[java.nio.file.Path]

  private def stagedDir(sfDir: String, table: String): java.nio.file.Path = {
    import java.nio.file.{Files, Paths}
    // absolute: a relative link target resolves against the link's own
    // (scratch) directory, so a relative sfDir would leave it dangling
    val target = Paths.get(s"$sfDir/$table.parquet").toAbsolutePath.normalize
    staged(s"src/$target") {
      val stage = graft.TempTrees.scratch("graft-stream-src")
      Files.createSymbolicLink(stage.resolve(s"$table.parquet"), target)
      stage
    }
  }

  /** EMPTY-FEED mode (DataScaleCurve's streaming floor harness, r13
    * verdict #4): when set, every streaming FEED resolves to a
    * memoized empty directory, so a query runs ALL of its micro-batch
    * machinery — source listing, trigger, checkpoint and commit-log
    * writes, sink setup, memoized-state reads — over zero arriving
    * rows. The measured time is the query's RESTART FLOOR: the part of
    * its bench cost that does not scale with data. Never set outside
    * the measurement harness; feeds resolve normally when false. */
  @volatile private[graft] var emptyFeeds: Boolean = false
  private def feedPath(real: String): String =
    if (!emptyFeeds) real
    else staged(s"empty/$real")(graft.TempTrees.scratch("graft-empty-feed")).toString

  def eventStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dir = stagedDir(sfDir, "events").toString
    // ts type probed from the REAL table even in empty-feed mode (an
    // empty dir has no footer to probe)
    val tsType = spark.read.parquet(dir).schema("ts").dataType
    graft.Tables.normalizeTsCol(
      spark.readStream
        .schema(eventsRawSchema(tsType))
        .parquet(feedPath(dir)), "ts")
  }

  /** Raw parquet schema of the documents table. */
  private val docsRawSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming source over the documents parquet — the document-ingest
    * feed of a training-data pipeline, staged exactly like
    * [[eventStream]]. */
  def docStream(spark: SparkSession, sfDir: String): DataFrame =
    spark.readStream
      .schema(docsRawSchema)
      .parquet(feedPath(stagedDir(sfDir, "documents").toString))

  /** Streaming data-quality monitor: the t35 rule pack applied
    * STATELESS to the document ingest stream (pure narrow map — no
    * watermark, no per-key state) with per-source keep-rate aggregates
    * in complete mode. The dashboard a 100 TB ingest runs beside the
    * landing sink: a feed whose keep_rate drops is caught while the
    * batch curation job is still hours away. Integer rule comparisons
    * ⇒ batch and micro-batch plans decide identically, so the bounded
    * result equals the batch GROUP BY exactly. */
  def qualityMonitor(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = graft.ops.TextOps.tokens(col("text"))
    val agg = docStream(spark, sfDir)
      .select(col("source"), graft.ops.TextOps.qualityKeep(toks).as("keep"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), lit(1L)).otherwise(lit(0L))).as("n_keep"))
      .select(col("source"), col("n_docs"), col("n_keep"),
        graft.ops.TextOps.round6p(col("n_keep").cast("double") / col("n_docs").cast("double"))
          .as("keep_rate"))
    runToTable(spark, agg, "stream_quality_monitor", "complete")
  }

  /** Streaming CMS cell builder: the t69 4×1024 count-min cells
    * aggregated in the document-ingest micro-batch (complete mode).
    * The sketch is mergeable by construction — per-batch partial
    * counts add cell-wise under the streaming aggregation's state —
    * so arrival order and batch boundaries cannot change any cell,
    * and the streamed sketch is bit-identical to the batch one
    * (s16 hash-proves it against t69's own oracle). */
  def cmsCellStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.TextOps
    val cells = docStream(spark, sfDir)
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
      .withColumn("kb", explode(array((0 until 4).map(k =>
        struct(lit(k).as("k"), pmod(TextOps.hxk(k, col("tok")), lit(1024L)).as("b"))): _*)))
      .groupBy(col("kb.k").as("k"), col("kb.b").as("b"))
      .agg(count(lit(1)).as("c"))
    runToTable(spark, cells, "stream_cms_cells", "complete")
  }

  /** Streaming salt-decision profile: the (band, band_key) document
    * frequencies of the MinHash band index maintained in the ingest
    * micro-batch (complete mode). Band keys compute IN-ROW per arriving
    * document ([[graft.ops.DedupOps.rowBandKeys]] — the native
    * signature kernel, no shingle explode, no state), and key counts
    * merge by ADDITION, so the streamed profile is bit-identical to
    * profiling the batch-landed band index — which makes the salt
    * decision a stream can serve ([[graft.ops.DedupOps.saltDecisionCard]]
    * over this profile) THE SAME decision the batch pre-flight (t93)
    * prices: s31 hash-proves it against t93's own oracle. This is the
    * operational form of the skew pre-flight: the ingest maintains the
    * hot-bucket evidence continuously, so a dedup launch reads a
    * current salt verdict instead of paying a corpus profiling pass. */
  def saltProfileStream(spark: SparkSession, sfDir: String,
      k: Int, bands: Int): DataFrame = {
    val prof = graft.ops.DedupOps.rowBandKeys(
        docStream(spark, sfDir), "doc_id", col("text"), k, bands)
      .groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("df"))
    runToTable(spark, prof, "stream_salt_profile", "complete")
  }

  /** Streaming BPE token-budget cells: each arriving document's words
    * encode IN-ROW under the landed trained merge list
    * ([[graft.ops.TextOps.bpeEncodeCol]] — the merge pairs are
    * broadcast literals, the greedy replace chain is a stateless
    * codegen'd expression, so unseen words still encode via character
    * fallback and the stream needs NO vocabulary join and NO state),
    * aggregated to (source, doc_id) grain in complete mode. Counts and
    * symbol sums merge by addition, so the landed cells are
    * bit-identical to a batch rebuild; s32 serves t48's per-source
    * card off them against t48's own oracle — the token-budget
    * dashboard (syms/word under the production tokenizer) maintained
    * live at ingest. */
  def bpeCellStream(spark: SparkSession, sfDir: String): DataFrame = {
    val merges = graft.queries.TrainingData.bpeMergeList(spark, sfDir)
    val cells = docStream(spark, sfDir)
      .select(col("source"), col("doc_id"),
        explode(graft.ops.TextOps.tokens(col("text"))).as("word"))
      .select(col("source"), col("doc_id"),
        graft.ops.TextOps.bpeEncodeCol(col("word"), merges).as("n_sym"))
      .groupBy(col("source"), col("doc_id"))
      .agg(count(lit(1)).as("ws_tokens"), sum(col("n_sym")).as("bpe_tokens"))
    runToTable(spark, cells, "stream_bpe_cells", "complete")
  }

  /** Streaming histogram-sketch builder: t68's 256-bucket equi-width
    * token-count histogram aggregated in the document-ingest
    * micro-batch (complete mode). Bucket counts merge by ADDITION —
    * the defining property of the sketch — so the streamed cells are
    * bit-identical to a batch rebuild, and the SAME quantile tail
    * (t68's) serves percentiles off the ingest-maintained state (s20
    * hash-proves it against t68's own oracle). */
  def histCellStream(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = docStream(spark, sfDir)
      .select(least(expr("size(split(text, ' ')) div 4"), lit(255)).as("b"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("c"))
    runToTable(spark, cells, "stream_hist_cells", "complete")
  }

  /** Streaming shot-rate monitor: m6's shot segmentation evaluated
    * IN-ROW per arriving video ([[graft.ops.Multimodal.shotCountCol]] —
    * no windows, no per-key state; spec'd equal to the batch window
    * path), aggregated per source in complete mode. The live
    * cut-density dashboard an ingest runs beside the media sink: a
    * feed whose average shots-per-video jumps is re-encoding or
    * splicing content. Integer sums ⇒ the bounded result equals the
    * batch GROUP BY exactly. */
  def shotMonitor(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = docStream(spark, sfDir)
      .filter(length(col("text")) > 0)
      .select(col("source"),
        graft.ops.Multimodal.shotCountCol(col("text")).as("n_shots"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_videos"),
        sum(col("n_shots")).cast("long").as("total_shots"))
      .select(col("source"), col("n_videos"), col("total_shots"),
        graft.ops.TextOps.round6p(col("total_shots").cast("double")
          / col("n_videos").cast("double")).as("avg_shots"))
    runToTable(spark, agg, "stream_shot_monitor", "complete")
  }

  /** Streaming VAD monitor: m8's voice-activity segmentation computed
    * IN-ROW per arriving audio (native `vad_stats_f` kernel — hangover
    * merge included, no windows, no state), per-source utterance
    * statistics in complete mode. The operational dashboard an ASR
    * ingest runs beside the sink: a feed that suddenly arrives silent,
    * clipped, or unsegmentable shows up at ingest time. All four
    * per-row statistics are integers, so the per-source sums merge by
    * addition and batch boundaries cannot change a total. */
  def vadMonitor(spark: SparkSession, sfDir: String): DataFrame = {
    val v = graft.expr.VectorExprs.vadStatsF(col("text"), 8, 100, 2)
    val agg = docStream(spark, sfDir)
      .filter(length(col("text")) > 0)
      .select(col("source"), v.as("v"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_audios"),
        sum(col("v")(0)).cast("long").as("total_frames"),
        sum(col("v")(1)).cast("long").as("voiced_frames"),
        sum(col("v")(2)).cast("long").as("total_segments"))
      .select(col("source"), col("n_audios"), col("total_frames"),
        col("voiced_frames"), col("total_segments"),
        graft.ops.TextOps.round6p(col("voiced_frames").cast("double")
          / col("total_frames").cast("double")).as("voiced_ratio"))
    runToTable(spark, agg, "stream_vad_monitor", "complete")
  }

  /** Streaming join-route profile: the t99 size measurements for the
    * ADDITIVE gate relations (MinHash signatures, band index, seed
    * grams) maintained at ingest cadence — each arriving document
    * contributes its row/byte deltas STATELESS in the micro-batch
    * (sig rows are 1 per ≥3-token doc, band rows 4×, seed rows
    * max(0, tokens−9); the documented width rule prices them), one
    * global complete-mode aggregate (state is ONE row however large
    * the ingest). The LM-unigram relation is NOT additive (distinct
    * vocabulary) and is a landed model that only changes at retrain —
    * its row is read off the static landing at serve time, exactly as
    * production would price a static reference table. */
  def joinRouteProfileStream(spark: SparkSession, sfDir: String): DataFrame = {
    val nTok = size(graft.ops.TextOps.tokens(col("text")))
    val agg = docStream(spark, sfDir)
      .select(
        when(nTok >= 3, 1L).otherwise(0L).as("sig_rows"),
        greatest(nTok.cast("long") - lit(9L), lit(0L)).as("seed_rows"))
      .agg(sum(col("sig_rows")).cast("long").as("sig_rows"),
        sum(col("seed_rows")).cast("long").as("seed_rows"))
    runToTable(spark, agg, "stream_join_route", "complete")
  }

  /** Streaming snapshot-manifest cells: t104's per-source (n_docs,
    * n_tokens, content_sig) maintained at ingest — counts and token
    * sums ADD, and the xor signature xor-merges (associative and
    * self-inverting), so batch boundaries cannot change a cell and the
    * ingest-maintained manifest is bit-identical to a batch rebuild.
    * The reproducibility pin stays current without a corpus recount. */
  def manifestCellStream(spark: SparkSession, sfDir: String,
      name: String = "stream_manifest"): DataFrame =
    runToTable(spark,
      graft.queries.TrainingData.manifestCells(docStream(spark, sfDir)),
      name, "complete")

  /** Gzip-JSONL ingest feed (r13): the documents corpus as the
    * TextSources .json.gz landing — the compressed-crawl ARRIVAL shape
    * (Common Crawl ships .gz files, not bare JSONL) — monitored as a
    * streaming file source with the same explicit-schema/FAILFAST
    * posture as the batch adapter. gzip's non-splittability doesn't
    * bite at ingest grain: the micro-batch unit IS the file (the
    * producer's file size bounds the batch), and the landing-to-
    * -columnar hop every batch performs is exactly the
    * decompress-once-then-splittable posture SCALE.md names. */
  def gzDocStream(spark: SparkSession, sfDir: String): DataFrame = {
    graft.sources.TextSources.documentsJsonlGz(spark, sfDir) // land on first touch
    val dir = graft.sources.TextSources.landed
      .done(s"$sfDir/documents_jsonl_gz")
      .getOrElse(sys.error("gz landing missing after build"))
    spark.readStream
      .schema(docsRawSchema)
      .option("mode", "FAILFAST")
      .option("maxFilesPerTrigger", "8")
      .json(feedPath(dir))
  }

  /** [[manifestCellStream]] with the gzip-JSONL arrival feed: the t104
    * content-addressed cells maintained over COMPRESSED micro-batches.
    * Equal cells vs t104's parquet oracle prove the corpus survives
    * gzip → JSON parse → micro-batching byte-equal — the ingest-grain
    * completion of the t108 batch proof. */
  def gzManifestCellStream(spark: SparkSession, sfDir: String): DataFrame =
    runToTable(spark,
      graft.queries.TrainingData.manifestCells(gzDocStream(spark, sfDir)),
      "stream_gz_manifest", "complete")

  /** Zstd-JSONL ingest feed (r14): [[gzDocStream]] at the
    * long-lived-store posture — the t109 `.json.zst` landing monitored
    * as a streaming file source (explicit schema, FAILFAST, several
    * files per trigger; the pure-Java codec resolution is pinned by
    * the landing call — see TextSources.pinZstdCodec). Like gzip,
    * the plain-frame micro-batch unit is the file, so decompression
    * prices the BATCH, never a scan. */
  def zstDocStream(spark: SparkSession, sfDir: String): DataFrame = {
    graft.sources.TextSources.documentsJsonlZst(spark, sfDir) // land + pin codec
    val dir = graft.sources.TextSources.landed
      .done(s"$sfDir/documents_jsonl_zst")
      .getOrElse(sys.error("zst landing missing after build"))
    spark.readStream
      .schema(docsRawSchema)
      .option("mode", "FAILFAST")
      .option("maxFilesPerTrigger", "8")
      .json(feedPath(dir))
  }

  /** [[manifestCellStream]] over the zstd arrival feed — the
    * ingest-grain completion of the t109 batch proof, exactly as s41
    * completes t108: equal xor cells vs t104's oracle prove
    * zstd → JSON parse → micro-batch merging byte-equal. */
  def zstManifestCellStream(spark: SparkSession, sfDir: String): DataFrame =
    runToTable(spark,
      graft.queries.TrainingData.manifestCells(zstDocStream(spark, sfDir)),
      "stream_zst_manifest", "complete")

  /** Streaming padding-waste cells: t100's per-bucket (docs, tokens,
    * padding) totals maintained at ingest — each arriving doc's
    * next-pow2 bucket and pad delta compute STATELESS in the
    * micro-batch, per-bucket sums merge by addition in complete mode
    * (≤log₂(maxlen) state rows). The waste ratio is computed at serve
    * time off the landed cells. */
  def paddingCellStream(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = docStream(spark, sfDir)
      .select(size(graft.ops.TextOps.tokens(col("text"))).cast("long").as("n"))
      .withColumn("cap",
        expr("CAST(IF(n <= 1, 1, POWER(2, CEIL(LOG2(CAST(n AS DOUBLE))))) AS BIGINT)"))
      .groupBy(col("cap").as("bucket_cap"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).cast("long").as("tokens"),
        sum(col("cap") - col("n")).cast("long").as("padding"))
    runToTable(spark, agg, "stream_padding_cells", "complete")
  }

  /** Streaming k-anonymity monitor: t101's quasi-identifier group
    * sizes maintained at ingest (counts add, so batch boundaries
    * cannot change a group size); the suppress verdict applies at
    * serve time. A release pipeline reads the CURRENT card instead of
    * recounting the corpus before every export. */
  def kAnonymityStream(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = docStream(spark, sfDir)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("group_size"))
    runToTable(spark, agg, "stream_k_anonymity", "complete")
  }

  /** Streaming mixture monitor: t36's per-source doc/token totals
    * aggregated in the document-ingest micro-batch (complete mode) —
    * the live mixture dashboard beside the landing sink. Counts and
    * sums merge by ADDITION, so arrival order and batch boundaries
    * cannot change a total: the landed aggregate a stream maintains is
    * bit-identical to a batch rebuild (the s16 mergeability argument,
    * for the mixture report). */
  def domainMixStream(spark: SparkSession, sfDir: String,
      name: String = "stream_domain_mix"): DataFrame = {
    val agg = docStream(spark, sfDir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(graft.ops.TextOps.tokens(col("text")))).cast("long").as("n_tokens"))
    runToTable(spark, agg, name, "complete")
  }

  /** Streaming PII monitor: the t43 detection pack (email / phone /
    * IPv4, Java-regex∩RE2 patterns) applied STATELESS to the document
    * ingest stream, per-source incidence aggregates in complete mode —
    * the compliance dashboard a production ingest runs beside the
    * landing sink (a feed that suddenly carries PII is caught at ingest
    * time, not at the next batch curation run). Synthetic PII is
    * injected deterministically from doc_id (the corpus has none), so
    * the batch oracle mirrors the stream exactly. */
  def piiMonitor(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.TextOps
    val raw = graft.queries.TrainingData.piiRaw(col("doc_id"), col("text"))
    val agg = docStream(spark, sfDir)
      .select(col("source"),
        TextOps.piiCount(raw, TextOps.EmailRe).as("ne"),
        TextOps.piiCount(raw, TextOps.PhoneRe).as("np"),
        TextOps.piiCount(raw, TextOps.Ipv4Re).as("ni"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ne")).as("n_email"),
        sum(col("np")).as("n_phone"),
        sum(col("ni")).as("n_ip"),
        sum(when(col("ne") + col("np") + col("ni") > 0, 1L).otherwise(0L))
          .as("n_with_pii"))
    runToTable(spark, agg, "stream_pii_monitor", "complete")
  }

  /** Streaming near-dup gate: every arriving document is MinHash-banded
    * STATELESS in the micro-batch ([[graft.ops.DedupOps.rowBandKeys]] —
    * the whole signature computes inside one row, same hash family as
    * the batch pipeline) and joined against the LANDED corpus band
    * index (the doc_minhash_sigs landing, banded), so ingest knows "is
    * this a near-dup of something we already hold?" before the document
    * reaches the landing sink — the online form of the t6 candidate
    * front end, and the gate a 100 TB pipeline runs to refuse re-crawls
    * at the door. The stream-static equi-join is stateless; the ONLY
    * stateful operator is the per-doc candidate rollup (a collect_set
    * bounded by each doc's matched corpus ids — band-collision
    * duplicates dedup inside it, no separate dropDuplicates store).
    * Self-matches are dropped (the staged feed replays the corpus). */
  def nearDupGate(spark: SparkSession, sfDir: String,
      arriving: Column = lit(true), corpusKeep: Column = lit(true),
      sinkName: String = "stream_neardup_gate"): DataFrame = {
    import graft.ops.DedupOps
    import graft.queries.TrainingData
    val corpusBands = DedupOps.lshBands(
        TrainingData.docMinhashSigs(spark, sfDir).filter(corpusKeep), "doc_id",
        TrainingData.MinhashBands,
        TrainingData.MinhashK / TrainingData.MinhashBands)
      .select(col("doc_id").as("corpus_id"), col("band"), col("band_key"))
    val streamBands = DedupOps.rowBandKeys(
      docStream(spark, sfDir).filter(arriving), "doc_id",
      col("text"), TrainingData.MinhashK, TrainingData.MinhashBands)
    // ONE stateful operator: the per-pair dedup folds into the rollup as
    // size(collect_set) — a separate dropDuplicates would be a second,
    // watermark-less state store whose key space never shrinks on a
    // continuous ingest. The set state is bounded by each doc's MATCHED
    // corpus ids (candidates, not the corpus).
    val agg = streamBands.join(corpusBands, Seq("band", "band_key"))
      .filter(col("corpus_id") =!= col("doc_id"))
      .select(col("doc_id"), col("corpus_id"))
      .groupBy(col("doc_id"))
      .agg(size(collect_set(col("corpus_id"))).cast("long").as("n_candidates"))
    runToTable(spark, agg, sinkName, "complete")
  }

  /** Streaming SUBSTRING-run admission gate — the s12 MinHash gate at
    * substring grain: each arriving document computes its
    * stride-aligned 10-gram seed hashes IN-ROW (stateless narrow map,
    * the rowBandKeys move — same hx hash family as the landed
    * [[graft.ops.DedupOps.seedGramIndex]], so a row's keys are
    * identical to what the batch side computes for it), joins the
    * landed corpus seed index, and reports per-doc candidate pressure
    * (distinct colliding corpus partners). State is bounded by each
    * doc's MATCHED partners, never the corpus; the exact rescore stays
    * in the batch admission kernel (t83) exactly as s12 defers exact
    * Jaccard to t52. */
  /** The in-row stride-aligned seed-gram key array (hx-hashed 10-grams
    * at positions 0, seedW, 2·seedW, …) — the stateless per-row kernel
    * [[substringGate]] and the ingest-growth step both band with; same
    * hash family as the landed [[graft.ops.DedupOps.seedGramIndex]]. */
  private[graft] def strideSeedsCol(text: Column, seedW: Int = 10): Column = {
    import graft.ops.TextOps
    val toks = TextOps.tokens(text)
    val nPos = size(toks) - lit(seedW - 1)
    when(nPos > lit(0),
        transform(sequence(lit(0), nPos - 1, lit(seedW)),
          p => TextOps.hx(array_join(slice(toks, p + 1, lit(seedW)), " "))))
      .otherwise(array().cast("array<bigint>"))
  }

  def substringGate(spark: SparkSession, sfDir: String,
      arriving: Column = lit(true), corpusKeep: Column = lit(true),
      sinkName: String = "stream_substring_gate"): DataFrame = {
    val corpusSeeds = graft.queries.TrainingData.seedGramsLanded(spark, sfDir)
      .filter(corpusKeep)
      .select(col("doc_id").as("corpus_id"), col("gram"))
    val agg = docStream(spark, sfDir).filter(arriving)
      .select(col("doc_id"), explode(strideSeedsCol(col("text"))).as("gram"))
      .join(corpusSeeds, "gram")
      .filter(col("corpus_id") =!= col("doc_id"))
      .groupBy(col("doc_id"))
      .agg(size(collect_set(col("corpus_id"))).cast("long").as("n_candidates"))
    runToTable(spark, agg, sinkName, "complete")
  }

  /** Run a streaming DataFrame to completion (AvailableNow) into a
    * memory sink and return the materialized result. Concurrent runs
    * overlap; they must use distinct names, since Spark rejects a
    * second active query with the same name.
    *
    * Each run fixes two confs for its stream ([[runConf]]). Both cut a
    * fixed cost that perfbench's `ingest` workload measured (sf0.01,
    * 4-vCPU VM), and neither changes a result:
    *  - One shuffle partition, so each stateful operator has ONE state
    *    store. A store's open and commit cost the same per batch
    *    whatever it holds, and the bounded feeds carry a few hundred
    *    keys: with 8 stores per operator, commits took 11.6 of the
    *    14.1 s of trigger time. Every result here is
    *    partition-count-invariant by construction (DECIMAL sums,
    *    set-shaped outputs).
    *  - The FileSystem checkpoint manager for the checkpoint and state
    *    files. Without the Hadoop native library, the default
    *    FileContext manager's local file system forks a `chmod` for
    *    each file it creates with a permission and a `readlink` for
    *    each rename: a one-pass `ingest` run started about 7,460
    *    processes before these two settings and 2,010 after. This
    *    manager creates without a permission and renames with a POSIX
    *    `rename`, which is atomic on the local temp checkpoint that
    *    every run here uses (none sets `checkpointLocation`). */
  def runToTable(spark: SparkSession, stream: DataFrame, name: String,
      mode: String): DataFrame = {
    val q = confLock.synchronized {
      val prev = runConf.map { case (k, _) => k -> spark.conf.getOption(k) }
      runConf.foreach { case (k, v) => spark.conf.set(k, v) }
      try stream.writeStream
          .format("memory")
          .queryName(name)
          .outputMode(mode)
          .trigger(Trigger.AvailableNow())
          .start()
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    q.awaitTermination()
    spark.table(name)
  }

  private[graft] val runConf = Seq(
    "spark.sql.shuffle.partitions" -> "1",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")

  /** Held from setting [[runConf]] on the caller's session until it is
    * restored, so that two runs cannot restore each other's temporary
    * values as the permanent ones. It need not cover the run itself:
    * the StreamExecution that `start()` builds clones the session in
    * its constructor, so the stream keeps both values after they are
    * restored. A batch query planned on another thread inside that
    * window only gets a different partition count. */
  private val confLock = new Object

  /** Tumbling-window counts + exact DECIMAL value sums per event type,
    * watermarked. Complete mode: every closed window is emitted, so the
    * bounded-input result equals the batch GROUP BY — oracle-checkable. */
  def windowedCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventStream(spark, sfDir)
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("w.start").as("day"), col("event_type"), col("n_events"),
        col("sum_value"))
    runToTable(spark, agg, "stream_windowed_counts", "complete")
  }

  /** SLIDING-window counts + exact DECIMAL value sums per event type
    * (2-day windows advancing by 1 day — each event lands in exactly
    * two overlapping windows, epoch-aligned). Overlap multiplies state
    * by duration/slide, not by input size: the watermark still bounds
    * how many window generations are live at once. Complete mode, so
    * the bounded-input result equals the batch two-window expansion —
    * oracle-checkable. */
  def slidingCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventStream(spark, sfDir)
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "2 days", "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n_events"), col("sum_value"))
    runToTable(spark, agg, "stream_sliding_counts", "complete")
  }

  /** A4 dedup parity: watermarked dropDuplicates on the event key, then
    * distinct-user counts per type. First-occurrence-wins inside the
    * stream; the per-type distinct count is order-insensitive, so the
    * bounded result is deterministic and equals batch COUNT(DISTINCT). */
  def dedupDistinctUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val deduped = eventStream(spark, sfDir)
      .withWatermark("ts", "1 day")
      .dropDuplicates("user_id", "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"))
    runToTable(spark, deduped, "stream_dedup_users", "complete")
  }

  /** A4 dedup, bounded-state variant: `dropDuplicatesWithinWatermark`
    * holds a key's state only for the watermark delay instead of forever
    * — the production choice when duplicates cluster in time (retries,
    * at-least-once replays), because state size follows the delay window
    * rather than total key cardinality. On the bounded test stream with
    * a delay covering its whole span it equals global first-wins dedup,
    * so the batch oracle checks it exactly. */
  def dedupWithinWatermark(spark: SparkSession, sfDir: String): DataFrame = {
    val deduped = eventStream(spark, sfDir)
      .withColumn("day", date_trunc("day", col("ts")))
      .withWatermark("ts", "40 days")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "day")
      .groupBy(col("day")).agg(count(lit(1)).as("n_active_pairs"))
    runToTable(spark, deduped, "stream_dedup_within_wm", "complete")
  }

  /** Stream-static enrichment: the unbounded stream joins a bounded
    * dimension table (broadcast — no stream-side state, re-planned per
    * micro-batch), then aggregates per dimension value. The canonical
    * "enrich events with reference data" shape. State note: complete-mode
    * aggregate state is bounded by DIMENSION cardinality (25 nations),
    * not stream length — no watermark applies to a non-windowed global
    * rollup, and none is claimed. */
  def streamStaticEnrich(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = graft.Tables(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val enriched = eventStream(spark, sfDir)
      .withColumn("n_nationkey", col("user_id") % 25)
      .join(broadcast(dim), "n_nationkey")
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
    runToTable(spark, enriched, "stream_static_enrich", "complete")
  }

  /** A4 parity on the REFERENCE's recentchange schema (event.py:36-66,
    * commented-out design): derive language_code from server_name,
    * filter to en + article namespace 0 + the wikipedia site, then
    * seen-title dedup. Works on batch or streaming frames carrying
    * (server_name, namespace, title, bot, type, ts).
    *
    * Two state regimes, chosen by `boundedState`:
    *   - `false` (default): `dropDuplicates(title)` — EXACTLY the
    *     reference's seen-set semantics (`earlier_events`,
    *     event_stream.py:32,51-54): each title emits once, ever. The
    *     watermark drops late input rows but does NOT evict dedup
    *     state — Spark only evicts when the event-time column is part
    *     of the dedup keys — so state grows with DISTINCT-TITLE
    *     cardinality (bounded by the wiki's article count, not by
    *     time). This is the oracle-exact parity form (s5).
    *   - `true`: `dropDuplicatesWithinWatermark(title)` — the
    *     production-bounded form: a title's state expires one
    *     watermark delay after its first sighting, duplicates inside
    *     the delay drop, and a recurrence after expiry re-admits. The
    *     s13 probe pins all three behaviors batch by batch. */
  def recentChangeDedup(events: DataFrame, site: String = "wikipedia",
      boundedState: Boolean = false): DataFrame = {
    val filtered = events
      .withColumn("language_code",
        regexp_replace(col("server_name"), s"\\.$site\\.org$$", ""))
      .filter(col("language_code") === "en" &&
        col("server_name").contains(site) && col("namespace") === 0)
      .withWatermark("ts", "1 hour")
    if (boundedState) filtered.dropDuplicatesWithinWatermark("title")
    else filtered.dropDuplicates("title")
  }

  /** A synthesized 4-file recentchange feed whose duplicates straddle
    * the 1-hour watermark of [[recentChangeDedup]]`(boundedState=true)`
    * — the probe for the bounded-state semantics the reference's
    * unbounded in-memory seen-set can't have. One file per micro-batch
    * (`maxFilesPerTrigger=1`, strictly increasing mtimes) makes batch
    * boundaries — and therefore every drop decision — deterministic:
    *
    *   - batch 1: A, B @10:00 → both emit, state expires at 11:00
    *     (first sighting + delay); watermark after the batch: 09:00;
    *   - batch 2: dup A @10:30 (state live) → DROPPED; C @13:00 emits
    *     and advances the watermark to 12:00, past A/B's 11:00 expiry
    *     → their state evicts;
    *   - batch 3: late B @11:50 (< watermark 12:00) → DROPPED as late
    *     data, NOT re-admitted; D @12:10 emits;
    *   - batch 4: dup A @12:30 → EMITS AGAIN (state expired) — the
    *     bounded-state re-admission a production run must expect.
    *
    * (The plain `dropDuplicates` regime would drop BOTH re-arrivals —
    * title state never expires — which is why the bounded form is the
    * one this feed probes.)
    */
  def watermarkProbeStream(spark: SparkSession): DataFrame = {
    val dir = graft.Landing.feed(staged, "wm") {
      def us(s: String) = java.time.Instant.parse(s).toEpochMilli * 1000L
      val batches: Seq[Seq[(String, Int, String, Long)]] = Seq(
        Seq(("en.wikipedia.org", 0, "A", us("2024-01-01T10:00:00Z")),
          ("en.wikipedia.org", 0, "B", us("2024-01-01T10:00:00Z"))),
        Seq(("en.wikipedia.org", 0, "A", us("2024-01-01T10:30:00Z")),
          ("en.wikipedia.org", 0, "C", us("2024-01-01T13:00:00Z"))),
        Seq(("en.wikipedia.org", 0, "B", us("2024-01-01T11:50:00Z")),
          ("en.wikipedia.org", 0, "D", us("2024-01-01T12:10:00Z"))),
        Seq(("en.wikipedia.org", 0, "A", us("2024-01-01T12:30:00Z"))))
      import spark.implicits._
      batches.map(_.toDF("server_name", "namespace", "title", "ts_us")
        .select(col("server_name"), col("namespace"), col("title"),
          timestamp_micros(col("ts_us")).as("ts")))
    }
    spark.readStream
      .schema(StructType(Seq(
        StructField("server_name", StringType),
        StructField("namespace", IntegerType),
        StructField("title", StringType),
        StructField("ts", TimestampType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(feedPath(dir.toString))
  }

  /** A synthesized 2-file click/view feed for the LEFT-OUTER
    * stream-stream interval join probe ([[leftOuterIntervalJoin]]) —
    * fixed instants, one file per micro-batch (strictly increasing
    * mtimes, `maxFilesPerTrigger=1`), so every match and every
    * null-side emission is deterministic:
    *
    *   - batch 1: view 100 (u1 @09:30), click 1 (u1 @10:00) → MATCH
    *     in-batch; click 2 (u2 @10:00) buffers (no matching view);
    *     watermark after the batch: 09:30 (30-min delay);
    *   - batch 2: view 101 + click 3 (u9 @20:00) → MATCH in-batch;
    *     watermark advances to 19:30 — past click 2's last possible
    *     match time (10:00);
    *   - AvailableNow cleanup batch: click 2's buffered state is
    *     evicted and the NULL-extended row emits — the outer-join
    *     completeness guarantee a batch left join gives for free and a
    *     stream can only give after the watermark proves no match can
    *     still arrive. */
  def adFeedStream(spark: SparkSession): DataFrame = {
    val dir = graft.Landing.feed(staged, "ad") {
      def us(s: String) = java.time.Instant.parse(s).toEpochMilli * 1000L
      val batches: Seq[Seq[(String, Long, Long, Long)]] = Seq(
        Seq(("view", 100L, 1L, us("2024-01-01T09:30:00Z")),
          ("click", 1L, 1L, us("2024-01-01T10:00:00Z")),
          ("click", 2L, 2L, us("2024-01-01T10:00:00Z"))),
        Seq(("view", 101L, 9L, us("2024-01-01T20:00:00Z")),
          ("click", 3L, 9L, us("2024-01-01T20:00:00Z"))))
      import spark.implicits._
      batches.map(_.toDF("event_type", "event_id", "user_id", "ts_us")
        .select(col("event_type"), col("event_id"), col("user_id"),
          timestamp_micros(col("ts_us")).as("ts")))
    }
    spark.readStream
      .schema(StructType(Seq(
        StructField("event_type", StringType),
        StructField("event_id", LongType),
        StructField("user_id", LongType),
        StructField("ts", TimestampType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(feedPath(dir.toString))
  }

  /** LEFT-OUTER stream-stream interval join (the attribution shape:
    * every click reported, matched to a view within the preceding hour
    * or NULL-extended): the outer complement of [[intervalJoin]]. The
    * null side can only emit once the view-side watermark passes the
    * click's last possible match time — unbounded without a watermark,
    * deterministic with one — so the probe runs on the fixed-instant
    * [[adFeedStream]] where every emission decision is pinned, and the
    * oracle is the literal expected relation. State on both sides is
    * bounded by watermark + interval exactly as in the inner form. */
  def leftOuterIntervalJoin(spark: SparkSession): DataFrame = {
    val feed = adFeedStream(spark)
    val clicks = feed.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "30 minutes")
    val views = adFeedStream(spark).filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("view_user_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "30 minutes")
    val joined = clicks.join(views,
      col("user_id") === col("view_user_id") &&
        col("view_ts") <= col("click_ts") &&
        col("view_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("view_id"), col("view_ts"))
    runToTable(spark, joined, "stream_left_outer_join", "append")
  }

  /** A5 as a STREAMING sink: per-micro-batch idempotent create-or-get
    * merge of incoming hashes into a parquet hash index via
    * `foreachBatch` — the streaming form of the reference's cache+upload
    * loop. Each batch anti-joins the index as of that moment and appends
    * only the misses; deterministic minting makes the final index
    * independent of batch boundaries (and of replays — H8 in streaming
    * form), so the result is oracle-checkable. */
  def streamIndexMerge(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.wcd.HashIndex
    // memoized per source: a re-run merges into the existing index and
    // mints nothing (H8 replay tolerance) — the final state is identical
    val indexPath = staged(s"index/$sfDir")(
      graft.TempTrees.scratch("graft-stream-index").resolve("index")).toString
    val hashes = eventStream(spark, sfDir)
      .select(md5(concat(lit("EV"), col("user_id").cast("string"))).as("hash"))
    val q = hashes.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val index = HashIndex.load(spark, indexPath)
        val (minted, _) = HashIndex.merge(index, batch, "event")
        HashIndex.append(minted, indexPath)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    HashIndex.load(spark, indexPath)
  }

  /** Stream-stream interval join: every click joins the same user's
    * views from the preceding hour. Both sides are watermarked and the
    * join condition carries the time interval, so Spark bounds the
    * buffered state on each side (the streaming analog of a range join —
    * state GC is driven by watermark + interval, never unbounded).
    * Inner-join output is a set, so the bounded-input result is
    * deterministic and equals the batch join. */
  def intervalJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val clicks = eventStream(spark, sfDir)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 day")
    val views = eventStream(spark, sfDir)
      .filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("view_user_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 day")
    val joined = clicks.join(views,
      col("user_id") === col("view_user_id") &&
        col("view_ts") <= col("click_ts") &&
        col("view_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("click_id"), col("view_id"), col("user_id"),
        col("click_ts"), col("view_ts"))
    runToTable(spark, joined, "stream_interval_join", "append")
  }

  /** Per-user sessionization with the built-in session_window (30-min
    * inactivity gap): merged dynamic windows, watermark-bounded state.
    * Complete mode on the bounded test stream emits every session, so
    * the result equals the batch gaps-and-islands computation. */
  def sessionWindows(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventStream(spark, sfDir)
      .withWatermark("ts", "1 day")
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))
    runToTable(spark, agg, "stream_sessions", "complete")
  }

  /** Arbitrary-state streaming (the mapGroupsWithState tier the
    * reference's seen-titles set would map to): per-user statistics with
    * a session counter, implemented in a flatMapGroupsWithState handler.
    * Events are sorted by time inside the handler, so the bounded-input
    * result is deterministic and SQL-reproducible. */
  def statefulUserStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val events = eventStream(spark, sfDir)
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
    val stats = events
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[(Long, java.sql.Timestamp)], state: GroupState[Long]) =>
          // exact epoch micros (getTime alone truncates to millis)
          val ts = it.map { case (_, t) =>
            t.getTime / 1000 * 1000000L + t.getNanos / 1000
          }.toArray.sorted
          var sessions = 0L
          var prev = Long.MinValue
          ts.foreach { t =>
            if (prev == Long.MinValue || t - prev >= 30L * 60 * 1000000L) sessions += 1
            prev = t
          }
          // state tracks the all-time event count across batches
          val total = state.getOption.getOrElse(0L) + ts.length
          state.update(total)
          Iterator((uid, total, sessions))
      }
      .toDF("user_id", "n_events", "n_sessions")
    runToTable(spark, stats, "stream_user_stats", "append")
  }

  // ------------------------------------------------------------------
  // Landed-index GROWTH at ingest (the round-10 structural gap): the
  // admission gates above READ the landed dedup indexes but only the
  // hash grain (streamIndexMerge) ever GROWS one — a production ingest
  // that admits a document must fold its index rows back in, so batch
  // N+1 gates against a corpus that includes batch N (the reference's
  // cache-insert-after-create semantics, wikipedia_page.py:350-373, at
  // near-dup and substring grain). Mechanics mirror streamIndexMerge:
  // per-micro-batch foreachBatch, gate FIRST against the index as of
  // that moment, then append the batch's own index rows. Every
  // derivation is row-local and deterministic, so the grown index is
  // bit-identical to a batch rebuild over corpus ∪ arrivals — s22/s23
  // hash-prove exactly that, plus the growth-visible candidate counts
  // (a later batch's doc collides with an EARLIER batch's arrival,
  // which a static-index gate would miss).
  // ------------------------------------------------------------------

  private[graft] val GrowthBatches = 3

  /** The arriving-document multi-batch feed: the arriving slice
    * (doc_id % 10 = 7, the s15/s19 split) staged as `nBatches` files
    * keyed by doc_id % nBatches with ascending mtimes, so
    * maxFilesPerTrigger=1 + AvailableNow replays a deterministic
    * K-micro-batch ingest in batch order ([[graft.Landing.feed]]). */
  private def arrivalFeedDir(spark: SparkSession, sfDir: String): java.nio.file.Path =
    graft.Landing.feed(staged, s"arrival/$sfDir") {
      val docs = graft.Tables(spark, sfDir, "documents")
        .filter(col("doc_id") % 10 === 7)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      (0 until GrowthBatches).map(b => docs.filter(col("doc_id") % GrowthBatches === b))
    }

  private def arrivingDocStream(spark: SparkSession, sfDir: String): DataFrame =
    spark.readStream
      .schema(docsRawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(feedPath(arrivalFeedDir(spark, sfDir).toString))

  /** One ingest step of near-dup index growth, factored out of the
    * stream so the multi-batch spec fixture drives it directly: gate
    * `batch` against the grown band index AS OF this batch (partners
    * with a strictly-earlier version tag — same-batch docs do NOT see
    * each other), land the gate rows, then fold the batch's own band
    * and shingle rows into the grown index dirs.
    *
    * EXACTLY-ONCE under foreachBatch's at-least-once contract: every
    * write targets the batch's OWN `batch_id=<id>` subdirectory in
    * overwrite mode (a retry rewrites the same leaf instead of
    * appending duplicates), and the gate probe is version-BOUNDED
    * (`batch_id < id`), so a retry that runs after a partially-landed
    * attempt recomputes the identical candidate set — it can never see
    * its own half-written rows. The `batch_id=` directory name doubles
    * as the partition column the as-of reads (t91) filter on; base
    * rows land under `batch_id=-1`. */
  private[graft] def nearDupGrowStep(spark: SparkSession, batch: DataFrame,
      bandsDir: String, shinglesDir: String, gateDir: String,
      batchId: Long): Unit = {
    import graft.ops.DedupOps
    import graft.queries.TrainingData
    val bk = DedupOps.rowBandKeys(batch, "doc_id", col("text"),
      TrainingData.MinhashK, TrainingData.MinhashBands)
    val grown = spark.read.parquet(bandsDir)
      .filter(col("batch_id") < batchId)
      .select(col("doc_id").as("corpus_id"), col("band"), col("band_key"))
    bk.join(grown, Seq("band", "band_key"))
      .filter(col("corpus_id") =!= col("doc_id"))
      .groupBy(col("doc_id"))
      .agg(size(collect_set(col("corpus_id"))).cast("long").as("n_candidates"))
      .write.mode("overwrite").parquet(s"$gateDir/batch_id=$batchId")
    bk.write.mode("overwrite").parquet(s"$bandsDir/batch_id=$batchId")
    DedupOps.shingleTable(batch, "doc_id", col("text"))
      .write.mode("overwrite").parquet(s"$shinglesDir/batch_id=$batchId")
  }

  /** One ingest step of substring-seed index growth: gate `batch`'s
    * in-row stride seeds against the CURRENT grown seed index (every
    * position — the runAdmission pigeonhole), append the gate rows,
    * then fold the batch's FULL positional seed grams in. */
  private[graft] def seedGrowStep(spark: SparkSession, batch: DataFrame,
      seedsDir: String, gateDir: String, batchId: Long): Unit = {
    import graft.ops.DedupOps
    val arr = batch.select(col("doc_id"),
      explode(strideSeedsCol(col("text"))).as("gram"))
    // version-bounded grown read + per-version overwrite writes: the
    // nearDupGrowStep exactly-once contract at substring grain
    val grown = spark.read.parquet(seedsDir)
      .filter(col("batch_id") < batchId)
      .select(col("doc_id").as("corpus_id"), col("gram"))
    arr.join(grown, "gram")
      .filter(col("corpus_id") =!= col("doc_id"))
      .groupBy(col("doc_id"))
      .agg(size(collect_set(col("corpus_id"))).cast("long").as("n_candidates"))
      .write.mode("overwrite").parquet(s"$gateDir/batch_id=$batchId")
    DedupOps.seedGramIndex(batch, "doc_id", col("text"), seedW = 10)
      .write.mode("overwrite").parquet(s"$seedsDir/batch_id=$batchId")
  }

  /** One ingest step of CLUSTER-relation maintenance — incremental
    * connected components, the production form of "the dedup clustering
    * must absorb admitted arrivals without a full re-run": candidate
    * pairs for the batch come from the grown band index (cross-batch)
    * plus a batch-internal self-join (same-batch dups must cluster too
    * — the full rebuild pairs them), rescore to exact Jaccard ≥
    * `threshold` candidate-restricted on both sides, then the pairs
    * collapse in CLUSTER-LABEL space: each pair maps to (arrival label,
    * partner's current cluster label), and one CC run over that
    * batch-sized label graph yields the merge mapping (labels are the
    * min doc_id of their component, so the merged min IS the global
    * min — the relabeled relation is exactly what full CC over
    * corpus ∪ arrivals-so-far produces). Work scales with the BATCH:
    * the only corpus-sized touches are landed-index equi-joins and the
    * doc_id-keyed relabel join.
    *
    * `clustersRef` holds the current assignment dir; each step writes a
    * new version beside it (a parquet dir cannot be overwritten while
    * it is an input of the job writing the successor). */
  private[graft] def clusterGrowStep(spark: SparkSession, batch: DataFrame,
      bandsDir: String, shinglesDir: String,
      curDir: String, nextDir: String, batchId: Long,
      threshold: Double = 0.8,
      k: Int = graft.queries.TrainingData.MinhashK,
      bands: Int = graft.queries.TrainingData.MinhashBands,
      broadcastNodes: Option[Boolean] = None): Unit = {
    import graft.ops.DedupOps
    val bk = DedupOps.rowBandKeys(batch, "doc_id", col("text"), k, bands)
    // EXACTLY-ONCE (the nearDupGrowStep contract at cluster grain):
    // inputs are version-bounded (batch_id < this batch; the cluster
    // relation read at its DETERMINISTIC pre-batch version), outputs
    // overwrite deterministic per-version paths — a retry recomputes
    // the identical step from the identical inputs
    val grownBands = spark.read.parquet(bandsDir)
      .filter(col("batch_id") < batchId)
      .select(col("doc_id").as("partner_id"), col("band"), col("band_key"))
    val candCross = bk.join(grownBands, Seq("band", "band_key"))
      .select(col("doc_id"), col("partner_id"))
    val candSame = bk.select(col("doc_id").as("a"), col("band"), col("band_key"))
      .join(bk.select(col("doc_id").as("b"), col("band"), col("band_key")),
        Seq("band", "band_key"))
      .filter(col("a") < col("b"))
      .select(col("a").as("doc_id"), col("b").as("partner_id"))
    val cand = candCross.union(candSame)
      .select(least(col("doc_id"), col("partner_id")).as("id_x"),
        greatest(col("doc_id"), col("partner_id")).as("id_y"))
      .filter(col("id_x") =!= col("id_y")).distinct()
    // exact rescore, candidate-restricted on BOTH sides (the
    // minhashLshPairsFrom shape over grown ∪ batch shingles)
    val shAll = spark.read.parquet(shinglesDir)
      .filter(col("batch_id") < batchId)
      .select(col("doc_id"), col("shingle"))
      .union(DedupOps.shingleTable(batch, "doc_id", col("text")))
    val candIds = cand.select(col("id_x").as("doc_id"))
      .union(cand.select(col("id_y"))).distinct()
    val sizes = shAll.join(candIds, "doc_id")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val common = cand
      .join(shAll.select(col("doc_id").as("id_x"), col("shingle")), "id_x")
      .join(shAll.select(col("doc_id").as("id_y"), col("shingle")),
        Seq("id_y", "shingle"))
      .groupBy(col("id_x"), col("id_y")).agg(count(lit(1)).as("n_common"))
    val pairs = common
      .join(sizes.select(col("doc_id").as("id_x"), col("n_sh").as("n_x")), "id_x")
      .join(sizes.select(col("doc_id").as("id_y"), col("n_sh").as("n_y")), "id_y")
      .filter(col("n_common").cast("double") /
        (col("n_x") + col("n_y") - col("n_common")).cast("double") >= threshold)
      .select(col("id_x"), col("id_y"))
    // merge in label space: one CC over the batch-sized label graph
    val assign = spark.read.parquet(curDir)
    val arrIds = batch.select(col("doc_id"))
    val toLabel = assign.select(col("doc_id"), col("cluster_id"))
    val edges = pairs
      .join(toLabel.select(col("doc_id").as("id_x"), col("cluster_id").as("cl_x")),
        Seq("id_x"), "left")
      .join(toLabel.select(col("doc_id").as("id_y"), col("cluster_id").as("cl_y")),
        Seq("id_y"), "left")
      .select(coalesce(col("cl_x"), col("id_x")).as("id_x"),
        coalesce(col("cl_y"), col("id_y")).as("id_y"))
    // r15 (ADVICE r14): the per-batch route comes from counts the step
    // affords anyway, not a distinct-count measurement job per
    // micro-batch — the merge-graph node set is bounded above by
    // |arrivals| + 2·|merge edges|, and `edges` wants a checkpoint
    // regardless (un-checkpointed it replays the whole
    // candidate+rescore chain three times: twice into the node union,
    // once into the CC seed). A 'broadcast' verdict from the BOUND is
    // sound (bound ≥ true node count); an over-bound verdict shuffles —
    // the conservative direction. At ingest scale a backlogged batch
    // still prices itself past the session budget and the fixpoint
    // shuffles, exactly like the measured route. Forced callers (spec
    // fixtures, deliberate overrides) bypass the bound.
    val edgesCk = edges.localCheckpoint()
    try {
      val route = broadcastNodes.getOrElse {
        val nodeBound = arrIds.count() + 2L * edgesCk.count()
        nodeBound * DedupOps.CcLabelBytesPerRow <=
          DedupOps.sessionBroadcastThresholdBytes(spark)
      }
      val nodes = arrIds.select(col("doc_id").as("lab"))
        .union(edgesCk.select(col("id_x").as("lab")))
        .union(edgesCk.select(col("id_y").as("lab"))).distinct()
      val merge = DedupOps.connectedComponentsRouted(nodes, "lab", edgesCk,
          Some(route))
        .select(col("lab"), col("cluster_id").as("new_lab"))
      val updatedOld = assign
        .join(merge.withColumnRenamed("lab", "cluster_id"), Seq("cluster_id"), "left")
        .select(col("doc_id"), coalesce(col("new_lab"), col("cluster_id")).as("cluster_id"))
      val newRows = arrIds
        .join(merge, arrIds("doc_id") === merge("lab"), "left")
        .select(col("doc_id"), coalesce(col("new_lab"), col("doc_id")).as("cluster_id"))
      updatedOld.union(newRows).write.mode("overwrite").parquet(nextDir)
    } finally
      // merge reads only CC's own checkpoint blocks once the write ran
      // (the connectedComponents eagerness contract); release in
      // finally so a failed micro-batch write does not leak the edge
      // blocks across the retries the exactly-once contract invites
      graft.ops.Checkpoints.release(edgesCk)
    // fold the batch's own index rows in AFTER the gate/rescore reads
    bk.write.mode("overwrite").parquet(s"$bandsDir/batch_id=$batchId")
    DedupOps.shingleTable(batch, "doc_id", col("text"))
      .write.mode("overwrite").parquet(s"$shinglesDir/batch_id=$batchId")
  }

  /** Streamed codebook-drift monitor — t88's arrival slice maintained
    * in the ingest micro-batch (the s17 move at quantizer grain): each
    * arriving embedding scores against the trained codebook IN-ROW and
    * argmaxes stateless — the codebook is bounded (k rows, collected
    * once into plan literals: the LSH plane-literal precedent), and the
    * score expression is the SAME dot/norm kernel the batch assignment
    * uses, so per-row scores are bit-identical to t88's. Per-cell
    * counts and DECIMAL fit sums aggregate in complete mode (counts and
    * DECIMAL sums merge by addition — batch boundaries cannot change a
    * cell), served through the same share/fit tail as t88. */
  def codebookDriftStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.{TextOps, VectorOps}
    import graft.queries.TrainingData
    import org.apache.spark.sql.types.DecimalType
    val cents = TrainingData.kmeansBooks(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1))).sortBy(_._1)
    val scored = array(cents.toIndexedSeq.map { case (cell, c) =>
      val lc = typedLit(c)
      struct((VectorOps.dot(col("embedding"), lc) / VectorOps.norm(lc)).as("score"),
        lit(-cell).as("neg_cell"))
    }: _*)
    // max(struct(score, -cell)) = highest score, ties to the SMALLEST
    // cell — the batch window's (score DESC, cell ASC) order
    val best = array_max(scored)
    val agg = arrivingEmbStream(spark, sfDir)
      .select((-best.getField("neg_cell")).as("cell"),
        best.getField("score").as("score"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(round(col("score"), 9).cast(DecimalType(18, 9))).as("ssum"))
    val served = runToTable(spark, agg, "stream_codebook_drift", "complete")
    val tot = served.agg(sum(col("n_vecs")).as("n_slice"))
    served.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_vecs"),
        TextOps.round6p(col("ssum").cast("double") / col("n_vecs").cast("double"))
          .as("mean_fit"),
        TextOps.round6p(col("n_vecs").cast("double") / col("n_slice").cast("double"))
          .as("cell_share"))
  }

  /** Streamed PERPLEXITY gate — model-based quality at ingest (the
    * CCNet production pattern; s10's rule pack upgraded to a trained
    * reference model): every arriving document's bigrams explode
    * STATELESS in the micro-batch and score against the LANDED corpus
    * LM (unigram/bigram counts over the held corpus — the arrival
    * slice did not train the model that judges it) via stream-static
    * LEFT joins; add-1 smoothing handles unseen words and bigrams.
    * The only stateful operator is the per-doc (count, DECIMAL NLL
    * sum) rollup; `admit` compares the ROUNDED micro-unit mean against
    * the cutoff, so batch and oracle decide identically. At 100 TB the
    * unigram side broadcasts (vocabulary-sized) and the observed-
    * bigram side is a landed, prunable equi-join probe — per-batch
    * cost follows the batch, never the corpus. */
  def pplGate(spark: SparkSession, sfDir: String,
      cutoff: Double = 3.43): DataFrame = {
    import graft.ops.TextOps
    import graft.queries.TrainingData
    import org.apache.spark.sql.types.DecimalType
    val uni = TrainingData.lmUnigrams(spark, sfDir)
    val big = TrainingData.lmBigrams(spark, sfDir)
    // vocabulary size is a plan-time scalar of the landed LM (one
    // count over the landed table, the codebookDriftStream move)
    val vocab = uni.count()
    val b2 = arrivingDocStream(spark, sfDir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
      .select(col("doc_id"),
        explode(TrainingData.bigramStructs(col("w"))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val agg = b2
      .join(big, Seq("w1", "w2"), "left")
      .join(broadcast(uni.withColumnRenamed("tok", "w1")), Seq("w1"), "left")
      .select(col("doc_id"),
        round(-log((coalesce(col("c12"), lit(0L)) + 1).cast("double") /
          (coalesce(col("c1"), lit(0L)) + vocab).cast("double")), 9)
          .cast(DecimalType(18, 9)).as("nll"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll")).as("snll"))
    runToTable(spark, agg, "stream_ppl_gate", "complete")
      .select(col("doc_id"), col("n_bigrams"),
        graft.ops.TextOps.round6p(col("snll").cast("double")
          / col("n_bigrams").cast("double")).as("mean_nll"))
      .withColumn("admit", col("mean_nll") <= cutoff)
  }

  /** Streamed LM-drift monitor — t92's retrain-trigger card with the
    * ARRIVAL slice maintained at ingest (the s26 move at LM grain):
    * arriving bigrams score against the landed corpus LM in the
    * micro-batch (the pplGate kernel), the per-doc (count, DECIMAL NLL
    * sum) rollup is the only stateful operator, and per-doc micro-NLL
    * collapses at serve time (a fold over the bounded arrival-sized
    * result). The corpus slice is a CONSTANT of the snapshot (scored
    * batch from the same landed LM), so the 2-row card updates at
    * ingest cadence without touching the corpus — one hash match
    * proves streamed ≡ batch ≡ oracle at drift grain. */
  def lmDriftStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.queries.TrainingData
    import org.apache.spark.sql.types.DecimalType
    val uni = TrainingData.lmUnigrams(spark, sfDir)
    val big = TrainingData.lmBigrams(spark, sfDir)
    val vocab = uni.count()
    val b2 = arrivingDocStream(spark, sfDir)
      .select(col("doc_id"), graft.ops.TextOps.tokens(col("text")).as("w"))
      .select(col("doc_id"),
        explode(TrainingData.bigramStructs(col("w"))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val agg = b2
      .join(big, Seq("w1", "w2"), "left")
      .join(broadcast(uni.withColumnRenamed("tok", "w1")), Seq("w1"), "left")
      .select(col("doc_id"),
        round(-log((coalesce(col("c12"), lit(0L)) + 1).cast("double") /
          (coalesce(col("c1"), lit(0L)) + vocab).cast("double")), 9)
          .cast(DecimalType(18, 9)).as("nll"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll")).as("snll"))
    val arrivals = runToTable(spark, agg, "stream_lm_drift", "complete")
      .select(lit("arrivals").as("slice"),
        floor((col("snll").cast("double") / col("n_bigrams").cast("double"))
          * 1000000.0 + 0.5).cast("long").as("nll_micro"))
    val corpus = TrainingData.lmScoredMicro(spark, sfDir,
        graft.Tables(spark, sfDir, "documents")
          .filter(col("doc_id") % 10 =!= 7))
      .select(lit("corpus").as("slice"), col("nll_micro"))
    TrainingData.lmDriftTail(arrivals.unionByName(corpus))
  }

  /** Streamed compaction trigger — t90's fragmentation card maintained
    * at ingest cadence: every arriving document contributes its index
    * rows STATELESS in the micro-batch (bands: MinhashBands iff the
    * in-row signature exists; shingles: the distinct-trigram count —
    * the same per-row kernels whose outputs the growth path appends),
    * with the retraction tombstone flag evaluated per row; one global
    * complete-mode aggregate folds them (4 additive sums — state is ONE
    * row however large the ingest), and the static base-index counts
    * join in at serve time through the SAME decision tail as t90. A
    * maintenance scheduler watching this stream knows the moment
    * growth or retraction debt crosses the rewrite threshold without
    * ever scanning the index. */
  def compactionDueStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.{DedupOps, IndexMaintenance, TextOps}
    import graft.queries.TrainingData
    val isNew = col("doc_id") % 10 === 7
    val dead = pmod(TextOps.hx(concat(lit("forget:"),
      col("doc_id").cast("string"))), lit(29L)) === 0
    val nBands = when(graft.expr.VectorExprs
        .minhashSigsF(col("text"), TrainingData.MinhashK).isNotNull,
      lit(TrainingData.MinhashBands.toLong)).otherwise(0L)
    val nSh = size(array_distinct(TextOps.shingles(TextOps.tokens(col("text")))))
      .cast("long")
    val agg = arrivingDocStream(spark, sfDir)
      .select(nBands.as("nb"), nSh.as("ns"), dead.as("is_dead"))
      .agg(sum(col("nb")).as("d_band_rows"),
        sum(when(col("is_dead"), col("nb")).otherwise(0L)).as("d_band_dead"),
        sum(col("ns")).as("d_sh_rows"),
        sum(when(col("is_dead"), col("ns")).otherwise(0L)).as("d_sh_dead"))
    val served = runToTable(spark, agg, "stream_compaction_due", "complete")
    def baseAgg(df: DataFrame) = broadcast(df
      .agg(count(lit(1)).as("n_base"),
        sum(when(dead, 1L).otherwise(0L)).as("n_base_dead")))
    val baseBands = baseAgg(DedupOps.lshBands(
      TrainingData.docMinhashSigs(spark, sfDir).filter(!isNew), "doc_id",
      TrainingData.MinhashBands,
      TrainingData.MinhashK / TrainingData.MinhashBands))
    val baseSh = baseAgg(TrainingData.docShingles(spark, sfDir).filter(!isNew))
    def grainRow(grain: String, base: DataFrame,
        dRows: Column, dDead: Column) =
      served.crossJoin(base)
        .select(lit(grain).as("grain"),
          (col("n_base") + dRows).as("n_rows"),
          dRows.as("n_delta_rows"),
          (col("n_base_dead") + dDead).as("n_dead_rows"))
    IndexMaintenance.decisionTail(
      grainRow("bands", baseBands, col("d_band_rows"), col("d_band_dead"))
        .unionByName(
          grainRow("shingles", baseSh, col("d_sh_rows"), col("d_sh_dead"))))
      .orderBy(col("grain"))
  }

  /** Once-per-JVM growth runs: a re-run must not re-append — the grown
    * dirs are the final state, and repeat callers (Bench iterations,
    * Verify after Bench) read them directly. */
  private val grown = new graft.Landing.Memo[Map[String, String]]

  private def emptyGate(spark: SparkSession, gateDir: String,
      id: String = "doc_id"): Unit =
    spark.range(0)
      .select(col("id").as(id), col("id").as("n_candidates"))
      .write.parquet(gateDir)

  /** The arriving-EMBEDDING multi-batch feed — [[arrivalFeedDir]] at
    * vector grain (vec_id % 10 = 7, batch = vec_id % 3). */
  private def embArrivalFeedDir(spark: SparkSession, sfDir: String): java.nio.file.Path =
    graft.Landing.feed(staged, s"emb/$sfDir") {
      val vecs = graft.Tables(spark, sfDir, "embeddings")
        .filter(col("vec_id") % 10 === 7)
        .select(col("vec_id"), col("embedding"), col("label"))
      (0 until GrowthBatches).map(b => vecs.filter(col("vec_id") % GrowthBatches === b))
    }

  private def arrivingEmbStream(spark: SparkSession, sfDir: String): DataFrame =
    spark.readStream
      .schema(StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(feedPath(embArrivalFeedDir(spark, sfDir).toString))

  /** One ingest step of EMBEDDING-index growth — the s22 loop at vector
    * grain: bucket the batch in-row (the sign-random-projection family
    * is a pure per-row map), gate against the grown bucket index
    * (distinct colliding partners), append the batch's bucket rows. */
  private[graft] def embGrowStep(spark: SparkSession, batch: DataFrame,
      bucketsDir: String, gateDir: String, tables: Int, planes: Int,
      batchId: Long): Unit = {
    val bt = graft.ops.VectorOps.bucketTable(batch, "vec_id", "embedding",
      tables, planes)
    // version-bounded grown read + per-version overwrite writes: the
    // nearDupGrowStep exactly-once contract at vector grain
    val grown = spark.read.parquet(bucketsDir)
      .filter(col("batch_id") < batchId)
      .select(col("vec_id").as("corpus_id"), col("bucket"))
    bt.join(grown, "bucket")
      .filter(col("corpus_id") =!= col("vec_id"))
      .groupBy(col("vec_id"))
      .agg(size(collect_set(col("corpus_id"))).cast("long").as("n_candidates"))
      .write.mode("overwrite").parquet(s"$gateDir/batch_id=$batchId")
    bt.write.mode("overwrite").parquet(s"$bucketsDir/batch_id=$batchId")
  }

  /** Embedding LSH bucket-index growth over the K-batch arriving feed
    * (the near-dup family: 16 tables × 4 planes). Returns
    * (gate, grownBuckets). */
  def growEmbIndex(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    import graft.queries.TrainingData
    val dirs = grown(s"emb/$sfDir") {
      val root = graft.TempTrees.scratch("graft-grow-emb")
      val bucketsDir = root.resolve("buckets").toString
      val gateDir = root.resolve("gate").toString
      val isNew = col("vec_id") % 10 === 7
      TrainingData.embBuckets(spark, sfDir,
          TrainingData.NearDupLshTables, TrainingData.NearDupLshPlanes)
        .filter(!isNew)
        .write.parquet(s"$bucketsDir/batch_id=-1")
      emptyGate(spark, s"$gateDir/batch_id=-1", id = "vec_id")
      val q = arrivingEmbStream(spark, sfDir).writeStream
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          embGrowStep(spark, batch, bucketsDir, gateDir,
            TrainingData.NearDupLshTables, TrainingData.NearDupLshPlanes, bid)
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      Map("gate" -> gateDir, "buckets" -> bucketsDir)
    }
    def read(dir: String) = spark.read.parquet(dir)
      .withColumn("batch_id", col("batch_id").cast("long"))
    (read(dirs("gate")), read(dirs("buckets")))
  }

  /** Near-dup index growth over the K-batch arriving feed. The grown
    * band/shingle dirs start from the LANDED corpus-slice index (the
    * snapshot a production ingest boots from) and each micro-batch runs
    * [[nearDupGrowStep]]. Returns (gate, grownBands, grownShingles). */
  def growNearDupIndex(spark: SparkSession, sfDir: String): (DataFrame, DataFrame, DataFrame) = {
    import graft.ops.DedupOps
    import graft.queries.TrainingData
    val dirs = grown(s"neardup/$sfDir") {
      val root = graft.TempTrees.scratch("graft-grow-neardup")
      val bandsDir = root.resolve("bands").toString
      val shinglesDir = root.resolve("shingles").toString
      val gateDir = root.resolve("gate").toString
      val isNew = col("doc_id") % 10 === 7
      DedupOps.lshBands(TrainingData.docMinhashSigs(spark, sfDir).filter(!isNew),
          "doc_id", TrainingData.MinhashBands,
          TrainingData.MinhashK / TrainingData.MinhashBands)
        .write.parquet(s"$bandsDir/batch_id=-1")
      TrainingData.docShingles(spark, sfDir).filter(!isNew)
        .write.parquet(s"$shinglesDir/batch_id=-1")
      emptyGate(spark, s"$gateDir/batch_id=-1")
      val q = arrivingDocStream(spark, sfDir).writeStream
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          nearDupGrowStep(spark, batch, bandsDir, shinglesDir, gateDir, bid)
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      Map("gate" -> gateDir, "bands" -> bandsDir, "shingles" -> shinglesDir)
    }
    // partition discovery types batch_id as INT from the directory
    // names; canonicalize to LONG for every consumer
    def read(dir: String) = spark.read.parquet(dir)
      .withColumn("batch_id", col("batch_id").cast("long"))
    (read(dirs("gate")), read(dirs("bands")), read(dirs("shingles")))
  }

  /** Cluster-relation maintenance over the K-batch arriving feed: boot
    * from a CC run over the CORPUS slice only (the snapshot the ingest
    * starts from), then absorb each micro-batch via [[clusterGrowStep]].
    * Returns the final (doc_id, cluster_id) assignment — provably equal
    * to full CC over corpus ∪ arrivals (s24 hash-proves it against the
    * landed dedupClusters relation and the recursive oracle). */
  def growClusterIndex(spark: SparkSession, sfDir: String,
      broadcastNodes: Option[Boolean] = None): DataFrame = {
    import graft.ops.DedupOps
    import graft.queries.TrainingData
    val dirs = grown(s"clusters/$sfDir") {
      val root = graft.TempTrees.scratch("graft-grow-clusters")
      val bandsDir = root.resolve("bands").toString
      val shinglesDir = root.resolve("shingles").toString
      val isNew = col("doc_id") % 10 === 7
      val shC = TrainingData.docShingles(spark, sfDir).filter(!isNew)
      DedupOps.lshBands(TrainingData.docMinhashSigs(spark, sfDir).filter(!isNew),
          "doc_id", TrainingData.MinhashBands,
          TrainingData.MinhashK / TrainingData.MinhashBands)
        .write.parquet(s"$bandsDir/batch_id=-1")
      shC.write.parquet(s"$shinglesDir/batch_id=-1")
      val bootPairs = DedupOps.minhashLshPairsFrom(shC,
        TrainingData.docMinhashSigs(spark, sfDir).filter(!isNew),
        "doc_id", threshold = 0.8, bands = TrainingData.MinhashBands)
        .select(col("id_x"), col("id_y"))
      val boot = root.resolve("clusters_v0").toString
      // boot CC routes by measurement unless the caller forces it —
      // the corpus-snapshot node set is exactly the relation the t110
      // card prices
      DedupOps.connectedComponentsRouted(
          graft.Tables(spark, sfDir, "documents").filter(!isNew), "doc_id",
          bootPairs, broadcastNodes)
        .select(col("doc_id"), col("cluster_id"))
        .write.parquet(boot)
      // deterministic version path per micro-batch id: v0 is the boot
      // relation, batch b reads v{b} and overwrites v{b+1} — a retried
      // batch recomputes the same step from the same input version
      def vDir(n: Long) = root.resolve(s"clusters_v$n").toString
      val last = new java.util.concurrent.atomic.AtomicLong(0L)
      val q = arrivingDocStream(spark, sfDir).writeStream
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          clusterGrowStep(spark, batch, bandsDir, shinglesDir,
            vDir(bid), vDir(bid + 1), bid, broadcastNodes = broadcastNodes)
          last.set(math.max(last.get(), bid + 1))
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      Map("clusters" -> vDir(last.get()))
    }
    spark.read.parquet(dirs("clusters"))
  }

  /** Streamed cluster RETRACTION — forget-requests arriving as a
    * stream, each micro-batch repairing the cluster relation via
    * [[graft.ops.DedupOps.retractFromClusters]] (split/relabel only the
    * affected clusters, work bounded by affected membership). Sequential
    * repairs are exact at every point: each batch's repair produces the
    * true relation over the then-surviving docs, so the final state
    * equals a from-scratch rebuild over documents minus ALL forgotten
    * ids — s27 hash-proves it. The forget slice is
    * hx('forget:'‖doc_id) % 29 = 0 (t87's slice), split into
    * [[GrowthBatches]] deterministic batches by doc_id. */
  private def forgetFeedDir(spark: SparkSession, sfDir: String): java.nio.file.Path =
    graft.Landing.feed(staged, s"forget/$sfDir") {
      val forget = pmod(graft.ops.TextOps.hx(concat(lit("forget:"),
        col("doc_id").cast("string"))), lit(29L)) === 0
      val ids = graft.Tables(spark, sfDir, "documents")
        .filter(forget).select(col("doc_id"))
      (0 until GrowthBatches).map(b => ids.filter(col("doc_id") % GrowthBatches === b))
    }

  def retractionStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.DedupOps
    import graft.queries.TrainingData
    val dirs = grown(s"retract/$sfDir") {
      val root = graft.TempTrees.scratch("graft-stream-retract")
      val boot = root.resolve("clusters_v0").toString
      TrainingData.dedupClusters(spark, sfDir)
        .select(col("doc_id"), col("cluster_id"))
        .write.parquet(boot)
      // deterministic version path per micro-batch id (the cluster-
      // growth exactly-once shape): batch b reads v{b}, overwrites
      // v{b+1} — a retried repair recomputes the same step
      def vDir(n: Long) = root.resolve(s"clusters_v$n").toString
      val last = new java.util.concurrent.atomic.AtomicLong(0L)
      val q = spark.readStream
        .schema(StructType(Seq(StructField("doc_id", LongType))))
        .option("maxFilesPerTrigger", "1")
        .parquet(feedPath(forgetFeedDir(spark, sfDir).toString))
        .writeStream
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          DedupOps.retractFromClusters(
              spark.read.parquet(vDir(bid)), batch, "doc_id",
              TrainingData.docShingles(spark, sfDir),
              TrainingData.docMinhashSigs(spark, sfDir),
              threshold = 0.8, bands = TrainingData.MinhashBands)
            .write.mode("overwrite").parquet(vDir(bid + 1))
          last.set(math.max(last.get(), bid + 1))
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      Map("clusters" -> vDir(last.get()))
    }
    spark.read.parquet(dirs("clusters"))
  }

  /** Substring-seed index growth over the same K-batch feed. Returns
    * (gate, grownSeeds). */
  def growSeedIndex(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    import graft.queries.TrainingData
    val dirs = grown(s"seeds/$sfDir") {
      val root = graft.TempTrees.scratch("graft-grow-seeds")
      val seedsDir = root.resolve("seeds").toString
      val gateDir = root.resolve("gate").toString
      val isNew = col("doc_id") % 10 === 7
      TrainingData.seedGramsLanded(spark, sfDir).filter(!isNew)
        .write.parquet(s"$seedsDir/batch_id=-1")
      emptyGate(spark, s"$gateDir/batch_id=-1")
      val q = arrivingDocStream(spark, sfDir).writeStream
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          seedGrowStep(spark, batch, seedsDir, gateDir, bid)
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      Map("gate" -> gateDir, "seeds" -> seedsDir)
    }
    def read(dir: String) = spark.read.parquet(dir)
      .withColumn("batch_id", col("batch_id").cast("long"))
    (read(dirs("gate")), read(dirs("seeds")))
  }
}
