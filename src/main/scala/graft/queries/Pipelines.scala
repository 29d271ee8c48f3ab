package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.{DedupOps, GraphOps, Multimodal}
import graft.ops.IndexMaintenance.{arrival, xorSig}
import graft.streaming.StreamOps
import org.apache.spark.sql.functions._

/** Multimodal decode, Structured Streaming parity (SURVEY.md A4) and the
  * iterative category-closure operator (SURVEY.md A3), each registered
  * against a recomputing DuckDB oracle. */
object Pipelines {

  /** DuckDB mirror of TextOps.hx / the stub decoder's md5-derived dims. */
  private def oHx(x: String) =
    s"CAST(('0x'||substring(md5($x),1,15)) AS BIGINT)"

  /** Unsigned byte sum of the UTF-8 text payload. The per-position
    * `ascii(substring(...))` walk is char-indexed — equal to the byte
    * sum only under the generated corpus's ASCII contract — but the
    * LENGTH divisors below use `strlen` (UTF-8 bytes, matching the
    * Spark side's payload length exactly), so a multibyte character
    * would surface as a checksum mismatch, never as a silently-wrong
    * brightness denominator. */
  private val oChecksum =
    "list_sum(list_transform(range(1, length(text)+1), i -> ascii(substring(text, i, 1))))"
  private val oSampled =
    "list_sum(list_transform(range(1, length(text)+1, 10), i -> ascii(substring(text, i, 1))))"

  /** The shared part co-order graph (oriented distinct edges u < v:
    * parts appearing on the same order) — the ONE edge definition behind
    * g2–g6, so the graph queries can never silently diverge. LANDED
    * once per sfDir (each query otherwise replays the distinct +
    * self-join over lineitem — measured at seconds apiece at sf0.1);
    * Bench charges the landing to its warm line (`co_order_edges`).
    * The landing carries the co-order multiplicity `w` (number of
    * distinct orders containing both parts) — same rows, same build
    * shuffle as the old `.distinct()` (a groupBy on the identical key);
    * the unweighted consumers project it away at the scan. */
  private[graft] def partCoOrderEdgesWeighted(
      s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.Landing.parquet(s, dir, "co_order_edges.parquet") {
      val po = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      po.as("a").join(po.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey")
            && col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
        .agg(count(lit(1)).as("w"))
    }

  private[graft] def partCoOrderEdges(
      s: org.apache.spark.sql.SparkSession, dir: String) =
    partCoOrderEdgesWeighted(s, dir).select(col("u"), col("v"))

  /** The distinct (l_suppkey, l_partkey) pair table — landed once per
    * sfDir like [[partCoOrderEdgesWeighted]]: the 600 k-row distinct
    * over lineitem is an index-build cost a production run pays once,
    * not inside every consumer's timed region (the r4 bench measured it
    * at seconds per run). Two consumers derive from the scan with
    * narrow maps: g2's prefixed bipartite PageRank edges
    * ([[supplierPartEdges]]) and q32's neighborhood-similarity base
    * relation. */
  private[graft] def supplierPartPairs(
      s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.Landing.parquet(s, dir, "sp_pairs.parquet") {
      Tables(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_partkey"))
        .distinct()
    }

  /** g2's directed supplier→part bipartite edge list: node ids
    * prefixed to keep the two key spaces disjoint — a narrow map over
    * the [[supplierPartPairs]] landing. */
  private[graft] def supplierPartEdges(
      s: org.apache.spark.sql.SparkSession, dir: String) =
    supplierPartPairs(s, dir)
      .select(concat(lit("s"), col("l_suppkey").cast("string")).as("src"),
        concat(lit("p"), col("l_partkey").cast("string")).as("dst"))

  /** Graph node-route cards, LANDED once per corpus snapshot beside
    * their edge landings (the t75 landing-integrity pattern applied to
    * the route read): t111's arithmetic is priced at index-build time,
    * so the g2/g4/g5 route reads are 1-row landed lookups instead of a
    * distinct-count over edge endpoints re-paid per operator run
    * (~0.5 s each at sf0.1). One card per distinct graph —
    * symmetrization does not change the endpoint set, so the co-order
    * card serves g4 (raw edges) and g5 (symmetrized) alike.
    * t75 audits both cards against oracle recomputes from lineitem;
    * the registered t111 card reads this landing verbatim. */
  private[graft] def pagerankRouteCardLanded(
      s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.Landing.parquet(s, dir, "node_route_pagerank.parquet") {
      spNodeRouteCard(supplierPartPairs(s, dir))
    }

  /** The pagerank-graph node-route card computed straight off the
    * (l_suppkey, l_partkey) pair table: the s/p prefixes make supplier
    * and part node ids DISJOINT, so the distinct endpoint count of the
    * (symmetrized) pagerank graph = distinct
    * suppliers + distinct parts — two integer distinct counts in ONE
    * aggregate, instead of materializing 2·|pairs| prefixed strings and
    * deduplicating them. Value-equal to `GraphOps.nodeRouteCard` over
    * the symmetrized [[supplierPartEdges]] (spec: GraphAnalyticsSpec);
    * the t111 oracle states this same arithmetic from lineitem. */
  private[graft] def spNodeRouteCard(pairs: org.apache.spark.sql.DataFrame) =
    DedupOps.routeTail(pairs
      .agg((countDistinct(col("l_suppkey")) + countDistinct(col("l_partkey")))
        .as("n_nodes"))
      .select(col("n_nodes"),
        (col("n_nodes") * lit(DedupOps.CcLabelBytesPerRow)).cast("long")
          .as("est_bytes")))

  private[graft] def coorderRouteCardLanded(
      s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.Landing.parquet(s, dir, "node_route_coorder.parquet")(
      GraphOps.nodeRouteCard(partCoOrderEdges(s, dir)))

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------------------- multimodal
    QueryDef.sql(
      "m1_media_features",
      s"""SELECT doc_id,
         |  CAST(strlen(text) AS BIGINT) AS n_bytes,
         |  CAST($oChecksum AS BIGINT) AS checksum,
         |  CAST($oSampled AS BIGINT) AS sampled_checksum,
         |  CAST(1 + ${oHx("text")} % 640 AS INT) AS width,
         |  CAST(1 + (${oHx("text")} >> 10) % 480 AS INT) AS height,
         |  ($oChecksum)::DOUBLE / strlen(text)::DOUBLE AS brightness
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Multimodal.decodeFeatures(s,
          Multimodal.attachPayload(Tables(s, dir, "documents")))
        .toDF().orderBy(col("doc_id"))
    },

    // 1:N frame sampling over the (stub) video payload
    QueryDef.sql(
      "m2_frame_sample",
      """WITH f AS (SELECT doc_id, text,
        |    UNNEST(range(0, (length(text)+15)//16)) AS frame_idx
        |  FROM documents)
        |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
        |  CAST(least(16, length(text) - frame_idx*16) AS BIGINT) AS frame_bytes,
        |  CAST(list_sum(list_transform(
        |    range(frame_idx*16 + 1, least(frame_idx*16 + 16, length(text)) + 1),
        |    i -> ascii(substring(text, i, 1)))) AS BIGINT) AS frame_checksum
        |FROM f WHERE frame_idx % 3 = 0
        |ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
      Multimodal.sampleFrames(s,
          Multimodal.attachPayload(Tables(s, dir, "documents")))
        .toDF().orderBy(col("doc_id"), col("frame_idx"))
    },

    // 1:1 stub resize: aspect-preserving dims + strided downsample
    QueryDef.sql(
      "m3_resize",
      s"""WITH d AS (SELECT doc_id, text, strlen(text) AS n,
         |    CAST(1 + ${oHx("text")} % 640 AS INT) AS width,
         |    CAST(1 + (${oHx("text")} >> 10) % 480 AS INT) AS height,
         |    greatest(strlen(text)//256, 1) AS stride
         |  FROM documents)
         |SELECT doc_id, width, height,
         |  64 AS out_width, CAST((height*64)//width AS INT) AS out_height,
         |  CAST((n + stride - 1)//stride AS BIGINT) AS out_bytes,
         |  CAST(list_sum(list_transform(range(1, n+1, stride),
         |    i -> ascii(substring(text, i, 1)))) AS BIGINT) AS resized_checksum
         |FROM d ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Multimodal.resizeMedia(s,
          Multimodal.attachPayload(Tables(s, dir, "documents")))
        .toDF().orderBy(col("doc_id"))
    },

    // Perceptual media dedup: group media by an integer 8x8-DCT pHash
    // over the decoded luma grid (Multimodal.PHash) behind a cheap
    // length bucket — NOT raw bytes, so near-identical payloads (e.g. a
    // uniform brightness shift) land in one group; the basis is embedded
    // in the oracle as a literal so DuckDB replays the DCT bit-for-bit.
    // The decode is the narrow mapPartitions path; grouping is the one
    // dedup shuffle, same shape as t4/t14.
    QueryDef.sql(
      "m4_media_dedup",
      s"""WITH d0 AS (SELECT doc_id, text, strlen(text) AS n FROM documents),
         |grid AS (SELECT doc_id, n, list_transform(range(0,64), j ->
         |    CASE WHEN ((j+1)*n)//64 - (j*n)//64 > 0 THEN
         |      (list_sum(list_transform(range((j*n)//64 + 1, ((j+1)*n)//64 + 1),
         |         i -> ascii(substring(text, CAST(i AS INT), 1)))) * 64)
         |      // (((j+1)*n)//64 - (j*n)//64)
         |    ELSE 0 END) AS g FROM d0),
         |ct AS (SELECT ${Multimodal.PHash.sqlLiteral} AS m),
         |co AS (SELECT doc_id, n, list_transform(range(0,16), t ->
         |    CASE WHEN t = 0 THEN 0 ELSE
         |      list_sum(list_transform(range(0,64), i ->
         |        m[CAST((t//4)*8 + (i//8) + 1 AS INT)] * m[CAST((t%4)*8 + (i%8) + 1 AS INT)]
         |          * g[CAST(i+1 AS INT)]))
         |    END) AS cf FROM grid, ct),
         |ph0 AS (SELECT doc_id, n, cf, list_sum(cf) AS tot FROM co),
         |ph AS (SELECT doc_id, CAST(n AS VARCHAR) || ':' ||
         |    CAST(CAST(list_sum(list_transform(range(1,16), t ->
         |      CASE WHEN cf[CAST(t+1 AS INT)]*15 > tot
         |           THEN (1::BIGINT << CAST(t-1 AS INT)) ELSE 0 END)) AS BIGINT) AS VARCHAR)
         |    AS phash_key FROM ph0),
         |g2 AS (SELECT phash_key, MIN(doc_id) AS canonical_id, COUNT(*) AS n_members
         |      FROM ph GROUP BY 1)
         |SELECT ph.doc_id, ph.phash_key, g2.canonical_id, g2.n_members
         |FROM ph JOIN g2 USING (phash_key) ORDER BY ph.doc_id""".stripMargin) { (s, dir) =>
      import graft.ops.DedupOps
      val sigs = Multimodal.perceptualHashes(s,
          Multimodal.attachPayload(Tables(s, dir, "documents")))
        .select(col("doc_id"),
          concat(col("n_bytes").cast("string"), lit(":"),
            col("phash").cast("string")).as("sig"))
      DedupOps.dupGroups(sigs, "doc_id", col("sig"))
        .select(col("doc_id"), col("dup_key").as("phash_key"),
          col("canonical_id"), col("n_members"))
        .orderBy(col("doc_id"))
    },

    // Perceptual NEAR-dup pairs — m4's exact-pHash grouping relaxed to
    // Hamming ≤ 2 via the t8 SimHash move: 3×5-bit band equi-join
    // (lossless pigeonhole at distance 2), exact bit_count rescore.
    // The oracle replays the integer DCT chain to the numeric hash and
    // mirrors the band join + rescore bit-for-bit.
    QueryDef.sql(
      "m7_phash_neardup",
      s"""WITH d0 AS (SELECT doc_id, text, strlen(text) AS n FROM documents),
         |grid AS (SELECT doc_id, n, list_transform(range(0,64), j ->
         |    CASE WHEN ((j+1)*n)//64 - (j*n)//64 > 0 THEN
         |      (list_sum(list_transform(range((j*n)//64 + 1, ((j+1)*n)//64 + 1),
         |         i -> ascii(substring(text, CAST(i AS INT), 1)))) * 64)
         |      // (((j+1)*n)//64 - (j*n)//64)
         |    ELSE 0 END) AS g FROM d0),
         |ct AS (SELECT ${Multimodal.PHash.sqlLiteral} AS m),
         |co AS (SELECT doc_id, n, list_transform(range(0,16), t ->
         |    CASE WHEN t = 0 THEN 0 ELSE
         |      list_sum(list_transform(range(0,64), i ->
         |        m[CAST((t//4)*8 + (i//8) + 1 AS INT)] * m[CAST((t%4)*8 + (i%8) + 1 AS INT)]
         |          * g[CAST(i+1 AS INT)]))
         |    END) AS cf FROM grid, ct),
         |ph0 AS (SELECT doc_id, n, cf, list_sum(cf) AS tot FROM co),
         |phn AS (SELECT doc_id, CAST(list_sum(list_transform(range(1,16), t ->
         |      CASE WHEN cf[CAST(t+1 AS INT)]*15 > tot
         |           THEN (1::BIGINT << CAST(t-1 AS INT)) ELSE 0 END)) AS BIGINT)
         |    AS p FROM ph0),
         |bands AS (SELECT doc_id, p, t.range AS b,
         |    (p >> CAST(5 * t.range AS INT)) & 31 AS v FROM phn, range(0,3) t),
         |cand AS (SELECT DISTINCT a.doc_id AS id_x, b.doc_id AS id_y,
         |    a.p AS px, b.p AS py
         |  FROM bands a JOIN bands b
         |  ON a.b = b.b AND a.v = b.v AND a.doc_id < b.doc_id)
         |SELECT id_x, id_y, CAST(bit_count(xor(px, py)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(px, py)) <= 2
         |ORDER BY id_x, id_y""".stripMargin) { (s, dir) =>
      Multimodal.phashNearDupPairs(s,
          Multimodal.attachPayload(Tables(s, dir, "documents")))
        .orderBy(col("id_x"), col("id_y"))
    },

    // Video-level near-dup by frame-fingerprint overlap: each (stub)
    // video's sampled frames (the m2 1:3 grid) fingerprint with the
    // house hash over the raw frame bytes, and two videos are near-dups
    // when they share ≥ 50% of the smaller one's distinct frames — the
    // inverted-index technique production video dedup uses (no pairwise
    // decode, no all-pairs). Scale shape: narrow frame explode + one
    // distinct agg + an equi-join ON THE FINGERPRINT (pairs = Σ
    // bucket² over frames shared by ≥2 videos, never n²) + sizes
    // joined in; the ≥50% gate is an integer comparison, the reported
    // overlap one portable double.
    QueryDef.sql(
      "m5_video_neardup",
      s"""WITH f0 AS (SELECT doc_id, text,
         |    UNNEST(range(0, (length(text)+15)//16)) AS frame_idx
         |  FROM documents),
         |fs AS (SELECT DISTINCT doc_id,
         |    ${oHx("substring(text, CAST(frame_idx*16 + 1 AS INT), 16)")} AS fp
         |  FROM f0 WHERE frame_idx % 3 = 0),
         |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nf FROM fs GROUP BY 1),
         |p AS (SELECT a.doc_id AS id_x, b.doc_id AS id_y,
         |        CAST(COUNT(*) AS BIGINT) AS n_common
         |      FROM fs a JOIN fs b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2)
         |SELECT p.id_x, p.id_y, p.n_common,
         |  floor((p.n_common::DOUBLE / least(sa.nf, sb.nf)::DOUBLE)
         |    * 1000000.0 + 0.5) / 1000000.0 AS overlap
         |FROM p JOIN sz sa ON sa.doc_id = p.id_x JOIN sz sb ON sb.doc_id = p.id_y
         |WHERE p.n_common * 2 >= least(sa.nf, sb.nf)
         |ORDER BY p.id_x, p.id_y""".stripMargin) { (s, dir) =>
      val fs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0),
            greatest(expr("CAST((length(text)+15) div 16 AS INT)") - 1, lit(0)),
            lit(1))).as("frame_idx"))
        .filter(col("frame_idx") % 3 === 0)
        .select(col("doc_id"),
          graft.ops.TextOps.hx(expr("substring(text, frame_idx*16 + 1, 16)")).as("fp"))
        .distinct()
      val sz = fs.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
      val p = fs.select(col("doc_id").as("id_x"), col("fp"))
        .join(fs.select(col("doc_id").as("id_y"), col("fp")), "fp")
        .filter(col("id_x") < col("id_y"))
        .groupBy(col("id_x"), col("id_y")).agg(count(lit(1)).as("n_common"))
      p.join(sz.select(col("doc_id").as("id_x"), col("nf").as("nx")), "id_x")
        .join(sz.select(col("doc_id").as("id_y"), col("nf").as("ny")), "id_y")
        .filter(col("n_common") * 2 >= least(col("nx"), col("ny")))
        .select(col("id_x"), col("id_y"), col("n_common"),
          graft.ops.TextOps.round6p(col("n_common").cast("double")
            / least(col("nx"), col("ny")).cast("double")).as("overlap"))
        .orderBy(col("id_x"), col("id_y"))
    },

    // Shot-boundary detection: temporal segmentation of each (stub)
    // video from its per-frame mean byte level (the luma-delta
    // heuristic real shot detectors use — a codec swaps real luma into
    // the same per-frame statistic at the m2 decode seam). A boundary
    // opens where the level jumps by ≥ 12 against the previous frame;
    // consecutive same-shot frames fold with the running-sum island
    // window. Scale shape: the frame explode is the m2 narrow
    // mapPartitions path (no shuffle), the windows partition BY VIDEO
    // (per-key local sorts, never global), and the two rollups are one
    // partial-agg shuffle each. Integer arithmetic throughout.
    QueryDef.sql(
      "m6_shot_boundaries",
      """WITH f AS (SELECT doc_id, text,
        |    UNNEST(range(0, (length(text)+15)//16)) AS frame_idx
        |  FROM documents),
        |fr AS (SELECT doc_id, frame_idx,
        |    (list_sum(list_transform(
        |       range(frame_idx*16 + 1, least(frame_idx*16 + 16, length(text)) + 1),
        |       i -> ascii(substring(text, i, 1))))
        |     // least(16, length(text) - frame_idx*16)) AS m FROM f),
        |b AS (SELECT doc_id, frame_idx,
        |    CASE WHEN abs(m - LAG(m) OVER w) < 12 THEN 0 ELSE 1 END AS brk
        |  FROM fr WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx)),
        |sh AS (SELECT doc_id, SUM(brk) OVER (PARTITION BY doc_id
        |    ORDER BY frame_idx ROWS UNBOUNDED PRECEDING) AS shot FROM b),
        |per AS (SELECT doc_id, shot, CAST(COUNT(*) AS BIGINT) AS len
        |        FROM sh GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(len) AS BIGINT) AS n_frames,
        |  CAST(COUNT(*) AS BIGINT) AS n_shots,
        |  CAST(MAX(len) AS BIGINT) AS max_shot_frames
        |FROM per GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Multimodal.shotBoundaries(s,
          Multimodal.attachPayload(Tables(s, dir, "documents")))
        .orderBy(col("doc_id"))
    },

    // Voice-activity segmentation of the (stub) audio payloads — the
    // ASR-pipeline VAD pass (m6's temporal-segmentation move at audio
    // grain, plus the hangover merge shot detection doesn't have):
    // 8-byte frames at mean level >= 100 are voiced, interior silence
    // runs < 2 frames merge into the surrounding speech, boundary
    // silences never merge. The oracle replays frame energies, both
    // island passes and the hangover rule in SQL windows — exact
    // integers, one portable ratio.
    QueryDef.sql(
      "m8_audio_vad",
      """WITH f AS (SELECT doc_id, text,
        |    UNNEST(range(0, (length(text)+7)//8)) AS frame_idx
        |  FROM documents),
        |fr AS (SELECT doc_id, frame_idx,
        |    (list_sum(list_transform(
        |       range(frame_idx*8 + 1, least(frame_idx*8 + 8, length(text)) + 1),
        |       i -> ascii(substring(text, i, 1))))
        |     // least(8, length(text) - frame_idx*8)) AS m FROM f),
        |v AS (SELECT doc_id, frame_idx,
        |    CASE WHEN m >= 100 THEN 1 ELSE 0 END AS vc FROM fr),
        |b AS (SELECT doc_id, frame_idx, vc,
        |    CASE WHEN vc = LAG(vc) OVER w THEN 0 ELSE 1 END AS brk
        |  FROM v WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx)),
        |i AS (SELECT *, SUM(brk) OVER (PARTITION BY doc_id
        |    ORDER BY frame_idx ROWS UNBOUNDED PRECEDING) AS isl FROM b),
        |runs AS (SELECT doc_id, isl, MIN(vc) AS vc,
        |    CAST(COUNT(*) AS BIGINT) AS len, MIN(frame_idx) AS start
        |  FROM i GROUP BY 1, 2),
        |sm AS (SELECT *, CASE WHEN vc = 1 THEN 1
        |    WHEN len < 2 AND isl > MIN(isl) OVER wd AND isl < MAX(isl) OVER wd
        |      THEN 1 ELSE 0 END AS vc2
        |  FROM runs WINDOW wd AS (PARTITION BY doc_id)),
        |sb AS (SELECT *, CASE WHEN vc2 = LAG(vc2) OVER ws THEN 0 ELSE 1 END AS brk2
        |  FROM sm WINDOW ws AS (PARTITION BY doc_id ORDER BY start)),
        |sg AS (SELECT *, SUM(brk2) OVER (PARTITION BY doc_id
        |    ORDER BY start ROWS UNBOUNDED PRECEDING) AS seg FROM sb),
        |segs AS (SELECT doc_id, seg, MIN(vc2) AS vc2,
        |    CAST(SUM(len) AS BIGINT) AS seg_len FROM sg GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(SUM(seg_len) AS BIGINT) AS n_frames,
        |  CAST(SUM(CASE WHEN vc2 = 1 THEN seg_len ELSE 0 END) AS BIGINT) AS voiced_frames,
        |  CAST(SUM(CASE WHEN vc2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_segments,
        |  CAST(COALESCE(MAX(CASE WHEN vc2 = 1 THEN seg_len END), 0) AS BIGINT)
        |    AS max_segment_frames,
        |  floor((SUM(CASE WHEN vc2 = 1 THEN seg_len ELSE 0 END)::DOUBLE
        |    / SUM(seg_len)::DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS voiced_ratio
        |FROM segs GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Multimodal.vadSegments(s,
          Multimodal.attachPayload(Tables(s, dir, "documents")))
        .orderBy(col("doc_id"))
    },

    // Streaming VAD monitor: m8's segmentation computed IN-ROW per
    // arriving audio (native vad_stats_f kernel — hangover included,
    // the s21 stateless-kernel move at audio grain), per-source
    // utterance statistics in complete mode. The oracle replays the
    // window-based m8 chain and rolls it up per source — one hash
    // match proves in-row kernel ≡ window path ≡ oracle.
    QueryDef.sql(
      "s34_stream_vad_monitor",
      """WITH f AS (SELECT doc_id, text,
        |    UNNEST(range(0, (length(text)+7)//8)) AS frame_idx
        |  FROM documents WHERE length(text) > 0),
        |fr AS (SELECT doc_id, frame_idx,
        |    (list_sum(list_transform(
        |       range(frame_idx*8 + 1, least(frame_idx*8 + 8, length(text)) + 1),
        |       i -> ascii(substring(text, i, 1))))
        |     // least(8, length(text) - frame_idx*8)) AS m FROM f),
        |v AS (SELECT doc_id, frame_idx,
        |    CASE WHEN m >= 100 THEN 1 ELSE 0 END AS vc FROM fr),
        |b AS (SELECT doc_id, frame_idx, vc,
        |    CASE WHEN vc = LAG(vc) OVER w THEN 0 ELSE 1 END AS brk
        |  FROM v WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx)),
        |i AS (SELECT *, SUM(brk) OVER (PARTITION BY doc_id
        |    ORDER BY frame_idx ROWS UNBOUNDED PRECEDING) AS isl FROM b),
        |runs AS (SELECT doc_id, isl, MIN(vc) AS vc,
        |    CAST(COUNT(*) AS BIGINT) AS len, MIN(frame_idx) AS start
        |  FROM i GROUP BY 1, 2),
        |sm AS (SELECT *, CASE WHEN vc = 1 THEN 1
        |    WHEN len < 2 AND isl > MIN(isl) OVER wd AND isl < MAX(isl) OVER wd
        |      THEN 1 ELSE 0 END AS vc2
        |  FROM runs WINDOW wd AS (PARTITION BY doc_id)),
        |per AS (SELECT doc_id,
        |    CAST(SUM(len) AS BIGINT) AS n_frames,
        |    CAST(SUM(CASE WHEN vc2 = 1 THEN len ELSE 0 END) AS BIGINT) AS voiced,
        |    CAST(SUM(CASE WHEN vc2 = 1 AND (prev2 IS NULL OR prev2 = 0)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS segs
        |  FROM (SELECT *, LAG(vc2) OVER (PARTITION BY doc_id ORDER BY start) AS prev2
        |        FROM sm) GROUP BY doc_id),
        |j AS (SELECT d.source, p.n_frames, p.voiced, p.segs
        |      FROM per p JOIN documents d USING (doc_id))
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_audios,
        |  CAST(SUM(n_frames) AS BIGINT) AS total_frames,
        |  CAST(SUM(voiced) AS BIGINT) AS voiced_frames,
        |  CAST(SUM(segs) AS BIGINT) AS total_segments,
        |  floor((SUM(voiced)::DOUBLE / SUM(n_frames)::DOUBLE) * 1000000.0 + 0.5)
        |    / 1000000.0 AS voiced_ratio
        |FROM j GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      StreamOps.vadMonitor(s, dir).orderBy(col("source"))
    },

    // ---------------------------------------------- streaming (A4 parity)
    QueryDef.sql(
      "s1_stream_windows",
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      StreamOps.windowedCounts(s, dir).orderBy(col("day"), col("event_type"))
    },

    QueryDef.sql(
      "s2_stream_dedup",
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      StreamOps.dedupDistinctUsers(s, dir).orderBy(col("event_type"))
    },

    // session windows vs the batch gaps-and-islands formulation
    QueryDef.sql(
      "s3_session_windows",
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |m AS (SELECT user_id, ts,
        |  CASE WHEN LAG(ts) OVER w IS NULL
        |         OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
        |       THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (SELECT user_id, ts, SUM(brk) OVER
        |  (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS grp FROM m)
        |SELECT user_id, MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM g GROUP BY user_id, grp
        |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
      StreamOps.sessionWindows(s, dir).orderBy(col("user_id"), col("session_start"))
    },

    // arbitrary-state streaming (flatMapGroupsWithState)
    QueryDef.sql(
      "s4_stateful_user_stats",
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |m AS (SELECT user_id, ts,
        |  CASE WHEN LAG(ts) OVER w IS NULL
        |         OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
        |       THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (SELECT user_id, SUM(brk) OVER
        |  (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS grp FROM m)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(MAX(grp) AS BIGINT) AS n_sessions
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      StreamOps.statefulUserStats(s, dir).orderBy(col("user_id"))
    },

    // A5 sink in streaming form: foreachBatch idempotent hash-index
    // merge; deterministic minting ⇒ final index independent of batch
    // boundaries, so the landed result is oracle-checkable
    QueryDef.sql(
      "s7_stream_index_merge",
      """SELECT hash, 'WCD' || upper(substring(hash, 1, 16)) AS qid,
        |  'event' AS item_type
        |FROM (SELECT DISTINCT md5('EV' || CAST(user_id AS VARCHAR)) AS hash
        |      FROM events)
        |ORDER BY hash""".stripMargin) { (s, dir) =>
      StreamOps.streamIndexMerge(s, dir).orderBy(col("hash"))
    },

    // stream-stream interval join (watermark-bounded state both sides)
    QueryDef.sql(
      "s6_stream_interval_join",
      """SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id,
        |  CAST(c.ts AS TIMESTAMP) AS click_ts, CAST(v.ts AS TIMESTAMP) AS view_ts
        |FROM events c JOIN events v
        |  ON c.event_type = 'click' AND v.event_type = 'view'
        | AND v.user_id = c.user_id
        | AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 1 HOUR
        |ORDER BY click_id, view_id""".stripMargin) { (s, dir) =>
      StreamOps.intervalJoin(s, dir).orderBy(col("click_id"), col("view_id"))
    },

    // A4 on the reference's recentchange schema (event.py:36-66): a
    // deterministic recentchange feed is synthesized from the events
    // stream (server_name/namespace/title from modular arithmetic), then
    // filtered and seen-title-deduped with watermark-bounded state —
    // the replacement for the reference's unbounded in-memory seen-set.
    // Projected to dedup-key-determined columns so first-wins order
    // inside a micro-batch can't affect the result.
    QueryDef.sql(
      "s5_recentchange_dedup",
      """SELECT DISTINCT 'en' AS language_code,
        |  'T'||CAST(user_id % 50 AS VARCHAR) AS title
        |FROM events
        |WHERE event_id % 3 = 0 AND user_id % 4 = 0
        |ORDER BY title""".stripMargin) { (s, dir) =>
      val sites = array(lit("en.wikipedia.org"), lit("de.wikipedia.org"),
        lit("en.wikinews.org"))
      val rc = StreamOps.eventStream(s, dir).select(
        element_at(sites, (col("event_id") % 3).cast("int") + 1).as("server_name"),
        (col("user_id") % 4).cast("int").as("namespace"),
        concat(lit("T"), col("user_id") % 50).as("title"),
        col("ts"))
      StreamOps.runToTable(s,
          StreamOps.recentChangeDedup(rc).select(col("language_code"), col("title")),
          "stream_recentchange", "append")
        .orderBy(col("title"))
    },

    // stream-static broadcast enrichment: dimension join per micro-batch
    QueryDef.sql(
      "s9_stream_static_enrich",
      """SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e JOIN nation n ON n.n_nationkey = e.user_id % 25
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      StreamOps.streamStaticEnrich(s, dir).orderBy(col("n_name"))
    },

    // bounded-state dedup: state lives for the watermark delay, not
    // forever — equals global first-wins dedup on the bounded stream
    QueryDef.sql(
      "s8_dedup_within_watermark",
      """WITH d AS (SELECT DISTINCT user_id, event_type,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day FROM events)
        |SELECT day, CAST(COUNT(*) AS BIGINT) AS n_active_pairs
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      StreamOps.dedupWithinWatermark(s, dir).orderBy(col("day"))
    },

    // Streaming data-quality monitor over the document INGEST feed: the
    // t35 rule pack as a stateless narrow map inside the micro-batch,
    // per-source keep rates in complete mode. Integer rule comparisons
    // mean batch and streaming plans decide identically, so the batch
    // oracle checks the bounded stream exactly.
    QueryDef.sql(
      "s10_stream_quality",
      s"""WITH t AS (SELECT source, string_split(text, ' ') AS w FROM documents),
         |m AS (SELECT source,
         |    CAST(len(w) AS BIGINT) AS n,
         |    CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS sum_len,
         |    CAST(len(list_filter(w, x -> list_contains(${graft.ops.TextOps.LangProfiles.head._2
              .map(w => s"'$w'").mkString("[", ",", "]")}, x))) AS BIGINT) AS stop_hits,
         |    CAST(list_max(list_transform(list_distinct(w),
         |      d -> len(list_filter(w, x -> x = d)))) AS BIGINT) AS top_tok
         |  FROM t),
         |k AS (SELECT source,
         |    (n BETWEEN 10 AND 1000 AND sum_len >= 2 * n AND sum_len <= 12 * n
         |     AND stop_hits * 100 >= n AND top_tok * 5 <= n) AS keep
         |  FROM m)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
         |  floor((SUM(CASE WHEN keep THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)::DOUBLE) * 1000000.0 + 0.5) / 1000000.0
         |    AS keep_rate
         |FROM k GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      StreamOps.qualityMonitor(s, dir).orderBy(col("source"))
    },

    // Streaming PII monitor: the t43 detection pack stateless in the
    // ingest micro-batch, per-source incidence rates in complete mode —
    // the compliance dashboard beside the landing sink. Deterministic
    // injection + stateless rules ⇒ the batch oracle mirrors the stream
    // exactly (the s10 contract).
    QueryDef.sql(
      "s11_stream_pii",
      s"""WITH r AS (SELECT doc_id, source, ${graft.queries.TrainingData.oPiiRaw} AS raw
         |  FROM documents),
         |m AS (SELECT source,
         |    CAST(len(regexp_extract_all(raw, '${graft.ops.TextOps.EmailRe}')) AS BIGINT) AS ne,
         |    CAST(len(regexp_extract_all(raw, '${graft.ops.TextOps.PhoneRe}')) AS BIGINT) AS np,
         |    CAST(len(regexp_extract_all(raw, '${graft.ops.TextOps.Ipv4Re}')) AS BIGINT) AS ni
         |  FROM r)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(ne) AS BIGINT) AS n_email,
         |  CAST(SUM(np) AS BIGINT) AS n_phone,
         |  CAST(SUM(ni) AS BIGINT) AS n_ip,
         |  CAST(SUM(CASE WHEN ne + np + ni > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_pii
         |FROM m GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      StreamOps.piiMonitor(s, dir).orderBy(col("source"))
    },

    // Streaming near-dup gate: arriving docs MinHash-banded stateless
    // (per-row signature, same hash family as batch) and joined against
    // the LANDED corpus band index — the online "have we already got
    // this?" check at ingest. The oracle recomputes the batch candidate
    // front end and symmetrizes it (the stream asks the question from
    // each doc's side).
    QueryDef.sql(
      "s12_stream_neardup_gate",
      s"""WITH toks AS (${graft.queries.TrainingData.oToks}),
         |sh AS (${graft.queries.TrainingData.oShingles}),
         |${graft.queries.TrainingData.oMinhashCtes},
         |sym AS (SELECT id_x AS doc_id, id_y AS other FROM cand
         |        UNION ALL SELECT id_y, id_x FROM cand)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_candidates
         |FROM sym GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      StreamOps.nearDupGate(s, dir).orderBy(col("doc_id"))
    },

    // Batch ≡ stream ADMISSION-GATE EQUIVALENCE: the s12 streaming gate
    // and the t52 batch gate run on the SAME arriving slice (doc_id %
    // 10 = 7) against the SAME landed corpus complement, and the query
    // emits both candidate counts side by side per arriving doc. The
    // oracle states the batch formula for BOTH columns, so a hash match
    // proves stream ≡ batch ≡ oracle — the ingest story's last spec
    // gap: the online gate provably admits/flags exactly what a batch
    // re-run of the curation pipeline would.
    QueryDef.sql(
      "s15_gate_batch_equiv",
      s"""WITH toks AS (${graft.queries.TrainingData.oToks}),
         |sh AS (${graft.queries.TrainingData.oShingles}),
         |${graft.queries.TrainingData.oSigBandCtes},
         |cand AS (SELECT a.doc_id AS new_id, b.doc_id AS corpus_id
         |  FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.band_key = b.band_key
         |  WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7 GROUP BY 1, 2),
         |agg AS (SELECT new_id, CAST(COUNT(*) AS BIGINT) AS n FROM cand GROUP BY 1)
         |SELECT d.doc_id, COALESCE(a.n, 0) AS n_stream, COALESCE(a.n, 0) AS n_batch
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 7) d
         |LEFT JOIN agg a ON a.new_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      import graft.ops.DedupOps
      import graft.queries.TrainingData
      val isNew = arrival()
      val stream = StreamOps.nearDupGate(s, dir,
          arriving = isNew, corpusKeep = !isNew,
          sinkName = "stream_gate_equiv")
        .select(col("doc_id"), col("n_candidates").as("n_stream"))
      val batch = DedupOps.incrementalNearDup(
          graft.Tables(s, dir, "documents").filter(isNew), "doc_id", col("text"),
          TrainingData.docShingles(s, dir).filter(!isNew),
          TrainingData.docMinhashSigs(s, dir).filter(!isNew),
          threshold = 0.8, k = TrainingData.MinhashK,
          bands = TrainingData.MinhashBands)
        .select(col("doc_id"), col("n_candidates").as("n_batch"))
      graft.Tables(s, dir, "documents").filter(isNew).select(col("doc_id"))
        .join(stream, Seq("doc_id"), "left")
        .join(batch, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_stream"), lit(0L)).as("n_stream"),
          coalesce(col("n_batch"), lit(0L)).as("n_batch"))
        .orderBy(col("doc_id"))
    },

    // Watermark-semantics probe for the A4 dedup: a staged 4-batch feed
    // with duplicates straddling the 1-hour watermark (see
    // StreamOps.watermarkProbeStream) — pins the three bounded-state
    // behaviors no other oracle stresses: an in-watermark duplicate is
    // dropped, a row older than the watermark is dropped as late, and a
    // key whose state has been evicted re-admits. The feed is
    // deterministic by construction (file-per-trigger, fixed mtimes),
    // so the oracle can state the exact expected emissions.
    QueryDef.sql(
      "s13_wm_dedup_semantics",
      """SELECT * FROM (VALUES
        |  ('A', TIMESTAMP '2024-01-01 10:00:00'),
        |  ('B', TIMESTAMP '2024-01-01 10:00:00'),
        |  ('C', TIMESTAMP '2024-01-01 13:00:00'),
        |  ('D', TIMESTAMP '2024-01-01 12:10:00'),
        |  ('A', TIMESTAMP '2024-01-01 12:30:00')) AS t(title, ts)
        |ORDER BY ts, title""".stripMargin) { (s, dir) =>
      StreamOps.runToTable(s,
          StreamOps.recentChangeDedup(StreamOps.watermarkProbeStream(s),
              boundedState = true)
            .select(col("title"), col("ts")),
          "stream_wm_semantics", "append")
        .orderBy(col("ts"), col("title"))
    },

    // Streaming-built count-min sketch ≡ batch: the 4×1024 CMS cells
    // aggregate in the document-ingest micro-batch (complete mode,
    // per-batch partials add cell-wise in state), then serve the SAME
    // heavy-hitter top-20 as t69 — against t69's own oracle, so one
    // hash match proves stream ≡ batch ≡ oracle. This is the property
    // that makes a sketch deployable at ingest: the landed sketch a
    // stream maintains answers the same queries as a batch rebuild.
    QueryDef.sql(
      "s16_stream_cms",
      graft.queries.TrainingData.oCms) { (s, dir) =>
      graft.queries.TrainingData.cmsTop20(
        graft.queries.TrainingData.cmsVocab(s, dir),
        StreamOps.cmsCellStream(s, dir))
    },

    // Streamed mixture monitor ≡ batch: t36's per-source doc/token
    // totals aggregate in the document-ingest micro-batch (complete
    // mode — counts/sums merge by addition, so batch boundaries cannot
    // change a total), then the SAME sqrt-tempered mixture tail serves
    // the report off the landed streaming aggregate, against t36's own
    // oracle. One hash match proves stream ≡ batch ≡ oracle — the live
    // mixture dashboard a production ingest runs beside the sink.
    QueryDef.sql(
      "s17_stream_domain_mix",
      graft.queries.TrainingData.oDomainMix) { (s, dir) =>
      graft.queries.TrainingData.domainMixFrom(
        StreamOps.domainMixStream(s, dir))
    },

    // Streaming shot-rate monitor: the m6 segmentation computed IN-ROW
    // per arriving video (no windows, no state — the stateless-kernel
    // move that makes the multimodal family ingest-capable), rolled up
    // per source in complete mode. The oracle replays the window-based
    // m6 chain and aggregates — one hash match proves in-row kernel ≡
    // window path ≡ oracle.
    QueryDef.sql(
      "s21_stream_shot_monitor",
      """WITH f AS (SELECT doc_id, text,
        |    UNNEST(range(0, (length(text)+15)//16)) AS frame_idx
        |  FROM documents WHERE length(text) > 0),
        |fr AS (SELECT doc_id, frame_idx,
        |    (list_sum(list_transform(
        |       range(frame_idx*16 + 1, least(frame_idx*16 + 16, length(text)) + 1),
        |       i -> ascii(substring(text, i, 1))))
        |     // least(16, length(text) - frame_idx*16)) AS m FROM f),
        |b AS (SELECT doc_id, frame_idx,
        |    CASE WHEN abs(m - LAG(m) OVER w) < 12 THEN 0 ELSE 1 END AS brk
        |  FROM fr WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx)),
        |per AS (SELECT doc_id, CAST(SUM(brk) AS BIGINT) AS n_shots
        |        FROM b GROUP BY doc_id),
        |j AS (SELECT d.source, p.n_shots
        |      FROM per p JOIN documents d USING (doc_id))
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_videos,
        |  CAST(SUM(n_shots) AS BIGINT) AS total_shots,
        |  floor(SUM(n_shots)::DOUBLE / COUNT(*)::DOUBLE * 1000000.0 + 0.5)
        |    / 1000000.0 AS avg_shots
        |FROM j GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      StreamOps.shotMonitor(s, dir).orderBy(col("source"))
    },

    // Streamed histogram-sketch quantiles ≡ batch: t68's 256-bucket
    // token-count cells aggregate in the document-ingest micro-batch
    // (complete mode — bucket counts add, so batch boundaries cannot
    // change a cell), then the SAME interpolation tail serves the
    // percentile report against t68's own oracle. With s16 (CMS) and
    // s17 (mixture totals) this completes the mergeable-sketch family
    // at ingest: frequency, mixture, and now distribution.
    QueryDef.sql(
      "s20_stream_quantiles",
      graft.queries.TrainingData.oQuantileSketch) { (s, dir) =>
      graft.queries.TrainingData.quantileSketchFrom(
        StreamOps.histCellStream(s, dir))
    },

    // LEFT-OUTER stream-stream interval join (attribution: every click
    // reported, NULL-extended when no view precedes it within the
    // hour). The semantics the inner form (s6) can't probe: the null
    // side emits only after the view-side watermark proves no match
    // can still arrive — so this runs on the fixed-instant 2-batch
    // probe feed where each emission decision is pinned (the s13
    // move), and the oracle is the literal expected relation: clicks 1
    // and 3 match in their own micro-batches; click 2's NULL row
    // emits at the AvailableNow cleanup batch once the watermark
    // (19:30 after batch 2) passes its last possible match time.
    QueryDef.sql(
      "s18_stream_left_outer_join",
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), CAST(1 AS BIGINT),
        |   TIMESTAMP '2024-01-01 10:00:00',
        |   CAST(100 AS BIGINT), TIMESTAMP '2024-01-01 09:30:00'),
        |  (CAST(2 AS BIGINT), CAST(2 AS BIGINT),
        |   TIMESTAMP '2024-01-01 10:00:00',
        |   CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP)),
        |  (CAST(3 AS BIGINT), CAST(9 AS BIGINT),
        |   TIMESTAMP '2024-01-01 20:00:00',
        |   CAST(101 AS BIGINT), TIMESTAMP '2024-01-01 20:00:00'))
        | AS t(click_id, user_id, click_ts, view_id, view_ts)
        |ORDER BY click_id""".stripMargin) { (s, dir) =>
      StreamOps.leftOuterIntervalJoin(s).orderBy(col("click_id"))
    },

    // Batch ≡ stream equivalence for the SUBSTRING admission gate (the
    // s15 move at substring grain, closing the third ingest path):
    // the streaming gate's per-row in-row seed keys joined to the
    // landed seed index, and the batch candidate stage over the same
    // arriving slice, side by side — the oracle states the same
    // candidate formula for both columns (hx-mirrored, so the counts
    // are exact, not just the rescored verdicts).
    QueryDef.sql(
      "s19_substring_gate_equiv",
      s"""WITH toks AS (${graft.queries.TrainingData.oToks}),
         |sd0 AS (SELECT doc_id, UNNEST([struct_pack(pos := i-1,
         |          gram := array_to_string(w[i:i+9], ' '))
         |        for i in range(1, len(w)-8)]) AS s FROM toks),
         |seeds AS (SELECT doc_id, s.pos AS pos, s.gram AS gram FROM sd0),
         |cand AS (SELECT DISTINCT a.new_id, b.corpus_id FROM
         |    (SELECT doc_id AS new_id, ${graft.queries.TrainingData.oHx("gram")} AS g
         |     FROM seeds WHERE doc_id % 10 = 7 AND pos % 10 = 0) a
         |  JOIN
         |    (SELECT doc_id AS corpus_id, ${graft.queries.TrainingData.oHx("gram")} AS g
         |     FROM seeds WHERE doc_id % 10 <> 7) b USING (g)),
         |agg AS (SELECT new_id, CAST(COUNT(*) AS BIGINT) AS n FROM cand GROUP BY 1)
         |SELECT d.doc_id, COALESCE(a.n, 0) AS n_stream, COALESCE(a.n, 0) AS n_batch
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 7) d
         |LEFT JOIN agg a ON a.new_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      import graft.ops.DedupOps
      import graft.queries.TrainingData
      val isNew = arrival()
      val stream = StreamOps.substringGate(s, dir)
        .select(col("doc_id"), col("n_candidates").as("n_stream"))
      val batch = DedupOps.runGateCandidates(
          Tables(s, dir, "documents").filter(isNew),
          TrainingData.seedGramsLanded(s, dir).filter(!isNew),
          "doc_id", col("text"))
        .select(col("doc_id"), col("n_candidates").cast("long").as("n_batch"))
      Tables(s, dir, "documents").filter(isNew).select(col("doc_id"))
        .join(stream, Seq("doc_id"), "left")
        .join(batch, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_stream"), lit(0L)).as("n_stream"),
          coalesce(col("n_batch"), lit(0L)).as("n_batch"))
        .orderBy(col("doc_id"))
    },

    // Landed-index GROWTH at ingest, near-dup grain: the arriving slice
    // replays as 3 deterministic micro-batches (batch = doc_id % 3);
    // each batch gates against the grown band index (corpus ∪ earlier
    // batches) and then folds its own band + shingle rows in. The query
    // emits per arriving doc (a) the at-admission candidate count —
    // whose oracle formula INCLUDES earlier-batch arrival partners, so
    // a hash match proves batch N+1 really gated against batch N (a
    // static-index gate would undercount) — and (b) bit_xor row
    // signatures of the grown index vs the batch rebuild (the landed
    // docMinhashSigs/docShingles family over the full table), stated
    // once in the oracle for BOTH columns: grown ≡ rebuild, the
    // index-after-K-batches equivalence. The reference's
    // cache-insert-after-create loop (wikipedia_page.py:350-373) at
    // near-dup grain.
    QueryDef.sql(
      "s22_neardup_index_growth",
      s"""WITH toks AS (${graft.queries.TrainingData.oToks}),
         |sh AS (${graft.queries.TrainingData.oShingles}),
         |${graft.queries.TrainingData.oSigBandCtes},
         |arr AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 7),
         |cand AS (SELECT a.doc_id AS new_id, b.doc_id AS corpus_id
         |  FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.band_key = b.band_key
         |  WHERE a.doc_id % 10 = 7 AND b.doc_id <> a.doc_id
         |    AND (b.doc_id % 10 <> 7 OR b.doc_id % 3 < a.doc_id % 3)
         |  GROUP BY 1, 2),
         |agg AS (SELECT new_id, CAST(COUNT(*) AS BIGINT) AS n FROM cand GROUP BY 1),
         |bsig AS (SELECT doc_id,
         |    BIT_XOR(${oHx("CAST(band AS VARCHAR)||':'||band_key")}) AS s
         |  FROM bands WHERE doc_id % 10 = 7 GROUP BY 1),
         |ssig AS (SELECT doc_id, BIT_XOR(${oHx("shingle")}) AS s
         |  FROM sh WHERE doc_id % 10 = 7 GROUP BY 1)
         |SELECT d.doc_id, d.doc_id % 3 AS batch, COALESCE(a.n, 0) AS n_candidates,
         |  b.s AS bands_sig_grown, b.s AS bands_sig_rebuild,
         |  s2.s AS sh_sig_grown, s2.s AS sh_sig_rebuild
         |FROM arr d
         |LEFT JOIN agg a ON a.new_id = d.doc_id
         |LEFT JOIN bsig b ON b.doc_id = d.doc_id
         |LEFT JOIN ssig s2 ON s2.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      import graft.ops.{DedupOps, TextOps}
      import graft.queries.TrainingData
      val isNew = arrival()
      val (gate, grownBands, grownSh) = StreamOps.growNearDupIndex(s, dir)
      val bandH = TextOps.hx(concat_ws(":",
        col("band").cast("string"), col("band_key")))
      val shH = TextOps.hx(col("shingle"))
      val rebuildBands = DedupOps.lshBands(TrainingData.docMinhashSigs(s, dir),
        "doc_id", TrainingData.MinhashBands,
        TrainingData.MinhashK / TrainingData.MinhashBands)
      Tables(s, dir, "documents").filter(isNew).select(col("doc_id"))
        .join(gate, Seq("doc_id"), "left")
        .join(xorSig(grownBands.filter(isNew), "doc_id", bandH, "bands_sig_grown"),
          Seq("doc_id"), "left")
        .join(xorSig(rebuildBands.filter(isNew), "doc_id", bandH, "bands_sig_rebuild"),
          Seq("doc_id"), "left")
        .join(xorSig(grownSh.filter(isNew), "doc_id", shH, "sh_sig_grown"),
          Seq("doc_id"), "left")
        .join(xorSig(TrainingData.docShingles(s, dir).filter(isNew), "doc_id", shH,
          "sh_sig_rebuild"), Seq("doc_id"), "left")
        .select(col("doc_id"), (col("doc_id") % 3).as("batch"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          col("bands_sig_grown"), col("bands_sig_rebuild"),
          col("sh_sig_grown"), col("sh_sig_rebuild"))
        .orderBy(col("doc_id"))
    },

    // Landed-index GROWTH at ingest, substring grain: the s22 move on
    // the seed-gram index — arriving stride seeds gate against the
    // grown all-positions index (corpus ∪ earlier batches), then each
    // batch's FULL positional grams fold in; signatures prove the grown
    // seed index ≡ the seedGramsLanded batch rebuild.
    QueryDef.sql(
      "s23_substring_index_growth",
      s"""WITH toks AS (${graft.queries.TrainingData.oToks}),
         |sd0 AS (SELECT doc_id, UNNEST([struct_pack(pos := i-1,
         |          gram := array_to_string(w[i:i+9], ' '))
         |        for i in range(1, len(w)-8)]) AS s FROM toks),
         |seeds AS (SELECT doc_id, s.pos AS pos, ${graft.queries.TrainingData.oHx("s.gram")} AS gram FROM sd0),
         |arr AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 7),
         |cand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
         |  FROM (SELECT doc_id, gram FROM seeds
         |        WHERE doc_id % 10 = 7 AND pos % 10 = 0) a
         |  JOIN seeds b USING (gram)
         |  WHERE b.doc_id <> a.doc_id
         |    AND (b.doc_id % 10 <> 7 OR b.doc_id % 3 < a.doc_id % 3)),
         |agg AS (SELECT new_id, CAST(COUNT(*) AS BIGINT) AS n FROM cand GROUP BY 1),
         |gsig AS (SELECT doc_id,
         |    BIT_XOR(${oHx("CAST(pos AS VARCHAR)||':'||CAST(gram AS VARCHAR)")}) AS s
         |  FROM seeds WHERE doc_id % 10 = 7 GROUP BY 1)
         |SELECT d.doc_id, d.doc_id % 3 AS batch, COALESCE(a.n, 0) AS n_candidates,
         |  g.s AS seed_sig_grown, g.s AS seed_sig_rebuild
         |FROM arr d
         |LEFT JOIN agg a ON a.new_id = d.doc_id
         |LEFT JOIN gsig g ON g.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      import graft.ops.TextOps
      import graft.queries.TrainingData
      val isNew = arrival()
      val (gate, grownSeeds) = StreamOps.growSeedIndex(s, dir)
      val seedH = TextOps.hx(concat_ws(":",
        col("pos").cast("string"), col("gram").cast("string")))
      Tables(s, dir, "documents").filter(isNew).select(col("doc_id"))
        .join(gate, Seq("doc_id"), "left")
        .join(xorSig(grownSeeds.filter(isNew), "doc_id", seedH, "seed_sig_grown"),
          Seq("doc_id"), "left")
        .join(xorSig(TrainingData.seedGramsLanded(s, dir).filter(isNew), "doc_id", seedH,
          "seed_sig_rebuild"), Seq("doc_id"), "left")
        .select(col("doc_id"), (col("doc_id") % 3).as("batch"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          col("seed_sig_grown"), col("seed_sig_rebuild"))
        .orderBy(col("doc_id"))
    },

    // Streamed cluster RETRACTION ≡ rebuild: t87's forget slice arrives
    // as a 3-batch request stream; each micro-batch repairs the cluster
    // relation in place (retractFromClusters — split/relabel only the
    // affected clusters). Sequential repairs are exact at every point,
    // so the final relation hash-matches the oracle's from-scratch
    // rebuild over documents minus ALL forgotten ids — the
    // right-to-be-forgotten path running at ingest cadence.
    QueryDef.sql(
      "s27_stream_retraction",
      s"""WITH rdocs AS (SELECT * FROM documents
         |         WHERE ${oHx("'forget:'||CAST(doc_id AS VARCHAR)")} % 29 <> 0),
         |toks AS (SELECT doc_id, string_split(text,' ') AS w FROM rdocs),
         |sh AS (${graft.queries.TrainingData.oShingles}),
         |${graft.queries.TrainingData.oMinhashCtes},
         |${graft.queries.TrainingData.oJaccardCtes},
         |pairs AS (SELECT j.id_x, j.id_y FROM jac j
         |  WHERE j.jaccard >= 0.8
         |    AND EXISTS (SELECT 1 FROM cand c WHERE c.id_x = j.id_x AND c.id_y = j.id_y)),
         |e AS (SELECT id_x AS a, id_y AS b FROM pairs
         |      UNION SELECT id_y, id_x FROM pairs),
         |reach(node, anc) AS (
         |  SELECT doc_id, doc_id FROM rdocs
         |  UNION
         |  SELECT r.node, e.b FROM reach r JOIN e ON e.a = r.anc),
         |cc AS (SELECT node AS doc_id, MIN(anc) AS cluster_id
         |       FROM reach GROUP BY node),
         |cs AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
         |       FROM cc GROUP BY cluster_id)
         |SELECT cc.doc_id, cc.cluster_id, cs.cluster_size
         |FROM cc JOIN cs USING (cluster_id)
         |ORDER BY doc_id""".stripMargin
           .replaceFirst("^WITH ", "WITH RECURSIVE ")) { (s, dir) =>
      val out = StreamOps.retractionStream(s, dir)
      out.join(out.groupBy(col("cluster_id").as("ci"))
          .agg(count(lit(1)).as("cluster_size")),
          col("cluster_id") === col("ci"))
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
        .orderBy(col("doc_id"))
    },

    // Streamed codebook-drift ≡ batch: t88's arrival rows maintained in
    // the ingest micro-batch (in-row argmax against the literal trained
    // codebook, per-cell count + DECIMAL fit sums in complete mode) —
    // the oracle replays the batch assignment chain restricted to the
    // arrival slice, so one hash match proves in-row kernel ≡ batch
    // window path ≡ oracle, the s21 move at quantizer grain.
    QueryDef.sql(
      "s26_stream_codebook_drift",
      s"""WITH ${graft.queries.TrainingData.oKmUnrolled},
         |ch AS (SELECT vec_id, cell, score FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY vec_id ORDER BY score DESC, cell) AS cr
         |    FROM fin_s) WHERE cr = 1),
         |arr AS (SELECT cell, score FROM ch WHERE vec_id % 10 = 7),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_slice FROM arr),
         |per AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |    CAST(SUM(CAST(ROUND(score, 9) AS DECIMAL(18,9))) AS DOUBLE) AS ssum
         |  FROM arr GROUP BY 1)
         |SELECT per.cell, per.n_vecs,
         |  floor(ssum / per.n_vecs * 1000000.0 + 0.5) / 1000000.0 AS mean_fit,
         |  floor(per.n_vecs::DOUBLE / tot.n_slice::DOUBLE * 1000000.0 + 0.5)
         |    / 1000000.0 AS cell_share
         |FROM per, tot ORDER BY per.cell""".stripMargin) { (s, dir) =>
      StreamOps.codebookDriftStream(s, dir).orderBy(col("cell"))
    },

    // Landed-index GROWTH, vector grain: the s22 loop on the embedding
    // LSH bucket index (the ANN/near-dup family's gating index) —
    // arriving embeddings bucket in-row (the sign-random-projection
    // family is a pure per-row map), gate against the grown index
    // (corpus ∪ earlier batches), fold their bucket rows in. With
    // s22 (bands/shingles), s23 (seed grams), s24 (clusters) and s7
    // (hashes), every landed index family now grows at ingest.
    QueryDef.sql(
      "s25_embedding_index_growth",
      s"""WITH ${graft.queries.TrainingData.oLshBuckets(
             graft.queries.TrainingData.NearDupLshTables,
             graft.queries.TrainingData.NearDupLshPlanes)},
         |arr AS (SELECT vec_id FROM embeddings WHERE vec_id % 10 = 7),
         |cand AS (SELECT a.vec_id AS new_id, b.vec_id AS corpus_id
         |  FROM buckets a JOIN buckets b ON a.bucket = b.bucket
         |  WHERE a.vec_id % 10 = 7 AND b.vec_id <> a.vec_id
         |    AND (b.vec_id % 10 <> 7 OR b.vec_id % 3 < a.vec_id % 3)
         |  GROUP BY 1, 2),
         |agg AS (SELECT new_id, CAST(COUNT(*) AS BIGINT) AS n FROM cand GROUP BY 1),
         |bsig AS (SELECT vec_id, BIT_XOR(${oHx("CAST(bucket AS VARCHAR)")}) AS s
         |  FROM buckets WHERE vec_id % 10 = 7 GROUP BY 1)
         |SELECT d.vec_id, d.vec_id % 3 AS batch, COALESCE(a.n, 0) AS n_candidates,
         |  b.s AS bkt_sig_grown, b.s AS bkt_sig_rebuild
         |FROM arr d
         |LEFT JOIN agg a ON a.new_id = d.vec_id
         |LEFT JOIN bsig b ON b.vec_id = d.vec_id
         |ORDER BY d.vec_id""".stripMargin) { (s, dir) =>
      import graft.ops.TextOps
      import graft.queries.TrainingData
      val isNew = arrival("vec_id")
      val (gate, grownB) = StreamOps.growEmbIndex(s, dir)
      val h = TextOps.hx(col("bucket").cast("string"))
      Tables(s, dir, "embeddings").filter(isNew).select(col("vec_id"))
        .join(gate, Seq("vec_id"), "left")
        .join(xorSig(grownB.filter(isNew), "vec_id", h, "bkt_sig_grown"),
          Seq("vec_id"), "left")
        .join(xorSig(TrainingData.embBuckets(s, dir,
            TrainingData.NearDupLshTables, TrainingData.NearDupLshPlanes).filter(isNew),
            "vec_id", h, "bkt_sig_rebuild"),
          Seq("vec_id"), "left")
        .select(col("vec_id"), (col("vec_id") % 3).as("batch"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          col("bkt_sig_grown"), col("bkt_sig_rebuild"))
        .orderBy(col("vec_id"))
    },

    // Landed-index GROWTH, cluster grain — INCREMENTAL CONNECTED
    // COMPONENTS: the near-dup cluster relation absorbs each arriving
    // micro-batch by collapsing the batch's rescored pairs in
    // cluster-LABEL space (one CC over a batch-sized label graph, work
    // scales with the batch), instead of re-running the corpus-wide CC
    // loop per snapshot. Labels are component-min doc_ids, so merged
    // mins are global mins and the grown relation is EXACTLY what full
    // CC over corpus ∪ arrivals produces — the query emits the
    // incremental assignment beside the landed full-table rebuild
    // (dedupClusters) with the recursive oracle stating one formula for
    // both column pairs: incremental ≡ rebuild ≡ oracle.
    QueryDef.sql(
      "s24_incremental_clusters",
      s"""WITH toks AS (${graft.queries.TrainingData.oToks}),
         |sh AS (${graft.queries.TrainingData.oShingles}),
         |${graft.queries.TrainingData.oMinhashCtes},
         |${graft.queries.TrainingData.oJaccardCtes},
         |pairs AS (SELECT j.id_x, j.id_y FROM jac j
         |  WHERE j.jaccard >= 0.8
         |    AND EXISTS (SELECT 1 FROM cand c WHERE c.id_x = j.id_x AND c.id_y = j.id_y)),
         |e AS (SELECT id_x AS a, id_y AS b FROM pairs
         |      UNION SELECT id_y, id_x FROM pairs),
         |reach(node, anc) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.node, e.b FROM reach r JOIN e ON e.a = r.anc),
         |cc AS (SELECT node AS doc_id, MIN(anc) AS cluster_id
         |       FROM reach GROUP BY node),
         |cs AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
         |       FROM cc GROUP BY cluster_id)
         |SELECT cc.doc_id, cc.cluster_id AS cluster_incr,
         |  cc.cluster_id AS cluster_rebuild,
         |  cs.cluster_size AS size_incr, cs.cluster_size AS size_rebuild
         |FROM cc JOIN cs USING (cluster_id)
         |ORDER BY doc_id""".stripMargin
           .replaceFirst("^WITH ", "WITH RECURSIVE ")) { (s, dir) =>
      import graft.queries.TrainingData
      val incr = StreamOps.growClusterIndex(s, dir)
      val landed = TrainingData.dedupClusters(s, dir)
      incr.select(col("doc_id"), col("cluster_id").as("cluster_incr"))
        .join(incr.groupBy(col("cluster_id").as("ci"))
          .agg(count(lit(1)).as("size_incr")),
          col("cluster_incr") === col("ci"))
        .drop("ci")
        .join(landed.select(col("doc_id"), col("cluster_id").as("cluster_rebuild"),
          col("cluster_size").as("size_rebuild")), Seq("doc_id"))
        .select(col("doc_id"), col("cluster_incr"), col("cluster_rebuild"),
          col("size_incr"), col("size_rebuild"))
        .orderBy(col("doc_id"))
    },

    // Streamed compaction trigger — t90's fragmentation card maintained
    // at ingest cadence (the s26 move at index-hygiene grain): arriving
    // docs contribute their per-grain index-row counts STATELESS in the
    // micro-batch (in-row signature presence × MinhashBands; distinct
    // trigram count) with the retraction tombstone flag per row; one
    // global complete-mode aggregate folds them (additive sums — state
    // is one row), static base counts join at serve time through the
    // SAME decision tail as t90. The oracle states the full-card
    // formula once, so a hash match proves streamed ≡ batch ≡ oracle.
    QueryDef.sql(
      "s28_stream_compaction_due",
      s"""WITH toks AS (${graft.queries.TrainingData.oToks}),
         |sh AS (${graft.queries.TrainingData.oShingles}),
         |${graft.queries.TrainingData.oSigBandCtes},
         |tomb AS (SELECT doc_id FROM documents
         |  WHERE ${graft.queries.TrainingData.oHx("'forget:'||CAST(doc_id AS VARCHAR)")} % 29 = 0),
         |g AS (SELECT 'bands' AS grain, doc_id FROM bands
         |      UNION ALL SELECT 'shingles', doc_id FROM sh),
         |card AS (SELECT grain,
         |    CAST(COUNT(*) AS BIGINT) AS n_rows,
         |    CAST(SUM(CASE WHEN doc_id % 10 = 7 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_delta_rows,
         |    CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM tomb)
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_dead_rows
         |  FROM g GROUP BY 1)
         |SELECT grain, n_rows, n_delta_rows, n_dead_rows,
         |  n_rows - n_dead_rows AS n_live_rows,
         |  floor(n_delta_rows::DOUBLE / n_rows::DOUBLE * 1000000.0 + 0.5)
         |    / 1000000.0 AS delta_frac,
         |  floor(n_dead_rows::DOUBLE / n_rows::DOUBLE * 1000000.0 + 0.5)
         |    / 1000000.0 AS dead_frac,
         |  (n_delta_rows * 20 >= n_rows OR n_dead_rows * 50 >= n_rows)
         |    AS compact_due
         |FROM card ORDER BY grain""".stripMargin) { (s, dir) =>
      StreamOps.compactionDueStream(s, dir).orderBy(col("grain"))
    },

    // Streamed PERPLEXITY gate — model-based quality at ingest (the
    // CCNet pattern, s10's rule monitor upgraded to a trained model):
    // arriving bigrams score against the LANDED corpus LM (trained on
    // doc_id % 10 ≠ 7 only, so newcomers never judge themselves) via
    // stream-static LEFT joins with add-1 smoothing for unseen words/
    // bigrams; per-doc DECIMAL NLL rollup; admit compares the rounded
    // micro-unit mean with the 3.43 cutoff. The oracle replays the
    // whole chain, so the hash gate proves stream ≡ batch ≡ oracle at
    // model grain.
    QueryDef.sql(
      "s29_stream_ppl_gate",
      """WITH t0 AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |corp AS (SELECT * FROM t0 WHERE doc_id % 10 <> 7),
        |arrv AS (SELECT * FROM t0 WHERE doc_id % 10 = 7),
        |uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c1 FROM (
        |          SELECT UNNEST(w) AS tok FROM corp) GROUP BY 1),
        |v AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab FROM uni),
        |cb0 AS (SELECT doc_id, UNNEST(list_transform(range(1, len(w)),
        |          i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS b FROM corp),
        |big AS (SELECT b.w1 AS w1, b.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS c12
        |        FROM cb0 GROUP BY 1, 2),
        |ab0 AS (SELECT doc_id, UNNEST(list_transform(range(1, len(w)),
        |          i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS b FROM arrv),
        |ab AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM ab0),
        |s AS (SELECT ab.doc_id,
        |        CAST(ROUND(-ln((COALESCE(big.c12, 0) + 1)::DOUBLE /
        |          (COALESCE(uni.c1, 0) + v.vocab)::DOUBLE), 9)
        |          AS DECIMAL(18,9)) AS nll
        |      FROM ab LEFT JOIN big USING (w1, w2)
        |      LEFT JOIN uni ON uni.tok = ab.w1 CROSS JOIN v),
        |g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |        floor((CAST(SUM(nll) AS DOUBLE) / COUNT(*)) * 1000000.0 + 0.5)
        |          / 1000000.0 AS mean_nll
        |      FROM s GROUP BY 1)
        |SELECT doc_id, n_bigrams, mean_nll, mean_nll <= 3.43 AS admit
        |FROM g ORDER BY doc_id""".stripMargin) { (s, dir) =>
      StreamOps.pplGate(s, dir).orderBy(col("doc_id"))
    },

    // Streamed LM-drift ≡ batch: t92's retrain-trigger card with the
    // arrival slice maintained at ingest (the s26 move at LM grain)
    // and the corpus slice scored batch from the same landed LM (a
    // constant of the snapshot). The oracle states t92's formula once,
    // so one hash match proves streamed ≡ batch ≡ oracle — the gate
    // (s29) and its drift monitor (s30) now both run at ingest cadence.
    QueryDef.sql(
      "s30_stream_lm_drift",
      s"""WITH t0 AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
         |corp AS (SELECT * FROM t0 WHERE doc_id % 10 <> 7),
         |uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c1 FROM (
         |          SELECT UNNEST(w) AS tok FROM corp) GROUP BY 1),
         |v AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab FROM uni),
         |cb0 AS (SELECT doc_id, UNNEST(list_transform(range(1, len(w)),
         |          i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS b FROM corp),
         |big AS (SELECT b.w1 AS w1, b.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS c12
         |        FROM cb0 GROUP BY 1, 2),
         |ab0 AS (SELECT doc_id, UNNEST(list_transform(range(1, len(w)),
         |          i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS b FROM t0),
         |ab AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM ab0),
         |s AS (SELECT ab.doc_id,
         |        CAST(ROUND(-ln((COALESCE(big.c12, 0) + 1)::DOUBLE /
         |          (COALESCE(uni.c1, 0) + v.vocab)::DOUBLE), 9)
         |          AS DECIMAL(18,9)) AS nll
         |      FROM ab LEFT JOIN big USING (w1, w2)
         |      LEFT JOIN uni ON uni.tok = ab.w1 CROSS JOIN v),
         |g AS (SELECT doc_id, CAST(floor(
         |          (CAST(SUM(nll) AS DOUBLE) / COUNT(*)) * 1000000.0 + 0.5)
         |          AS BIGINT) AS nll_micro
         |      FROM s GROUP BY 1),
         |sl AS (SELECT CASE WHEN doc_id % 10 = 7 THEN 'arrivals'
         |              ELSE 'corpus' END AS slice, nll_micro FROM g)
         |SELECT slice, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  floor(CAST(SUM(nll_micro) AS DOUBLE) / 1000000.0 / COUNT(*)
         |    * 1000000.0 + 0.5) / 1000000.0 AS nll_mean,
         |  CAST(SUM(CASE WHEN nll_micro > 3430000 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_flagged,
         |  floor(SUM(CASE WHEN nll_micro > 3430000 THEN 1 ELSE 0 END)::DOUBLE
         |    / COUNT(*)::DOUBLE * 1000000.0 + 0.5) / 1000000.0 AS flagged_frac
         |FROM sl GROUP BY slice ORDER BY slice""".stripMargin) { (s, dir) =>
      StreamOps.lmDriftStream(s, dir).orderBy(col("slice"))
    },

    // Streamed salt decision ≡ batch: the (band, band_key) df profile
    // maintained in the ingest micro-batch (band keys computed IN-ROW
    // by the native signature kernel — no shingle explode, no state;
    // key counts merge by addition), then the SAME integer ladder
    // (DedupOps.saltDecisionCard) serves the salt verdict off the
    // ingest-maintained profile, against t93's own oracle. One hash
    // match proves streamed ≡ batch ≡ oracle — the skew pre-flight
    // becomes a continuously-current operational signal instead of a
    // corpus profiling pass a dedup launch must pay first.
    // Streamed BPE token budget ≡ batch: each arriving word encodes
    // IN-ROW under the landed trained merges (broadcast-literal pairs,
    // stateless greedy replace — no vocabulary join, so unseen words
    // still encode), doc-grain cells aggregate at ingest (counts add),
    // and t48's per-source card serves off the landed cells against
    // t48's own oracle. One hash match proves in-row encode ≡ batch
    // vocabulary join ≡ oracle — the tokenizer-serving form a 100 TB
    // ingest actually runs (the trained tokenizer applied per row at
    // arrival, token budgets current without a batch recount).
    QueryDef.sql(
      "s32_stream_bpe_budget",
      graft.queries.TrainingData.oBpeEncode) { (s, dir) =>
      StreamOps.bpeCellStream(s, dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws_tokens")).as("ws_tokens"),
          sum(col("bpe_tokens")).as("bpe_tokens"))
        .select(col("source"), col("n_docs"), col("ws_tokens"),
          col("bpe_tokens"),
          graft.ops.TextOps.round6p(col("bpe_tokens").cast("double")
            / col("ws_tokens").cast("double")).as("syms_per_word"))
        .orderBy(col("source"))
    },

    // Streamed budget waterfill ≡ batch: the per-source token totals
    // aggregate in the document-ingest micro-batch (complete mode —
    // counts add, so batch boundaries cannot change a total), then the
    // SAME exact-integer UniMax water-level solve (waterfillFrom)
    // serves the allocation plan off the landed totals, against t97's
    // own oracle. One hash match proves stream ≡ batch ≡ oracle — the
    // mixture planner stays continuously current at ingest instead of
    // being a batch pass a training launch must wait for.
    QueryDef.sql(
      "s33_stream_budget_waterfill",
      graft.queries.TrainingData.oWaterfill) { (s, dir) =>
      graft.queries.TrainingData.waterfillFrom(
        StreamOps.domainMixStream(s, dir, name = "stream_budget_mix")
          .select(col("source"), col("n_tokens").as("n_tok")))
    },

    // Streamed join-route card ≡ batch: the ADDITIVE gate-relation
    // sizes (sig/band/seed rows under the documented width rule)
    // maintained per arriving doc in complete mode, the static
    // LM-unigram landing priced at serve time, same verdict tail as
    // t99, against t99's own oracle. Three measurement sites — the
    // streamed profile, t99's landings, and the oracle's base-table
    // recompute — all hash to one card: the broadcast-or-shuffle
    // decision stays continuously current as the corpus grows.
    QueryDef.sql(
      "s35_stream_join_route",
      graft.queries.TrainingData.oJoinRoute) { (s, dir) =>
      graft.queries.TrainingData.joinRouteCardFrom(s, dir,
        StreamOps.joinRouteProfileStream(s, dir))
    },

    // Eval sample off the INGEST-GROWN cluster relation ≡ batch: t102's
    // sampling tail runs over the incrementally-maintained clusters
    // (s24's growClusterIndex — arrivals merge into the live relation
    // batch by batch) against t102's own oracle. The point: the
    // dedup-aware eval sample stays CORRECT as the corpus grows — when
    // an arrival merges two clusters, the representative re-elects
    // exactly as a batch rebuild would, because the grown relation is
    // spec-proven equal to the rebuild (s24) and the sampling tail is
    // shared.
    QueryDef.sql(
      "s38_stream_eval_sample",
      graft.queries.TrainingData.oEvalSample) { (s, dir) =>
      graft.queries.TrainingData.evalSampleFrom(
        StreamOps.growClusterIndex(s, dir))
    },

    // Streamed snapshot manifest ≡ batch: t104's content-addressed
    // cells maintain at ingest (counts/sums add, xor signatures
    // xor-merge), the same '*'-row tail serves against t104's own
    // oracle — the dataset reproducibility pin is continuously current.
    QueryDef.sql(
      "s39_stream_manifest",
      graft.queries.TrainingData.oManifest) { (s, dir) =>
      graft.queries.TrainingData.manifestFrom(
        StreamOps.manifestCellStream(s, dir))
    },

    // Streamed snapshot diff ≡ batch: the NEW side of t105's diff is
    // the ingest-maintained manifest (s39's cells, xor-mergeable), the
    // OLD side the static previous-snapshot manifest, joined through
    // the SAME diff tail against t105's own oracle — "what changed
    // since the last release" answers at ingest cadence without any
    // corpus rescan.
    QueryDef.sql(
      "s40_stream_snapshot_diff",
      graft.queries.TrainingData.oSnapshotDiff) { (s, dir) =>
      graft.queries.TrainingData.snapshotDiffFrom(
        graft.queries.TrainingData.prevSliceManifest(s, dir),
        StreamOps.manifestCellStream(s, dir, name = "stream_diff_manifest")
          .select(col("source"), col("n_docs").as("n_n"),
            col("content_sig").as("s_n")))
    },

    // Streamed manifest over the GZIP-JSONL arrival feed ≡ batch: the
    // t104 cells maintained over compressed micro-batches (explicit
    // schema, FAILFAST, several .gz files per trigger), served through
    // the same '*'-row tail against t104's own oracle. Closes the
    // compressed-crawl loop at ingest grain: t108 proves the batch
    // round trip, this proves gzip → JSON parse → micro-batch merge is
    // byte-equal too (xor cells can't hash-match otherwise).
    QueryDef.sql(
      "s41_stream_gz_manifest",
      graft.queries.TrainingData.oManifest) { (s, dir) =>
      graft.queries.TrainingData.manifestFrom(
        StreamOps.gzManifestCellStream(s, dir))
    },

    // Streamed manifest over the ZSTD-JSONL arrival feed ≡ batch (r14):
    // s41's proof at the long-lived-store posture — t109 proves the
    // batch round trip through the pure-Java zstd codec, this proves
    // zstd → JSON parse → micro-batch merge byte-equal at ingest grain
    // through the same '*'-row tail against t104's own oracle.
    QueryDef.sql(
      "s42_stream_zst_manifest",
      graft.queries.TrainingData.oManifest) { (s, dir) =>
      graft.queries.TrainingData.manifestFrom(
        StreamOps.zstManifestCellStream(s, dir))
    },

    // Streamed padding card ≡ batch: t100's per-bucket cells maintain
    // at ingest (next-pow2 bucket + pad delta stateless per row,
    // ≤log2(maxlen) state rows in complete mode), the SAME ratio tail
    // serves against t100's own oracle.
    QueryDef.sql(
      "s36_stream_padding",
      graft.queries.TrainingData.oPaddingWaste) { (s, dir) =>
      graft.queries.TrainingData.paddingWasteFrom(
        StreamOps.paddingCellStream(s, dir))
    },

    // Streamed k-anonymity monitor ≡ batch: t101's quasi-identifier
    // group sizes maintain at ingest (counts add), the suppress
    // verdict applies at serve time, against t101's own oracle — a
    // release pipeline reads the CURRENT card instead of recounting
    // the corpus before every export.
    QueryDef.sql(
      "s37_stream_k_anonymity",
      graft.queries.TrainingData.oKAnonymity) { (s, dir) =>
      StreamOps.kAnonymityStream(s, dir)
        .withColumn("suppress", col("group_size") < 5L)
        .orderBy(col("source"), col("lang"))
    },

    QueryDef.sql(
      "s31_stream_salt_decision",
      graft.queries.TrainingData.oSaltDecision) { (s, dir) =>
      graft.queries.TrainingData.saltCardSelect(
        StreamOps.saltProfileStream(s, dir,
          graft.queries.TrainingData.MinhashK,
          graft.queries.TrainingData.MinhashBands))
    },

    // Sliding windows: each event lands in exactly two overlapping
    // 2-day/1-day-slide windows (epoch-aligned, so the batch oracle is
    // the event table unioned with itself shifted one day back).
    QueryDef.sql(
      "s14_sliding_windows",
      """WITH e AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
        |    event_type, value FROM events),
        |x AS (SELECT d AS win_start, event_type, value FROM e
        |      UNION ALL
        |      SELECT d - INTERVAL 1 DAY, event_type, value FROM e)
        |SELECT CAST(win_start AS TIMESTAMP) AS win_start, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      graft.streaming.StreamOps.slidingCounts(s, dir)
        .orderBy(col("win_start"), col("event_type"))
    },

    // ------------------------------------- recursive closure (A3 parity)
    QueryDef.sql(
      "g1_closure",
      """WITH RECURSIVE anc AS (
        |  SELECT doc_id AS node, (doc_id-1)//2 AS ancestor
        |  FROM documents WHERE doc_id >= 1
        |  UNION ALL
        |  SELECT node, (ancestor-1)//2 FROM anc WHERE ancestor >= 1)
        |SELECT node, COUNT(*) AS n_ancestors, MIN(ancestor) AS top_ancestor
        |FROM anc GROUP BY node ORDER BY node""".stripMargin) { (s, dir) =>
      // synthetic category tree: node i hangs under (i-1) div 2 — the
      // same shape as a subcategory hierarchy; closure = all ancestors
      val edges = Tables(s, dir, "documents")
        .filter(col("doc_id") >= 1)
        .select(col("doc_id").as("child"),
          expr("(doc_id - 1) div 2").as("parent"))
      // the category tree is deep-and-narrow — the doubling form's
      // ⌈log₂ depth⌉ rounds beat stepping's depth rounds (spec-asserted
      // identical to the stepping reference)
      GraphOps.transitiveClosureDoubling(edges)
        .groupBy(col("node"))
        .agg(count(lit(1)).as("n_ancestors"), min(col("ancestor")).as("top_ancestor"))
        .orderBy(col("node"))
    },

    // ------------------------------------------------- link analysis
    // PageRank (fixed-point integer formulation, 2 unrolled iterations)
    // over the undirected supplier↔part co-occurrence graph; the oracle
    // replays the exact integer arithmetic, so ranks are hash-checked.
    QueryDef.sql(
      "g2_pagerank",
      """WITH e0 AS (SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
        |                            'p' || CAST(l_partkey AS VARCHAR) AS dst FROM lineitem),
        |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
        |nodes AS (SELECT DISTINCT src AS node FROM e),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
        |c1 AS (SELECT e.dst AS node, CAST(SUM(r.r // d.deg) AS BIGINT) AS s
        |       FROM e JOIN deg d ON e.src = d.src JOIN r0 r ON r.node = e.src GROUP BY 1),
        |r1 AS (SELECT n.node, CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN c1 c ON c.node = n.node),
        |c2 AS (SELECT e.dst AS node, CAST(SUM(r.r // d.deg) AS BIGINT) AS s
        |       FROM e JOIN deg d ON e.src = d.src JOIN r1 r ON r.node = e.src GROUP BY 1),
        |r2 AS (SELECT n.node, CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN c2 c ON c.node = n.node)
        |SELECT node, r AS rank_micro FROM r2
        |ORDER BY rank_micro DESC, node LIMIT 20""".stripMargin) { (s, dir) =>
      val base = supplierPartEdges(s, dir)
      val edges = base.unionByName(
        base.select(col("dst").as("src"), col("src").as("dst")))
      // the node-relation route comes from the measurement (t111's card
      // arithmetic), READ FROM ITS LANDING (1-row lookup, audited by
      // t75) instead of re-counted per run
      GraphOps.pageRankFixedPoint(edges, iters = 2,
          broadcastNodes = DedupOps.cardIsBroadcast(pagerankRouteCardLanded(s, dir)),
          // edges is base ∪ reversed two lines up — symmetric by
          // construction, so the node set derives from the degree
          // relation (no union+distinct over the full edge list)
          symmetricEdges = true)
        .select(col("node"), col("r").as("rank_micro"))
        .orderBy(col("rank_micro").desc, col("node"))
        .limit(20)
    },

    // Graph node-route card (r14) — t110's decision at graph grain,
    // CONSUMED by the g2/g4/g5 call sites: the distinct node set of
    // the PageRank co-occurrence graph priced at 16 B/row against the
    // broadcast threshold. r15: the registered card reads the LANDING
    // the g2 call site routes from (one arithmetic, one materialized
    // card — the t75 integrity move: a stale or wrongly-parameterized
    // landing breaks this hash), while the oracle recomputes the node
    // count from lineitem (suppliers + parts are disjoint by the s/p
    // prefix).
    QueryDef.sql(
      "t111_graph_route",
      """WITH n AS (SELECT CAST(COUNT(DISTINCT l_suppkey)
        |    + COUNT(DISTINCT l_partkey) AS BIGINT) AS n_nodes FROM lineitem)
        |SELECT 'pagerank_nodes' AS relation, n_nodes,
        |  CAST(n_nodes * 16 AS BIGINT) AS est_bytes,
        |  CAST(10485760 AS BIGINT) AS broadcast_threshold,
        |  CASE WHEN n_nodes * 16 <= 10485760 THEN 'broadcast'
        |       ELSE 'shuffle' END AS route
        |FROM n""".stripMargin) { (s, dir) =>
      pagerankRouteCardLanded(s, dir)
        .select(lit("pagerank_nodes").as("relation"), col("n_nodes"),
          col("est_bytes"), col("broadcast_threshold"), col("route"))
    },

    // Co-order node-route card (r15) — full-column hash coverage for
    // the THIRD landed route card (t110 covers cc, t111 pagerank;
    // before this the coorder card's est_bytes/threshold/route columns
    // — the ones g4/g5 route from — were only internally
    // consistency-checked in t75, never oracle-recomputed). The node
    // set is every part that shares an order with another distinct
    // part (= the endpoint set of the co-order edge relation, raw or
    // symmetrized alike); the oracle rebuilds it from lineitem.
    QueryDef.sql(
      "t112_coorder_route",
      """WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |multi AS (SELECT l_orderkey FROM po GROUP BY 1 HAVING COUNT(*) >= 2),
        |n AS (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_nodes
        |      FROM po WHERE l_orderkey IN (SELECT l_orderkey FROM multi))
        |SELECT 'coorder_nodes' AS relation, n_nodes,
        |  CAST(n_nodes * 16 AS BIGINT) AS est_bytes,
        |  CAST(10485760 AS BIGINT) AS broadcast_threshold,
        |  CASE WHEN n_nodes * 16 <= 10485760 THEN 'broadcast'
        |       ELSE 'shuffle' END AS route
        |FROM n""".stripMargin) { (s, dir) =>
      coorderRouteCardLanded(s, dir)
        .select(lit("coorder_nodes").as("relation"), col("n_nodes"),
          col("est_bytes"), col("broadcast_threshold"), col("route"))
    },

    // per-node triangle counts over the part co-order graph. The engine
    // runs the adjacency-intersection form (GraphOps.triangleCountsAdj
    // — sorted neighbor arrays shipped onto edges, native two-pointer
    // intersect kernel; on this dense near-regular graph it beats the
    // degree-oriented wedge join, which remains available and is
    // spec-asserted count-equal). The oracle keeps the independent
    // u<v wedge formulation and the results hash-match exactly.
    QueryDef.sql(
      "g3_triangles",
      """WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |      FROM po a JOIN po b ON a.l_orderkey = b.l_orderkey
        |       AND a.l_partkey < b.l_partkey),
        |tri AS (SELECT e1.u, e1.v, e2.v AS w
        |        FROM e e1 JOIN e e2 ON e2.u = e1.v
        |        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |x AS (SELECT UNNEST([u, v, w]) AS node FROM tri)
        |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM x
        |GROUP BY 1 ORDER BY n_tri DESC, node LIMIT 20""".stripMargin) { (s, dir) =>
      GraphOps.triangleCountsAdj(partCoOrderEdges(s, dir))
        .orderBy(col("n_tri").desc, col("node"))
        .limit(20)
    },

    // Approximate triangle count (g3's documented scale path, r13):
    // DOULION sparsify-then-count with a deterministic hash coin
    // (p = 1/3 here so the sf-scale subgraph still carries triangles),
    // exact count on the subgraph, ×q³ unbiasing. The oracle replays
    // the identical sparsification and wedge join — the estimate is a
    // pure function of the corpus, so it hash-matches like any exact
    // query. At 100 TB this is the form that runs where the exact
    // Θ(m^1.5) wedge work cannot (q=25 ⇒ 1/125 of the pair work).
    QueryDef.sql(
      "g11_triangle_estimate",
      s"""WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
         |      FROM po a JOIN po b ON a.l_orderkey = b.l_orderkey
         |       AND a.l_partkey < b.l_partkey),
         |s AS (SELECT u, v FROM e
         |      WHERE ${oHx("'tri:'||CAST(u AS VARCHAR)||':'||CAST(v AS VARCHAR)")} % 3 = 0),
         |tri AS (SELECT e1.u
         |        FROM s e1 JOIN s e2 ON e2.u = e1.v
         |        JOIN s e3 ON e3.u = e1.u AND e3.v = e2.v)
         |SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
         |  CAST((SELECT COUNT(*) FROM s) AS BIGINT) AS n_sampled_edges,
         |  CAST((SELECT COUNT(*) FROM tri) AS BIGINT) AS triangles_sampled,
         |  CAST((SELECT COUNT(*) FROM tri) * 27 AS BIGINT) AS triangles_est""".stripMargin) { (s, dir) =>
      GraphOps.triangleEstimate(partCoOrderEdges(s, dir), q = 3)
    },

    // k-core peeling cascade (3 unrolled rounds, k=100) on the same
    // part co-order graph; the per-round summary pins every iteration
    QueryDef.sql(
      "g4_kcore",
      """WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |       FROM po a JOIN po b ON a.l_orderkey = b.l_orderkey
        |        AND a.l_partkey < b.l_partkey),
        |d1 AS (SELECT node, COUNT(*) AS deg FROM
        |       (SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0) GROUP BY 1),
        |k1 AS (SELECT node FROM d1 WHERE deg >= 100),
        |e1 AS (SELECT u, v FROM e0 WHERE u IN (SELECT node FROM k1)
        |        AND v IN (SELECT node FROM k1)),
        |d2 AS (SELECT node, COUNT(*) AS deg FROM
        |       (SELECT u AS node FROM e1 UNION ALL SELECT v FROM e1) GROUP BY 1),
        |k2 AS (SELECT node FROM d2 WHERE deg >= 100),
        |e2 AS (SELECT u, v FROM e1 WHERE u IN (SELECT node FROM k2)
        |        AND v IN (SELECT node FROM k2)),
        |d3 AS (SELECT node, COUNT(*) AS deg FROM
        |       (SELECT u AS node FROM e2 UNION ALL SELECT v FROM e2) GROUP BY 1),
        |k3 AS (SELECT node FROM d3 WHERE deg >= 100),
        |e3 AS (SELECT u, v FROM e2 WHERE u IN (SELECT node FROM k3)
        |        AND v IN (SELECT node FROM k3))
        |SELECT CAST(1 AS INT) AS round,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM k1) AS n_nodes,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e1) AS n_edges
        |UNION ALL SELECT CAST(2 AS INT),
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM k2),
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e2)
        |UNION ALL SELECT CAST(3 AS INT),
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM k3),
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e3)
        |ORDER BY round""".stripMargin) { (s, dir) =>
      GraphOps.kCoreRounds(partCoOrderEdges(s, dir), k = 100, rounds = 3,
          broadcastNodes = DedupOps.cardIsBroadcast(coorderRouteCardLanded(s, dir)))
        .orderBy(col("round"))
    },

    // BFS hop layers from a seed set (partkey % 997 = 0) over the part
    // co-order graph: per-hop frontier sizes for 3 unrolled hops. Each
    // hop is one frontier⋈edges join + an anti-join against visited —
    // the transitive-closure step with explicit distance accounting.
    QueryDef.sql(
      "g5_bfs_layers",
      """WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |       FROM po a JOIN po b ON a.l_orderkey = b.l_orderkey
        |        AND a.l_partkey < b.l_partkey),
        |e AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
        |f0 AS (SELECT DISTINCT l_partkey AS node FROM po WHERE l_partkey % 997 = 0),
        |f1 AS (SELECT DISTINCT e.v AS node FROM e JOIN f0 ON e.u = f0.node
        |       WHERE e.v NOT IN (SELECT node FROM f0)),
        |v1 AS (SELECT node FROM f0 UNION SELECT node FROM f1),
        |f2 AS (SELECT DISTINCT e.v AS node FROM e JOIN f1 ON e.u = f1.node
        |       WHERE e.v NOT IN (SELECT node FROM v1)),
        |v2 AS (SELECT node FROM v1 UNION SELECT node FROM f2),
        |f3 AS (SELECT DISTINCT e.v AS node FROM e JOIN f2 ON e.u = f2.node
        |       WHERE e.v NOT IN (SELECT node FROM v2))
        |SELECT CAST(0 AS INT) AS hop, (SELECT CAST(COUNT(*) AS BIGINT) FROM f0) AS n_nodes
        |UNION ALL SELECT CAST(1 AS INT), (SELECT CAST(COUNT(*) AS BIGINT) FROM f1)
        |UNION ALL SELECT CAST(2 AS INT), (SELECT CAST(COUNT(*) AS BIGINT) FROM f2)
        |UNION ALL SELECT CAST(3 AS INT), (SELECT CAST(COUNT(*) AS BIGINT) FROM f3)
        |ORDER BY hop""".stripMargin) { (s, dir) =>
      val base = partCoOrderEdges(s, dir)
      val edges = base.unionByName(base.select(col("v").as("u"), col("u").as("v")))
      val seeds = Tables(s, dir, "lineitem")
        .filter(col("l_partkey") % 997 === 0)
        .select(col("l_partkey").as("node")).distinct()
      GraphOps.bfsLayers(edges, seeds, hops = 3,
          // the co-order card serves the symmetrized graph too: union
          // with reversed edges leaves the endpoint set unchanged
          broadcastNodes = DedupOps.cardIsBroadcast(coorderRouteCardLanded(s, dir)))
        .orderBy(col("hop"))
    },

    // Per-edge triangle support (embeddedness): the strongest ties of
    // the part co-order graph — |N(u) ∩ N(v)| per edge via sorted
    // neighbor-array intersection (GraphOps.edgeTriangleSupport; no
    // wedge relation materialized). The oracle states the semantics as
    // a wedge-closing count per edge — same numbers, independent
    // formulation.
    QueryDef.sql(
      "g6_edge_support",
      """WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |      FROM po a JOIN po b
        |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        |c AS (SELECT e.u, e.v, CAST(COUNT(*) AS BIGINT) AS c
        |      FROM e JOIN sym a ON a.u = e.u JOIN sym b ON b.u = e.v AND b.v = a.v
        |      GROUP BY e.u, e.v)
        |SELECT u, v, c FROM c
        |ORDER BY c DESC, u, v LIMIT 20""".stripMargin) { (s, dir) =>
      GraphOps.edgeTriangleSupport(partCoOrderEdges(s, dir))
        .filter(col("c") > 0)
        .orderBy(col("c").desc, col("u"), col("v"))
        .limit(20)
    },

    // Connected components over the STRONGLY co-ordered part graph
    // (edges kept only at co-order multiplicity ≥ 3 — the thresholding
    // every production community/cluster job applies before a
    // fixpoint): every part labeled with its component's min part id +
    // component size, singletons included. Same min-label-propagation
    // engine as t17's dedup clusters (DedupOps.connectedComponents —
    // one eager job per round, convergence read off cached blocks);
    // thresholding makes the subgraph sparse, so the recursive oracle
    // stays cheap and the component diameter — the round count — stays
    // shallow.
    QueryDef.sql(
      "g7_part_clusters",
      """WITH RECURSIVE po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (SELECT a.l_partkey AS id_x, b.l_partkey AS id_y
        |      FROM po a JOIN po b
        |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |e AS (SELECT id_x AS a, id_y AS b FROM p
        |      UNION SELECT id_y, id_x FROM p),
        |reach(node, anc) AS (
        |  SELECT p_partkey, p_partkey FROM part
        |  UNION
        |  SELECT r.node, e.b FROM reach r JOIN e ON e.a = r.anc),
        |cc AS (SELECT node AS p_partkey, MIN(anc) AS cluster_id
        |       FROM reach GROUP BY node),
        |cs AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
        |       FROM cc GROUP BY 1)
        |SELECT cc.p_partkey, cc.cluster_id, cs.cluster_size
        |FROM cc JOIN cs USING (cluster_id)
        |ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      import graft.ops.DedupOps
      val strong = partCoOrderEdgesWeighted(s, dir)
        .filter(col("w") >= 3)
        .select(col("u").as("id_x"), col("v").as("id_y"))
      DedupOps.connectedComponentsMeasured(
          Tables(s, dir, "part").select(col("p_partkey")), "p_partkey", strong)
        .orderBy(col("p_partkey"))
    },

    // community detection by SYNCHRONOUS label propagation (2 rounds,
    // most-frequent-neighbor-label, ties → smallest) over the strong
    // (w ≥ 3) co-order subgraph — deterministic by construction, so the
    // oracle replays both rounds exactly; the per-node argmax is a
    // min(struct) aggregate, never a corpus-wide window. Where g7's
    // connected components give reachability clusters, LPA splits them
    // along density.
    QueryDef.sql(
      "g8_label_prop",
      """WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        |      FROM po a JOIN po b
        |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |sym AS (SELECT u, v FROM p UNION ALL SELECT v, u FROM p),
        |n AS (SELECT DISTINCT u AS node FROM sym),
        |l0 AS (SELECT node, node AS lbl FROM n),
        |c1 AS (SELECT s.u AS node, l.lbl, COUNT(*) AS cnt
        |       FROM sym s JOIN l0 l ON l.node = s.v GROUP BY 1, 2),
        |l1 AS (SELECT node, lbl FROM (SELECT *, ROW_NUMBER() OVER (
        |         PARTITION BY node ORDER BY cnt DESC, lbl) AS rn FROM c1)
        |       WHERE rn = 1),
        |c2 AS (SELECT s.u AS node, l.lbl, COUNT(*) AS cnt
        |       FROM sym s JOIN l1 l ON l.node = s.v GROUP BY 1, 2),
        |l2 AS (SELECT node, lbl FROM (SELECT *, ROW_NUMBER() OVER (
        |         PARTITION BY node ORDER BY cnt DESC, lbl) AS rn FROM c2)
        |       WHERE rn = 1)
        |SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes
        |FROM l2 GROUP BY 1 ORDER BY n_nodes DESC, community LIMIT 20""".stripMargin) { (s, dir) =>
      val strong = partCoOrderEdgesWeighted(s, dir)
        .filter(col("w") >= 3)
        .select(col("u"), col("v"))
      GraphOps.labelPropagation(strong, rounds = 2)
        .groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("n_nodes").desc, col("community"))
        .limit(20)
    },

    // Degree assortativity (Newman's r) of the part co-order graph:
    // the Pearson correlation of end-point degrees over all directed
    // edge instances — positive r = hubs link to hubs (resilient core),
    // negative = hub-and-spoke. Exact-integer kernel (the t60
    // contract): five BIGINT sums over the degree-annotated symmetric
    // edge list, every subtraction in BIGINT, one cast to double per
    // term — partition-count-invariant where a double-accumulating
    // corr() is not. Scale shape: one degree agg + two node-sized
    // joins onto the landed edges (AQE broadcasts the degree table
    // while it fits) + one global agg.
    QueryDef.sql(
      "g9_assortativity",
      """WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        |      FROM po a JOIN po b
        |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2),
        |sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        |deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY 1),
        |xy AS (SELECT du.d AS x, dv.d AS y
        |       FROM sym s JOIN deg du ON du.node = s.u JOIN deg dv ON dv.node = s.v),
        |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x*y) AS BIGINT) AS sxy,
        |    CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(y*y) AS BIGINT) AS syy
        |  FROM xy)
        |SELECT CAST(n // 2 AS BIGINT) AS n_edges,
        |  floor(((n*sxy - sx*sy)::DOUBLE
        |    / (sqrt((n*sxx - sx*sx)::DOUBLE) * sqrt((n*syy - sy*sy)::DOUBLE)))
        |    * 1000000.0 + 0.5) / 1000000.0 AS r
        |FROM agg""".stripMargin) { (s, dir) =>
      val e = partCoOrderEdges(s, dir)
      val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val deg = sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("d"))
      val xy = sym
        .join(deg.select(col("node"), col("d").as("x")), sym("u") === col("node")).drop("node")
        .join(deg.select(col("node"), col("d").as("y")), sym("v") === col("node")).drop("node")
      xy.agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(expr("CAST(n div 2 AS BIGINT)").as("n_edges"),
          graft.ops.TextOps.round6p(
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
              / (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
                * sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))))
            .as("r"))
    },

    // MODULARITY audit of the g8 communities — the standard "are these
    // communities real" check a detection run publishes: per community
    // c over the strong (w ≥ 3) subgraph, Q_c = e_c/m − (d_c/2m)²
    // (internal-edge fraction minus the random-graph expectation at the
    // same degrees). Exact integer counts (e_c, d_c, m) feed one
    // portable double expression per row. Scale shape: the g8 label
    // relation is node-sized (two AQE-broadcast joins onto the landed
    // edges), the rollup is community-sized, and m is a 1-row broadcast
    // — the audit costs two aggregates on top of the communities it
    // audits.
    QueryDef.sql(
      "g10_modularity",
      """WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        |      FROM po a JOIN po b
        |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |sym AS (SELECT u, v FROM p UNION ALL SELECT v, u FROM p),
        |n AS (SELECT DISTINCT u AS node FROM sym),
        |l0 AS (SELECT node, node AS lbl FROM n),
        |c1 AS (SELECT s.u AS node, l.lbl, COUNT(*) AS cnt
        |       FROM sym s JOIN l0 l ON l.node = s.v GROUP BY 1, 2),
        |l1 AS (SELECT node, lbl FROM (SELECT *, ROW_NUMBER() OVER (
        |         PARTITION BY node ORDER BY cnt DESC, lbl) AS rn FROM c1)
        |       WHERE rn = 1),
        |c2 AS (SELECT s.u AS node, l.lbl, COUNT(*) AS cnt
        |       FROM sym s JOIN l1 l ON l.node = s.v GROUP BY 1, 2),
        |l2 AS (SELECT node, lbl FROM (SELECT *, ROW_NUMBER() OVER (
        |         PARTITION BY node ORDER BY cnt DESC, lbl) AS rn FROM c2)
        |       WHERE rn = 1),
        |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM p),
        |deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY 1),
        |dc AS (SELECT l.lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |         CAST(SUM(deg.d) AS BIGINT) AS d_tot
        |       FROM deg JOIN l2 l ON l.node = deg.node GROUP BY 1),
        |ec AS (SELECT lu.lbl AS community, CAST(COUNT(*) AS BIGINT) AS e_in
        |       FROM p JOIN l2 lu ON lu.node = p.u
        |       JOIN l2 lv ON lv.node = p.v AND lv.lbl = lu.lbl
        |       GROUP BY 1)
        |SELECT dc.community, dc.n_nodes, dc.d_tot,
        |  CAST(COALESCE(ec.e_in, 0) AS BIGINT) AS e_in,
        |  floor(((COALESCE(ec.e_in, 0)::DOUBLE / mm.m::DOUBLE)
        |    - (dc.d_tot::DOUBLE / (2.0 * mm.m::DOUBLE))
        |      * (dc.d_tot::DOUBLE / (2.0 * mm.m::DOUBLE)))
        |    * 1000000.0 + 0.5) / 1000000.0 AS q_contrib
        |FROM dc LEFT JOIN ec ON ec.community = dc.community CROSS JOIN mm
        |ORDER BY dc.community""".stripMargin) { (s, dir) =>
      val strong = partCoOrderEdgesWeighted(s, dir)
        .filter(col("w") >= 3)
        .select(col("u"), col("v"))
      val lbl = GraphOps.labelPropagation(strong, rounds = 2)
      val sym = strong.unionAll(strong.select(col("v").as("u"), col("u").as("v")))
      val mdf = strong.agg(count(lit(1)).as("m"))
      val deg = sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("d"))
      val dc = deg.join(lbl, "node")
        .groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("d_tot"))
      val ec = strong
        .join(lbl.select(col("node"), col("lbl").as("lu")), strong("u") === col("node")).drop("node")
        .join(lbl.select(col("node"), col("lbl").as("lv")), strong("v") === col("node")).drop("node")
        .filter(col("lu") === col("lv"))
        .groupBy(col("lu").as("community"))
        .agg(count(lit(1)).as("e_in"))
      val mD = col("m").cast("double")
      dc.join(ec, Seq("community"), "left")
        .crossJoin(broadcast(mdf))
        .select(col("community"), col("n_nodes"), col("d_tot"),
          coalesce(col("e_in"), lit(0L)).as("e_in"),
          graft.ops.TextOps.round6p(
            (coalesce(col("e_in"), lit(0L)).cast("double") / mD)
              - (col("d_tot").cast("double") / (lit(2.0) * mD))
                * (col("d_tot").cast("double") / (lit(2.0) * mD)))
            .as("q_contrib"))
        .orderBy(col("community"))
    },
  )
}
