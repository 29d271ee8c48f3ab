package graft.ops

import graft.SparkSpec.Sf0_001
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The t89/t90 compaction claims the DuckDB oracle cannot see: the
  * grown index dir is REALLY fragmented (base + per-batch delta
  * files), physical compaction lands exactly one file per bucket, and
  * the post-compaction gate join reads the index in place — no
  * index-side Exchange (the 100 TB point of the rewrite). */
class IndexMaintenanceSpec extends SparkSpec {

  private val dir = Sf0_001

  test("grown index is fragmented; compact() drops exactly the tombstoned ids") {
    val (_, grownBands, _) = graft.streaming.StreamOps.growNearDupIndex(spark, dir)
    // base write + one append per growth batch, several part files each
    assert(grownBands.inputFiles.length > graft.streaming.StreamOps.GrowthBatches,
      s"expected base+delta fragments, got ${grownBands.inputFiles.length} files")
    val tomb = grownBands.select(col("doc_id")).distinct()
      .filter(col("doc_id") % 7 === 3)
    val live = IndexMaintenance.compact(grownBands, tomb, "doc_id")
    val expected = grownBands.filter(!(col("doc_id") % 7 === 3))
    assert(live.count() == expected.count())
    assert(live.exceptAll(expected).isEmpty && expected.exceptAll(live).isEmpty,
      "compacted content must be exactly the live rows")
    // broadcastTombstones=false is the unbounded-backlog escape hatch
    // (ADVICE r11): the hint drops and the anti-join can shuffle — with
    // auto-broadcast off (as a size estimator would decide for an
    // unbounded backlog), only a surviving hint could still broadcast,
    // so a non-broadcast plan proves the hint is really gone
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val liveShuffled = IndexMaintenance.compact(grownBands, tomb, "doc_id",
        broadcastTombstones = false)
      val plan = liveShuffled.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"non-broadcast route must not build a broadcast side:\n$plan")
      assert(liveShuffled.count() == expected.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("gateRouteCard: a small backlog prices broadcast, one past the 100k-row cap prices shuffle; compact() keeps the same rows on either route") {
    val (_, grownBands, _) = graft.streaming.StreamOps.growNearDupIndex(spark, dir)
    val tomb = grownBands.select(col("doc_id")).distinct()
      .filter(col("doc_id") % 7 === 3)
    // the grown index's tiny backlog prices as broadcast
    val card = IndexMaintenance.gateRouteCard(grownBands, tomb, "doc_id").head()
    assert(card.getAs[String]("route") == "broadcast")
    assert(card.getAs[Long]("n_backlog") <= card.getAs[Long]("broadcast_cap"))
    // 200,000 index rows put the cap at max(100,000, 200,000 div 16) =
    // 100,000: a backlog of exactly the cap broadcasts, one more shuffles
    val index = spark.range(200000L).select(col("id").as("doc_id"))
    def ids(n: Long) = spark.range(n).select(col("id").as("doc_id"))
    val atCap = IndexMaintenance.gateRouteCard(index, ids(100000L), "doc_id").head()
    assert(atCap.getAs[Long]("broadcast_cap") == 100000L)
    assert(atCap.getAs[String]("route") == "broadcast")
    val backlog = ids(100001L)
    val over = IndexMaintenance.gateRouteCard(index, backlog, "doc_id").head()
    assert(over.getAs[Long]("n_index_rows") == 200000L)
    assert(over.getAs[Long]("n_backlog") == 100001L)
    assert(over.getAs[String]("route") == "shuffle",
      s"cap ${over.getAs[Long]("broadcast_cap")} must undercut the backlog")
    // the route changes how compact() joins, never which rows survive
    val viaBroadcast = IndexMaintenance.compact(index, backlog, "doc_id")
    val viaShuffle = IndexMaintenance.compact(index, backlog, "doc_id",
      broadcastTombstones = false)
    assert(viaShuffle.count() == 99999L)
    assert(viaShuffle.exceptAll(viaBroadcast).isEmpty &&
      viaBroadcast.exceptAll(viaShuffle).isEmpty)
  }

  test("writeCompacted lands one file per bucket; the gate join never shuffles the index side") {
    val (_, grownBands, _) = graft.streaming.StreamOps.growNearDupIndex(spark, dir)
    val tomb = grownBands.select(col("doc_id")).distinct()
      .filter(col("doc_id") % 7 === 3)
    val table = "graft_compacted_bands_spec"
    IndexMaintenance.writeCompacted(
      IndexMaintenance.compact(grownBands, tomb, "doc_id"), table, 8,
      "band", "band_key")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val index = spark.table(table)
      assert(index.inputFiles.length == 8,
        s"one file per bucket, got ${index.inputFiles.length}")
      val probe = DedupOps.rowBandKeys(
        graft.Tables(spark, dir, "documents").filter(col("doc_id") % 10 === 7),
        "doc_id", col("text"),
        graft.queries.TrainingData.MinhashK,
        graft.queries.TrainingData.MinhashBands)
        .select(col("doc_id").as("probe_id"), col("band"), col("band_key"))
      val gate = probe.join(index, Seq("band", "band_key"))
        .filter(col("doc_id") =!= col("probe_id"))
      val plan = gate.queryExecution.sparkPlan
      val join = plan.collectFirst {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }
      assert(join.nonEmpty, s"expected a shuffled gate join, got:\n$plan")
      val indexSide = join.get.children(1).toString
      assert(!indexSide.contains("Exchange"),
        s"index side of the gate must read in place, not shuffle:\n$indexSide")
      assert(indexSide.contains("Bucketed: true"),
        s"index side must be the bucketed scan:\n$indexSide")
      // and the rewrite lost nothing: same live content as the logical form
      val logical = IndexMaintenance.compact(grownBands, tomb, "doc_id")
      assert(index.count() == logical.count())
      assert(index.exceptAll(logical).isEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("s28: the streamed trigger card is bit-identical to the batch card over the grown index") {
    val (_, grownBands, grownSh) = graft.streaming.StreamOps.growNearDupIndex(spark, dir)
    val forget = pmod(graft.ops.TextOps.hx(concat(lit("forget:"),
      col("doc_id").cast("string"))), lit(29L)) === 0
    val tomb = graft.Tables(spark, dir, "documents").filter(forget)
      .select(col("doc_id"))
    val isDelta = col("doc_id") % 10 === 7
    val batch = IndexMaintenance.fragmentationCard(grownBands, tomb, "doc_id",
        isDelta, "bands")
      .unionByName(IndexMaintenance.fragmentationCard(grownSh, tomb, "doc_id",
        isDelta, "shingles"))
      .orderBy(col("grain")).collect().toSeq
    val streamed = graft.streaming.StreamOps.compactionDueStream(spark, dir)
      .orderBy(col("grain")).collect().toSeq
    assert(streamed == batch,
      s"streamed card diverges from the batch card:\n$streamed\nvs\n$batch")
  }

  test("fragmentationCard: hand-computed counts, fractions and the due flag") {
    import spark.implicits._
    // 10 base rows (ids 0-9, one row each) + 2 delta rows (ids 100, 101)
    val index = ((0 until 10).map(i => (i.toLong, false)) ++
      Seq((100L, true), (101L, true))).toDF("doc_id", "is_delta")
    val tomb = Seq(3L, 100L).toDF("doc_id")
    val card = IndexMaintenance.fragmentationCard(index, tomb, "doc_id",
      col("is_delta"), "fixture").collect().head
    assert(card.getAs[String]("grain") == "fixture")
    assert(card.getAs[Long]("n_rows") == 12L)
    assert(card.getAs[Long]("n_delta_rows") == 2L)
    assert(card.getAs[Long]("n_dead_rows") == 2L)
    assert(card.getAs[Long]("n_live_rows") == 10L)
    assert(card.getAs[Double]("delta_frac") == 0.166667)
    assert(card.getAs[Double]("dead_frac") == 0.166667)
    // 2*20 >= 12: the delta rule alone fires
    assert(card.getAs[Boolean]("compact_due"))
    // below both thresholds: not due (1 delta in 40, 0 dead)
    val quiet = ((0 until 39).map(i => (i.toLong, false)) ++ Seq((100L, true)))
      .toDF("doc_id", "is_delta")
    val q = IndexMaintenance.fragmentationCard(quiet,
      Seq.empty[Long].toDF("doc_id"), "doc_id",
      col("is_delta"), "fixture").collect().head
    assert(!q.getAs[Boolean]("compact_due"))
  }
}
