package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Landed-index COMPACTION — the maintenance stage that closes the
  * index lifecycle: build (landings) → grow at ingest (the s22–s25
  * `foreachBatch` appends) → retract (t87/s27 tombstones) → monitor
  * (t88/s26 drift) → COMPACT. After K growth micro-batches the landed
  * index dir holds the base files plus K small delta appends
  * ([[graft.streaming.StreamOps]]'s grow steps write `mode("append")`),
  * and a retraction pass leaves rows of forgotten ids physically
  * present; a production deployment periodically rewrites the index to
  * its canonical serving layout so gate-join cost doesn't decay with
  * ingest history.
  *
  * Reference anchor: the reference's cache only ever grows
  * (`wikipedia_page.py:350-373` inserts after every upload) and its A7
  * "rinse" deletes whole grains (`wcdimportbot_cli.py` --rinse-all);
  * compaction is the step a 100 TB deployment runs between the two.
  *
  * Scale: [[compact]] is one anti-join with the (small by construction)
  * tombstone set broadcast — an unbounded tombstone backlog would flip
  * to a hash-partitioned anti-join on the id, which is exactly what
  * Spark plans when the broadcast hint is dropped. [[writeCompacted]]
  * pays one repartition into the bucket layout; every subsequent ingest
  * gate then joins arriving rows against the bucketed index with NO
  * index-side Exchange (the index is read in place; only the
  * comparatively tiny batch shuffles) — plan-asserted in
  * IndexMaintenanceSpec.
  */
object IndexMaintenance {

  /** The arrival slice every growth, drift and compaction query splits
    * the corpus on: rows whose `id` is 7 mod 10 arrive, the rest is the
    * snapshot the ingest boots from. */
  def arrival(id: String = "doc_id"): Column = col(id) % 10 === 7

  /** t87's forget slice: documents whose hx('forget:'‖doc_id) is 0
    * mod 29 are retracted. */
  val forgotten: Column = pmod(TextOps.hx(concat(lit("forget:"),
    col("doc_id").cast("string"))), lit(29L)) === 0

  /** Per-`id` XOR of `hash` over `df`'s rows, named `name`: the
    * order-free signature the growth proofs compare a grown index
    * against its batch rebuild with. */
  def xorSig(df: DataFrame, id: String, hash: Column, name: String): DataFrame =
    df.select(col(id), hash.as("h")).groupBy(col(id)).agg(bit_xor(col("h")).as(name))

  /** Logical compaction: the live rows of a fragmented index — delta
    * appends retained, every tombstoned id's rows dropped.
    *
    * `broadcastTombstones = true` (the default, and the normal case: a
    * retraction backlog is small by construction between compactions)
    * pins the anti-join's build side to the driver-collected tombstone
    * set; pass `false` when the backlog is unbounded — the hint drops
    * and Spark plans a hash-partitioned anti-join on the id instead of
    * risking a driver OOM. */
  def compact(index: DataFrame, tombstones: DataFrame, id: String,
      broadcastTombstones: Boolean = true): DataFrame = {
    val tomb = tombstones.select(col(id)).distinct()
    index.join(if (broadcastTombstones) broadcast(tomb) else tomb,
      Seq(id), "left_anti")
  }

  /** Physical compaction: rewrite the live rows bucketed AND sorted by
    * the gate-join key columns, one file per bucket (the repartition
    * pins files = buckets; a bare bucketBy writes tasks×buckets
    * fragments). Bucketing metadata needs the session catalog —
    * `bucketBy` + path-save is unsupported by design — hence a table
    * name rather than a path. */
  def writeCompacted(index: DataFrame, table: String, buckets: Int,
      layoutCols: String*): Unit = {
    require(layoutCols.nonEmpty, "compaction layout needs >=1 key column")
    graft.Landing.writer(index.repartition(buckets, layoutCols.map(col): _*))
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, layoutCols.head, layoutCols.tail: _*)
      .sortBy(layoutCols.head, layoutCols.tail: _*)
      .format("parquet").saveAsTable(table)
  }

  /** Measured broadcast-vs-shuffle ROUTE for the compaction anti-join
    * (the t93/measuredSalt move at the gate-join decision): price the
    * route from the two row counts instead of hand-picking
    * `broadcastTombstones`. Broadcast cost scales with the backlog
    * (driver-collected, shipped to every task); the shuffled anti-join
    * repartitions the whole index. So: broadcast while the backlog is
    * under an absolute driver budget (100,000 rows) OR under 1/16 of
    * the index rows (a backlog that small shuffles nothing worth
    * saving). Integer arithmetic only — the ladder is expressible in
    * ANSI SQL, so the decision itself is hash-checked (t94). Returns a
    * 1-row card
    * (n_index_rows, n_backlog, broadcast_cap, route). */
  def gateRouteCard(index: DataFrame, tombstones: DataFrame, id: String): DataFrame =
    index.agg(count(lit(1)).as("n_index_rows"))
      .crossJoin(tombstones.select(col(id)).distinct()
        .agg(count(lit(1)).as("n_backlog")))
      .withColumn("broadcast_cap", greatest(lit(100000L),
        expr("CAST(n_index_rows div 16 AS BIGINT)")))
      .withColumn("route",
        when(col("n_backlog") <= col("broadcast_cap"), "broadcast")
          .otherwise("shuffle"))

  /** Fragmentation ledger for one index grain — the measured input to
    * the compact-or-not decision, all integer arithmetic: row counts by
    * provenance (`isDelta` marks rows the growth path appended) and
    * liveness (ids in `tombstones` are retracted but physically
    * present; the backlog is broadcast, small by construction), the
    * delta/dead fractions in portable micro-units, and the due flag
    * ([[decisionTail]]). One row; one pass over the index. */
  def fragmentationCard(index: DataFrame, tombstones: DataFrame, id: String,
      isDelta: Column, grain: String): DataFrame = {
    val tomb = tombstones.select(col(id)).distinct()
      .withColumn("__dead", lit(true))
    decisionTail(index.join(broadcast(tomb), Seq(id), "left")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(isDelta, 1L).otherwise(0L)).as("n_delta_rows"),
        sum(when(col("__dead"), 1L).otherwise(0L)).as("n_dead_rows"))
      .select(lit(grain).as("grain"), col("n_rows"), col("n_delta_rows"),
        col("n_dead_rows")))
  }

  /** The decision tail shared by the batch card and the streamed
    * monitor: (grain, n_rows, n_delta_rows, n_dead_rows) → the full
    * card with live count, micro-unit fractions and the due flag. Due
    * when deltas ≥ rows/20 or dead rows ≥ rows/50 (integer
    * cross-multiply — no float threshold). */
  def decisionTail(counts: DataFrame): DataFrame =
    counts.select(col("grain"), col("n_rows"), col("n_delta_rows"),
      col("n_dead_rows"),
      (col("n_rows") - col("n_dead_rows")).as("n_live_rows"),
      TextOps.round6p(col("n_delta_rows").cast("double")
        / col("n_rows").cast("double")).as("delta_frac"),
      TextOps.round6p(col("n_dead_rows").cast("double")
        / col("n_rows").cast("double")).as("dead_frac"),
      (col("n_delta_rows") * 20L >= col("n_rows") ||
        col("n_dead_rows") * 50L >= col("n_rows")).as("compact_due"))
}
