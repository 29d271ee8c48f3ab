package graft.wcd

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** A5/H6/H8: the hash→id identity index and the idempotent create-or-get
  * merge — the dataflow restatement of the reference's SSDB cache +
  * conflict-tolerant Wikibase upload (SURVEY.md §2.A A5/A6, §2.C H6/H8).
  *
  * The index is a parquet-backed table `(hash STRING, qid STRING,
  * item_type STRING)`. Ids are minted deterministically from the hash
  * (`"WCD" + md5hash`), so a re-run of the same input mints the same ids
  * — create-or-get converges without read-modify-write races, and the
  * H8 idempotency invariant (double upload ⇒ zero new items) holds by
  * construction.
  *
  * Scale: the merge is one left_anti join per grain, shuffle-partitioned
  * on hash; at 100 TB the index would be bucketed by hash so the join
  * co-locates without a shuffle of the (large) index side. Point lookups
  * broadcast the probe set, never the index.
  */
object HashIndex {

  /** Deterministic id mint (replaces sequential QID assignment). */
  def mintId(hash: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("WCD"), upper(substring(hash, 1, 16)))

  def empty(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, String, String)].toDF("hash", "qid", "item_type")
  }

  def load(spark: SparkSession, path: String): DataFrame =
    if (new java.io.File(path).exists()) graft.Landing.read(spark, path)
    else empty(spark)

  /** H6 hit-path: which of `hashes` already exist (hash → qid)?
    * `hashes` must expose a `hash` column. */
  def lookup(index: DataFrame, hashes: DataFrame): DataFrame =
    hashes.join(index, Seq("hash"), "inner").select(col("hash"), col("qid"))

  /** H6 miss-path + A5 create-or-get: returns (newEntries, resolved).
    * `resolved` maps every input hash to a qid (existing or minted);
    * `newEntries` is what a MERGE would insert. Anti-join = the misses;
    * idempotent because minting is deterministic. */
  def merge(index: DataFrame, incoming: DataFrame, itemType: String)
      : (DataFrame, DataFrame) = {
    val hashes = incoming.select(col("hash")).where(col("hash").isNotNull).distinct()
    val misses = hashes.join(index, Seq("hash"), "left_anti")
    val newEntries = misses.select(col("hash"), mintId(col("hash")).as("qid"),
      lit(itemType).as("item_type"))
    val resolved = hashes.join(index.unionByName(newEntries), Seq("hash"), "inner")
      .select(col("hash"), col("qid"))
    (newEntries, resolved)
  }

  /** Persist new entries (append-only; the driver of a real deployment
    * would use a transactional table format here). */
  def append(newEntries: DataFrame, path: String): Unit =
    graft.Landing.writer(newEntries).mode(SaveMode.Append).parquet(path)

  /** The 100 TB landing shape: the index table BUCKETED (and sorted)
    * by hash, so the recurring [[merge]] co-locates on the bucket key —
    * the large index side is read in place and never shuffled; only the
    * (comparatively small) incoming batch moves. Verified by the
    * shuffle-count assert in PlanShapeSpec. Bucketing metadata requires
    * the session catalog (`bucketBy` + path-save is unsupported by
    * design), hence a table name rather than a path. */
  def writeBucketed(index: DataFrame, table: String, buckets: Int = 64): Unit =
    graft.Landing.writer(index).mode(SaveMode.Overwrite)
      .bucketBy(buckets, "hash").sortBy("hash")
      .format("parquet").saveAsTable(table)

  /** A6 flushdb analog. */
  def flush(spark: SparkSession, path: String): Unit = {
    graft.Landing.writer(empty(spark)).mode(SaveMode.Overwrite).parquet(path)
  }
}
