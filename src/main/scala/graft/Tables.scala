package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table loader over the driver testdata layout
  * (`/root/testdata/sf{N}/<name>.parquet`, see TESTDATA.md).
  *
  * All engine queries read through here so that scan-level concerns
  * (schema, pushdown-friendly layout) stay in one place. At cluster
  * scale the same API would point at partitioned table roots; the
  * per-query filters/projections are written so Catalyst pushes them
  * into the parquet scan (verify via `.explain`: PushedFilters /
  * ReadSchema).
  *
  * Physical-type drift defense: the driver regenerates the testdata
  * every round and the parquet PHYSICAL encoding of logical types has
  * drifted between rounds (round 7: `events.ts` flipped from
  * TIMESTAMP(MICROS, isAdjustedToUTC=false) to nanos-as-INT64 and 14
  * queries died with DATATYPE_MISMATCH). Timestamp columns are the
  * exposed class — nanos vs micros, NTZ vs UTC-adjusted, date32 —
  * because Spark surfaces each as a DIFFERENT Catalyst type while the
  * DuckDB oracle reads them all as a naive timestamp. Every load
  * therefore probes the footer-declared type of each canonical
  * timestamp column and adapts it to session-TZ TimestampType
  * (sessions run UTC), for EVERY table, not just events. The footer
  * probe is the driver-side read of [[Landing.read]]: it reads one
  * footer and runs no Spark job, and the same read gives every load
  * its schema. Integer
  * widths are deliberately NOT coerced: both engines read the same
  * file, so a width drift moves both sides together, and coercing one
  * side would CREATE a schema mismatch.
  */
object Tables {
  import org.apache.spark.sql.functions._

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Canonical timestamp-typed columns per table (TESTDATA.md): the
    * columns every query and oracle treats as a naive UTC timestamp,
    * whatever physical encoding the driver generated this round. */
  val timestampCols: Map[String, Seq[String]] = Map(
    "events" -> Seq("ts"),
    "lineitem" -> Seq("l_shipdate"),
    "orders" -> Seq("o_orderdate"))

  /** A re-landed copy once [[reland]] has finished it (landed
    * pre-normalized), else the raw file: a read that overlaps an
    * in-flight re-land does not wait for it. Both read through
    * [[Landing.read]]: the driver reads the footer, so no read runs a
    * schema-inference job. */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    relanded.done(s"$sfDir/$name.parquet") match {
      case Some(landed) => Landing.read(spark, landed)
      case None => rawLoad(spark, sfDir, name)
    }

  /** The raw file of `name`, typed as its footer declares. A nanos
    * timestamp would fail the scan outright unless it is read as
    * LongType ([[normalizeTsCol]] then truncates it), so the caller's
    * session reads nanos as long from the first raw read on; the
    * setting stays, because a streaming scan of a raw file plans under
    * the same session conf. */
  private def rawRead(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Landing.read(spark, s"$sfDir/$name.parquet")
  }

  private def rawLoad(spark: SparkSession, sfDir: String, name: String): DataFrame =
    timestampCols.getOrElse(name, Nil).foldLeft(rawRead(spark, sfDir, name))(normalizeTsCol)

  /** The raw file's schema as its footer declares it, before
    * [[normalizeTsCol]]: what a streaming scan of the raw file must
    * declare (`StreamOps.eventStream` takes its `ts` type from here). */
  private[graft] def rawSchema(spark: SparkSession, sfDir: String, name: String): StructType =
    rawRead(spark, sfDir, name).schema

  private val relanded = new Landing.Memo[String]

  /** Raw tables worth re-landing: every driver parquet file is written
    * as ONE row group, and a parquet scan cannot split inside a row
    * group — so however many cores the session has, the scan stage and
    * every narrow map fused onto it (tokenize, shingle, hash, the
    * wikitext parse) runs as ONE task against the raw file. region and
    * nation stay raw: they are broadcast dimensions. */
  private[graft] val relandable = Seq("documents", "lineitem", "orders", "events",
    "customer", "supplier", "part", "embeddings")

  /** Land a multi-file copy of each large raw table (warm-line cost,
    * like every other landing): one pass per table, after which every
    * query's scan parallelizes across `parts` splits. This is the
    * cluster posture made local — at 100 TB the tables arrive as
    * thousands of files/row groups and scan parallelism is free; the
    * single-row-group driver files are the only place it is not.
    * Timestamp normalization happens before the write, so the landed
    * copy needs no footer probe on read. Idempotent per (sfDir, table);
    * safe to call from concurrent warm chains. */
  def reland(spark: SparkSession, sfDir: String, parts: Int): Unit = {
    // one landing per table, all at once: each is a tiny read+write whose
    // cost is mostly job overhead, so serial landing pays 8x the wall
    // time of the longest one
    Landing.buildAll(spark.sparkContext, relandable.map { name =>
      Seq(name -> (() => Landing.path(relanded, sfDir, s"$name.parquet")(
        Landing.writer(rawLoad(spark, sfDir, name).repartition(parts)).parquet(_))))
    }, relandable.size)
    ()
  }

  /** Map whatever physical type `colName` landed as to TimestampType:
    * nanos-as-long → truncate to micros; micros-NTZ → reinterpret in
    * the (UTC) session TZ; date32 → midnight timestamp. Already-correct
    * columns pass through untouched. */
  def normalizeTsCol(df: DataFrame, colName: String): DataFrame = {
    import org.apache.spark.sql.types._
    if (!df.columns.contains(colName)) df
    else df.schema(colName).dataType match {
      case LongType => // nanos read as long → truncate to micros
        df.withColumn(colName, timestamp_micros(expr(s"$colName div 1000")))
      case _: TimestampNTZType => // micros NTZ → reinterpret in session TZ (UTC)
        df.withColumn(colName, col(colName).cast(TimestampType))
      case DateType => // date32 → midnight timestamp, DuckDB-comparable
        df.withColumn(colName, col(colName).cast(TimestampType))
      case _ => df
    }
  }
}
