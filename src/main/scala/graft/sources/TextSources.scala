package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** CSV / JSON-lines source adapters at the [[graft.Tables]] seam.
  *
  * The engine's canonical storage is parquet; production corpora also
  * arrive as CSV exports and JSONL crawls. These adapters land the
  * documents table once per (sfDir, format) into scratch in the target
  * format, then read it back the way a 100 TB ingest must:
  *
  *   - EXPLICIT schema, never `inferSchema` — inference is a full extra
  *     pass over the data and can silently flip a column's type between
  *     snapshots (the parquet timestamp-drift lesson, at text grain);
  *   - standard RFC-4180 quoting/escaping for CSV (quote=`"`,
  *     escape=`"`, header), `multiLine=false` so the reader stays
  *     SPLITTABLE — a multiline CSV cannot be partitioned by byte range
  *     and serializes the scan through one task at scale;
  *   - `mode=FAILFAST` — a malformed row in a reproducibility-pinned
  *     corpus is a stop-the-world event, not a silent null (the F5
  *     strict-load posture at source grain).
  *
  * The round-trip proof is content-addressed: t106/t107 compute the
  * t104 manifest (doc counts, token sums, xor content signatures) FROM
  * the CSV/JSONL landing and hash-match the SAME DuckDB oracle that
  * reads the parquet — equal manifests mean byte-equal content through
  * the format round trip, not just equal row counts.
  */
object TextSources {

  /** documents schema, stated explicitly (TESTDATA.md). */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** The text-format landings, keyed by `$sfDir/<landing>`. Spec and
    * stream hook: [[graft.Landing.Memo.done]] gives the on-disk dir of a
    * landing already built (TextSourcesSpec asserts the gzip landing
    * really holds .json.gz files; the compressed ingest feeds monitor
    * it). */
  private[graft] val landed = new graft.Landing.Memo[String]

  /** CSV options that make null and empty-string fields round-trip
    * DISTINCTLY: Spark's default CSV read treats an unquoted empty
    * field as null, so without an explicit sentinel a null `lang` and
    * an empty-string `text` collapse to the same bytes on disk and the
    * adapter's byte-equal claim would hold only for corpora that happen
    * to contain neither (ADVICE r12). Nulls write as the classic `\N`
    * sentinel; empty strings write QUOTED (`""`) and read back as
    * empty. Exposed so TextSourcesSpec can drive the same options over
    * a null/empty fixture the synthetic corpus lacks.
    *
    * The sentinel's own collision (review finding, r13): a string field
    * whose literal value IS the two-character string `\N` would write
    * unquoted and read back as NULL — the same silent-corruption class
    * one value over. CSV fundamentally cannot represent NULL, "", and
    * every possible string under one sentinel, so the adapter RESERVES
    * `\N` and [[documentsCsv]] refuses a corpus containing it loudly
    * at write time (in-plan assert — the F5 strict posture) rather
    * than corrupting silently. */
  val csvWriteOptions: Map[String, String] = Map(
    "header" -> "true", "quote" -> "\"", "escape" -> "\"",
    "nullValue" -> "\\N", "emptyValue" -> "\"\"")

  /** The reserved null sentinel (see [[csvWriteOptions]]). */
  val csvNullSentinel = "\\N"

  /** Write-side guard: fail loudly if any string column holds the
    * literal sentinel (it would silently round-trip to NULL). */
  private[graft] def sentinelGuarded(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    df.schema.fields.filter(_.dataType == StringType).map(_.name)
      .foldLeft(df) { (d, c) =>
        d.filter(assert_true(col(c).isNull || col(c) =!= csvNullSentinel,
          lit(s"documentsCsv: column '$c' contains the literal " +
            s"$csvNullSentinel null sentinel — unrepresentable under the " +
            "CSV null round-trip contract; choose another sentinel or " +
            "escape upstream")).isNull)
      }
  }
  val csvReadOptions: Map[String, String] = Map(
    "header" -> "true", "quote" -> "\"", "escape" -> "\"",
    "multiLine" -> "false", "mode" -> "FAILFAST",
    "nullValue" -> "\\N", "emptyValue" -> "")

  /** The documents table through a CSV round trip (written once per
    * sfDir, read back with the explicit schema + FAILFAST). */
  def documentsCsv(spark: SparkSession, sfDir: String): DataFrame = {
    val path = graft.Landing.path(landed, sfDir, "documents_csv") { p =>
      sentinelGuarded(graft.Tables(spark, sfDir, "documents"))
        .write.options(csvWriteOptions)
        .csv(p)
    }
    spark.read.schema(documentsSchema)
      .options(csvReadOptions)
      .csv(path)
  }

  /** The documents table through a JSON-lines round trip. */
  def documentsJsonl(spark: SparkSession, sfDir: String): DataFrame = {
    val path = graft.Landing.path(landed, sfDir, "documents_jsonl") { p =>
      graft.Tables(spark, sfDir, "documents").write.json(p)
    }
    spark.read.schema(documentsSchema)
      .option("mode", "FAILFAST")
      .json(path)
  }

  /** The documents table through a GZIP-COMPRESSED JSON-lines round
    * trip — how a 100 TB crawl actually arrives (the Common Crawl
    * WET/WARC posture: many .gz files, not bare JSONL). The trade,
    * stated honestly: gzip is NOT splittable, so the scan gets exactly
    * one task per .json.gz file — parallelism is the FILE COUNT, not
    * byte ranges. The landing therefore writes one file per input
    * partition (many medium files, the shape a crawl ships in), and a
    * production ingest sizes files ~100 MB–1 GB so the task grid stays
    * full; a pathological single 1 TB .gz would serialize on one core.
    * Seekable-zstd (or decompress-and-reland to parquet on first
    * touch, which every adapter here does implicitly by landing) is
    * the scale posture — see SCALE.md. Decompression is transparent
    * (Hadoop codec by extension); schema/FAILFAST posture identical to
    * [[documentsJsonl]]. */
  def documentsJsonlGz(spark: SparkSession, sfDir: String): DataFrame = {
    val path = graft.Landing.path(landed, sfDir, "documents_jsonl_gz") { p =>
      graft.Tables(spark, sfDir, "documents")
        .write.option("compression", "gzip").json(p)
    }
    spark.read.schema(documentsSchema)
      .option("mode", "FAILFAST")
      .json(path)
  }

  /** The zstd Hadoop codec used for `.zst` text landings:
    * aircompressor's pure-Java `ZstdCodec` (shipped in Spark's own
    * jars), because Hadoop's built-in `ZStandardCodec` requires a
    * libhadoop built with native zstd — absent in many deployments,
    * including this one. The output is standard zstd frames:
    * TextSourcesSpec decodes a landed part with the INDEPENDENT
    * zstd-jni implementation to prove cross-implementation
    * compatibility, and DuckDB's bundled decoder reads the same files
    * (the t109 oracle posture). */
  val zstdCodecClass = "io.airlift.compress.zstd.ZstdCodec"

  /** Pin `.zst` to the pure-Java codec WITHOUT losing any other codec:
    * setting `io.compression.codecs` REPLACES the factory's effective
    * list, so the current list (service-registered codecs included —
    * Snappy/Lz4 etc., not just the four stock text codecs) is read
    * back through the factory itself, the native-only `ZStandardCodec`
    * (which would claim `.zst` and then throw at task time) is dropped,
    * and the airlift codec is appended. Idempotent; review finding
    * r14 — a hardcoded replacement list silently broke every later
    * .snappy/.lz4 text read in the session. */
  private[graft] def pinZstdCodec(conf: org.apache.hadoop.conf.Configuration): Unit = {
    import scala.jdk.CollectionConverters._
    val current = org.apache.hadoop.io.compress.CompressionCodecFactory
      .getCodecClasses(conf).asScala.map(_.getName)
      .filterNot(Set("org.apache.hadoop.io.compress.ZStandardCodec", zstdCodecClass))
    conf.set("io.compression.codecs", (current :+ zstdCodecClass).mkString(","))
  }

  /** The documents table through a ZSTD-COMPRESSED JSON-lines round
    * trip — the LONG-LIVED-STORE posture SCALE.md names beside the
    * gzip arrival posture (t108): zstd decompresses several times
    * faster than gzip at comparable ratios, and the seekable-zstd
    * framing is the standard answer to gzip's non-splittability for
    * data that will be re-read many times. The plain-frame trade here
    * is stated honestly: like gzip, one `.json.zst` file is one task
    * (the adapter lands one file per input partition so the task grid
    * stays full); a production long-lived store writes the SEEKABLE
    * frame variant so byte-range splits come back. Schema/FAILFAST
    * posture identical to [[documentsJsonl]]; the codec resolution is
    * pinned via `io.compression.codecs` (see [[pinZstdCodec]]). */
  def documentsJsonlZst(spark: SparkSession, sfDir: String): DataFrame = {
    pinZstdCodec(spark.sparkContext.hadoopConfiguration)
    val path = graft.Landing.path(landed, sfDir, "documents_jsonl_zst") { p =>
      graft.Tables(spark, sfDir, "documents")
        .write.option("compression", zstdCodecClass).json(p)
    }
    spark.read.schema(documentsSchema)
      .option("mode", "FAILFAST")
      .json(path)
  }
}
