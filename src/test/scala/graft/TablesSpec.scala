package graft

import graft.SparkSpec.Sf0_001
import org.apache.spark.sql.types._

/** Footer-drift defense: every table loads through [[Tables]] with its
  * canonical timestamp columns normalized to session-TZ TimestampType,
  * whatever physical encoding the driver generated this round (the
  * round-7 lesson: events.ts flipped nanos-as-INT64 ↔ micros-NTZ and 14
  * queries died before the loader probed the footer). */
class TablesSpec extends SparkSpec {
  private val sf = Sf0_001

  test("every table loads and every canonical timestamp column is TimestampType") {
    for (name <- Tables.all) {
      val df = Tables(spark, sf, name)
      assert(df.limit(1).count() == 1, s"$name: empty or unreadable")
      for (c <- Tables.timestampCols.getOrElse(name, Nil))
        assert(df.schema(c).dataType == TimestampType,
          s"$name.$c: expected TimestampType, got ${df.schema(c).dataType}")
    }
  }

  /** A one-row raw file whose `ts` column has the parquet type `tsType`
    * and no Spark row metadata, the way the raw tables are written;
    * only the low-level parquet writer can write a nanos timestamp. */
  private def writeRaw(path: String, tsType: String, ts: Any): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      s"message events { required int64 event_id; optional $tsType; }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try {
      val row = new SimpleGroupFactory(schema).newGroup().append("event_id", 1L)
      ts match {
        case v: Long => row.append("ts", v)
        case v: Int => row.append("ts", v)
      }
      w.write(row)
    } finally w.close()
  }

  test("the footer read gives the inferred schema: every raw table and every drift encoding") {
    // the raw read settings (nanos as long) that every Tables read sets
    Tables.rawSchema(spark, sf, "region")
    for (name <- Tables.all) {
      val path = s"$sf/$name.parquet"
      assert(Landing.read(spark, path).schema == spark.read.parquet(path).schema, name)
    }
    val dir = TempTrees.scratch("graft-drift").toString
    val encodings = Seq(
      ("nanos", "int64 ts (TIMESTAMP(NANOS,false))", 1704164645123456789L,
        "2024-01-02 03:04:05.123456"),
      ("micros_ntz", "int64 ts (TIMESTAMP(MICROS,false))", 1704164645123456L,
        "2024-01-02 03:04:05.123456"),
      ("date32", "int32 ts (DATE)", 19724, "2024-01-02 00:00:00.000000"))
    for ((enc, tsType, ts, wall) <- encodings) {
      val sfDir = s"$dir/$enc"
      writeRaw(s"$sfDir/events.parquet", tsType, ts)
      val path = s"$sfDir/events.parquet"
      val footer = Landing.read(spark, path).schema
      assert(footer == spark.read.parquet(path).schema, enc)
      assert(footer("ts").dataType != TimestampType, s"$enc: the file must drift")
      val events = Tables(spark, sfDir, "events")
      assert(events.schema("ts").dataType == TimestampType, enc)
      assert(events.select(org.apache.spark.sql.functions.date_format(
        events("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")).head().getString(0) == wall, enc)
    }
  }

  test("normalizeTsCol adapts all three drift encodings to TimestampType") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // nanos-as-long: 2024-01-02 03:04:05.123456789 UTC
    val nanos = Seq(1704164645123456789L).toDF("ts")
    val fromNanos = Tables.normalizeTsCol(nanos, "ts")
    assert(fromNanos.schema("ts").dataType == TimestampType)
    assert(fromNanos.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .head().getString(0) == "2024-01-02 03:04:05.123456")
    // micros-NTZ: reinterpreted in the (UTC) session TZ, same wall time
    val ntz = Seq(1).toDF("i")
      .select(expr("TIMESTAMP_NTZ '2024-01-02 03:04:05.123456'").as("ts"))
    val fromNtz = Tables.normalizeTsCol(ntz, "ts")
    assert(fromNtz.schema("ts").dataType == TimestampType)
    assert(fromNtz.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .head().getString(0) == "2024-01-02 03:04:05.123456")
    // date32: midnight timestamp
    val dt = Seq(1).toDF("i").select(expr("DATE '2024-01-02'").as("ts"))
    val fromDate = Tables.normalizeTsCol(dt, "ts")
    assert(fromDate.schema("ts").dataType == TimestampType)
    assert(fromDate.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
      .head().getString(0) == "2024-01-02 00:00:00")
    // a column already TimestampType (and one absent) pass through
    assert(Tables.normalizeTsCol(fromDate, "ts").schema("ts").dataType == TimestampType)
    assert(Tables.normalizeTsCol(fromDate, "nope").columns.toSeq == Seq("ts"))
  }

  test("embeddings landed as array<float> — the vector-kernel type contract") {
    // The native vector kernels (dot_product_f) and every VectorOps
    // micro-unit contract assume FLOAT elements, and the DuckDB oracle
    // reads the SAME file — so a driver regen that flips the element
    // type to double would diverge engine vs oracle on rounding
    // boundaries even if both sides "work". Fail HERE, loudly, instead
    // of as thirty cryptic ANN hash mismatches.
    val dt = Tables(spark, sf, "embeddings").schema("embedding").dataType
    assert(dt == ArrayType(FloatType, containsNull = true) ||
      dt == ArrayType(FloatType, containsNull = false),
      s"embeddings.embedding drifted to $dt — the float micro-unit " +
        "contract (VectorOps/VectorExprs) and its oracles assume FLOAT " +
        "elements; adapt both sides together before trusting ANN results")
  }
}
