package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** An order-independent digest of a whole result: the row count, a
  * sum of per-row 64-bit hashes over every column, and the schema.
  *
  * Every column feeds the hash, so computing it is a full-result action
  * that Catalyst cannot prune the way it prunes a bare `count()`. Maps
  * become key-sorted entry arrays and arrays are sorted, so the digest
  * does not depend on hash-map iteration or `collect_list` order.
  * Doubles are compared at float precision: aggregates whose summation
  * order follows task scheduling differ in the last bits from run to
  * run, and that noise must not read as a wrong answer. */
final case class Fingerprint(rows: Long, hash: String, schema: String) {
  def show: String = s"rows=$rows hash=$hash schema=$schema"
}

object Fingerprint {

  def of(df: DataFrame): Fingerprint = {
    // positional names: joins can leave duplicate column names behind
    val cols = df.columns.indices.map(i => s"c$i")
    val renamed = df.toDF(cols: _*)
    val fields = renamed.schema.fields.toSeq
    val parts = fields.flatMap { f =>
      val c = col(f.name)
      Seq(c.isNull, canon(c, f.dataType))
    }
    val rowHash = if (parts.isEmpty) lit(0L) else xxhash64(parts: _*)
    val row = renamed
      .agg(count(lit(1)), sum(rowHash.cast(DecimalType(38, 0))).cast(StringType))
      .collect().head
    val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(",")
    Fingerprint(row.getLong(0), Option(row.getString(1)).getOrElse("0"), schema)
  }

  private def canon(c: Column, t: DataType): Column = t match {
    case m: MapType =>
      array_sort(transform(map_entries(c), e => struct(
        canon(e.getField("key"), m.keyType).as("k"),
        canon(e.getField("value"), m.valueType).as("v"))))
    case a: ArrayType => array_sort(transform(c, x => canon(x, a.elementType)))
    case s: StructType =>
      if (s.fields.isEmpty) c.isNull
      else struct(s.fields.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case DoubleType => c.cast(FloatType)
    case _ => c
  }
}
