package graft.sources

import graft.SparkSpec.Sf0_001
import graft.SparkSpec

/** Contract tests for the CSV/JSONL source adapters: the happy path is
  * oracle-proven end to end by t106/t107's content-addressed manifests;
  * these pin the STRICTNESS posture (FAILFAST — a malformed row in a
  * reproducibility-pinned corpus is a stop-the-world event, not a
  * silent null) and the schema contract. */
class TextSourcesSpec extends SparkSpec {

  private val dir = Sf0_001

  test("adapters read back the full corpus with the declared schema") {
    val base = graft.Tables(spark, dir, "documents")
    val csv = TextSources.documentsCsv(spark, dir)
    val jsonl = TextSources.documentsJsonl(spark, dir)
    val gz = TextSources.documentsJsonlGz(spark, dir)
    assert(csv.schema == TextSources.documentsSchema)
    assert(jsonl.schema == TextSources.documentsSchema)
    assert(gz.schema == TextSources.documentsSchema)
    assert(csv.count() == base.count() && jsonl.count() == base.count()
      && gz.count() == base.count())
  }

  test("gzip JSONL landing really is gzip: .gz files, codec-transparent read") {
    TextSources.documentsJsonlGz(spark, dir).count() // force the landing
    val p = TextSources.landed.done(s"$dir/documents_jsonl_gz")
    assert(p.nonEmpty, "landing path must be recorded")
    val gzParts = new java.io.File(p.get).listFiles()
      .filter(_.getName.endsWith(".json.gz"))
    assert(gzParts.nonEmpty, "landing must produce .json.gz part files")
    // gzip magic bytes: the files are really compressed, not renamed
    val head = java.nio.file.Files.readAllBytes(gzParts.head.toPath).take(2)
    assert(head(0) == 0x1f.toByte && head(1) == 0x8b.toByte)
  }

  test("zstd JSONL landing: .zst files, pure-Java codec, frames decode under the INDEPENDENT zstd-jni implementation") {
    val zst = TextSources.documentsJsonlZst(spark, dir)
    assert(zst.schema == TextSources.documentsSchema)
    val base = graft.Tables(spark, dir, "documents")
    assert(zst.count() == base.count())
    val p = TextSources.landed.done(s"$dir/documents_jsonl_zst")
    assert(p.nonEmpty, "landing path must be recorded")
    val parts = new java.io.File(p.get).listFiles()
      .filter(_.getName.endsWith(".json.zst"))
    assert(parts.nonEmpty, "landing must produce .json.zst part files")
    // zstd frame magic (0xFD2FB528 little-endian): really compressed
    val head = java.nio.file.Files.readAllBytes(parts.head.toPath).take(4)
    assert(head.sameElements(Array(0x28, 0xb5, 0x2f, 0xfd).map(_.toByte)),
      s"zstd magic expected, got ${head.map(b => f"$b%02x").mkString}")
    // cross-implementation proof: the file was written by
    // aircompressor's encoder; decode it with zstd-jni (a separate
    // codebase binding the reference C library) — interoperable frames,
    // not a private format
    val in = new com.github.luben.zstd.ZstdInputStream(
      new java.io.FileInputStream(parts.head))
    val firstLine = try new java.io.BufferedReader(
        new java.io.InputStreamReader(in, "UTF-8")).readLine()
      finally in.close()
    assert(firstLine != null && firstLine.startsWith("{") &&
      firstLine.contains("\"doc_id\""),
      s"zstd-jni must decode a JSONL line: $firstLine")
  }

  test("CSV null vs empty-string fields round-trip distinctly (ADVICE r12)") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    val fixture = Seq(
      (1L, "", "en", "src0", 0L),                       // empty text
      (2L, "hello", null.asInstanceOf[String], "src0", 5L), // null lang
      (3L, null.asInstanceOf[String], "en", null.asInstanceOf[String], 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val root = graft.TempTrees.scratch("graft-sources-spec-nullcsv")
    val p = root.resolve("fixture_csv").toString
    fixture.write.options(TextSources.csvWriteOptions).csv(p)
    val back = spark.read.schema(TextSources.documentsSchema)
      .options(TextSources.csvReadOptions).csv(p)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[String]("text"), r.getAs[String]("lang"), r.getAs[String]("source"))).toMap
    assert(back(1L) == (("", "en", "src0")), s"empty text must stay empty: ${back(1L)}")
    assert(back(2L) == (("hello", null, "src0")), s"null lang must stay null: ${back(2L)}")
    assert(back(3L) == ((null, "en", null)), s"null text/source must stay null: ${back(3L)}")
  }

  test("CSV sentinel guard: a literal \\N field refuses loudly instead of " +
      "round-tripping to NULL") {
    import spark.implicits._
    val poison = Seq((1L, "\\N", "en", "src0", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val e = intercept[Exception](
      TextSources.sentinelGuarded(poison).collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("null sentinel")), s"got: ${msgs(e)}")
    // nulls and ordinary values pass through untouched
    val ok = Seq((1L, null.asInstanceOf[String], "en", "src0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(TextSources.sentinelGuarded(ok).count() == 1)
  }

  test("FAILFAST: a malformed row aborts the read instead of yielding nulls") {
    val root = graft.TempTrees.scratch("graft-sources-spec")
    // CSV with a non-numeric doc_id: schema says LongType -> malformed
    val badCsv = root.resolve("bad_csv")
    java.nio.file.Files.createDirectories(badCsv)
    java.nio.file.Files.write(badCsv.resolve("part-00000.csv"),
      "doc_id,text,lang,source,n_chars\nnot_a_number,hello,en,src0,5\n"
        .getBytes("UTF-8"))
    val csvRead = spark.read.schema(TextSources.documentsSchema)
      .option("header", "true").option("mode", "FAILFAST")
      .csv(badCsv.toString)
    assertThrows[org.apache.spark.SparkException](csvRead.collect())
    // JSONL with a truncated line
    val badJson = root.resolve("bad_jsonl")
    java.nio.file.Files.createDirectories(badJson)
    java.nio.file.Files.write(badJson.resolve("part-00000.json"),
      "{\"doc_id\": 1, \"text\": \"ok\", \"lang\": \"en\", \"source\": \"s\", \"n_chars\": 2}\n{\"doc_id\": 2, \"text\": \"broken\n"
        .getBytes("UTF-8"))
    val jsonRead = spark.read.schema(TextSources.documentsSchema)
      .option("mode", "FAILFAST").json(badJson.toString)
    assertThrows[org.apache.spark.SparkException](jsonRead.collect())
  }
}
