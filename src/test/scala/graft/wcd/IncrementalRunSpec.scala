package graft.wcd

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** End-to-end incremental import over a PERSISTED hash index: the A5/A6
  * path a production deployment runs — parse, merge against the on-disk
  * index, append the minted entries, re-run, expect zero new items
  * (SURVEY §7.5 risk 6). */
class IncrementalRunSpec extends SparkSpec {
  import spark.implicits._

  test("re-import of the same pages mints zero new items through the persisted index") {
    val dir = graft.TempTrees.scratch("graft-hashindex").toString + "/index"
    val pages = Seq(
      (1L, "A", "en", "{{cite web|url=https://one.example.com/a|title=T1}}"),
      (2L, "B", "en", "{{cite journal|doi=10.1/xyz|title=T2}}"))
      .toDF("page_id", "title", "language_code", "wikitext")
    def runOnce(): Long = {
      val refs = Extract.references(pages)
      val incoming = refs.filter(col("md5hash").isNotNull).select(col("md5hash").as("hash"))
      val index = HashIndex.load(spark, dir)
      val (minted, resolved) = HashIndex.merge(index, incoming, "reference")
      val nMinted = minted.count()
      if (nMinted > 0) HashIndex.append(minted, dir)
      assert(resolved.count() == 2) // every hash resolves either way
      nMinted
    }
    assert(runOnce() == 2)  // first run creates both items
    assert(runOnce() == 0)  // re-import: idempotent, zero new items
    // the persisted index maps each hash to its deterministic id
    val idx = HashIndex.load(spark, dir).collect()
    assert(idx.length == 2)
    assert(idx.forall(r => r.getAs[String]("qid") ==
      "WCD" + r.getAs[String]("hash").substring(0, 16).toUpperCase))
    // A6 flush (cache flushdb analog) empties the index
    HashIndex.flush(spark, dir)
    assert(HashIndex.load(spark, dir).count() == 0)
  }
}
