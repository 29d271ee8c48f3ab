package graft.expr

import graft.SparkSpec.Sf0_001
import graft.{ReferenceForms, SparkSpec}
import graft.ops.TextOps
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** ScalaCheck properties from SURVEY.md §5: hash determinism and
  * normalization invariance, date-parser totality, dedup idempotence,
  * and native-vs-declarative expression equivalence. Each property runs
  * one Spark job over a generated column batch (not one job per case). */
class ExprPropertySpec extends SparkSpec {
  import spark.implicits._

  private val asciiText: Gen[String] =
    Gen.chooseNum(0, 80).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(
        (9, Gen.alphaNumChar), (2, Gen.const(' ')), (1, Gen.oneOf("-.,:/{}|=[]'\"")))
      ).map(_.mkString))

  private def run(inputs: Seq[String], c: org.apache.spark.sql.Column): Seq[Any] =
    inputs.toDF("v").select(c.as("r")).collect().toSeq.map(r => r.get(0))

  test("H1 hash: deterministic, and invariant under spaces/case of the candidate") {
    val inputs = Gen.listOfN(60, asciiText).sample.get.filter(_.nonEmpty)
    val a = run(inputs, RefExprs.referenceHash($"v", lit(null), lit(null), lit(null), lit(null), lit(null)))
    val b = run(inputs, RefExprs.referenceHash($"v", lit(null), lit(null), lit(null), lit(null), lit(null)))
    assert(a == b)
    val spaced = run(inputs.map(s => s.replace("", " ").trim), // inject spaces everywhere
      RefExprs.referenceHash($"v", lit(null), lit(null), lit(null), lit(null), lit(null)))
    val upper = run(inputs.map(_.toUpperCase),
      RefExprs.referenceHash($"v", lit(null), lit(null), lit(null), lit(null), lit(null)))
    assert(a == spaced, "hash must strip spaces before hashing")
    assert(a == upper, "hash must lowercase before hashing")
  }

  test("F7 date parse: total — never throws, NULL on garbage, value on all 9 formats") {
    val garbage = Gen.listOfN(80, asciiText).sample.get
    val parsed = run(garbage, RefExprs.parseDateMulti($"v"))
    assert(parsed.length == garbage.length) // no throw
    val good = Seq("2013-05-09", "May 9, 2013", "Jul 9, 2013", "May 25, 2012a",
      "1 September 2003", "26 Dec 1996", "September 2003", "Sep 2003", "2003")
    assert(run(good, RefExprs.parseDateMulti($"v")).forall(_ != null))
  }

  test("winnow_fp native ≡ declarative transform/array_min composition") {
    val inputs = Gen.listOfN(60, asciiText).sample.get.filter(_.nonEmpty)
    val native = run(inputs, TextOps.winnowFingerprint($"v"))
    val declarative = run(inputs, {
      val positions = sequence(lit(1), greatest(length($"v") - lit(19), lit(1)))
      array_min(transform(positions, i => TextOps.hx($"v".substr(i, lit(20)))))
    })
    assert(native == declarative)
  }

  test("seed_gram_hashes_f native ≡ positionalGrams+hx composition (r15)") {
    // generated texts PLUS the edge shapes: empty, all-spaces (empty
    // tokens), exactly seedW tokens, seedW-1 tokens (no positions)
    val seedW = 4
    val inputs = (Gen.listOfN(60, asciiText).sample.get ++ Seq(
      "", "   ", "a b c d", "a b c", "a  b   c d e", "x" * 30)).filter(_ != null)
    val df = inputs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val native = rows(graft.ops.DedupOps.seedGramIndex(df, "doc_id", $"text", seedW))
    val declarative = rows(
      graft.ops.DedupOps.positionalGrams(df, "doc_id", $"text", seedW)
        .select($"doc_id", $"pos", TextOps.hx($"gram").as("gram")))
    assert(native == declarative)
  }

  test("grams_f native ≡ transform/sequence/concat_ws composition (r15)") {
    val inputs = (Gen.listOfN(60, asciiText).sample.get ++ Seq(
      "", "   ", "a b", "a b c", "a  b   c d", "x" * 25)).filter(_ != null)
    val df = inputs.toDF("text")
      .select(TextOps.tokens($"text").as("w"))
    for (n <- Seq(2, 3, 10)) {
      val native = df.select(TextOps.shingles($"w", n)).collect().map(_.getSeq[String](0))
      val declarative = df.select(ReferenceForms.shinglesDeclarative($"w", n))
        .collect().map(_.getSeq[String](0))
      assert(native.toSeq == declarative.toSeq, s"n=$n")
    }
    // null-skipping join parity on arrays with null elements
    val withNulls = Seq(Seq[String]("a", null, "b", "c")).toDF("w")
    assert(withNulls.select(TextOps.shingles($"w", 2)).head().getSeq[String](0)
      == withNulls.select(ReferenceForms.shinglesDeclarative($"w", 2)).head().getSeq[String](0))
  }

  test("dot_product_f native ≡ zip_with/aggregate fold, bit-exact") {
    val vecs = Gen.listOfN(40,
      Gen.listOfN(16, Gen.chooseNum(-1000, 1000).map(_ / 997.0f))).sample.get
    val df = vecs.map(v => (v.toArray, v.reverse.toArray)).toDF("a", "b")
    val native = df.select(VectorExprs.dotF($"a", $"b")).collect().map(_.getDouble(0))
    val fold = df.select(
      aggregate(zip_with($"a", $"b", (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)).collect().map(_.getDouble(0))
    assert(native.toSeq == fold.toSeq)
  }

  test("l2sq_micro_f native ≡ zip_with/aggregate/floor fold, bit-exact") {
    val vecs = Gen.listOfN(40,
      Gen.listOfN(16, Gen.chooseNum(-1000, 1000).map(_ / 997.0f))).sample.get
    val df = vecs.map(v => (v.toArray, v.reverse.toArray)).toDF("a", "b")
    val native = df.select(VectorExprs.l2sqMicroF($"a", $"b")).collect().map(_.getLong(0))
    val fold = df.select(
      floor(aggregate(zip_with($"a", $"b", (x, y) => {
          val d = x.cast("double") - y.cast("double"); d * d
        }), lit(0.0), (acc, v) => acc + v) * 1000000).cast("long"))
      .collect().map(_.getLong(0))
    assert(native.toSeq == fold.toSeq)
  }

  test("sorted_intersect_count_l native ≡ size(array_intersect) on sorted arrays") {
    val arrays = Gen.listOfN(60, for {
      a <- Gen.listOf(Gen.chooseNum(0L, 40L))
      b <- Gen.listOf(Gen.chooseNum(0L, 40L))
    } yield (a.distinct.sorted.toArray, b.distinct.sorted.toArray)).sample.get
    val df = arrays.toDF("a", "b")
    val native = df.select(VectorExprs.sortedIntersectCountL($"a", $"b"))
      .collect().map(_.getLong(0))
    val generic = df.select(size(array_intersect($"a", $"b")).cast("long"))
      .collect().map(_.getLong(0))
    assert(native.toSeq == generic.toSeq)
    // duplicate runs count once (the array_intersect distinct semantic)
    val dup = Seq((Array(1L, 1L, 2L, 3L, 3L), Array(1L, 3L, 3L, 5L))).toDF("a", "b")
    assert(dup.select(VectorExprs.sortedIntersectCountL($"a", $"b")).head.getLong(0) == 2L)
  }

  test("H4 google-books hash and F20 hash-suffixed label: exact golden values") {
    val r = Seq(("AoL0CAAAQBAJ", "Some Very Long Title Indeed"))
      .toDF("gbid", "title")
      .select(
        RefExprs.googleBooksHash($"gbid").as("h"),
        RefExprs.labelWithHash($"title", lit("abcdef0123456789")).as("label"))
      .head()
    assert(r.getString(0) == md5hex("WikiCitations" + "aol0caaaqbaj"))
    assert(r.getString(1) == "Some Very Long Title Indeed | abcdef0")
  }

  test("F19 full_name: the reference's whitespace/empty matrix (test_person.py)") {
    val cases = Seq(
      // (name_string, given, surname) -> expected
      (null, "test", "test", "test test"),
      ("  full name  ", "x", "y", "full name"), // name_string wins, stripped
      ("   ", "x", "y", ""),                    // whitespace-only truthy → stripped to ""
      ("", "x", "y", "x y"),                    // empty string falsy → falls through
      (null, null, "only", "only"),             // intent: no "None" artifact
      (null, null, null, ""))
    val got = cases.map { case (n, g, sn, _) => (n, g, sn) }
      .toDF("n", "g", "s")
      .select(RefExprs.fullName($"n", $"g", $"s")).collect().map(_.getString(0))
    assert(got.toSeq == cases.map(_._4))
  }

  test("F17 number extraction: exactly-one wins, zero → NULL, many flagged") {
    val df = Seq("1one", "one", "123one123").toDF("v")
      .select(RefExprs.numberFromString($"v").as("n"),
        RefExprs.hasMultipleNumbers($"v").as("multi"))
      .collect()
    assert(Option(df(0).get(0)).contains(1) && !df(0).getBoolean(1))
    assert(df(1).isNullAt(0) && !df(1).getBoolean(1))
    assert(df(2).isNullAt(0) && df(2).getBoolean(1))
  }

  test("HLL approx distinct stays within its 2% error bound on real data") {
    val raw = graft.Tables(spark, Sf0_001, "events")
      .groupBy($"event_type")
      .agg(approx_count_distinct($"user_id", 0.02).as("approx_users"),
        countDistinct($"user_id").as("exact_users"))
      .collect()
    raw.foreach { r =>
      val approx = r.getAs[Long]("approx_users").toDouble
      val exact = r.getAs[Long]("exact_users").toDouble
      assert(math.abs(approx - exact) / exact <= 0.02,
        s"${r.getString(0)}: approx $approx vs exact $exact")
    }
    // and the registered query's oracle-checked bound claim holds
    val rows = graft.SparkEntry.queries("q16_approx_distinct")(spark, Sf0_001)
      .collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Boolean]("approx_ok")))
  }

  test("H5 dedup: idempotent — applying twice equals applying once") {
    val docs = Seq(
      (1L, "t", "en", "{{cite web|url=https://a.com/x}}{{cite web|url=https://a.com/x}}{{cite web|title=b}}"),
      (2L, "t", "en", "{{cite web|url=https://a.com/x}}"))
      .toDF("page_id", "title", "language_code", "wikitext")
    val once = graft.wcd.Extract.references(docs)
    val twice = graft.wcd.Extract.dedupInPage(once)
    assert(once.count() == twice.count())
    assert(once.select("page_id", "ref_pos").collect().toSet ==
      twice.select("page_id", "ref_pos").collect().toSet)
  }

  test("round6p: portable rounding on near-ties, non-finite passthrough (0/0 cosine, zero variance)") {
    val xs = Seq(0.1234565, -0.1234565, 43.0 / 64.0, 2.0 / 3.0, 0.0, -1.5e-7)
    val got = xs.toDF("x").select(TextOps.round6p($"x").as("r"))
      .collect().map(_.getDouble(0)).toSeq
    // the exact floor(x·1e6 + 0.5)/1e6 contract, computed independently
    val want = xs.map(x => math.floor(x * 1e6 + 0.5) / 1e6)
    assert(got == want, s"$got vs $want")
    // data-dependent 0/0 (zero-vector cosine, zero-variance correlation)
    // must stay NaN — not collapse to 0.0 via floor's DOUBLE→LONG cast —
    // and ±Inf must propagate, matching DuckDB's floor on both counts
    val edge = Seq(0.0 / 0.0, Double.PositiveInfinity, Double.NegativeInfinity)
      .toDF("x").select(TextOps.round6p($"x").as("r"))
      .collect().map(_.getDouble(0))
    assert(edge(0).isNaN, "NaN must pass through round6p")
    assert(edge(1).isPosInfinity && edge(2).isNegInfinity, "Inf must pass through")
  }
}
