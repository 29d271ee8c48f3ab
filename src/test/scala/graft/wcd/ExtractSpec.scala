package graft.wcd

import graft.SparkSpec.Sf0_001
import graft.{ReferenceForms, SparkSpec}
import graft.expr.RefExprs
import org.apache.spark.sql.{DataFrame, Row}

/** Operator specs from the reference's unit fixtures (FIXTURES.md §1;
  * tests/test_english_wikipedia_page_reference.py). Each fixture is fed
  * through the real pipeline (wikitext → Extract.references) and the
  * enriched row asserted field by field, including exact md5 hex. */
class ExtractSpec extends SparkSpec {

  private def pageOf(wikitext: String): DataFrame = {
    import spark.implicits._
    Seq((1L, "Test", "en", wikitext)).toDF("page_id", "title", "language_code", "wikitext")
  }

  private def extractOne(wikitext: String): Row = {
    val rows = Extract.references(pageOf(wikitext)).collect()
    assert(rows.length == 1, s"expected 1 reference, got ${rows.length}")
    rows.head
  }

  private def f(r: Row, name: String): Any = r.get(r.fieldIndex(name))

  test("fixture 1a: cite web — roleless person, %B date, FLD, url hash") {
    val wt = "{{cite web|url=https://www.stereogum.com/1345401/turntable-interview/interviews/" +
      "|title=Turntable Interview: !!!|last=Locker|first=Melissa|date=May 9, 2013" +
      "|website=Stereogum|access_date=May 24, 2021}}"
    val r = extractOne(wt)
    assert(f(r, "first_level_domain_of_url") == "stereogum.com")
    val persons = r.getSeq[Row](r.fieldIndex("persons_without_role"))
    assert(persons.length == 1)
    assert(persons.head.getAs[String]("given") == "Melissa")
    assert(persons.head.getAs[String]("surname") == "Locker")
    assert(persons.head.getAs[String]("full_name") == "Melissa Locker")
    assert(f(r, "date_ts").toString == "2013-05-09 00:00:00.0")
    assert(f(r, "access_date_ts").toString == "2021-05-24 00:00:00.0")
    // hash source = url (priority chain tail)
    val url = "https://www.stereogum.com/1345401/turntable-interview/interviews/"
    assert(f(r, "md5hash") == md5hex("WikiCitations" + url.replace(" ", "").toLowerCase))
  }

  test("fixture 1b: cite journal — numbered pair, doi hash") {
    val wt = "{{cite journal|last1=Skaaning|first1=Svend-Erik" +
      "|title=Different Types of Data and the Validity of Democracy Measures" +
      "|journal=Politics and Governance|volume=6|issue=1|page=105" +
      "|doi=10.17645/pag.v6i1.1183|year=2018|doi_access=free}}"
    val r = extractOne(wt)
    val persons = r.getSeq[Row](r.fieldIndex("persons_without_role"))
    assert(persons.length == 1)
    assert(persons.head.getAs[String]("given") == "Svend-Erik")
    assert(persons.head.getAs[String]("surname") == "Skaaning")
    assert(persons.head.getAs[Int]("number_in_sequence") == 1)
    assert(f(r, "md5hash") == md5hex("WikiCitations" + "10.17645/pag.v6i1.1183".toLowerCase))
    assert(f(r, "year_ts").toString == "2018-01-01 00:00:00.0")
  }

  test("fixture 1c: cite book — ISBN-13 classification, doi wins hash") {
    val wt = "{{cite book|last=Tangian|first=Andranik|date=2020" +
      "|title=Analytical Theory of Democracy: History, Mathematics and Applications" +
      "|series=Studies in Choice and Welfare|publisher=Springer" +
      "|location=Cham, Switzerland|isbn=978-3-030-39690-9" +
      "|doi=10.1007/978-3-030-39691-6|s2cid=216190330}}"
    val r = extractOne(wt)
    assert(f(r, "isbn_13") == "978-3-030-39690-9")
    assert(f(r, "isbn_10") == null)
    assert(f(r, "md5hash") == md5hex("WikiCitations" + "10.1007/978-3-030-39691-6".toLowerCase))
    val persons = r.getSeq[Row](r.fieldIndex("persons_without_role"))
    assert(persons.head.getAs[String]("full_name") == "Andranik Tangian")
  }

  test("fixture 1d: url template — positional param not promoted without scheme") {
    val wt = "{{url|chkchkchk.net}}"
    val r = extractOne(wt)
    assert(f(r, "first_parameter") == "chkchkchk.net")
    assert(f(r, "url") == null)
    // hash falls through to first_parameter
    assert(f(r, "md5hash") == md5hex("WikiCitations" + "chkchkchk.net"))
  }

  test("url template WITH scheme is promoted to url") {
    val r = extractOne("{{url|https://chkchkchk.net/AB}}")
    assert(f(r, "url") == "https://chkchkchk.net/AB")
    assert(f(r, "first_level_domain_of_url") == "chkchkchk.net")
    assert(f(r, "md5hash") == md5hex("WikiCitations" + "https://chkchkchk.net/ab"))
  }

  test("fixture 1e: wikilink url → NULL; web.archive.org special case; archive detect") {
    val wt = "{{cite web|url=[[:sq:Shkrime për historinë e Shqipërisë|Shkrime për historinë e Shqipërisë]]" +
      "|archive_url=https://web.archive.org/web/20100715195638/http://www.ine.cl/x|title=T}}"
    val r = extractOne(wt)
    assert(f(r, "url") == null)
    assert(f(r, "first_level_domain_of_url") == null)
    assert(f(r, "first_level_domain_of_archive_url") == "archive.org")
    assert(f(r, "detected_archive_of_archive_url") == "archive.org")
    assert(f(r, "md5hash") == null) // no identifier at all
  }

  test("fixture 1f: aliases, dash keys, author2, %d %B dates") {
    val wt = "{{cite web|url=http://www.kmk.a.se/ImageUpload/kmkNytt0110.pdf" +
      "|archive-url=https://web.archive.org/web/20100812051822/http://www.kmk.a.se/ImageUpload/kmkNytt0110.pdf" +
      "|url-status=dead|archive-date=2010-08-12|title=Musköbasen 40 år" +
      "|first=Helene|last=Skoglund|author2=Nynäshamns Posten|date=January 2010" +
      "|publisher=Kungliga Motorbåt Klubben|location=Stockholm|pages=4–7" +
      "|language=Swedish|trans_title=Muskö Naval Base 40 years|access-date=2010-11-09}}"
    val r = extractOne(wt)
    assert(f(r, "archive_url") != null) // dash key folded
    assert(f(r, "url_status") == "dead")
    assert(f(r, "archive_date_ts").toString == "2010-08-12 00:00:00.0")
    assert(f(r, "date_ts").toString == "2010-01-01 00:00:00.0")
    assert(f(r, "access_date_ts").toString == "2010-11-09 00:00:00.0")
    val noRole = r.getSeq[Row](r.fieldIndex("persons_without_role"))
    assert(noRole.length == 1 && noRole.head.getAs[String]("full_name") == "Helene Skoglund")
    val authors = r.getSeq[Row](r.fieldIndex("authors_list"))
    assert(authors.length == 1)
    assert(authors.head.getAs[String]("name_string") == "Nynäshamns Posten")
    assert(authors.head.getAs[Int]("number_in_sequence") == 2)
  }

  test("fixture 1g: internet archive id") {
    val r = extractOne("{{cite book|url=https://archive.org/details/catalogueofshipw0000wils/|title=T}}")
    assert(f(r, "internet_archive_id") == "catalogueofshipw0000wils")
    assert(f(r, "first_level_domain_of_url") == "archive.org")
  }

  test("fixture 1g: google books id from url query") {
    val r = extractOne("{{cite book|url=https://books.google.ca/books?id=on0TaPqFXbcC&pg=PA431|title=T}}")
    assert(f(r, "google_books_id") == "on0TaPqFXbcC")
    assert(f(r, "first_level_domain_of_url") == "google.ca")
  }

  test("fixture 1g: markup cleanup on publisher") {
    assert(f(extractOne("{{cite web|url=https://a.com/x|publisher=[[test]]}}"), "publisher") == "test")
    assert(f(extractOne("{{cite web|url=https://a.com/x|publisher=[[test|test2]]}}"), "publisher") == "test")
  }

  test("fixture 1g: place→location and lang→language merges") {
    val r = extractOne("{{cite web|url=https://a.com/x|place=Copenhagen|lang=English}}")
    assert(f(r, "location") == "Copenhagen")
    assert(f(r, "language") == "English")
  }

  test("fixture 1g: google books template inside url param") {
    val r = extractOne("{{cite book|url={{google books |plainurl=y |id=CDJpAAAAMAAJ |page=313}}|title=T}}")
    assert(f(r, "google_books_id") == "CDJpAAAAMAAJ")
    assert(f(r, "url") == "https://books.google.com/books?id=CDJpAAAAMAAJ")
    assert(f(r, "first_level_domain_of_url") == "google.com")
    // the nested GoogleBooks record (google_books.py:30-63) incl. H4 hash
    val gb = r.getStruct(r.fieldIndex("google_books"))
    assert(gb.getAs[String]("id") == "CDJpAAAAMAAJ")
    assert(gb.getAs[Int]("page") == 313)
    assert(gb.getAs[String]("plainurl") == "y")
    assert(gb.getAs[String]("md5hash") ==
      md5hex("WikiCitations" + "CDJpAAAAMAAJ".toLowerCase))
  }

  test("F5 strict load: unknown key rejects the whole reference") {
    val wt = "{{cite web|url=https://a.com/x|title=T|bogus_param=1}}"
    assert(Extract.references(pageOf(wt)).count() == 0)
    val rej = Extract.rejects(pageOf(wt)).collect()
    assert(rej.length == 1)
    assert(rej.head.getSeq[String](rej.head.fieldIndex("unknown_keys")) == Seq("bogus_param"))
  }

  test("H5: in-page dedup keeps first occurrence, NULL hashes kept") {
    val wt = "{{cite web|url=https://dup.com/a|title=First}}" +
      "{{cite web|url=https://dup.com/a|title=Second}}" +
      "{{cite web|title=NoHash1}}{{cite web|title=NoHash2}}"
    val rows = Extract.references(pageOf(wt)).collect()
    assert(rows.length == 3) // 1 hashed (first wins) + 2 null-hash
    val hashed = rows.filter(r => f(r, "md5hash") != null)
    assert(hashed.length == 1 && f(hashed.head, "title") == "First")
  }

  test("unsupported template filtered (F3), supported-template bug fixed as intent") {
    val wt = "{{infobox person|name=X}}{{cite map|title=M|url=https://m.org/x}}"
    val rows = Extract.references(pageOf(wt)).collect()
    assert(rows.length == 1 && f(rows.head, "template_name") == "cite map")
  }

  test("ISBN with spaces is dash-normalized before classification and hash") {
    val r = extractOne("{{cite book|isbn=978 3 030 39690 9|title=T}}")
    assert(f(r, "isbn") == "978-3-030-39690-9")
    assert(f(r, "isbn_13") == "978-3-030-39690-9")
    assert(f(r, "md5hash") == md5hex("WikiCitations" + "9783030396909"))
  }

  test("date trailing-letter variant parses via abbreviated month only") {
    val r = extractOne("{{cite web|url=https://a.com/x|date=May 25, 2012a}}")
    assert(f(r, "date_ts").toString == "2012-05-25 00:00:00.0")
  }

  test("unparseable date is lenient NULL") {
    val r = extractOne("{{cite web|url=https://a.com/x|date=bogus 99}}")
    assert(f(r, "date_ts") == null)
  }

  test("F1 Generator: native rows equal the posexplode(UDF) form corpus-wide") {
    import org.apache.spark.sql.functions._
    val pages = graft.queries.Citations.pages(spark, Sf0_001)
    def canon(df: DataFrame) = df.collect().map { r =>
      (r.getLong(0), r.getInt(1), r.getString(2),
        r.getMap[String, String](3).toMap)
    }.toSet
    val gen = canon(pages.select(col("page_id"),
      graft.parse.TemplateFunctions.extractTemplatesRows(col("wikitext"))
        .as(Seq("ref_pos", "name", "params"))))
    val viaUdf = canon(pages.select(col("page_id"),
        posexplode(graft.parse.TemplateFunctions.extractTemplates(col("wikitext")))
          .as(Seq("ref_pos", "tmpl")))
      .select(col("page_id"), col("ref_pos"),
        col("tmpl.name").as("name"), col("tmpl.params").as("params")))
    assert(gen.nonEmpty, "corpus must contain templates")
    assert(gen == viaUdf, "Generator and UDF forms must emit identical rows")
  }

  test("F4 native FixParamsF equals the UDF — corpus-wide AND on the rename/collision matrix, order included") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the move-to-end collision semantics, in order: 'class' renames to
    // news_class, 'authorlink' folds to author_link COLLIDING with the
    // dash-fixed 'author-link' (last value wins, key moves to the end)
    val fixtures = Seq(
      Map("class" -> "a", "url" -> "u"),
      Map("author-link" -> "x", "authorlink" -> "y", "title" -> "t"),
      Map("first-name" -> "f", "first_name" -> "g"),
      Map[String, String]())
    // >4-entry collision fixture (ADVICE r12): past 4 entries the scala
    // Map conversion stops preserving insertion order (Map4 → HashMap),
    // which made the OLD whole-Map UDF's collision winner hash-order
    // dependent; the UDF now reads map_keys/map_values (MapData order),
    // so value AND order must match the native expression at any size.
    // Built as a literal map expression so the MapData order is the
    // written order, with a dash/underscore collision separated by
    // interleaving keys.
    val big = Seq(
      ("author-link", "x"), ("title", "t"), ("url", "u"),
      ("publisher", "p"), ("authorlink", "y"), ("isbn", "i"))
    val df = fixtures.toDF("m")
    def ordered(c: org.apache.spark.sql.Column) =
      df.select(c.as("m")).collect()
        .map(_.getMap[String, String](0).toSeq)
    val nat = ordered(Extract.fixParams($"m"))
    val viaUdf = ordered(ReferenceForms.fixParamsUdf($"m"))
    assert(nat.toSeq == viaUdf.toSeq,
      "native F4 must match the UDF including key ORDER (Python-dict rename)")
    assert(nat(0).toMap == Map("news_class" -> "a", "url" -> "u"))
    assert(nat(1) == Seq("author_link" -> "y", "title" -> "t"),
      "collision keeps the LAST value (y overwrites x)")
    // the 6-entry fixture: built with map(lit...) so MapData order IS
    // the written order (a 6-entry scala Map literal would already be
    // a HashMap before Spark ever saw it)
    val bigDf = spark.range(1).select(
      map(big.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*).as("m"))
    // read the order through map_entries, NOT Row.getMap: the collect-side
    // converter turns a 5+-entry MapData into a scala HashMap, which
    // would scramble the very order this fixture pins
    def orderedOne(c: org.apache.spark.sql.Column) =
      bigDf.select(map_entries(c).as("e")).collect()
        .map(_.getSeq[org.apache.spark.sql.Row](0)
          .map(r => r.getString(0) -> r.getString(1))).head
    val natBig = orderedOne(Extract.fixParams($"m"))
    val udfBig = orderedOne(ReferenceForms.fixParamsUdf($"m"))
    assert(natBig == udfBig,
      s"6-entry collision: UDF must match native order/value: $natBig vs $udfBig")
    assert(natBig == Seq("title" -> "t", "url" -> "u", "publisher" -> "p",
      "author_link" -> "y", "isbn" -> "i"),
      s"authorlink (last) must win and move author_link to position 4: $natBig")
    // corpus-wide: every extracted template's params fix identically
    val pages = graft.queries.Citations.pages(spark, Sf0_001)
    val tmpls = pages.select(
      graft.parse.TemplateFunctions.extractTemplatesRows(col("wikitext"))
        .as(Seq("ref_pos", "name", "params")))
    def corpus(c: org.apache.spark.sql.Column) =
      tmpls.select(c.as("m")).collect().map(_.getMap[String, String](0).toSeq)
    assert(corpus(Extract.fixParams(col("params"))).toSeq
      == corpus(ReferenceForms.fixParamsUdf(col("params"))).toSeq)
  }
}
