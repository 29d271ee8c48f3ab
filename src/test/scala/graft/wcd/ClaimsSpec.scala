package graft.wcd

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Claim-generation asserts mirroring tests/test_wikibase_crud.py (C1–C9),
  * plus the merge idempotency invariant (A5/H6/H8) and read queries. */
class ClaimsSpec extends SparkSpec {

  private lazy val pages: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "Democracy", "en",
        // one hashable ref (doi) with persons + urls, one duplicate (dropped
        // by H5), one un-hashable string citation
        "{{cite journal|last1=Skaaning|first1=Svend-Erik|title=Types|journal=PG" +
          "|doi=10.17645/pag.v6i1.1183|year=2018|url=https://www.cogitatiopress.com/x" +
          "|publisher=[[Cogitatio]]|access_date=May 24, 2021}}" +
          "{{cite journal|doi=10.17645/pag.v6i1.1183|title=DupSameDoi}}" +
          "{{cite web|title=NoIdentifier|website=Nowhere}}"),
      (2L, "Easter Island", "en",
        "{{cite book|isbn=978-3-030-39690-9|title=Moai|last=Author|first=An" +
          "|archive_url=https://web.archive.org/web/2010/x}}")
    ).toDF("page_id", "title", "language_code", "wikitext")
  }

  // refs is cached/materialized before claims are built: the three claim
  // branches then plan against the compact InMemoryRelation instead of
  // three copies of the parse/enrich tree (same reason a production run
  // writes the refs fact table before projecting claims).
  private lazy val refs = { val r = Extract.references(pages).cache(); r.count(); r }
  private lazy val retrieved = to_timestamp(lit("2026-08-12 13:45:00"))
  private lazy val claims = Claims.allClaims(pages, refs, retrieved).cache()

  private def claimsOf(prop: String): Array[Row] =
    claims.filter(col("property") === prop).collect()

  test("allClaims materializes only deep raw lineage — a landed scan passes through lazily") {
    // landed-shaped input: write the refs table and read it back — the
    // guard must NOT cache it (the hidden-materialization nit, r10)
    val dir = graft.TempTrees.scratch("graft-claims-guard")
    refs.write.parquet(dir.resolve("refs").toString)
    val landed = spark.read.parquet(dir.resolve("refs").toString)
    Claims.allClaims(pages, landed, retrieved)
    assert(landed.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "a landed refs scan must not be silently cached")
    // raw-lineage input: the parse/enrich pipeline trips the guard
    val raw = graft.wcd.Extract.references(pages)
    Claims.allClaims(pages, raw, retrieved)
    assert(raw.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "deep raw lineage must be materialized before the 3-branch projection")
    raw.unpersist(blocking = true)
  }

  test("C3: every hashed reference carries HASH/INSTANCE_OF/TEMPLATE_NAME/RETRIEVED_DATE") {
    val hashed = refs.filter(col("md5hash").isNotNull).count()
    assert(hashed == 2) // doi ref (dup dropped) + isbn ref
    assert(claimsOf("TEMPLATE_NAME").count(_.getAs[String]("item_type") == "wikipedia_reference") == 2)
    val instanceOf = claims.filter(col("property") === "INSTANCE_OF" &&
      col("value_qid") === Claims.WikipediaReference).count()
    assert(instanceOf == 2)
    // all claim times are day-truncated
    val times = claimsOf("RETRIEVED_DATE").map(_.getAs[java.sql.Timestamp]("value_time"))
    assert(times.nonEmpty && times.forall(_.toString == "2026-08-12 00:00:00.0"))
  }

  test("C1: person claims carry given/family/ordinal qualifiers") {
    val persons = claimsOf("FULL_NAME_STRING")
    val sk = persons.find(_.getAs[String]("value_str") == "Svend-Erik Skaaning")
    assert(sk.isDefined)
    val quals = sk.get.getSeq[Row](sk.get.fieldIndex("qualifiers"))
      .map(q => q.getAs[String]("property") -> q.getAs[String]("value")).toMap
    assert(quals("GIVEN_NAME") == "Svend-Erik")
    assert(quals("FAMILY_NAME") == "Skaaning")
    assert(quals("SERIES_ORDINAL") == "1")
  }

  test("C4/C5: external ids, markup-cleaned publisher, ≤500 urls") {
    assert(claimsOf("DOI").map(_.getAs[String]("value_str")).toSeq ==
      Seq("10.17645/pag.v6i1.1183"))
    assert(claimsOf("ISBN_13").map(_.getAs[String]("value_str")).toSeq ==
      Seq("978-3-030-39690-9"))
    assert(claimsOf("PUBLISHER_STRING").map(_.getAs[String]("value_str")).toSeq ==
      Seq("Cogitatio"))
  }

  test("C5: archive_url claim carries detected-archive qualifier") {
    val au = claimsOf("ARCHIVE_URL")
    assert(au.length == 1)
    val quals = au.head.getSeq[Row](au.head.fieldIndex("qualifiers"))
    assert(quals.exists(q => q.getAs[String]("property") == "ARCHIVE" &&
      q.getAs[String]("value") == "archive.org"))
  }

  test("C6: website items minted per distinct FLD") {
    val sites = claims.filter(col("item_type") === "website" &&
      col("property") === "FIRST_LEVEL_DOMAIN_STRING")
      .select("value_str").collect().map(_.getString(0)).sorted
    assert(sites.toSeq == Seq("cogitatiopress.com"))
  }

  test("C2: citation edges link page item to reference hashes with provenance") {
    val edges = claimsOf("CITATIONS")
    assert(edges.length == 2)
    assert(edges.forall(_.getAs[String]("item_type") == "wikipedia_page"))
    val prov = edges.head.getSeq[Row](edges.head.fieldIndex("provenance"))
    assert(prov.exists(_.getAs[String]("property") == "RETRIEVED_DATE"))
  }

  test("C9: un-hashable reference becomes STRING_CITATIONS on the page") {
    val sc = claimsOf("STRING_CITATIONS")
    assert(sc.length == 1)
    assert(sc.head.getAs[String]("value_str") == "cite web")
    val quals = sc.head.getSeq[Row](sc.head.fieldIndex("qualifiers"))
    assert(quals.exists(q => q.getAs[String]("property") == "WEBSITE_STRING" &&
      q.getAs[String]("value") == "Nowhere"))
  }

  test("SURVEY §0.1 intent divergences: editors/translators from their OWN lists, rinse covers all three types, archive_date qualifier kept") {
    import spark.implicits._
    // 1) crud/__init__.py:136-151 maps editors AND translators from the
    //    interviewers_list (copy-paste bug). Implemented intent: each
    //    role from its own list — an editor+translator+interviewer ref
    //    must emit each name under its own property, never crossed.
    // 2) crud/delete.py:63-68 deletes WIKIPEDIA_PAGE twice and never
    //    WIKIPEDIA_REFERENCE. Implemented intent: rinse (A7) deletes any
    //    of the three item classes.
    // 3) crud/__init__.py:996-1010 computes the string-citation
    //    archive_date qualifier then discards it (variable overwritten
    //    with access_date = None). Implemented intent: ARCHIVE_DATE
    //    rides the STRING_CITATIONS qualifiers like its siblings.
    val divPages = Seq(
      (7L, "Divergence", "en",
        "{{cite book|isbn=978-3-030-39690-9|title=Roles" +
          "|editor1-first=Ed|editor1-last=Itor" +
          "|translator-first1=Tra|translator-last1=Nslator" +
          "|interviewer-first=Inter|interviewer-last=Viewer}}" +
          "{{cite web|title=NoId2|website=Elsewhere|archive-date=May 1, 2020}}")
    ).toDF("page_id", "title", "language_code", "wikitext")
    val divRefs = { val r = Extract.references(divPages).cache(); r.count(); r }
    val divClaims = Claims.allClaims(divPages, divRefs, retrieved).cache()
    def names(prop: String) = divClaims.filter(col("property") === prop)
      .select("value_str").collect().map(_.getString(0)).toSet
    assert(names("EDITOR_NAME_STRING") == Set("Ed Itor"))
    assert(names("TRANSLATOR_NAME_STRING") == Set("Tra Nslator"))
    assert(names("INTERVIEWER_STRING") == Set("Inter Viewer"))
    // rinse: each class deletable, the other classes' rows survive
    for (cls <- Seq(Claims.WikipediaReference, Claims.WikipediaPage,
        Claims.WebsiteItem)) {
      val kept = ReadQueries.deleteItemsOfClass(divClaims, cls)
      assert(kept.filter(col("property") === "INSTANCE_OF" &&
        col("value_qid") === cls).isEmpty, s"rinse must delete class $cls")
    }
    assert(ReadQueries.deleteItemsOfClass(divClaims, Claims.WikipediaReference)
      .filter(col("property") === "INSTANCE_OF" &&
        col("value_qid") === Claims.WikipediaPage).count() > 0,
      "rinsing references must not touch pages")
    // archive_date qualifier present on the string citation
    val sc2 = divClaims.filter(col("property") === "STRING_CITATIONS").collect()
    assert(sc2.length == 1)
    val quals = sc2.head.getSeq[Row](sc2.head.fieldIndex("qualifiers"))
      .map(q => q.getAs[String]("property") -> q.getAs[String]("value")).toMap
    assert(quals.get("ARCHIVE_DATE").exists(_.startsWith("2020-05-01")),
      s"string-citation ARCHIVE_DATE must survive (ref discards it): $quals")
    divRefs.unpersist(blocking = false)
    divClaims.unpersist(blocking = false)
  }

  test("C8: page items carry curid URL, page hash, title") {
    val urls = claims.filter(col("item_type") === "wikipedia_page" && col("property") === "URL")
      .select("value_str").collect().map(_.getString(0)).sorted
    assert(urls.toSeq == Seq("https://en.wikipedia.org/?curid=1", "https://en.wikipedia.org/?curid=2"))
  }

  test("Q1/Q2/Q6: read queries over the claims table") {
    assert(ReadQueries.countByClass(claims, Claims.WikipediaReference)
      .collect().head.getLong(0) == 2)
    assert(ReadQueries.countByClass(claims, Claims.WikipediaPage)
      .collect().head.getLong(0) == 2)
    val stats = ReadQueries.propertyStatistics(claims)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats("DOI") == 1 && stats("CITATIONS") == 2) // both pages carry citations
    val pageStats = ReadQueries.pageHashStatistics(refs)
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    // statistics run over the post-H5-dedup reference list (the reference's
    // self.references never receives the duplicate): 1 hashed of 2 → 50
    assert(pageStats(1L) == 50)
    assert(pageStats(2L) == 100)
  }

  test("Q3: hash lookup returns ≤1 item per hash (H7 invariant)") {
    val h = md5hex("WikiCitations" + "10.17645/pag.v6i1.1183".toLowerCase)
    val hits = ReadQueries.lookupHash(claims, h).collect()
    assert(hits.length == 1 && hits.head.getString(1) == "wikipedia_reference")
  }

  test("Q5: point item fetch returns exactly that item's claims") {
    val pageHash = md5hex("WikiCitations" + "en" + "1")
    val fetched = ReadQueries.fetchItem(claims, pageHash).collect()
    assert(fetched.nonEmpty)
    assert(fetched.forall(_.getAs[String]("item_id") == pageHash))
    assert(fetched.forall(_.getAs[String]("item_type") == "wikipedia_page"))
  }

  test("A5/H6/H8: merge is idempotent — second run mints nothing new") {
    val index0 = HashIndex.empty(spark)
    val incoming = refs.filter(col("md5hash").isNotNull)
      .select(col("md5hash").as("hash"))
    val (minted1, resolved1) = HashIndex.merge(index0, incoming, "reference")
    assert(minted1.count() == 2 && resolved1.count() == 2)
    val index1 = index0.unionByName(minted1)
    val (minted2, resolved2) = HashIndex.merge(index1, incoming, "reference")
    assert(minted2.count() == 0) // H8: duplicate upload creates nothing
    assert(resolved2.count() == 2)
    // deterministic minting: same hash → same qid across runs
    val q1 = resolved1.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val q2 = resolved2.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(q1 == q2)
  }

  test("claims sink: item_type-partitioned write prunes partitions at the scan") {
    // SCALE.md's sink posture made concrete: the claims table lands
    // partitioned by item_type, so a per-type read (Q1/Q4, the rinse
    // A7) touches one directory, not the whole table. Assert the
    // pruning actually reaches the scan node.
    val root = graft.TempTrees.scratch("graft-claims-sink")
    val p = root.resolve("claims.parquet").toString
    claims.write.partitionBy("item_type").parquet(p)
    val back = spark.read.parquet(p)
      .filter(col("item_type") === "wikipedia_reference")
    val scan = back.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.contains("wikipedia_reference"),
      s"partition filter must reach the parquet scan:\n$scan")
    // and the pruned read returns exactly the reference-type claims
    assert(back.count() ==
      claims.filter(col("item_type") === "wikipedia_reference").count())
    val pruned = back.queryExecution.executedPlan.collectLeaves().map(_.toString)
      .mkString("\n")
    assert(!pruned.contains("item_type=website"),
      "a website partition directory must not appear in the scanned files")
  }
}
