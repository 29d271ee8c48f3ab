package graft.wcd

import graft.expr.RefExprs
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** C1–C9: the long-format claims table — the Spark restatement of the
  * reference's Wikibase item graph (SURVEY.md §2.D; claim builders
  * crud/__init__.py:105-1057).
  *
  * One row per (item, property, value) statement:
  *   item_id     deterministic hash identity (md5 — replaces QID minting,
  *               making re-import idempotent by construction, SURVEY 7.5 #6)
  *   item_type   wikipedia_reference | wikipedia_page | website
  *   property    wikibase property name (dictionaries.py:9-124)
  *   datatype    string|time|url|external_id|item|quantity
  *   value_str / value_time / value_qid   per-datatype value columns
  *   qualifiers  ARRAY<STRUCT<property,value>> (person names, archive, …)
  *   provenance  ARRAY<STRUCT<property,value>> (retrieved date, revision)
  *
  * All builders are `select` + `explode(array(struct…))` projections —
  * narrow, codegen'd, shuffle-free. The downstream read queries (Q1–Q6)
  * group this table by property/item, which is the only shuffle.
  */
object Claims {

  // item classes (dictionaries.py / wikibase/__init__.py)
  val WikipediaReference = "WIKIPEDIA_REFERENCE"
  val WikipediaPage = "WIKIPEDIA_PAGE"
  val WebsiteItem = "WEBSITE_ITEM"
  val EnglishWikipedia = "ENGLISH_WIKIPEDIA"

  private val qualSchema = "array<struct<property:string,value:string>>"
  private val noQuals = lit(null).cast(qualSchema)

  private def claim(property: String, datatype: String, valueStr: Column,
      valueTime: Column, valueQid: Column, qualifiers: Column): Column =
    struct(
      lit(property).as("property"),
      lit(datatype).as("datatype"),
      valueStr.as("value_str"),
      valueTime.cast("timestamp").as("value_time"),
      valueQid.as("value_qid"),
      qualifiers.as("qualifiers"))

  private def strClaim(p: String, v: Column, quals: Column = noQuals) =
    claim(p, "string", v, lit(null), lit(null), quals)
  private def extIdClaim(p: String, v: Column) =
    claim(p, "external_id", v, lit(null), lit(null), noQuals)
  private def urlClaim(p: String, v: Column, quals: Column = noQuals) =
    // F21: URL claims longer than 500 chars are skipped (crud:682-792)
    claim(p, "url", when(length(v) <= 500, v), lit(null), lit(null), quals)
  private def timeClaim(p: String, v: Column) =
    // all claim times are day-truncated (crud:389-398,650-679)
    claim(p, "time", lit(null), date_trunc("DAY", v), lit(null), noQuals)
  private def itemClaim(p: String, target: Column, quals: Column = noQuals) =
    claim(p, "item", lit(null), lit(null), target, quals)

  private def qual(p: String, v: Column): Column =
    struct(lit(p).as("property"), v.cast("string").as("value"))

  /** C7: the provenance reference attached to citation claims —
    * (RETRIEVED_DATE, PAGE_REVISION_ID) (crud:381-410). */
  private def provenance(retrievedDate: Column, revisionId: Column): Column =
    filter(array(
      qual("RETRIEVED_DATE", retrievedDate),
      qual("PAGE_REVISION_ID", revisionId)), q => q.getField("value").isNotNull)

  /** C1: one String claim per person, property by role list, with
    * GIVEN_NAME/FAMILY_NAME/SERIES_ORDINAL/ORCID/URL/NAME_MASK
    * qualifiers; persons with empty full_name skipped (crud:301-379).
    * The reference maps editors/translators from the interviewers list
    * (copy-paste bug, SURVEY §0.1); we implement the evident intent. */
  private def personClaims(listCol: String, property: String): Column = {
    transform(
      filter(coalesce(col(listCol), expr("array()")), p => p.getField("full_name") =!= ""),
      p => claim(property, "string", p.getField("full_name"), lit(null), lit(null),
        filter(array(
          qual("GIVEN_NAME", p.getField("given")),
          qual("FAMILY_NAME", p.getField("surname")),
          qual("SERIES_ORDINAL", p.getField("number_in_sequence")),
          qual("ORCID", p.getField("orcid")),
          qual("URL", p.getField("url")),
          qual("NAME_MASK", p.getField("mask"))), q => q.getField("value").isNotNull)))
  }

  /** Reference-item claims (C1+C3+C4+C5) for hashed references. Input:
    * the enriched wide frame from [[Extract.references]]. `retrievedDate`
    * is injectable (the reference stamps "today"; tests/queries pass a
    * fixed instant for determinism). */
  def referenceItemClaims(refs: DataFrame, retrievedDate: Column): DataFrame = {
    val archiveQual = filter(array(
      qual("ARCHIVE", col("detected_archive_of_archive_url"))),
      q => q.getField("value").isNotNull)

    val scalarClaims = array(
      // C3 always-present
      extIdClaim("HASH", col("md5hash")),
      itemClaim("INSTANCE_OF", lit(WikipediaReference)),
      timeClaim("RETRIEVED_DATE", retrievedDate),
      itemClaim("SOURCE_WIKIPEDIA", lit(EnglishWikipedia)),
      strClaim("TEMPLATE_NAME", col("template_name")),
      // C4 external ids
      extIdClaim("DOI", col("doi")),
      extIdClaim("GOOGLE_BOOKS_ID", col("google_books_id")),
      extIdClaim("INTERNET_ARCHIVE_ID", col("internet_archive_id")),
      extIdClaim("ISBN_10", col("isbn_10")),
      extIdClaim("ISBN_13", col("isbn_13")),
      extIdClaim("OCLC_CONTROL_NUMBER", col("oclc")),
      extIdClaim("PMID", col("pmid")),
      extIdClaim("WIKIDATA_QID", col("wikidata_qid")),
      // C5 strings
      strClaim("LOCATION_STRING", col("location")),
      strClaim("LUMPED_AUTHORS", col("vauthors")),
      strClaim("PERIODICAL_STRING", col("periodical")),
      strClaim("PUBLISHER_STRING", col("publisher")),
      strClaim("TITLE", RefExprs.shorten(col("title"), 400)),
      strClaim("WEBSITE_STRING", col("website")),
      // C5 dates
      timeClaim("ACCESS_DATE", col("access_date_ts")),
      timeClaim("PUBLICATION_DATE", col("publication_date_ts")),
      // C5 urls (≤500 via urlClaim), archive_url qualified by detected archive
      urlClaim("URL", col("url")),
      urlClaim("ARCHIVE_URL", col("archive_url"), archiveQual),
      urlClaim("CHAPTER_URL", col("chapter_url")),
      urlClaim("CONFERENCE_URL", col("conference_url")),
      urlClaim("LAY_URL", col("lay_url")),
      urlClaim("TRANSCRIPT_URL", col("transcripturl")),
      // C5 website edge → website item (by FLD hash identity)
      itemClaim("WEBSITE", col("first_level_domain_of_url_hash")))

    val persons = concat(
      personClaims("authors_list", "FULL_NAME_STRING"),
      personClaims("persons_without_role", "FULL_NAME_STRING"),
      personClaims("editors_list", "EDITOR_NAME_STRING"),
      personClaims("hosts_list", "HOST_STRING"),
      personClaims("interviewers_list", "INTERVIEWER_STRING"),
      personClaims("translators_list", "TRANSLATOR_NAME_STRING"))

    // narrow to the claim-relevant columns first: keeps the exploded claim
    // structs referencing plain attributes instead of the 300-column
    // enrichment expression tree (planning cost, column pruning)
    val narrow = refs.filter(col("md5hash").isNotNull).select(
      col("md5hash"), col("template_name"), col("doi"), col("google_books_id"),
      col("internet_archive_id"), col("isbn_10"), col("isbn_13"), col("oclc"),
      col("pmid"), col("wikidata_qid"), col("location"), col("vauthors"),
      col("periodical"), col("publisher"), col("title"), col("website"),
      col("access_date_ts"), col("publication_date_ts"), col("url"),
      col("archive_url"), col("chapter_url"), col("conference_url"),
      col("lay_url"), col("transcripturl"), col("detected_archive_of_archive_url"),
      col("first_level_domain_of_url"), col("first_level_domain_of_url_hash"),
      col("authors_list"), col("persons_without_role"), col("editors_list"),
      col("hosts_list"), col("interviewers_list"), col("translators_list"))

    narrow
      .select(col("md5hash").as("item_id"), lit("wikipedia_reference").as("item_type"),
        explode(concat(scalarClaims, persons)).as("claim"))
      .filter(col("claim.value_str").isNotNull || col("claim.value_time").isNotNull ||
        col("claim.value_qid").isNotNull)
      .select(col("item_id"), col("item_type"), col("claim.*"),
        lit(null).cast(qualSchema).as("provenance"))
  }

  /** C6: website items from distinct FLDs (crud:794-832). */
  def websiteItemClaims(refs: DataFrame): DataFrame = {
    val flds = refs
      .filter(col("first_level_domain_of_url_hash").isNotNull)
      .select(col("first_level_domain_of_url_hash").as("item_id"),
        col("first_level_domain_of_url").as("fld"))
      .distinct()
    flds
      .select(col("item_id"), lit("website").as("item_type"),
        explode(array(
          itemClaim("INSTANCE_OF", lit(WebsiteItem)),
          itemClaim("SOURCE_WIKIPEDIA", lit(EnglishWikipedia)),
          strClaim("FIRST_LEVEL_DOMAIN_STRING", col("fld")),
          extIdClaim("HASH", col("item_id")))).as("claim"))
      .select(col("item_id"), col("item_type"), col("claim.*"),
        lit(null).cast(qualSchema).as("provenance"))
  }

  /** C2+C8+C9: page items — single-value claims, CITATIONS edges to each
    * hashed reference (with C7 provenance), and STRING_CITATIONS for the
    * un-hashable ones (crud:154-172, 834-890, 937-1069).
    *
    * `pages` must carry page_id, title, language_code (and optionally
    * latest_revision_id); `refs` is [[Extract.references]] output. */
  def pageItemClaims(pages: DataFrame, refs: DataFrame, retrievedDate: Column): DataFrame = {
    val revision =
      if (pages.columns.contains("latest_revision_id")) col("latest_revision_id")
      else lit(null).cast("long")
    val pageItems = pages.select(
      RefExprs.pageHash(col("language_code"), col("page_id")).as("item_id"),
      col("page_id"), col("title"), col("language_code"),
      revision.as("revision_id"))

    val scalar = pageItems
      .select(col("item_id"), lit("wikipedia_page").as("item_type"),
        explode(array(
          urlClaim("URL", concat(lit("https://"), col("language_code"),
            lit(".wikipedia.org/?curid="), col("page_id"))),
          extIdClaim("HASH", col("item_id")),
          itemClaim("INSTANCE_OF", lit(WikipediaPage)),
          timeClaim("LAST_UPDATE", retrievedDate),
          extIdClaim("MEDIAWIKI_PAGE_ID", col("page_id").cast("string")),
          itemClaim("PUBLISHED_IN", lit(EnglishWikipedia)),
          strClaim("TITLE", RefExprs.shorten(col("title"), 400)))).as("claim"))
      .select(col("item_id"), col("item_type"), col("claim.*"),
        lit(null).cast(qualSchema).as("provenance"))

    val prov = provenance(date_trunc("DAY", retrievedDate), col("revision_id"))

    // C2: page —CITATIONS→ reference item, one per hashed reference
    val citations = refs.filter(col("md5hash").isNotNull)
      .select(col("page_id"), col("md5hash"))
      .join(pageItems.select(col("page_id"), col("item_id"), col("revision_id")), "page_id")
      .select(col("item_id"), lit("wikipedia_page").as("item_type"),
        lit("CITATIONS").as("property"), lit("item").as("datatype"),
        lit(null).cast("string").as("value_str"),
        lit(null).cast("timestamp").as("value_time"),
        col("md5hash").as("value_qid"),
        lit(null).cast(qualSchema).as("qualifiers"),
        prov.as("provenance"))

    // C9: un-hashable references become STRING_CITATIONS on the page,
    // value = template_name, qualifiers = flattened person/date/url facts
    val flatPersons = (listCol: String) => transform(
      filter(coalesce(col(listCol), expr("array()")), p => p.getField("full_name") =!= ""),
      p => p.getField("full_name"))
    val stringCitations = refs.filter(col("md5hash").isNull)
      .select(col("page_id"), col("template_name"), col("authors_list"),
        col("persons_without_role"), col("editors_list"), col("translators_list"),
        col("access_date_ts"), col("archive_date_ts"), col("publication_date_ts"),
        col("archive_url"), col("title"), col("url"), col("website"))
      .join(pageItems.select(col("page_id"), col("item_id"), col("revision_id")), "page_id")
      .select(col("item_id"), lit("wikipedia_page").as("item_type"),
        lit("STRING_CITATIONS").as("property"), lit("string").as("datatype"),
        col("template_name").as("value_str"),
        lit(null).cast("timestamp").as("value_time"),
        lit(null).cast("string").as("value_qid"),
        filter(concat(
          transform(flatPersons("authors_list"), v => struct(lit("FULL_NAME_STRING").as("property"), v.as("value"))),
          transform(flatPersons("persons_without_role"), v => struct(lit("FULL_NAME_STRING").as("property"), v.as("value"))),
          transform(flatPersons("editors_list"), v => struct(lit("EDITOR_NAME_STRING").as("property"), v.as("value"))),
          transform(flatPersons("translators_list"), v => struct(lit("TRANSLATOR_NAME_STRING").as("property"), v.as("value"))),
          array(
            qual("ACCESS_DATE", date_trunc("DAY", col("access_date_ts"))),
            qual("ARCHIVE_DATE", date_trunc("DAY", col("archive_date_ts"))),
            qual("PUBLICATION_DATE", date_trunc("DAY", col("publication_date_ts"))),
            qual("ARCHIVE_URL", col("archive_url")),
            qual("TITLE", col("title")),
            qual("URL", col("url")),
            qual("WEBSITE_STRING", col("website")))),
          q => q.getField("value").isNotNull).as("qualifiers"),
        prov.as("provenance"))

    scalar.unionByName(citations).unionByName(stringCitations)
  }

  /** The whole graph: all item types unioned into one claims table.
    *
    * The refs input should be a LANDED (or at least materialized)
    * relation: three branches scan it, and claim projection over the raw
    * parse/enrich lineage makes the optimizer expand the person-array
    * lambdas into the claim generator — minutes of planning for zero
    * gain. A production run lands the refs fact table on storage before
    * projecting claims (graft.Landing.parquet is that seam). The guard
    * below materializes ONLY a deep un-cached lineage (and says so on
    * stderr — a driver action inside an operator must never be silent);
    * a landed scan, a checkpoint or an already-cached relation passes
    * through lazily. No registered query trips it: the `claims` landing
    * reads the landed refs table, and c15 checkpoints its in-call parse
    * before projecting claims. It stays for ad-hoc callers that pass
    * [[Extract.references]] output straight in. */
  def allClaims(pages: DataFrame, refs: DataFrame, retrievedDate: Column): DataFrame = {
    val cached =
      refs.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    // a landed parquet read analyzes to a handful of nodes; the raw
    // parse/enrich pipeline to dozens — node count separates them
    lazy val planNodes = refs.queryExecution.analyzed.collect { case p => p }.size
    val r =
      if (cached || planNodes <= 16) refs
      else {
        System.err.println(s"[claims] materializing un-landed refs input " +
          s"($planNodes-node lineage) before the 3-branch claim projection " +
          "— land the refs table (Citations seam) to avoid this")
        val c = refs.cache(); c.count(); c
      }
    referenceItemClaims(r, retrievedDate)
      .unionByName(websiteItemClaims(r))
      .unionByName(pageItemClaims(pages, r, retrievedDate))
  }
}
