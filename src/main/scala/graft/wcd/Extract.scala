package graft.wcd

import graft.expr.RefExprs
import graft.parse.TemplateFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** pages(wikitext) → references(wide): the parse/normalize half of the
  * flagship pipeline (SURVEY.md §3.1 stages 3–4).
  *
  * Input schema: `page_id LONG, title STRING, language_code STRING,
  * wikitext STRING` (the batch stand-in for the REST fetch, SURVEY A1).
  *
  * Stages (all narrow — the only shuffle in the whole pipeline is the H5
  * per-page dedup window, and even that co-partitions by page_id):
  *   F1/F2 template UDTF → F3 supported filter → F4 key fix →
  *   F5 strict-load split (rejects channel) → wide projection →
  *   F6–F16 enrichment → F18 persons → H1/H3 hashes → H5 dedup.
  *
  * Scale: embarrassingly parallel per page; at 100 TB the parse stage
  * scales linearly with input partitions and the dedup window shuffles
  * once on page_id (AQE handles the per-page skew — some pages carry
  * hundreds of references).
  */
object Extract {
  import ReferenceSchema._

  /** F4 key normalization as a native expression
    * ([[org.apache.spark.sql.graftshim.FixParamsF]]): walks the MapData
    * in place, no converter round trip. Collisions after normalization
    * keep the LAST value and move the key to the END (see FixParamsF's
    * Scaladoc for the deliberate divergence from the reference's
    * first-position rebuild). ExtractSpec asserts it corpus-wide
    * against the Scala UDF it replaced (`ReferenceForms.fixParamsUdf`,
    * test scope). */
  private[graft] def fixParams(params: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graftshim.ColumnBridge.toColumn(
      org.apache.spark.sql.graftshim.FixParamsF(
        org.apache.spark.sql.graftshim.ColumnBridge.toExpression(params)))

  /** Explode one page into its supported, key-fixed templates.
    * Columns: page carry-through + ref_pos, template_name, params.
    * The UDTF is the native Catalyst Generator (r12 — one fewer
    * serialization of every parsed template than the former
    * `posexplode(udf(...))`; same rows, spec-asserted in
    * WikiTemplateParserSpec). */
  def templates(pages: DataFrame): DataFrame = {
    val exploded = pages.select(
      col("page_id"), col("title").as("page_title"), col("language_code"),
      TemplateFunctions.extractTemplatesRows(col("wikitext"))
        .as(Seq("ref_pos", "tmpl_name", "tmpl_params")))
    exploded
      .filter(lower(col("tmpl_name")).isin(SupportedTemplates: _*)) // F3
      .select(
        col("page_id"), col("page_title"), col("language_code"), col("ref_pos"),
        lower(col("tmpl_name")).as("template_name"),
        fixParams(col("tmpl_params")).as("params"))
  }

  /** F5 strict-load: a single unknown key rejects the whole reference.
    * Adds `unknown_keys` (non-empty ⇒ reject, routed to the rejects
    * channel exactly like schema_errors.log). */
  def withUnknownKeys(templates: DataFrame): DataFrame = {
    val allowed = array(AllowedKeys.map(lit): _*)
    templates.withColumn("unknown_keys", array_except(map_keys(col("params")), allowed))
  }

  /** Wide projection: one nullable STRING column per allowed param. */
  def widen(templates: DataFrame): DataFrame = {
    val paramCols = AllowedKeys.map(k => col("params").getItem(k).as(columnName(k)))
    templates.select(
      Seq(col("page_id"), col("page_title"), col("language_code"), col("ref_pos"),
        col("template_name"), col("unknown_keys")) ++ paramCols: _*)
  }

  /** F6–F16 + H1/H3 enrichment over the wide record, mirroring
    * `finish_parsing_and_generate_hash` (wikipedia_page_reference.py:1168-1183)
    * stage order. The stage chain is composed as nested Column
    * expressions and emitted in a SINGLE projection (plus one for the
    * person arrays): deep `withColumn` chains over a 300-column frame
    * make Catalyst analysis quadratic and planning takes minutes; one
    * wide Project keeps it linear and the whole thing codegen'd. */
  /** Add/overwrite columns in ONE projection (never chain withColumn over
    * the 300-column frame). */
  private def stage(df: DataFrame, derived: Seq[(String, Column)]): DataFrame = {
    val overwritten = derived.map(_._1).toSet
    val kept = df.columns.filterNot(overwritten).map(col)
    df.select(kept.toIndexedSeq ++ derived.map { case (n, c) => c.as(n) }: _*)
  }

  def enrich(wide: DataFrame): DataFrame = {
    val t = col("template_name")

    // Stage A — F6 first-parameter dispatch (:907-931), F8 Google Books
    // template in url (:933-947), F9 scheme guard (only self.url is
    // nulled, :1082-1089). Later stages reference these as plain
    // attributes: each non-trivial expression is materialized at exactly
    // one level, so no optimizer inlining can duplicate the trees.
    val urlF6 = when(t === "url" && col("first_parameter").contains("://"),
      col("first_parameter")).otherwise(col("url"))
    val gbRaw = coalesce(
      nullif(regexp_extract(urlF6, "\\|\\s*id\\s*=\\s*([^|{}\\s]+)", 1), lit("")),
      nullif(regexp_extract(urlF6, "\\{\\{\\s*[Gg]oogle books\\s*\\|\\s*([^|{}=\\s]+)", 1), lit("")))
    val a = stage(wide, Seq(
      "wikidata_qid" -> when(t.isin("cite q", "citeq") &&
        col("first_parameter").rlike("^[qQ]"), col("first_parameter")),
      "gb_from_template" -> when(urlF6.contains("{{") && length(gbRaw) === 12, gbRaw),
      "url_f6" -> urlF6,
      "isbn" -> when(t === "isbn", col("first_parameter")).otherwise(col("isbn"))))

    // Stage B — final url, ISBN normalize (F14 first half)
    val (isbnNorm, _, _) = RefExprs.isbnColumns(col("isbn"))
    val b = stage(a, Seq(
      "url" -> RefExprs.urlWithScheme(
        when(col("gb_from_template").isNotNull,
          concat(lit("https://books.google.com/books?id="), col("gb_from_template")))
          .otherwise(col("url_f6"))),
      "isbn" -> isbnNorm))

    // Stage C — F11 FLDs, F14 classification, F7 dates
    val bare = regexp_replace(col("isbn"), "-", "")
    val c = stage(b, Seq(
      "first_level_domain_of_url" -> RefExprs.firstLevelDomain(col("url")),
      "first_level_domain_of_archive_url" -> RefExprs.firstLevelDomain(col("archive_url")),
      "isbn_10" -> when(length(bare) === 10, col("isbn")),
      "isbn_13" -> when(length(bare) === 13, col("isbn"))) ++
      DateFields.map(f => s"${f}_ts" -> RefExprs.parseDateMulti(col(f))))

    // Stage D — F10 archives, F12/F13 ids, F15 markup, F16 merges,
    // H1/H3 hashes (all referencing url/fld/isbn attributes)
    val fldUrl = col("first_level_domain_of_url")
    // GoogleBooks nested record (google_books.py:30-63): id (positional
    // "1" or named, 12 chars — F8 already enforced length), page int,
    // plainurl yes/no flag, and the H4 content hash over the id
    val gbStruct = when(col("gb_from_template").isNotNull, struct(
      col("gb_from_template").as("id"),
      regexp_extract(col("url_f6"), "\\|\\s*page\\s*=\\s*(\\d+)", 1)
        .cast("int").as("page"),
      nullif(regexp_extract(col("url_f6"),
        "\\|\\s*plainurl\\s*=\\s*([A-Za-z]+)", 1), lit("")).as("plainurl"),
      RefExprs.googleBooksHash(col("gb_from_template")).as("md5hash")))

    val d = stage(c, Seq(
      "google_books" -> gbStruct,
      "detected_archive_of_url" -> RefExprs.detectedArchive(fldUrl),
      "detected_archive_of_archive_url" ->
        RefExprs.detectedArchive(col("first_level_domain_of_archive_url")),
      "internet_archive_id" -> RefExprs.internetArchiveId(col("url"), fldUrl),
      "google_books_id" -> coalesce(col("gb_from_template"),
        RefExprs.googleBooksId(col("url"), fldUrl)),
      "publisher" -> RefExprs.cleanWikiMarkup(col("publisher")),
      "lang_language_conflict" -> RefExprs.aliasConflict(col("language"), col("lang")),
      "language" -> RefExprs.aliasMerge(col("language"), col("lang")),
      "place_location_conflict" -> RefExprs.aliasConflict(col("location"), col("place")),
      "location" -> RefExprs.aliasMerge(col("location"), col("place")),
      "md5hash" -> RefExprs.referenceHash(
        col("doi"), col("pmid"), col("isbn"), col("oclc"), col("url"),
        col("first_parameter")),
      "first_level_domain_of_url_hash" ->
        when(fldUrl.isNotNull, RefExprs.websiteHash(fldUrl))))

    Persons.assemble(d.drop("url_f6", "gb_from_template"))
  }

  /** H5 in-page dedup: first occurrence (document order) wins per
    * (page_id, md5hash); NULL-hash references always kept
    * (wikipedia_page.py:458-471). */
  def dedupInPage(refs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("page_id"), col("md5hash")).orderBy(col("ref_pos"))
    refs
      .withColumn("__rn", when(col("md5hash").isNull, lit(1)).otherwise(row_number().over(w)))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** The full pipeline: pages → enriched, deduped, accepted references.
    * Rejected rows (unknown keys) are excluded here; [[rejects]] returns
    * them for the error channel (SURVEY A8). */
  def references(pages: DataFrame): DataFrame = {
    val t = withUnknownKeys(templates(pages))
    val wide = widen(t.filter(size(col("unknown_keys")) === 0)).drop("unknown_keys")
    dedupInPage(enrich(wide))
  }

  /** The rejects channel: references dropped by strict-load, with the
    * offending keys (analog of schema_errors.log). */
  def rejects(pages: DataFrame): DataFrame =
    withUnknownKeys(templates(pages))
      .filter(size(col("unknown_keys")) > 0)
      .select(col("page_id"), col("ref_pos"), col("template_name"),
        col("unknown_keys"))

  /** Incremental ingest gate: keep only pages that are NEW or EDITED
    * since the previous run — an anti-join of (id, content-hash) against
    * the last run's hash table. The reference's continuous bot re-fetches
    * and re-parses every page per cycle; the dataflow form detects the
    * change BEFORE any parsing happens, turning a full re-import into a
    * delta job (at 100 TB: hash+anti-join over ids, then the heavy
    * pipeline runs on the delta only). `prev` carries (idCol,
    * page_content_hash). */
  def changedPages(pages: DataFrame, idCol: String, content: Column,
      prev: DataFrame): DataFrame =
    pages.withColumn("page_content_hash", md5(content))
      .join(prev, Seq(idCol, "page_content_hash"), "left_anti")
}
