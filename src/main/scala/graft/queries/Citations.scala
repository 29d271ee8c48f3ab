package graft.queries

import graft.{QueryDef, Tables}
import graft.wcd.{Claims, Extract, ReadQueries}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked end-to-end exercises of the citation pipeline
  * (SURVEY.md §3.1): deterministic wikitext is synthesized from the
  * `documents` table (same arithmetic on both engines), Spark runs the
  * REAL parse→normalize→hash→claims pipeline on it, and the DuckDB
  * oracle recomputes the expected outputs directly from the generation
  * formula. Any divergence in the parser, expression library, hashing,
  * dedup or claims projection breaks the hash-compare.
  *
  * Per doc (id = doc_id, N = row count):
  *   - base `cite web`: url https://ex{id%7}.com/a/{id}, title, last=L{id%13},
  *     first=F{id%11}, date in one of the 9 supported formats (id%9),
  *     website=W{id%7}, doi=10.1234/x{id} when id%3=0
  *   - id%5=0: the SAME citation repeated (H5 dedup must drop it)
  *   - id%4=0: a `cite book` with a dashed ISBN-13 (hash from isbn)
  *   - id%6=0: a `cite web` with no identifier at all (md5hash NULL →
  *     STRING_CITATIONS path)
  */
object Citations {

  private val DateForms = Seq(
    "2013-05-09", "May 9, 2013", "Jul 9, 2013", "May 25, 2012a",
    "1 September 2003", "26 Dec 1996", "September 2003", "Sep 2003", "2003")

  /** Expected parse results for DateForms, for the oracle CASE. */
  private val DateValues = Seq(
    "2013-05-09", "2013-05-09", "2013-07-09", "2012-05-25",
    "2003-09-01", "1996-12-26", "2003-09-01", "2003-09-01", "2003-01-01")

  /** The synthesized corpus: documents → (page_id, title, language_code,
    * wikitext). */
  def pages(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val dateStr = element_at(
      array(DateForms.map(lit): _*), (id % 9).cast("int") + 1)
    val url = concat(lit("https://ex"), id % 7, lit(".com/a/"), id)
    val base = concat(
      lit("{{cite web|url="), url,
      lit("|title=Doc "), id,
      lit("|last=L"), id % 13, lit("|first=F"), id % 11,
      lit("|date="), dateStr,
      lit("|website=W"), id % 7,
      when(id % 3 === 0, concat(lit("|doi=10.1234/x"), id)).otherwise(lit("")),
      lit("}}"))
    val dup = when(id % 5 === 0, base).otherwise(lit(""))
    val book = when(id % 4 === 0,
      concat(lit("{{cite book|isbn=978-"), lpad(id.cast("string"), 10, "0"),
        lit("|title=B"), id, lit("}}"))).otherwise(lit(""))
    val noid = when(id % 6 === 0,
      concat(lit("{{cite web|title=NoId"), id, lit("|website=W"), id % 7,
        lit("}}"))).otherwise(lit(""))
    Tables(s, dir, "documents").select(
      id.as("page_id"),
      concat(lit("Doc "), id).as("title"),
      lit("en").as("language_code"),
      concat(base, dup, book, noid).as("wikitext"))
  }

  /** The 39 columns downstream consumers actually read — the projection
    * that prunes the ~290 unused enrichment expressions out of the
    * parse pipeline (shared by the [[refs]] landing and c15's in-plan
    * chain). */
  private val RefsNeeded = Seq(
    "page_id", "page_title", "language_code", "ref_pos", "template_name",
    "md5hash", "date_ts", "access_date_ts", "archive_date_ts",
    "publication_date_ts", "doi", "google_books_id", "internet_archive_id",
    "isbn_10", "isbn_13", "oclc", "pmid", "wikidata_qid", "location",
    "vauthors", "periodical", "publisher", "title", "website", "url",
    "archive_url", "chapter_url", "conference_url", "lay_url",
    "transcripturl", "detected_archive_of_archive_url",
    "first_level_domain_of_url", "first_level_domain_of_url_hash",
    "authors_list", "persons_without_role", "editors_list", "hosts_list",
    "interviewers_list", "translators_list")

  /** The parsed references fact table, landed on first use with the
    * [[RefsNeeded]] projection — 39 columns instead of 330, the same
    * trimming a production run applies when landing the refs table. */
  private def refs(s: SparkSession, dir: String): DataFrame =
    graft.Landing.parquet(s, dir, "refs.parquet") {
      Extract.references(pages(s, dir)).select(RefsNeeded.map(col): _*)
    }

  /** The claims table, landed once per source dir: c6/c7/c11 read it
    * (the production analog lands the claims table before serving read
    * queries). */
  private def claimsTable(s: SparkSession, dir: String): DataFrame =
    graft.Landing.parquet(s, dir, "claims.parquet") {
      Claims.allClaims(pages(s, dir), refs(s, dir),
        to_timestamp(lit("2026-08-12 00:00:00")))
    }

  /** Builds the landings every later query reads (Bench and the
    * perfbench `import` pass call it once, outside the per-query timed
    * region) and returns per-landing seconds in a fixed record order, so
    * a caller can attribute the warm cost instead of reporting one
    * opaque number.
    *
    * Build order:
    *  - `reland` first: the single-row-group raw tables are re-landed
    *    as multi-file copies, so every later scan splits across cores (a
    *    parquet scan cannot split inside a row group).
    *  - the other 18 landings run as chains on [[graft.Landing.buildAll]],
    *    at most [[WarmWorkers]] chains at once. Three builds in flight
    *    fill each other's scheduling tails; more only fight over the
    *    same task slots. Each landing's inputs sit ahead of it in its
    *    own chain (claims reads refs, dedup_clusters reads the shingle,
    *    signature and route-card landings, each route card reads its
    *    edge landing), so no chain waits on another. Chains start in
    *    declaration order, long poles first; SCALE.md has the serial
    *    per-landing seconds behind the order.
    *
    * The record is `reland`, then the landings in chain order. */
  def warmSharedTimed(s: SparkSession, dir: String): Seq[(String, Double)] = {
    val t0 = System.nanoTime()
    Tables.reland(s, dir, s.conf.get("spark.sql.shuffle.partitions").toInt)
    val relandS = (System.nanoTime() - t0) / 1e9
    ("reland" -> relandS) +: graft.Landing.buildAll(s.sparkContext, warmChains(s, dir),
      WarmWorkers)
  }

  /** The warm landings as chains, long poles first; see [[warmSharedTimed]]. */
  private[graft] def warmChains(s: SparkSession, dir: String): Seq[graft.Landing.Chain] =
    Seq(
      Seq("refs" -> (() => refs(s, dir)), "claims" -> (() => claimsTable(s, dir))),
      Seq("node_route_cc" -> (() => TrainingData.ccRouteCardLanded(s, dir)),
        "doc_shingles" -> (() => TrainingData.docShingles(s, dir)),
        "minhash_sigs" -> (() => TrainingData.docMinhashSigs(s, dir)),
        "dedup_clusters" -> (() => TrainingData.dedupClusters(s, dir))),
      Seq("pq_books" -> (() => TrainingData.pqBooks(s, dir))),
      Seq("co_order_edges" -> (() => Pipelines.partCoOrderEdges(s, dir)),
        "node_route_coorder" -> (() => Pipelines.coorderRouteCardLanded(s, dir))),
      Seq("seed_grams" -> (() => TrainingData.seedGramsLanded(s, dir)),
        "shared_runs" -> (() => TrainingData.sharedRunsLanded(s, dir))),
      Seq("kmeans_books" -> (() => TrainingData.kmeansBooks(s, dir))),
      Seq("sp_pairs" -> (() => Pipelines.supplierPartPairs(s, dir)),
        "node_route_pagerank" -> (() => Pipelines.pagerankRouteCardLanded(s, dir))),
      Seq("lm_bigrams" -> (() => TrainingData.lmBigrams(s, dir))),
      Seq("lm_unigrams" -> (() => TrainingData.lmUnigrams(s, dir))),
      Seq("emb_buckets_neardup" -> (() => TrainingData.embBuckets(s, dir,
        TrainingData.NearDupLshTables, TrainingData.NearDupLshPlanes))),
      Seq("emb_buckets_ann" -> (() => TrainingData.embBuckets(s, dir,
        TrainingData.AnnLshTables, TrainingData.AnnLshPlanes))))

  /** Warm chains in flight at once; see [[warmSharedTimed]]. */
  private val WarmWorkers = 3

  /** Oracle helper: the per-doc modular helpers as a DuckDB CTE. */
  private val D =
    """WITH d AS (SELECT doc_id, doc_id % 3 AS m3, doc_id % 4 AS m4,
      |  doc_id % 5 AS m5, doc_id % 6 AS m6, doc_id % 7 AS m7,
      |  doc_id % 9 AS m9, doc_id % 11 AS m11, doc_id % 13 AS m13
      |  FROM documents)""".stripMargin

  private val dateCase =
    "CASE m9 " + DateValues.zipWithIndex.map { case (v, i) =>
      s"WHEN $i THEN TIMESTAMP '$v 00:00:00' "
    }.mkString + "END"

  val defs: Seq[QueryDef] = Seq(

    // --- F1→F7: the 9-format date parser through the whole pipeline
    QueryDef.sql(
      "c1_parse_dates",
      s"""$D
         |SELECT doc_id AS page_id, $dateCase AS date_ts
         |FROM d ORDER BY page_id""".stripMargin) { (s, dir) =>
      refs(s, dir)
        .filter(col("template_name") === "cite web" && col("md5hash").isNotNull)
        .select(col("page_id"), col("date_ts"))
        .orderBy(col("page_id"))
    },

    // --- the flagship: top cited first-level domains (SURVEY §7.3)
    QueryDef.sql(
      "c2_top_fld",
      s"""$D
         |SELECT 'ex' || CAST(m7 AS VARCHAR) || '.com' AS fld,
         |  CAST(COUNT(*) AS BIGINT) AS n_refs,
         |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_pages
         |FROM d GROUP BY 1 ORDER BY n_refs DESC, fld""".stripMargin) { (s, dir) =>
      refs(s, dir)
        .filter(col("first_level_domain_of_url").isNotNull)
        .groupBy(col("first_level_domain_of_url").as("fld"))
        .agg(count(lit(1)).as("n_refs"), countDistinct(col("page_id")).as("n_pages"))
        .orderBy(col("n_refs").desc, col("fld"))
    },

    // --- H1: the priority-chain content hash, exact md5 hex
    QueryDef.sql(
      "c3_reference_hash",
      s"""$D
         |SELECT doc_id AS page_id,
         |  md5('WikiCitations' || CASE WHEN m3 = 0
         |    THEN '10.1234/x' || CAST(doc_id AS VARCHAR)
         |    ELSE 'https://ex' || CAST(m7 AS VARCHAR) || '.com/a/' || CAST(doc_id AS VARCHAR)
         |    END) AS md5hash
         |FROM d ORDER BY page_id""".stripMargin) { (s, dir) =>
      refs(s, dir)
        .filter(col("template_name") === "cite web" && col("md5hash").isNotNull)
        .select(col("page_id"), col("md5hash"))
        .orderBy(col("page_id"))
    },

    // --- F18/F19: person assembly through the pipeline
    QueryDef.sql(
      "c4_persons",
      s"""$D
         |SELECT doc_id AS page_id,
         |  'F' || CAST(m11 AS VARCHAR) || ' ' || 'L' || CAST(m13 AS VARCHAR) AS full_name
         |FROM d ORDER BY page_id""".stripMargin) { (s, dir) =>
      refs(s, dir)
        .filter(col("template_name") === "cite web" && col("md5hash").isNotNull)
        .select(col("page_id"),
          explode(col("persons_without_role.full_name")).as("full_name"))
        .orderBy(col("page_id"))
    },

    // --- H5+Q6: per-page reference statistics after in-page dedup
    QueryDef.sql(
      "c5_page_stats",
      s"""$D
         |SELECT doc_id AS page_id,
         |  CAST(1 + (m4 = 0)::INT + (m6 = 0)::INT AS BIGINT) AS number_of_references,
         |  CAST(1 + (m4 = 0)::INT AS BIGINT) AS number_of_hashed_references,
         |  CAST(FLOOR((1 + (m4 = 0)::INT) * 100 / (1 + (m4 = 0)::INT + (m6 = 0)::INT)) AS INT)
         |    AS percent_hashed
         |FROM d ORDER BY page_id""".stripMargin) { (s, dir) =>
      ReadQueries.pageHashStatistics(refs(s, dir)).orderBy(col("page_id"))
    },

    // --- C1–C9+Q2: the whole claims projection, counted per property
    QueryDef.sql(
      "c6_claims_stats",
      s"""WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(COUNT(*) FILTER (doc_id % 3 = 0) AS BIGINT) AS n3,
         |    CAST(COUNT(*) FILTER (doc_id % 4 = 0) AS BIGINT) AS n4,
         |    CAST(COUNT(*) FILTER (doc_id % 6 = 0) AS BIGINT) AS n6,
         |    CAST(COUNT(DISTINCT doc_id % 7) AS BIGINT) AS nfld
         |  FROM documents)
         |SELECT 'CITATIONS' AS property, n AS n_items, n + n4 AS n_claims FROM c
         |UNION ALL SELECT 'DOI', n3, n3 FROM c
         |UNION ALL SELECT 'FIRST_LEVEL_DOMAIN_STRING', nfld, nfld FROM c
         |UNION ALL SELECT 'FULL_NAME_STRING', n, n FROM c
         |UNION ALL SELECT 'HASH', n + n4 + nfld + n, n + n4 + nfld + n FROM c
         |UNION ALL SELECT 'INSTANCE_OF', n + n4 + nfld + n, n + n4 + nfld + n FROM c
         |UNION ALL SELECT 'ISBN_13', n4, n4 FROM c
         |UNION ALL SELECT 'LAST_UPDATE', n, n FROM c
         |UNION ALL SELECT 'MEDIAWIKI_PAGE_ID', n, n FROM c
         |UNION ALL SELECT 'PUBLISHED_IN', n, n FROM c
         |UNION ALL SELECT 'RETRIEVED_DATE', n + n4, n + n4 FROM c
         |UNION ALL SELECT 'SOURCE_WIKIPEDIA', n + n4 + nfld, n + n4 + nfld FROM c
         |UNION ALL SELECT 'STRING_CITATIONS', n6, n6 FROM c
         |UNION ALL SELECT 'TEMPLATE_NAME', n + n4, n + n4 FROM c
         |UNION ALL SELECT 'TITLE', n + n4 + n, n + n4 + n FROM c
         |UNION ALL SELECT 'URL', n + n, n + n FROM c
         |UNION ALL SELECT 'WEBSITE', n, n FROM c
         |UNION ALL SELECT 'WEBSITE_STRING', n, n FROM c
         |ORDER BY property""".stripMargin) { (s, dir) =>
      // the three claim branches (reference/website/page items) read the
      // LANDED refs table instead of re-planning and re-running the parse
      // pipeline three times — the same shape as a production run that
      // lands the refs fact table before projecting claims
      ReadQueries.propertyStatistics(claimsTable(s, dir)).orderBy(col("property"))
    },

    // --- A7 rinse: delete all reference items, count what remains
    QueryDef.sql(
      "c7_rinse",
      """WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(DISTINCT doc_id % 7) AS BIGINT) AS nfld FROM documents)
        |SELECT 'WEBSITE_ITEM' AS item_class, nfld AS n_items FROM c
        |UNION ALL SELECT 'WIKIPEDIA_PAGE', n FROM c
        |ORDER BY item_class""".stripMargin) { (s, dir) =>
      ReadQueries.classCounts(
          ReadQueries.deleteItemsOfClass(claimsTable(s, dir), Claims.WikipediaReference))
        .orderBy(col("item_class"))
    },

    // --- the SQL surface: registered template UDTF via LATERAL VIEW
    QueryDef.sql(
      "c8_sql_templates",
      s"""$D
         |SELECT 'cite book' AS template_name,
         |  CAST(COUNT(*) FILTER (m4 = 0) AS BIGINT) AS n FROM d
         |UNION ALL
         |SELECT 'cite web',
         |  CAST(COUNT(*) + COUNT(*) FILTER (m5 = 0)
         |     + COUNT(*) FILTER (m6 = 0) AS BIGINT) FROM d
         |ORDER BY template_name""".stripMargin) { (s, dir) =>
      graft.parse.TemplateFunctions.register(s)
      org.apache.spark.sql.graftshim.SqlFunctions.register(s)
      pages(s, dir).createOrReplaceTempView("wiki_pages")
      s.sql(
        """SELECT t.name AS template_name, COUNT(*) AS n
          |FROM wiki_pages LATERAL VIEW explode(extract_templates(wikitext)) e AS t
          |GROUP BY t.name ORDER BY template_name""".stripMargin)
    },

    // --- A8 rejects channel: strict-load drops flow to the error sink
    QueryDef.sql(
      "c9_rejects",
      s"""$D
         |SELECT doc_id AS page_id, 'bogus_key' AS unknown_key FROM d
         |WHERE doc_id % 2 = 0 ORDER BY page_id""".stripMargin) { (s, dir) =>
      val id = col("doc_id")
      val wt = when(id % 2 === 0,
          concat(lit("{{cite web|bogus_key=1|title=T"), id, lit("}}")))
        .otherwise(concat(lit("{{cite web|title=T"), id, lit("}}")))
      val p = Tables(s, dir, "documents").select(
        id.as("page_id"), concat(lit("Doc "), id).as("title"),
        lit("en").as("language_code"), wt.as("wikitext"))
      Extract.rejects(p)
        .select(col("page_id"), explode(col("unknown_keys")).as("unknown_key"))
        .orderBy(col("page_id"))
    },

    // --- A5/H6/H8: the idempotent hash-index merge, run twice — the
    // second run must mint nothing and resolve identically
    QueryDef.sql(
      "c10_hash_index",
      s"""$D
         |, h AS (
         |  SELECT md5('WikiCitations' || CASE WHEN m3 = 0
         |    THEN '10.1234/x' || CAST(doc_id AS VARCHAR)
         |    ELSE 'https://ex' || CAST(m7 AS VARCHAR) || '.com/a/' || CAST(doc_id AS VARCHAR)
         |    END) AS hash FROM d
         |  UNION
         |  SELECT md5('WikiCitations' || '978' || lpad(CAST(doc_id AS VARCHAR), 10, '0'))
         |  FROM d WHERE m4 = 0)
         |SELECT hash, 'WCD' || upper(substring(hash, 1, 16)) AS qid,
         |  CAST(0 AS BIGINT) AS minted_second_run
         |FROM h ORDER BY hash""".stripMargin) { (s, dir) =>
      import graft.wcd.HashIndex
      val incoming = refs(s, dir).filter(col("md5hash").isNotNull)
        .select(col("md5hash").as("hash"))
      val (minted1, _) = HashIndex.merge(HashIndex.empty(s), incoming, "reference")
      val index1 = HashIndex.empty(s).unionByName(minted1)
      val (minted2, resolved2) = HashIndex.merge(index1, incoming, "reference")
      // the second-run mint count rides the SAME lazy plan as the resolve:
      // a 1-row aggregate cross-joined (Catalyst broadcasts it), so the
      // whole query is one job with no driver-side action in the plan path
      resolved2.crossJoin(
          minted2.agg(count(lit(1)).as("minted_second_run")))
        .orderBy(col("hash"))
    },

    // --- incremental delta gate: previous run indexed docs with
    // doc_id%3=0; meanwhile docs with doc_id%7=0 were edited (text+'x').
    // changedPages must emit exactly the new (%3≠0) and edited (%7=0)
    // docs, with the hash the next run's table will record.
    QueryDef.sql(
      "c12_incremental_delta",
      """SELECT doc_id,
        |  md5(CASE WHEN doc_id % 7 = 0 THEN text || 'x' ELSE text END)
        |    AS page_content_hash
        |FROM documents
        |WHERE doc_id % 3 <> 0 OR doc_id % 7 = 0
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val current = docs.select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit("x")))
          .otherwise(col("text")).as("text"))
      val prev = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), md5(col("text")).as("page_content_hash"))
      Extract.changedPages(current, "doc_id", col("text"), prev)
        .select(col("doc_id"), col("page_content_hash"))
        .orderBy(col("doc_id"))
    },

    // --- Q5: point item fetch (crud/read.py:148-153) — all claims of one
    // item, here the page item of doc 42 (42%3=0 ⇒ a DOI-hashed cite web
    // ⇒ one CITATIONS edge; 42%6=0 ⇒ one un-hashable ref ⇒ one
    // STRING_CITATIONS). Scalar claim columns only: the oracle recomputes
    // every row from the generation formula.
    QueryDef.sql(
      "c11_fetch_item",
      """WITH ids AS (SELECT
        |    md5('WikiCitations'||'en'||CAST(doc_id AS VARCHAR)) AS item_id,
        |    md5('WikiCitations'||'10.1234/x'||CAST(doc_id AS VARCHAR)) AS ref_hash,
        |    doc_id FROM documents WHERE doc_id = 42)
        |SELECT item_id, 'wikipedia_page' AS item_type, 'CITATIONS' AS property,
        |  'item' AS datatype, NULL::VARCHAR AS value_str,
        |  NULL::TIMESTAMP AS value_time, ref_hash AS value_qid FROM ids
        |UNION ALL SELECT item_id, 'wikipedia_page', 'HASH', 'external_id',
        |  item_id, NULL, NULL FROM ids
        |UNION ALL SELECT item_id, 'wikipedia_page', 'INSTANCE_OF', 'item',
        |  NULL, NULL, 'WIKIPEDIA_PAGE' FROM ids
        |UNION ALL SELECT item_id, 'wikipedia_page', 'LAST_UPDATE', 'time',
        |  NULL, TIMESTAMP '2026-08-12 00:00:00', NULL FROM ids
        |UNION ALL SELECT item_id, 'wikipedia_page', 'MEDIAWIKI_PAGE_ID', 'external_id',
        |  CAST(doc_id AS VARCHAR), NULL, NULL FROM ids
        |UNION ALL SELECT item_id, 'wikipedia_page', 'PUBLISHED_IN', 'item',
        |  NULL, NULL, 'ENGLISH_WIKIPEDIA' FROM ids
        |UNION ALL SELECT item_id, 'wikipedia_page', 'STRING_CITATIONS', 'string',
        |  'cite web', NULL, NULL FROM ids
        |UNION ALL SELECT item_id, 'wikipedia_page', 'TITLE', 'string',
        |  'Doc '||CAST(doc_id AS VARCHAR), NULL, NULL FROM ids
        |UNION ALL SELECT item_id, 'wikipedia_page', 'URL', 'url',
        |  'https://en.wikipedia.org/?curid='||CAST(doc_id AS VARCHAR), NULL, NULL FROM ids
        |ORDER BY property""".stripMargin) { (s, dir) =>
      val itemId = java.security.MessageDigest.getInstance("MD5")
        .digest("WikiCitationsen42".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      ReadQueries.fetchItem(claimsTable(s, dir), itemId)
        .select(col("item_id"), col("item_type"), col("property"), col("datatype"),
          col("value_str"), col("value_time"), col("value_qid"))
        .orderBy(col("property"))
    },

    // --- author analytics through the persons arrays (F18/F19 as a
    // registered analytic, not just claims plumbing): citation counts,
    // page reach and domain spread per author surname. Per generation
    // formula each page's one authored ref carries last=L{m13},
    // first=F{m11}, fld=ex{m7}.com.
    QueryDef.sql(
      "c13_author_citations",
      s"""$D
         |SELECT 'L' || CAST(m13 AS VARCHAR) AS author_last,
         |  MIN('F' || CAST(m11 AS VARCHAR) || ' L' || CAST(m13 AS VARCHAR)) AS sample_name,
         |  CAST(COUNT(*) AS BIGINT) AS n_refs,
         |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_pages,
         |  CAST(COUNT(DISTINCT m7) AS BIGINT) AS n_domains
         |FROM d GROUP BY 1 ORDER BY author_last""".stripMargin) { (s, dir) =>
      // unnumbered last=/first= params normalize to last1/first1 — the
      // roleless shape (reference: persons_without_role), same struct
      refs(s, dir)
        .select(col("page_id"), col("first_level_domain_of_url").as("fld"),
          explode(col("persons_without_role")).as("p"))
        .select(col("page_id"), col("fld"),
          col("p.surname").as("author_last"), col("p.full_name").as("full_name"))
        .groupBy(col("author_last"))
        .agg(min(col("full_name")).as("sample_name"),
          count(lit(1)).as("n_refs"),
          countDistinct(col("page_id")).as("n_pages"),
          countDistinct(col("fld")).as("n_domains"))
        .orderBy(col("author_last"))
    },

    // --- F20 on the claims side: the item label every minted reference
    // item carries — `"{title} | {md5[:7]}"` (crud/__init__.py:200, via
    // RefExprs.labelWithHash / textwrap.shorten semantics). One label
    // per HASHED reference (the H5-deduped cite web + the m4=0 book);
    // the oracle rebuilds title and hash from the generation formula.
    QueryDef.sql(
      "c14_item_labels",
      s"""$D
         |SELECT doc_id AS page_id,
         |  'Doc ' || CAST(doc_id AS VARCHAR) || ' | ' ||
         |  substring(md5('WikiCitations' || CASE WHEN m3 = 0
         |    THEN '10.1234/x' || CAST(doc_id AS VARCHAR)
         |    ELSE 'https://ex' || CAST(m7 AS VARCHAR) || '.com/a/' || CAST(doc_id AS VARCHAR)
         |    END), 1, 7) AS label
         |FROM d
         |UNION ALL
         |SELECT doc_id,
         |  'B' || CAST(doc_id AS VARCHAR) || ' | ' ||
         |  substring(md5('WikiCitations' || '978' || lpad(CAST(doc_id AS VARCHAR), 10, '0')), 1, 7)
         |FROM d WHERE m4 = 0
         |ORDER BY page_id, label""".stripMargin) { (s, dir) =>
      refs(s, dir)
        .filter(col("md5hash").isNotNull)
        .select(col("page_id"),
          graft.expr.RefExprs.labelWithHash(col("title"), col("md5hash")).as("label"))
        .orderBy(col("page_id"), col("label"))
    },

    // --- the flagship --import-title lifecycle as ONE composed plan
    // (SURVEY §3.1, wikipedia_page.py:601-634, src/__init__.py:197-208):
    // pages → F1 parse → F3/F4/F5 strict load → enrichment → F18 persons
    // → H1 hash → H5 in-page dedup → C1–C9 claims projection → A5/H6/H8
    // hash-index MERGE (run twice: the second mints nothing) → Q1/Q2
    // statistics readback. Unlike c1–c14, which each read the LANDED
    // refs/claims tables, this query runs the whole chain from raw
    // wikitext as ONE registered query — no user-level landing between
    // stages (the c-query analog of t15_curation_pipeline); its parse
    // is checkpointed once inside the call, and no landing is read. The
    // oracle recomputes every output row of the chain from the corpus
    // generation formula.
    QueryDef.sql(
      "c15_import_e2e",
      """WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(COUNT(*) FILTER (doc_id % 3 = 0) AS BIGINT) AS n3,
        |    CAST(COUNT(*) FILTER (doc_id % 4 = 0) AS BIGINT) AS n4,
        |    CAST(COUNT(*) FILTER (doc_id % 6 = 0) AS BIGINT) AS n6,
        |    CAST(COUNT(DISTINCT doc_id % 7) AS BIGINT) AS nfld
        |  FROM documents)
        |SELECT * FROM (
        |SELECT 'CITATIONS' AS metric, n AS n_items, n + n4 AS n_claims FROM c
        |UNION ALL SELECT 'DOI', n3, n3 FROM c
        |UNION ALL SELECT 'FIRST_LEVEL_DOMAIN_STRING', nfld, nfld FROM c
        |UNION ALL SELECT 'FULL_NAME_STRING', n, n FROM c
        |UNION ALL SELECT 'HASH', n + n4 + nfld + n, n + n4 + nfld + n FROM c
        |UNION ALL SELECT 'INSTANCE_OF', n + n4 + nfld + n, n + n4 + nfld + n FROM c
        |UNION ALL SELECT 'ISBN_13', n4, n4 FROM c
        |UNION ALL SELECT 'LAST_UPDATE', n, n FROM c
        |UNION ALL SELECT 'MEDIAWIKI_PAGE_ID', n, n FROM c
        |UNION ALL SELECT 'PUBLISHED_IN', n, n FROM c
        |UNION ALL SELECT 'RETRIEVED_DATE', n + n4, n + n4 FROM c
        |UNION ALL SELECT 'SOURCE_WIKIPEDIA', n + n4 + nfld, n + n4 + nfld FROM c
        |UNION ALL SELECT 'STRING_CITATIONS', n6, n6 FROM c
        |UNION ALL SELECT 'TEMPLATE_NAME', n + n4, n + n4 FROM c
        |UNION ALL SELECT 'TITLE', n + n4 + n, n + n4 + n FROM c
        |UNION ALL SELECT 'URL', n + n, n + n FROM c
        |UNION ALL SELECT 'WEBSITE', n, n FROM c
        |UNION ALL SELECT 'WEBSITE_STRING', n, n FROM c
        |UNION ALL SELECT 'CLASS:WEBSITE_ITEM', nfld, nfld FROM c
        |UNION ALL SELECT 'CLASS:WIKIPEDIA_PAGE', n, n FROM c
        |UNION ALL SELECT 'CLASS:WIKIPEDIA_REFERENCE', n + n4, n + n4 FROM c
        |UNION ALL SELECT 'MINTED_FIRST_RUN', n + n4, n + n4 FROM c
        |UNION ALL SELECT 'MINTED_SECOND_RUN', 0, 0 FROM c
        |) ORDER BY metric""".stripMargin) { (s, dir) =>
      import graft.wcd.HashIndex
      val p = pages(s, dir)
      // the FULL pipeline from raw wikitext: parse + strict load +
      // enrichment + persons + hashes + in-page dedup — deliberately NOT
      // the landed refs table; same 39-column projection the landing
      // applies, so the parse runs narrow here too. Guide §3.3 (huge
      // plans make analysis the bottleneck; materialize to truncate
      // them): the three claim branches and both merges below would each
      // re-analyze the 300-column enrichment lineage. localCheckpoint
      // runs the parse once, eagerly inside the timed call (Bench sweeps
      // the blocks after every run, so each run still parses), and they
      // plan against a one-node scan of its rows, which the claims guard
      // passes through.
      val refsAll = Extract.references(p).select(RefsNeeded.map(col): _*)
        .localCheckpoint()
      // claims feeds BOTH propertyStatistics and classCounts below, so
      // in one lazy plan the 3-branch claim projection would execute
      // twice; the same §3.3 move runs it once.
      val claims = Claims.allClaims(p, refsAll,
        to_timestamp(lit("2026-08-12 00:00:00"))).localCheckpoint()
      val incoming = refsAll.filter(col("md5hash").isNotNull)
        .select(col("md5hash").as("hash"))
      val (minted1, _) = HashIndex.merge(HashIndex.empty(s), incoming, "reference")
      // minted1 feeds both the second merge's index and its own
      // MINTED_FIRST_RUN count — same §3.3 move as claims above
      val minted1M = minted1.localCheckpoint()
      val index1 = HashIndex.empty(s).unionByName(minted1M)
      val (minted2, _) = HashIndex.merge(index1, incoming, "reference")
      val propStats = ReadQueries.propertyStatistics(claims)
        .select(col("property").as("metric"), col("n_items"), col("n_claims"))
      val classStats = ReadQueries.classCounts(claims)
        .select(concat(lit("CLASS:"), col("item_class")).as("metric"),
          col("n_items"), col("n_items").as("n_claims"))
      def mintRow(name: String, m: DataFrame) = m
        .agg(count(lit(1)).as("n"))
        .select(lit(name).as("metric"), col("n").as("n_items"),
          col("n").as("n_claims"))
      propStats
        .unionByName(classStats)
        .unionByName(mintRow("MINTED_FIRST_RUN", minted1M))
        .unionByName(mintRow("MINTED_SECOND_RUN", minted2))
        .orderBy(col("metric"))
    },
  )
}
