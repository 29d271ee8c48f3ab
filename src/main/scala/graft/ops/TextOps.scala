package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Text-analysis operators for a large-scale training-data pipeline:
  * tokenization, token counting, quality scoring, language identification
  * and document fingerprinting — all as composable Catalyst `Column`
  * functions (no UDFs) so the whole chain runs inside whole-stage codegen
  * and scales as a narrow map over the corpus.
  *
  * Engine-portability: every hash bottoms out in [[hx]] (md5-derived
  * 60-bit integers), which any ANSI engine reproduces bit-for-bit — the
  * driver's DuckDB oracle recomputes identical values.
  */
object TextOps {

  /** Deterministic 60-bit hash shared with the oracle:
    * first 15 hex chars of md5 as a BIGINT (always positive, < 2^60).
    * DuckDB mirror: `CAST(('0x'||substring(md5(x),1,15)) AS BIGINT)`. */
  def hx(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** Driver-side mirror of [[hx]] for plan-time constants. */
  def hxScala(s: String): Long =
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16)

  /** Hash-family member k (independent-ish functions for MinHash/LSH):
    * domain-separated by a `k:` prefix. */
  def hxk(k: Int, c: Column): Column = hx(concat(lit(s"$k:"), c))

  /** Whitespace tokenization (corpus contract: single-space-separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish subword count without a learned vocab: each token
    * contributes ceil(len/4) units (≈ GPT-style 4-chars-per-token rule of
    * thumb). Integer arithmetic only — engine-portable. */
  def bpeTokenCount(toks: Column): Column =
    aggregate(toks, lit(0L), (acc, t) => acc + ((length(t) + lit(3)) / lit(4)).cast(LongType))

  /** BPE-ish REGEX token count: alternation of letter runs, digit runs
    * and single punctuation — the classic pre-tokenizer split. */
  val TokenRegex = "[a-z]+|[0-9]+|[^a-z0-9 ]"
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(TokenRegex), lit(0))).cast("long")

  /** English character-bigram profile (top bigrams of English text) —
    * the n-gram half of the language-ID heuristic. */
  val EnBigrams: Seq[String] =
    Seq("th", "he", "in", "er", "an", "re", "on", "at", "en", "nd")

  /** Distinct-bigram overlap with a profile set. Narrow map. */
  def bigramProfileHits(text: Column, profile: Seq[String]): Column = {
    val positions = sequence(lit(1), greatest(length(text) - 1, lit(1)))
    val bigrams = array_distinct(transform(positions, i => text.substr(i, lit(2))))
    size(array_intersect(bigrams, typedLit(profile)))
  }

  /** Word n-gram shingles (default trigrams) in document order.
    * Sub-n documents yield an empty array (NOT a descending `sequence`). */
  def shingles(toks: Column, n: Int = 3): Column =
    // r15: one native kernel call per row (grams_f) — bit-identical to
    // the transform/sequence/concat_ws composition it replaced
    // (ReferenceForms.shinglesDeclarative, spec: ExprPropertySpec), without evaluating an interpreted
    // higher-order lambda with n element_at probes per position
    graft.expr.VectorExprs.gramsF(toks, n)

  // ------------------------------------------------------------- quality

  /** Language marker-word profiles (tiny function-word sets; the classic
    * n-gram/stopword language-ID heuristic). Order matters: ties resolve
    * to the FIRST profile with the max score. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to"),
    "de" -> Seq("der", "die", "das", "und", "ein"),
    "es" -> Seq("el", "los", "y", "en", "una"),
    "fr" -> Seq("le", "la", "et", "les", "un"))

  /** Occurrence count of profile words in the token stream. */
  def profileHits(toks: Column, profile: Seq[String]): Column =
    size(filter(toks, t => array_contains(typedLit(profile), t)))

  /** Language-ID: argmax of profile hit counts; all-zero → "und".
    * At 100 TB this is a pure narrow map — no shuffle, no state. */
  def langId(toks: Column): Column = {
    val scores = LangProfiles.map { case (l, p) => l -> profileHits(toks, p) }
    val mx = greatest(scores.map(_._2): _*)
    val argmax = scores.foldRight(lit("und")) { case ((l, s), acc) =>
      when(s === mx, lit(l)).otherwise(acc)
    }
    // foldRight puts earlier profiles outermost => first-wins tie-break
    when(mx === 0, lit("und")).otherwise(argmax)
  }

  /** Highest single-token occurrence count in the stream — the
    * "most-repeated word" half of an intra-document repetition audit.
    * O(distinct·n) comparisons per ROW (documents are short; both
    * factors are bounded by the token count) but a pure narrow map —
    * at 100 TB this beats the explode → (doc, token) groupBy shape,
    * which would shuffle every token in the corpus to count within a
    * single document. */
  def topTokenCount(toks: Column): Column =
    array_max(transform(array_distinct(toks), d => size(filter(toks, x => x === d))))

  /** The t35 rule-pack keep decision as one reusable predicate (token
    * count ∈ [10,1000], mean word length ∈ [2,12], stopword ratio
    * ≥ 1%, max single-token share ≤ 20%) — every rule compares
    * integers (`hits·100 ≥ n`, not `hits/n ≥ 0.01`) so no float
    * boundary can flip a decision between engines or batch/streaming
    * plans. Pure narrow map: safe in a stateless streaming stage. */
  def qualityKeep(toks: Column): Column = {
    val n = size(toks).cast("long")
    val sumLen = aggregate(toks, lit(0L), (acc, x) => acc + length(x))
    val stop = profileHits(toks, LangProfiles.head._2).cast("long")
    val top = topTokenCount(toks).cast("long")
    n.between(10, 1000) &&
      sumLen >= lit(2) * n && sumLen <= lit(12) * n &&
      stop * lit(100) >= n && top * lit(5) <= n
  }

  /** Portable round-to-6 for doubles: floor(x·10⁶ + 0.5)/10⁶ — the
    * SAME IEEE multiply/add/floor in Spark and in the DuckDB oracle
    * mirror, so both engines agree by construction whenever the input
    * doubles match. Library roundings diverge on near-ties (DuckDB
    * rounds the SCALED double, whose representation error can cross
    * the .5 boundary; Spark rounds the shortest decimal rendering) —
    * integer-ratio metrics like k/64 land on that boundary in
    * practice. Half-up-toward-+∞ for negatives, identically in both
    * engines.
    *
    * Non-finite inputs pass through unchanged: Spark's floor casts
    * DOUBLE→LONG (NaN→0, ±Inf saturates) while DuckDB's floor
    * propagates — without the guard a data-dependent 0/0 (e.g. a
    * zero-variance correlation or an all-zero vector's cosine) would
    * silently diverge between engine and oracle. With it, NaN stays
    * NaN and ±Inf stays ±Inf on both sides. */
  def round6p(c: Column): Column =
    when(isnan(c) || abs(c) === lit(Double.PositiveInfinity), c)
      .otherwise(floor(c * lit(1e6) + lit(0.5)).cast(org.apache.spark.sql.types.DoubleType) / lit(1e6))

  /** Heuristic quality score in [0,1]:
    * 0.4·min(tokens/100,1) + 0.3·type-token-ratio + 0.3·stopword-ratio.
    * Fixed double-op order so any engine reproduces it bitwise. */
  def qualityScore(toks: Column): Column = {
    val n = size(toks).cast("double")
    val ttr = size(array_distinct(toks)).cast("double") / n
    val stop = profileHits(toks, LangProfiles.head._2).cast("double") / n
    least(n / lit(100.0), lit(1.0)) * lit(0.4) + ttr * lit(0.3) + stop * lit(0.3)
  }

  /** Deterministic distributed BPE vocabulary training: learn `steps`
    * byte-pair merges from the corpus, greedily — each step takes the
    * globally most-frequent adjacent symbol pair (ties → lexicographically
    * smallest pair) and merges every non-overlapping occurrence,
    * left-to-right. The BPE training loop a tokenizer build runs over
    * the whole corpus.
    *
    * Scale shape per step: pair extraction is a narrow map over the
    * word-frequency table (already aggregated — corpus-sized text never
    * re-enters the loop), ONE partial-agg shuffle sums pair counts, the
    * argmax is an in-plan 1-row `min(struct(-cnt, pair))` aggregate
    * (never a driver-side `collect`), and the merge applies via a
    * broadcast cross-join of that 1-row result — so each step is one
    * job, and the word table is `localCheckpoint`ed to cap lineage
    * across steps.
    *
    * Merge application contract (what the oracle mirrors): symbols are
    * space-joined with sentinel spaces, and the pair merges via 5
    * rounds of non-overlapping left-to-right `replace` — round r halves
    * the longest unmerged run, so 5 rounds reach the greedy fixpoint
    * for any word up to 32 symbols (the corpus's words are shorter;
    * both engines implement `replace` identically).
    *
    * Returns (step, pair, token, freq) — the learned merge table. */
  def bpeMerges(docs: DataFrame, text: Column, steps: Int): DataFrame = {
    val (merges, words) = bpeLoop(docs, text, steps, applyFinal = false)
    // training discards the word table, and the merge table is 1-row
    // eager checkpoints — nothing reads the final word blocks
    Checkpoints.release(words)
    merges
  }

  /** BPE ENCODING under the vocabulary [[bpeMerges]] trains: the final
    * per-word symbol count after all `steps` merges — the consumer side
    * of the tokenizer build (token budgeting, sequence packing, cost
    * estimates all need tokens-under-the-trained-vocab, not whitespace
    * words). Same loop, same greedy contract; the word table is
    * vocabulary-sized, so joining it back to the corpus's token stream
    * is a broadcast. Returns (word, n_sym). */
  def bpeEncodedWords(docs: DataFrame, text: Column, steps: Int): DataFrame =
    bpeLoop(docs, text, steps, applyFinal = true)._2
      .select(col("word"),
        size(split(trim(col("s")), " ")).cast("long").as("n_sym"))

  /** IN-ROW BPE encoding under an already-trained merge list — the
    * tokenizer-SERVING form: the trained pairs arrive as literals (a
    * once-per-snapshot scalar read of the vocabulary-sized merge
    * table, the broadcast-centroids class), and the whole encode is a
    * stateless codegen'd expression per word — chars space-joined with
    * sentinel spaces, each merge applied via the same 5-round greedy
    * `replace` contract as [[bpeLoop]], so a word's symbol count is
    * bit-identical to [[bpeEncodedWords]]' for every corpus word AND
    * defined (character-fallback) for words the training never saw —
    * which is why an ingest stream can run it with no join and no
    * state. Returns the LONG symbol count. */
  def bpeEncodeCol(word: Column, merges: Seq[String]): Column = {
    var s = concat(lit(" "), concat_ws(" ",
        transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1)))),
      lit(" "))
    merges.foreach { pair =>
      val search = lit(" " + pair + " ")
      val merged = lit(" " + pair.replace(" ", "") + " ")
      for (_ <- 1 to 5) s = replace(s, search, merged)
    }
    size(split(trim(s), " ")).cast("long")
  }

  /** Shared BPE merge loop: returns (merge table, final word table
    * (word, freq, s)). Training alone skips the LAST merge application
    * (no next consumer — the t38 shape) and drops the `word` payload
    * from the per-step checkpoints (only the encoder reads it back);
    * encoding applies the last merge and carries the word through. */
  private def bpeLoop(docs: DataFrame, text: Column, steps: Int,
      applyFinal: Boolean): (DataFrame, DataFrame) = {
    require(steps >= 1, s"bpeMerges needs steps >= 1, got $steps")
    val carried = if (applyFinal) Seq(col("word"), col("freq")) else Seq(col("freq"))
    val words = docs.select(explode(tokens(text)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    var cur = words.select(carried :+
        concat(lit(" "), concat_ws(" ",
            transform(sequence(lit(1), length(col("word"))),
              i => col("word").substr(i, lit(1)))),
          lit(" ")).as("s"): _*)
      .localCheckpoint()
    var out: Option[DataFrame] = None
    for (step <- 1 to steps) {
      val syms = cur.select(col("freq"), split(trim(col("s")), " ").as("a"))
      val pairs = syms
        .select(col("freq"), explode(
          when(size(col("a")) < 2, array().cast("array<string>"))
            .otherwise(transform(sequence(lit(1), size(col("a")) - 1),
              i => concat(element_at(col("a"), i), lit(" "),
                element_at(col("a"), i + lit(1)))))).as("pair"))
        .groupBy("pair").agg(sum(col("freq")).as("cnt"))
      val best = pairs
        .agg(min(struct((lit(0L) - col("cnt")).as("neg"), col("pair").as("pair"))).as("b"))
        .select(lit(step).as("step"), col("b.pair").as("pair"),
          (lit(0L) - col("b.neg")).as("freq"))
        .localCheckpoint() // 1 row; eager, so later steps don't replan it
      out = Some(out.map(_.unionAll(best)).getOrElse(best))
      if (step < steps || applyFinal) {
        val search = concat(lit(" "), col("pair"), lit(" "))
        val merged = concat(lit(" "), replace(col("pair"), lit(" "), lit("")), lit(" "))
        var s2 = col("s")
        for (_ <- 1 to 5) s2 = replace(s2, search, merged)
        val prev = cur
        cur = cur.crossJoin(broadcast(best.select(col("pair"))))
          .select(carried :+ s2.as("s"): _*)
          .localCheckpoint()
        Checkpoints.release(prev) // superseded word table (merge applied)
      }
    }
    (out.get.select(col("step"), col("pair"),
      replace(col("pair"), lit(" "), lit("")).as("token"), col("freq")), cur)
  }

  // --------------------------------------------------------- PII scrubbing

  /** PII patterns a curation run scrubs before training. Kept to syntax
    * shared by Java regex and RE2 (`\d`, `\b`, bounded classes), so the
    * DuckDB oracle runs the SAME pattern strings — the detection rules
    * themselves are engine-portable, not just the results. */
  val EmailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  val Ipv4Re = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
  val PhoneRe = """\b\d{3}-\d{3}-\d{4}\b"""

  /** Count of PII matches of one pattern — codegen'd regexp, narrow. */
  def piiCount(text: Column, pattern: String): Column =
    regexp_count(text, lit(pattern)).cast("long")

  /** Redact all three PII classes with typed placeholders. Order is
    * fixed (email, then IPv4, then phone) and the patterns are mutually
    * non-overlapping on their own replacements, so the composition is
    * confluent — the oracle applies the identical chain. Pure narrow
    * map: the 100 TB shape is one pass over the corpus, no shuffle. */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  // -------------------------------------------------------- fingerprints

  /** Exact content fingerprint: md5 of the raw text. */
  def contentHash(text: Column): Column = md5(text)

  /** Rolling-hash document fingerprint (Karp–Rabin windows + min
    * selection, i.e. 1-fingerprint winnowing): min over all `w`-char
    * windows of [[hx]](window). Near-duplicate documents share most
    * windows, so with high probability they share the minimum — the
    * fingerprint doubles as a near-dup clustering key. Short texts hash
    * whole. Narrow map; no shuffle. Runs through the native
    * [[graft.expr.VectorExprs.winnowFp]] kernel (one pass per row;
    * bit-identical to the declarative transform/array_min form). */
  def winnowFingerprint(text: Column, w: Int = 20): Column =
    graft.expr.VectorExprs.winnowFp(text, w)
}
