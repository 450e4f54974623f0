package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis operators for training-data curation: token counting,
  * quality scoring, language identification, document fingerprinting. All
  * composed from codegen'd native functions — no UDFs in the hot path.
  */
object TextAnalysis {

  /** BPE-ish tokenizer regex: words, numbers, or single non-space symbols. */
  val TokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Token count via the BPE-ish pattern — one-pass native expression
    * (the regexp_extract_all form materializes every match in an array per
    * row just to take its size).
    */
  def tokenCount(text: Column): Column =
    ColumnBridge.column(TokenCountExpr(ColumnBridge.expression(text)))

  private def stopwords: Map[String, Seq[String]] = LangId.stopwords

  /** Fraction of whitespace words that are stopwords of `lang`. */
  def stopwordRatio(text: Column, lang: String): Column = {
    val sw = array(stopwords(lang).map(lit): _*)
    val toks = split(lower(text), "\\s+")
    size(filter(toks, t => array_contains(sw, t))).cast("double") / greatest(size(toks), lit(1))
  }

  /** Heuristic language ID: argmax stopword-hit count across known languages
    * ('und' when nothing matches), as a single-pass native expression — the
    * composed `array_max(struct(score, lang))` form re-tokenized the text
    * once per language (4 regex splits per row; measured 4x slower) and this
    * is exactly equivalent: all languages share the token-count denominator,
    * so argmax over ratios == argmax over hit counts, ties to the
    * lexicographically largest code both ways.
    */
  def langId(text: Column): Column =
    ColumnBridge.column(LangIdExpr(ColumnBridge.expression(text)))

  /** Characteristic character trigrams per language, for the n-gram
    * language-ID variant. Hand-picked, high-frequency, pairwise-discriminative
    * (includes space-delimited forms so they anchor at word boundaries).
    */
  val trigramProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", " th", "he ", "ing", "and", " an", "ion", " of", "of ", " to", "is "),
    "de" -> Seq("der", "und", " un", "ein", "sch", "ich", "die", " de", "en ", "ist", "ung"),
    "fr" -> Seq("les", " le", "ent", "que", " qu", "est", "une", " et", "et ", "our", "ais"),
    "es" -> Seq("los", " lo", "que", " qu", "ión", "una", " es", "ado", "par", " co", "ara"))

  /** N-gram language ID: argmax over languages of how many characteristic
    * trigrams occur in the lowercased text (ties to the larger code, zero
    * hits -> 'und'). Composed from `contains` probes so the same logic
    * replays verbatim in any SQL engine.
    */
  def langIdNgram(text: Column): Column = {
    val t = lower(text)
    val scores = trigramProfiles.keys.toSeq.sorted.map { lang =>
      val hits = trigramProfiles(lang).map(g => when(contains(t, lit(g)), 1).otherwise(0))
      lang -> hits.reduce(_ + _)
    }
    val best = scores.map { case (lang, sc) => struct(sc.as("score"), lit(lang).as("lang")) }
    val top = array_max(array(best: _*))
    when(top.getField("score") > 0, top.getField("lang")).otherwise(lit("und"))
  }

  /** Quality heuristics bundle: length, word stats, symbol/digit/upper
    * ratios, and a composite [0,1] score (longer, wordier, low-symbol text
    * scores higher — the usual pre-training quality gates).
    *
    * Backed by the one-pass [[TextMetricsExpr]] (the composed form ran two
    * regexp_replace passes — each allocating a rewritten copy of the text
    * per row — plus two splits and a lambda filter); derived ratios are
    * arithmetically identical, enforced by the q_quality_score oracle.
    */
  def withQualityMetrics(df: DataFrame, textCol: String): DataFrame = {
    val m = ColumnBridge.column(TextMetricsExpr(ColumnBridge.expression(col(textCol))))
    val chars = m.getField("chars").cast("double")
    val words = m.getField("words").cast("double")
    val punct = m.getField("punct").cast("double")
    val digits = m.getField("digits").cast("double")
    val swRatio = m.getField("sw_hits").cast("double") /
      greatest(m.getField("toks"), lit(1L)).cast("double")
    df.withColumn("n_chars_m", chars)
      .withColumn("n_words", words)
      .withColumn("punct_ratio", punct / greatest(chars, lit(1.0)))
      .withColumn("digit_ratio", digits / greatest(chars, lit(1.0)))
      .withColumn("mean_word_len", chars / greatest(words, lit(1.0)))
      .withColumn("stopword_ratio_en", swRatio)
      .withColumn("quality_score",
        least(lit(1.0), greatest(lit(0.0),
          lit(0.4) * least(col("n_words") / 100.0, lit(1.0))
            + lit(0.3) * (lit(1.0) - least(col("punct_ratio") * 5.0, lit(1.0)))
            + lit(0.3) * least(col("stopword_ratio_en") * 4.0, lit(1.0)))))
  }

  /** WITHIN-document repeated-line removal: keep the FIRST occurrence of
    * every distinct line inside each document, preserving order — the
    * in-document boilerplate strip (nav bars, cookie banners, repeated
    * headers) that complements the corpus-level
    * [[Dedup.dropDuplicateLines]]. `normalizeKeys` compares lines on
    * lowercased, whitespace-collapsed, trimmed keys (the emitted lines
    * keep their original bytes).
    *
    * Pure per-row HOF projection (split → indexed filter on first-key
    * occurrence → join): codegen on the scan, zero shuffles at any
    * scale. Quadratic only in LINES PER DOCUMENT (array_position scans
    * the key array), which is document-format-bounded, not corpus-bound.
    */
  def dropRepeatedLinesInDoc(df: DataFrame, textCol: String,
      outCol: String = "text_dedup", normalizeKeys: Boolean = true): DataFrame = {
    val keyOf =
      if (normalizeKeys) "x -> regexp_replace(lower(trim(x)), '\\\\s+', ' ')"
      else "x -> x"
    df.withColumn("__lines", split(col(textCol), "\n"))
      .withColumn("__keys", expr(s"transform(__lines, $keyOf)"))
      .withColumn(outCol, expr(
        "array_join(filter(__lines, (x, i) -> " +
          "array_position(__keys, element_at(__keys, i + 1)) == i + 1), '\n')"))
      .drop("__lines", "__keys")
  }

  /** Per-source ADAPTIVE quality filtering: each source keeps only the
    * documents at or above its OWN `quantile`-th quality percentile — the
    * curation policy that drops the worst X% of every domain instead of
    * applying one global cutoff that a clean domain sails over and a noisy
    * domain dies under (the C4/Gopher per-source trim).
    *
    * Thresholds come from the mergeable [[graft.functions.HistSketchAgg]]
    * histogram (one partial-agged groupBy on the source key — per-source
    * state is `nbins` longs, never rows) and its interpolated
    * [[graft.functions.HistQuantile]]; the per-source threshold relation
    * (#sources rows) broadcasts back over a second narrow scan. No
    * per-document sort, no window, corpus shuffled zero times.
    *
    * Defaults make the sketch EXACT for the [0, 1] score: width = 1/64
    * (binary-exact), `hi = 65/64` so a perfect 1.0 score stays in-range.
    * The quantile interpolation and the `>=` cut are plain double
    * arithmetic on integer bin counts — deterministic, and replayed
    * op-for-op by the `q_adaptive_filter` oracle. A source with no
    * in-range scores has a NULL threshold and keeps everything (no
    * information, no cut).
    *
    * Returns the [[withQualityMetrics]] columns of the surviving rows.
    */
  def adaptiveQualityFilter(df: DataFrame, textCol: String, sourceCol: String,
      quantile: Double, nbins: Int = 65, lo: Double = 0.0,
      hi: Double = 1.015625): DataFrame = {
    require(quantile > 0.0 && quantile < 1.0,
      s"adaptiveQualityFilter: quantile must be in (0, 1), got $quantile")
    val scored = withQualityMetrics(df, textCol)
    val h = ColumnBridge.column(graft.functions.HistSketchAgg(
      ColumnBridge.expression(lit(nbins)), ColumnBridge.expression(lit(lo)),
      ColumnBridge.expression(lit(hi)),
      ColumnBridge.expression(col("quality_score"))).toAggregateExpression())
    val thr = scored.groupBy(col(sourceCol)).agg(h.as("__h"))
      .select(col(sourceCol), ColumnBridge.column(graft.functions.HistQuantile(
        ColumnBridge.expression(col("__h")),
        ColumnBridge.expression(lit(quantile)))).as("__thr"))
    scored.join(broadcast(thr), Seq(sourceCol), "left")
      .where(col("quality_score") >=
        coalesce(col("__thr"), lit(Double.NegativeInfinity)))
      .drop("__thr")
  }

  /** 64-bit content fingerprint of whitespace-normalized lowercased text,
    * using the DuckDB-compatible hash (so fingerprints are stable across
    * engines that implement the same hash).
    */
  def fingerprint(text: Column): Column =
    call_function("bitfilters_duckdb_hash", lit("v1.5.1"),
      ColumnBridge.column(CollapseWsExpr(
        ColumnBridge.expression(lower(text)), trimEnds = false)))

  /** Canonical text form for dedup/fingerprint keys: Unicode NFC compose,
    * lowercase, collapse whitespace runs to single spaces, trim. Every step
    * is a codegen'd row-local expression (no shuffle), and every step is
    * exactly replayable in DuckDB (`nfc_normalize` + `lower` +
    * `regexp_replace(..., 'g')` + `trim`) — canonicalization stays
    * oracle-verifiable. Pass `accentFold = true` to additionally strip
    * non-spacing marks (DuckDB `strip_accents` semantics).
    */
  def normalizeText(text: Column, accentFold: Boolean = false): Column = {
    val nfc = ColumnBridge.column(NfcNormalizeExpr(ColumnBridge.expression(text)))
    val folded =
      if (accentFold) ColumnBridge.column(StripAccentsExpr(ColumnBridge.expression(nfc)))
      else nfc
    // one byte pass == trim(regexp_replace(lower, '\s+', ' ')) — the form
    // the q_normalize oracle replays (TextKernels equality spec)
    ColumnBridge.column(CollapseWsExpr(
      ColumnBridge.expression(lower(folded)), trimEnds = true))
  }

  /** Conservative PII/URL scrubbing for training corpora: emails then URLs
    * replaced by placeholder tags. Patterns stick to character classes and
    * plain quantifiers so Java regex (Spark) and RE2 (DuckDB with the 'g'
    * flag) match identically — the cleaning step stays oracle-verifiable.
    * Purely row-local (no shuffle); codegen'd regexp_replace.
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val urlPattern = "https?://[^ \\t\\n]+"

  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, emailPattern, "<EMAIL>"), urlPattern, "<URL>")

  /** Luhn-checksum validity of a digit-bearing candidate string (spaces/
    * dashes ignored): from the RIGHT, every second digit doubles (minus 9
    * past 9), total ≡ 0 mod 10. Pure HOF arithmetic — replays in SQL.
    */
  private[graft] def luhnValid(cand: Column): Column = {
    val digits = filter(split(cand, ""), ch => ch >= "0" && ch <= "9")
    val n = size(digits)
    val total = aggregate(
      zip_with(digits, sequence(lit(0), n - 1), (d, i) => {
        val v = d.cast("int")
        val fromRight = n - lit(1) - i
        val doubled = v * 2
        when(fromRight % 2 === 1, when(doubled > 9, doubled - 9).otherwise(doubled))
          .otherwise(v)
      }),
      lit(0), (acc, x) => acc + x)
    total % 10 === 0
  }

  /** [[redactPii]] plus Luhn-VERIFIED payment-card numbers and
    * international-ish phone numbers — the strict scrub for corpora that
    * must not memorize card/phone strings. Card candidates are 13-19
    * digit runs (spaces/dashes allowed) that PASS the Luhn checksum —
    * check-summing cuts the false-positive rate on ids/timestamps to
    * ~10% of plain digit-run matching — replaced literally via a
    * per-row fold; phones are conservative `+`/digit/sep runs of 8+
    * digits, replaced AFTER cards so a card never half-matches as a
    * phone. Row-local HOFs + regex in the Java∩RE2 subset; the
    * q_redact_strict oracle replays candidates, checksums and folds.
    */
  def redactPiiStrict(text: Column): Column = {
    val base = redactPii(text)
    // candidate extraction + Luhn + digit-count as ONE byte scan — exactly
    // filter(regexp_extract_all(base, '[0-9](?:[0-9 -]{11,17})[0-9]'),
    //        c -> luhnValid(c) AND digits(c) BETWEEN 13 AND 19)
    // (TextKernels equality spec pins the match-order + backtracking
    // semantics; the HOF form allocated per-CHARACTER string arrays per
    // candidate — the dominant cost on digit-dense corpora)
    val validCards = ColumnBridge.column(CardCandidatesExpr(
      ColumnBridge.expression(base)))
    val afterCc = aggregate(validCards, base, (acc, c) =>
      replace(acc, c, lit("<CARD>")))
    // phones need a '+' prefix or xxx-xxx-xxxx separators — a bare digit
    // run is NOT enough (ids/timestamps would drown the scrub, and
    // Luhn-failed card candidates must not sneak back in as "phones")
    regexp_replace(afterCc,
      "(\\+[0-9][0-9 ()-]{6,}[0-9]|[0-9]{3}[ -][0-9]{3}[ -][0-9]{4})", "<PHONE>")
  }

  /** HTML → text extraction — the first step of every web-curation
    * pipeline (the trafilatura/jusText role, as a deterministic
    * regex-pipeline baseline): script/style blocks dropped wholesale,
    * block-closing tags become line breaks, remaining tags strip to a
    * space, the five predefined XML entities plus `&nbsp;`/`&#39;`
    * decode, whitespace collapses. Patterns stay inside the Java-regex ∩
    * RE2 common subset ([[redactPii]]'s discipline: character classes,
    * plain + non-greedy quantifiers, `(?is)` flags), so DuckDB replays
    * the extraction byte for byte. Row-local, codegen'd, no shuffle.
    *
    * This is a BASELINE extractor: it does not score content density or
    * drop nav/boilerplate — chain [[dropDuplicateLines]] (corpus
    * boilerplate) and the quality metrics for that. Regex-stripper
    * limitation (inherent, shared by every non-parsing extractor): a
    * BARE `<` in running text followed by a later `>` is eaten as if it
    * were a tag — entity-encoded pages (`&lt;`) are unaffected.
    */
  def extractHtmlText(html: Column): Column = {
    val noScript = regexp_replace(html,
      "(?is)<(script|style)[^>]*>.*?</(script|style)>", " ")
    val breaks = regexp_replace(noScript,
      "(?i)</(p|div|li|h[1-6]|tr|table|ul|ol|blockquote)>|<br[^>]*>", "\n")
    val noTags = regexp_replace(breaks, "<[^>]*>", " ")
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
      "&apos;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&" // amp LAST: &amp;lt; -> &lt; stays literal
    ).foldLeft(noTags) { case (c, (from, to)) => regexp_replace(c, from, to) }
    ColumnBridge.column(CollapseWsExpr(
      ColumnBridge.expression(decoded), trimEnds = true))
  }

  /** Dataset-card summary: the one-table corpus overview every release
    * ships — document/char/token totals, per-source and per-language
    * breadth, exact-duplicate, empty- and NULL-document counts — as
    * (metric, value BIGINT) rows. The metrics PARTITION consistently:
    * `docs = null_docs + distinct_texts + duplicate_docs` (NULL texts
    * count in `docs` and `null_docs` only — they are neither empty,
    * distinct, nor duplicates).
    *
    * Exact mode (default, the q_corpus_report oracle): the three
    * COUNT(DISTINCT)s are written as SEPARATE single-row aggregations
    * crossJoined back (the q_hll discipline) — packed into one agg with
    * the base metrics, Spark plans a 4-way Expand that multiplies every
    * FULL-width scan row — text-derived sums included — into the first
    * shuffle. From the separate form the optimizer may still merge a
    * narrow pair (it fuses the lang+md5 distincts into one 2-way Expand
    * of just those two columns) — that residual is the optimizer's own
    * narrow-column trade, not the full-width blowup this structure
    * avoids. Still FOUR scans of the corpus.
    *
    * `approx = true`: the 100 TB dataset-card — ONE scan, one ordinary
    * aggregate. The three distinct counts become `hll_sketch(p, hash)`
    * register blobs (mergeable KB state, ±~1% at the default p=14)
    * finished with `hll_estimate`; everything else is unchanged and
    * exact. No Expand, no crossJoin, no second scan — spec-asserted
    * plan shape. Estimates are rounded to BIGINT so the report schema
    * is identical across modes.
    */
  def corpusReport(df: DataFrame, textCol: String, idCol: String,
      langCol: String, sourceCol: String,
      approx: Boolean = false, approxP: Int = 14): DataFrame = {
    val toks = size(filter(split(lower(col(textCol)), "\\s+"), t => t =!= lit("")))
    val metrics = Seq("docs", "chars", "tokens", "sources", "languages",
      "distinct_texts", "empty_docs", "null_docs")
    val baseAggs = Seq(
      count(lit(1)).cast("long").as("docs"),
      sum(length(col(textCol))).cast("long").as("chars"),
      sum(toks).cast("long").as("tokens"),
      sum(when(length(col(textCol)) === 0, 1L).otherwise(0L)).cast("long").as("empty_docs"),
      sum(when(col(textCol).isNull, 1L).otherwise(0L)).cast("long").as("null_docs"))
    val row =
      if (approx) {
        // hll_sketch skips NULL hashes, so a NULL text/lang/source never
        // lands in its distinct estimate — same contract as COUNT(DISTINCT)
        // xxhash64(NULL) is the non-null seed in Spark, so each hash is
        // NULL-guarded to keep the COUNT(DISTINCT) excludes-NULL contract.
        // Expressions are built DIRECTLY (not by SQL-name lookup), so the
        // approx report works without GraftFunctions registration.
        def hllDistinct(c: Column) = {
          val hashed = when(c.isNull, lit(null).cast("long"))
            .otherwise(xxhash64(c))
          round(ColumnBridge.column(graft.functions.HllEstimate(
            ColumnBridge.expression(ColumnBridge.column(
              graft.functions.HllSketchAgg(
                ColumnBridge.expression(lit(approxP)),
                ColumnBridge.expression(hashed)).toAggregateExpression())))))
            .cast("long")
        }
        df.agg(baseAggs.head, baseAggs.tail ++ Seq(
          hllDistinct(col(sourceCol)).as("sources"),
          hllDistinct(col(langCol)).as("languages"),
          hllDistinct(md5(col(textCol))).as("distinct_texts")): _*)
      } else {
        val base = df.agg(baseAggs.head, baseAggs.tail: _*)
        val srcs = df.agg(countDistinct(col(sourceCol)).cast("long").as("sources"))
        val langs = df.agg(countDistinct(col(langCol)).cast("long").as("languages"))
        val texts = df.agg(countDistinct(md5(col(textCol))).cast("long").as("distinct_texts"))
        base.crossJoin(broadcast(srcs))
          .crossJoin(broadcast(langs)).crossJoin(broadcast(texts))
      }
    row
      // clamped at 0: exact counts can never go negative (no-op there),
      // but an approx distinct estimate can exceed docs by its ~1% error
      // and a "-224 duplicates" dataset card helps nobody
      .withColumn("duplicate_docs",
        greatest(lit(0L), col("docs") - col("null_docs") - col("distinct_texts")))
      .select(explode(array((metrics :+ "duplicate_docs").map(m =>
        struct(lit(m).as("metric"), col(m).as("value"))): _*)).as("r"))
      .select(col("r.metric"), col("r.value"))
  }

  /** The classic UTF-8-decoded-as-cp1252 artifact sequences ("mojibake"):
    * an accented Latin-1 char's two UTF-8 bytes render as `Ã©`-style
    * pairs, and the General Punctuation block's three bytes as
    * `â€™`-style triples. Written as unicode escapes so the source file
    * stays ASCII; each is matched as a LITERAL substring (no regex).
    */
  val MojibakeArtifacts: Seq[String] = Seq(
    // two-char family: UTF-8 of e-acute/e-grave/a-acute/a-uml/o-uml/
    // u-uml/n-tilde/c-cedilla misread as cp1252 (A-tilde + symbol)
    "\u00c3\u00a9", "\u00c3\u00a8", "\u00c3\u00a1", "\u00c3\u00a4",
    "\u00c3\u00b6", "\u00c3\u00bc", "\u00c3\u00b1", "\u00c3\u00a7",
    // three-char family: right-quote/left-dquote/en-dash/em-dash/ellipsis
    // (a-circumflex + euro-sign + symbol)
    "\u00e2\u20ac\u2122", "\u00e2\u20ac\u0153", "\u00e2\u20ac\u201c",
    "\u00e2\u20ac\u201d", "\u00e2\u20ac\u00a6",
    // A-circumflex family: nbsp and guillemets
    "\u00c2\u00a0", "\u00c2\u00ab", "\u00c2\u00bb")

  /** Occurrence count of the [[MojibakeArtifacts]] in `text`, as pure
    * string arithmetic \u2014 `(len(t) \u2212 len(replace(t, s, ''))) / len(s)`
    * per artifact, summed \u2014 so ANY SQL engine replays the count byte for
    * byte (no regex dialect, no unicode-class differences). NULL text
    * counts NULL (pass-through).
    */
  def mojibakeHits(text: Column): Column =
    MojibakeArtifacts.map { s =>
      ((length(text) - length(replace(text, lit(s), lit(""))))
        / lit(s.length)).cast("long")
    }.reduce(_ + _)

  /** Email pattern shared by pseudonymization (Java∩RE2∩DuckDB subset). */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** CONSISTENT pseudonymization — the step up from blank redaction:
    * every distinct email maps to a STABLE token
    * `user_<md5-prefix-8>@redacted.invalid`, so cross-document (and
    * in-document) co-reference survives scrubbing — "alice@x.com replied
    * to alice@x.com's earlier point" still reads as the same entity, and
    * joins on the pseudonym still work, while the raw address is gone.
    *
    * Mechanics, all codegen'd HOFs (no UDF, no per-match callback —
    * Spark's regexp_replace cannot compute per-match): extract distinct
    * matches, order them LONGEST-FIRST (a shorter email that is a
    * substring of a longer one — `a@b.co` inside `xa@b.co` — must not
    * fire first and corrupt the longer match mid-string; the ordering
    * key is `lpad(9999 − len)` + value, so engines whose list_sort has
    * no comparator replay it with a plain ascending sort), then fold a
    * literal `replace` per match. Per-row cost is distinct matches × one
    * text copy — fine for prose (a handful of addresses), quadratic for
    * a pathological all-addresses document. `maxDistinct` is the
    * fail-CLOSED backstop: past the cap the row degrades to one
    * `regexp_replace` of every match with a single generic token —
    * per-address identity is lost for that row, but the PII is STILL
    * removed (a fail-open "leave the overflow raw" would silently ship
    * addresses). Rows without matches pay one regex scan. NULL text
    * passes through NULL.
    */
  def pseudonymizeEmails(text: Column, maxDistinct: Int = 1000): Column = {
    require(maxDistinct >= 1, "maxDistinct must be >= 1")
    val found = array_distinct(
      regexp_extract_all(text, lit(EmailPattern), lit(0)))
    val keyed = transform(found, e =>
      concat(lpad((lit(9999) - length(e)).cast("string"), 4, "0"), e))
    val ordered = transform(array_sort(keyed), x =>
      x.substr(lit(5), length(x) - lit(4)))
    val folded = aggregate(ordered, text, (acc, e) =>
      replace(acc, e, concat(lit("user_"), substring(md5(e), 1, 8),
        lit("@redacted.invalid"))))
    when(size(found) <= maxDistinct, folded)
      .otherwise(regexp_replace(text, lit(EmailPattern),
        lit("user_overflow@redacted.invalid")))
  }

  /** Per-document encoding-damage report — the ftfy-role curation
    * screen: crawl slices that went through a cp1252 round-trip light up
    * with `Ã©`/`â€™` artifacts, and routing them to re-decoding (or
    * dropping them) beats training on them. Emits per doc the artifact
    * hit count, char length, and `mojibake_ppm = hits·10^6 div chars`
    * (0 for empty docs) — threshold ppm, not hits, so long documents
    * don't dominate. Row-local codegen'd string ops (16 literal
    * replaces), no shuffle, no regex; every number replays exactly in
    * the q_mojibake oracle.
    *
    * @return (idCol, mojibake_hits, chars, mojibake_ppm)
    */
  def mojibakeReport(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol), mojibakeHits(col(textCol)).as("mojibake_hits"),
        length(col(textCol)).cast("long").as("chars"))
      .withColumn("mojibake_ppm",
        when(col("chars") === 0, 0L)
          .otherwise(expr("mojibake_hits * 1000000L div chars")))

  /** Readability report (Flesch reading ease, heuristic syllables): per
    * document the whitespace word count, sentence count (runs of
    * `[.!?]`, min 1 so fragments don't divide by zero), syllable count
    * (per word: vowel-group runs `[aeiouy]+`, min 1 — the standard
    * dictionary-free approximation) and
    * `flesch_e3 = round((206.835 − 1.015·W/S − 84.6·Y/W)·1000)`.
    * A classic quality-filter feature (too-low = word salad / OCR junk,
    * implausibly high = template text). Row-local codegen'd regex + HOF
    * arithmetic in the Java∩RE2 subset; the oracle replays per-document
    * integers and the e3 score exactly. English-centric heuristic —
    * gate on `lang` first.
    */
  def readability(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // one byte pass per document (TextKernels) == the regex form the
    // oracle replays: words = split(lower, '\s+') minus empties,
    // sentences = greatest(1, count of [.!?] runs), syllables = per word
    // max(1, [aeiouy] runs). The HOF form ran a regexp_extract_all PER
    // TOKEN — a Matcher + match-list allocation per word (equality spec
    // in TextKernelsSpec).
    val counts = ColumnBridge.column(ReadabilityCountsExpr(
      ColumnBridge.expression(lower(col(textCol)))))
    df.select(col(idCol), counts.as("__rc"))
      .select(col(idCol), col("__rc.words").as("words"),
        greatest(lit(1L), col("__rc.sentences")).as("sentences"),
        col("__rc.syllables").as("syllables"))
      .withColumn("flesch_e3", when(col("words") === 0, lit(null).cast("long"))
        .otherwise(round((lit(206.835)
          - lit(1.015) * col("words").cast("double") / col("sentences").cast("double")
          - lit(84.6) * col("syllables").cast("double") / col("words").cast("double"))
          * lit(1000.0)).cast("long")))
  }

  /** Split documents into fixed-size token chunks with overlap — the
    * chunking step of embedding/training pipelines. Whitespace tokens;
    * chunk i covers tokens [i*stride, i*stride + chunkTokens) with
    * stride = chunkTokens - overlap; the final partial chunk is kept.
    * Pure per-row explode — no shuffle, fully partition-parallel, and
    * every step (split, slice, join) replays exactly in SQL engines.
    */
  def chunkDocuments(df: DataFrame, textCol: String, idCol: String,
      chunkTokens: Int, overlap: Int = 0): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      "need chunkTokens > 0 and 0 <= overlap < chunkTokens")
    val stride = chunkTokens - overlap
    df.select(col(idCol).as("doc_id"), split(col(textCol), "\\s+").as("__toks"))
      .select(col("doc_id"), col("__toks"),
        posexplode(sequence(lit(0),
          greatest(ceil((size(col("__toks")) - lit(overlap)).cast("double") / stride).cast("int") - 1, lit(0)))))
      .select(col("doc_id"), col("pos").as("chunk_idx"),
        concat_ws(" ", slice(col("__toks"), col("pos") * stride + 1, lit(chunkTokens))).as("chunk_text"),
        least(size(col("__toks")) - col("pos") * stride, lit(chunkTokens)).as("n_tokens"))
  }

  /** Top-k most frequent whitespace tokens (lowercased) across the corpus
    * — the vocabulary/heavy-hitter primitive behind stopword discovery and
    * tokenizer audits. Partial aggregation makes the shuffle carry one row
    * per distinct token per partition, and the final top-k is a
    * TakeOrderedAndProject (per-partition heaps + driver merge of k rows),
    * NOT a global sort — the shape that survives a 100x corpus. Ties break
    * lexicographically so results are deterministic and oracle-checkable.
    */
  def topTokens(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(split(lower(col(textCol)), "\\s+")).as("token"))
      .where(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(k)

  /** Per-source corpus curation report — the mixture dashboard every
    * training-data pipeline keeps: one row per source with document counts,
    * exact-duplicate rates (md5 content hash), and char/word/token volume,
    * for deciding per-source sampling weights and spotting boilerplate-heavy
    * sources. One hash-aggregate keyed on the source column (partial
    * aggregation map-side; countDistinct expands to the standard two-phase
    * plan) — no other shuffle, scales with distinct sources not rows.
    */
  def sourceReport(df: DataFrame, textCol: String, sourceCol: String): DataFrame =
    df.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("docs"),
        countDistinct(md5(col(textCol))).as("distinct_docs"),
        (count(lit(1)) - countDistinct(md5(col(textCol)))).as("duplicate_docs"),
        sum(length(col(textCol))).as("chars_sum"),
        sum(size(split(col(textCol), " "))).as("words_sum"),
        sum(tokenCount(col(textCol))).as("tokens_sum"))

  /** Gopher-style repetition metrics per document — the standard quality
    * filters for LLM training corpora (Rae et al. 2021, table A1): documents
    * dominated by repeated lines or a single repeated n-gram are boilerplate
    * or spam and get dropped before training.
    *
    * Output columns per doc:
    *  - `lines`, `dup_line_fraction` (repeat line occurrences / lines),
    *    `dup_line_char_fraction` (chars in repeat occurrences / line chars)
    *  - `words`, `dup_word_fraction`
    *  - `top_bigram`, `top_bigram_count`, `top_bigram_char_fraction`
    *    (chars covered by the most frequent word 2-gram / document chars;
    *    ties break count DESC then bigram ASC, so results are deterministic)
    *
    * Scale shape: line/word metrics are per-row array HOFs (no shuffle);
    * the top-bigram search is a distributed explode -> (doc_id, bigram)
    * count -> per-doc top-1 window — one shuffle keyed (doc_id, bigram),
    * one keyed doc_id, both skew-free (bigram space is wide), then a
    * doc_id-copartitioned join back. An all-in-array HOF argmax would be
    * O(distinct^2) per row; the exploded form is linear and is the one that
    * survives 100x corpus growth.
    */
  def repetitionMetrics(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df
      .select(col(idCol).as("doc_id"), col(textCol).as("__text"),
        split(col(textCol), "\n").as("__lines"),
        split(lower(col(textCol)), "\\s+").as("__toks"))
      .withColumn("lines", size(col("__lines")))
      .withColumn("words", size(col("__toks")))
      .withColumn("__dlines", size(array_distinct(col("__lines"))))
      .withColumn("__dwords", size(array_distinct(col("__toks"))))
      .withColumn("__line_chars", expr("aggregate(__lines, 0L, (a, x) -> a + length(x))"))
      .withColumn("__dup_line_chars",
        col("__line_chars") - expr("aggregate(array_distinct(__lines), 0L, (a, x) -> a + length(x))"))
      .withColumn("dup_lines", col("lines") - col("__dlines"))
      .withColumn("dup_words", col("words") - col("__dwords"))
      .withColumn("dup_line_fraction",
        col("dup_lines").cast("double") / greatest(col("lines"), lit(1)))
      .withColumn("dup_line_char_fraction",
        col("__dup_line_chars").cast("double") / greatest(col("__line_chars"), lit(1)))
      .withColumn("dup_word_fraction",
        col("dup_words").cast("double") / greatest(col("words"), lit(1)))
    val top = base.where(size(col("__toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(__toks) - 1), i -> concat(__toks[i-1], ' ', __toks[i]))")).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("cnt"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("cnt").desc, col("bg").asc)))
      .where(col("__rn") === 1)
      .select(col("doc_id"), col("bg").as("top_bigram"), col("cnt").as("top_bigram_count"))
    base.join(top, Seq("doc_id"), "left")
      .withColumn("top_bigram_char_fraction",
        coalesce(col("top_bigram_count") * length(col("top_bigram")), lit(0L)).cast("double") /
          greatest(length(col("__text")), lit(1)))
      .drop("__text", "__lines", "__toks", "__dlines", "__dwords", "__line_chars", "__dup_line_chars")
  }

  /** Corpus collocations by pointwise mutual information over ADJACENT
    * token pairs: `pmi = ln((c_xy/T_b) / ((c_x/T_u)·(c_y/T_u)))` with
    * bigram/unigram totals T_b/T_u —
    * the multi-word-expression detector (named entities, idioms,
    * templated phrases) that feeds tokenizer vocab decisions and
    * boilerplate review. `minCount` guards the classic PMI
    * rare-pair blowup; micro-rounded PMI + exact counts replay in SQL.
    *
    * Scale shape: bigrams assemble row-locally (zip of the token array
    * with its tail — no self-join); ONE pair-keyed partial agg and one
    * token-keyed agg joined back on the pair's two tokens (co-partitioned
    * token keys); totals broadcast as single rows. Output bounded by
    * `topK` via TakeOrdered on (count desc, pair asc).
    */
  def collocations(df: DataFrame, textCol: String, minCount: Long,
      topK: Int): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    require(topK >= 1, "topK must be >= 1")
    val toks = df.select(filter(split(lower(col(textCol)), "\\s+"),
      t => t =!= lit("")).as("__toks"))
    val uni = toks.select(explode(col("__toks")).as("__tok"))
      .groupBy("__tok").agg(count(lit(1)).cast("long").as("__c"))
    val uniTotal = uni.agg(sum("__c").cast("long").as("__tu"))
    val biAll = toks.where(size(col("__toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(__toks) - 1), i -> struct(__toks[i-1] AS x, __toks[i] AS y))")).as("__p"))
      .select(col("__p.x").as("__x"), col("__p.y").as("__y"))
      .groupBy("__x", "__y").agg(count(lit(1)).cast("long").as("__cxy"))
    // T_b sums ALL adjacent pairs (standard PMI), not just the
    // minCount survivors — a post-filter total would uniformly inflate
    // every pmi by ln(total/filtered)
    val biTotal = biAll.agg(sum("__cxy").cast("long").as("__tb"))
    val bi = biAll.where(col("__cxy") >= minCount)
    bi
      .join(uni.select(col("__tok").as("__x"), col("__c").as("__cx")), Seq("__x"))
      .join(uni.select(col("__tok").as("__y"), col("__c").as("__cy")), Seq("__y"))
      .crossJoin(broadcast(biTotal))
      .crossJoin(broadcast(uniTotal))
      .withColumn("pmi_e6", round(
        log((col("__cxy").cast("double") / col("__tb").cast("double")) /
          ((col("__cx").cast("double") / col("__tu").cast("double")) *
           (col("__cy").cast("double") / col("__tu").cast("double")))) * lit(1e6))
        .cast("long"))
      .orderBy(col("__cxy").desc, col("__x"), col("__y"))
      .limit(topK)
      .select(col("__x").as("x"), col("__y").as("y"), col("__cxy").as("pair_count"),
        col("__cx").as("x_count"), col("__cy").as("y_count"), col("pmi_e6"))
  }

  /** Per-document lexical diversity: token count, distinct types,
    * type-token ratio (ppm, truncating div) and the entropy numerator
    * `Σ_types round(c·ln(c)·1e6)` — Shannon entropy of the doc's token
    * distribution is `ln(n) − clnc/(n·1e6)`, and keeping the numerator
    * integer makes the whole report order-free and engine-replayable.
    * Low diversity (high repetition) flags template/boilerplate pages;
    * the per-document companion of [[tokenDrift]].
    *
    * Scale shape: ONE (doc, token) partial aggregate (the tfidf shuffle)
    * and one doc-keyed rollup — co-partitioned, no window.
    */
  def lexicalDiversity(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol),
      explode(filter(split(lower(col(textCol)), "\\s+"),
        t => t =!= lit(""))).as("__tok"))
      .groupBy(col(idCol), col("__tok"))
      .agg(count(lit(1)).cast("long").as("__c"))
      .groupBy(col(idCol))
      .agg(sum("__c").cast("long").as("tokens"),
        count(lit(1)).cast("long").as("types"),
        sum(round(col("__c").cast("double") * log(col("__c").cast("double"))
          * lit(1e6)).cast("long")).cast("long").as("clnc_e6"))
      .withColumn("ttr_ppm", expr("(types * 1000000L) div tokens"))

  /** Per-group token-distribution drift: KL(group ‖ corpus) over the
    * corpus's top-`topK` tokens with add-one smoothing — the
    * domain-shift dashboard (a source whose token mix diverges from the
    * corpus is a candidate for reweighting or review; the text-side twin
    * of `Profile.histDrift`).
    *
    * Determinism: distributions restrict to the top-K vocabulary (ties
    * at the cutoff break token-ascending), each token's contribution
    * `p·ln(p/q)` is nano-rounded FIRST and the group score is an integer
    * sum — order-independent, engine-replayable.
    *
    * Scale shape: one token explode; the top-K vocabulary is a
    * TakeOrdered over the token counts and broadcasts everywhere; group
    * counts are ONE (group, token) partial agg; the contribution table is
    * groups × K rows. The corpus never shuffles on (group, token) beyond
    * that single aggregate.
    *
    * @return (groupCol, tokens = |restricted vocab|, n = group
    *         occurrences inside the vocab, kl_e9)
    */
  def tokenDrift(df: DataFrame, textCol: String, groupCol: String,
      topK: Int): DataFrame = {
    require(topK >= 1, "topK must be >= 1")
    val toks = df.select(col(groupCol).as("__g"),
      explode(filter(split(lower(col(textCol)), "\\s+"),
        t => t =!= lit(""))).as("__tok"))
    val top = toks.groupBy("__tok")
      .agg(count(lit(1)).cast("long").as("__cc"))
      .orderBy(col("__cc").desc, col("__tok")).limit(topK)
    val sCnt = toks.join(broadcast(top.select("__tok")), Seq("__tok"))
      .groupBy("__g", "__tok").agg(count(lit(1)).cast("long").as("__sc"))
    val sTot = sCnt.groupBy("__g").agg(sum("__sc").cast("long").as("__st"))
    val cTot = top.agg(sum("__cc").cast("long").as("__ct"),
      count(lit(1)).cast("long").as("__kk"))
    val p = (coalesce(col("__sc"), lit(0L)) + lit(1L)).cast("double") /
      (col("__st") + col("__kk")).cast("double")
    val q = (col("__cc") + lit(1L)).cast("double") /
      (col("__ct") + col("__kk")).cast("double")
    sTot.crossJoin(broadcast(top))
      .join(sCnt, Seq("__g", "__tok"), "left")
      .crossJoin(broadcast(cTot))
      .withColumn("__term_e9", round(p * log(p / q) * lit(1e9)).cast("long"))
      .groupBy(col("__g").as(groupCol))
      .agg(max(col("__kk")).as("tokens"), max(col("__st")).as("n"),
        sum(col("__term_e9")).cast("long").as("kl_e9"))
  }
}
