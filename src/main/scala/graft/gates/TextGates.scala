package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Classify, Ranking, TextAnalysis}

/** Per-document text analysis and scoring: token statistics, language
  * id, quality scores and classifiers, n-gram language models, the
  * inverted index, TF-IDF, fingerprints and corpus cleaning.
  */
object TextGates {

  /** Generated DuckDB replay of the logistic-regression training run:
    * per-round gradients are micro-rounded integer sums over MATERIALIZED
    * feature rows; the weight-update arithmetic mirrors the driver's
    * operation order literally.
    */
  private def logisticOracleSql(iterations: Int, lr: Double): String = {
    val z = (w: Int => String) =>
      s"${w(0)} + ${w(1)} * f1 + ${w(2)} * f2 + ${w(3)} * f3"
    val sb = new StringBuilder
    sb.append(s"""WITH m AS MATERIALIZED (
        SELECT CASE WHEN n_chars >= 300 THEN 1.0 ELSE 0.0 END AS y,
               CAST(sw_hits AS DOUBLE) / CAST(toks AS DOUBLE) AS f1,
               CAST(toks AS DOUBLE) / 100.0 AS f2,
               CAST(chars AS DOUBLE) / CAST(words AS DOUBLE) / 10.0 AS f3
        $classifierInputs),
      nn AS (SELECT COUNT(*) AS n FROM m),
      i0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)""")
    for (k <- 1 to iterations) {
      val w = (j: Int) => s"w$j"
      sb.append(s""",
      g$k AS MATERIALIZED (
        SELECT SUM(CAST(round((s - y) * 1e6) AS BIGINT)) AS g0,
               SUM(CAST(round((s - y) * f1 * 1e6) AS BIGINT)) AS g1,
               SUM(CAST(round((s - y) * f2 * 1e6) AS BIGINT)) AS g2,
               SUM(CAST(round((s - y) * f3 * 1e6) AS BIGINT)) AS g3
        FROM (SELECT y, f1, f2, f3,
                     1.0 / (1.0 + exp(-(${z(w)}))) AS s
              FROM m, i${k - 1})),
      i$k AS (
        SELECT ${(0 to 3).map(j =>
          s"w$j - $lr * (CAST(g$j AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6)) AS w$j").mkString(",\n               ")}
        FROM i${k - 1}, g$k, nn)""")
    }
    sb.append(s"""
      SELECT CAST(nn.n AS BIGINT) AS n,
             (SELECT CAST(SUM(CASE WHEN (CASE WHEN 1.0 / (1.0 + exp(-(${z(j => s"w$j")}))) >= 0.5
                                          THEN 1.0 ELSE 0.0 END) = y THEN 1 ELSE 0 END) AS BIGINT)
              FROM m, i$iterations) AS correct,
             ${(0 to 3).map(j => s"CAST(round(w$j * 1e6) AS BIGINT) AS w${j}_e6").mkString(",\n             ")}
      FROM i$iterations, nn""")
    sb.toString
  }

  /** The classifier gates' inputs: `documents` with its text_metrics,
    * the three features (stopword ratio, tokens / 100, mean word length /
    * 10) and the `n_chars >= 300` label. The oracle side reads the same
    * features from [[classifierInputs]].
    */
  private def qualityFeatures(s: SparkSession): (DataFrame, Seq[Column], Column) = {
    val docs = s.table("documents").withColumn("__m", expr("text_metrics(text)"))
    val fSw = col("__m.sw_hits").cast("double") / col("__m.toks").cast("double")
    val fToks = col("__m.toks").cast("double") / lit(100.0)
    val fLen = col("__m.chars").cast("double") / col("__m.words").cast("double") / lit(10.0)
    (docs, Seq(fSw, fToks, fLen), when(col("n_chars") >= 300, 1.0).otherwise(0.0))
  }

  /** ONE definition of the demo quality scorer shared by
    * q_classifier_eval / q_calibration (and mirrored by
    * [[classifierScoreCte]] on the oracle side): [[qualityFeatures]] under
    * fixed logistic weights. A scorer change edits exactly two places
    * (this and the CTE), not four gates.
    */
  private def qualityScorer(s: SparkSession): (DataFrame, Column, Column) = {
    val (docs, feats, y) = qualityFeatures(s)
    (docs, Classify.logisticScore(Array(-2.0, 1.5, 0.8, -0.5), feats), y)
  }

  /** The oracle-side per-doc inputs of [[qualityFeatures]]: the FROM clause
    * of a `SELECT` over `(n_chars, chars, words, sw_hits, toks)`.
    */
  private val classifierInputs = s"""FROM (SELECT n_chars, length(text) AS chars,
                     len(string_split(text, ' ')) AS words,
                     len(list_filter(string_split_regex(lower(text), '\\s+'),
                                     x -> list_contains(${stopwordList("en")}, x))) AS sw_hits,
                     len(string_split_regex(lower(text), '\\s+')) AS toks
              FROM documents)"""

  /** The oracle-side twin of [[qualityScorer]]: the `m(y, s)` scoring CTE
    * both classifier-gate oracles share.
    */
  private val classifierScoreCte: String =
    s"""m AS (
        SELECT CASE WHEN n_chars >= 300 THEN 1.0 ELSE 0.0 END AS y,
               1.0 / (1.0 + exp(-(-2.0
                 + 1.5 * (CAST(sw_hits AS DOUBLE) / CAST(toks AS DOUBLE))
                 + 0.8 * (CAST(toks AS DOUBLE) / 100.0)
                 + -0.5 * (CAST(chars AS DOUBLE) / CAST(words AS DOUBLE) / 10.0)))) AS s
        $classifierInputs)"""

  /** `lang`'s stopword list as a DuckDB list literal. */
  private[gates] def stopwordList(lang: String): String =
    graft.operators.LangId.stopwords(lang).map(w => s"'$w'").mkString("[", ", ", "]")

  /** The per-doc stopword-hit counts `de, en, es, fr` that
    * [[TextAnalysis.langId]] takes the argmax of, as a DuckDB select list.
    */
  private[gates] val stopwordHitCols = Seq("de", "en", "es", "fr").map { lang =>
    "len(list_filter(string_split_regex(lower(text), '\\s+'), " +
      s"x -> list_contains(${stopwordList(lang)}, x))) AS $lang"
  }.mkString(", ")

  /** The quality-metric CTE `m(<lead> chars, words, punct, sw_hits, toks)`
    * (all DOUBLE) that mirrors [[TextAnalysis.withQualityMetrics]] op for
    * op (note the 'g' flag: DuckDB regexp_replace is first-match-only by
    * default, Spark's is global); `lead` is the select list before `chars`.
    */
  private[gates] def qualityMetricsCte(lead: String): String = s"""m AS (
        SELECT ${lead}CAST(length(text) AS DOUBLE) AS chars,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS words,
               CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) AS punct,
               CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                 x -> list_contains(['the','a','an','and','or','of','in','to','is','it','that','for','on','with','as'], x))) AS DOUBLE) AS sw_hits,
               CAST(len(string_split_regex(lower(text), '\\s+')) AS DOUBLE) AS toks
        FROM documents)"""

  /** One row per non-empty whitespace token of `lower(text)`:
    * `name(key, tok)` over the `docs` relation.
    */
  private[gates] def tokenRowsCte(name: String, key: String, tok: String,
      docs: String = "documents"): String = s"""$name AS (
        SELECT $key,
               unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> '')) AS $tok
        FROM $docs)"""

  private val tokCte = tokenRowsCte("tok", "doc_id", "t")

  /** The LM gates' per-source rollup over `d(doc_id, toks, lp_sum)` in
    * scope (a doc without tokens counts 0 of each).
    */
  private val perSourceLpSql = """
      j AS (SELECT doc.doc_id, doc.source,
                   coalesce(d.toks, 0) AS toks, coalesce(d.lp_sum, 0) AS lp_sum
            FROM documents doc LEFT JOIN d ON doc.doc_id = d.doc_id)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(SUM(toks) AS BIGINT) AS tokens,
             CAST(SUM(lp_sum) AS BIGINT) AS lp_e6_sum
      FROM j GROUP BY source ORDER BY source"""

  /** The Spark twin of [[perSourceLpSql]] over per-doc `(doc_id, tokens,
    * lp_e6)` scores.
    */
  private def perSourceLp(s: SparkSession, scored: DataFrame): DataFrame =
    scored.join(s.table("documents").select(col("doc_id"), col("source")), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("docs"),
        sum("tokens").cast("long").as("tokens"),
        sum("lp_e6").cast("long").as("lp_e6_sum"))
      .orderBy("source")

  /** A language-id gate: `scores` selects each doc's per-language scores
    * `de, en, es, fr` (`h`); the replayed detection is the argmax, ties to
    * fr, es, en then de, and 'und' when every score is 0. `detect` is the
    * engine's detector. Counts docs per detected language.
    */
  private def langIdGate(name: String, scores: String, detect: Column => Column): Gate =
    Gate(name, s"""
      WITH h AS (
        SELECT $scores
        FROM documents),
      l AS (
        SELECT CASE WHEN greatest(de, en, es, fr) = 0 THEN 'und'
                    WHEN fr = greatest(de, en, es, fr) THEN 'fr'
                    WHEN es = greatest(de, en, es, fr) THEN 'es'
                    WHEN en = greatest(de, en, es, fr) THEN 'en'
                    ELSE 'de' END AS lang_detected
        FROM h)
      SELECT lang_detected, CAST(COUNT(*) AS BIGINT) AS docs
      FROM l GROUP BY lang_detected ORDER BY lang_detected""") { (s, _) =>
      s.table("documents")
        .select(detect(col("text")).as("lang_detected"))
        .groupBy("lang_detected").agg(count(lit(1)).cast("long").as("docs"))
        .orderBy("lang_detected")
    }

  val gates: Seq[Gate] = Seq(
    // inverted index: build token -> postings, answer a 3-term AND
    // without touching the corpus; result is the exact doc_id list of
    // docs containing all three tokens, replayed straight off the text
    Gate("q_inverted_index", s"""
      WITH $tokCte
      SELECT doc_id FROM tok
      WHERE t IN ('hash', 'join', 'vector')
      GROUP BY doc_id HAVING COUNT(DISTINCT t) = 3
      ORDER BY doc_id""") { (s, _) =>
      val idx = graft.sources.InvertedIndex.build(
        s.table("documents"), "text", "doc_id")
      graft.sources.InvertedIndex.search(idx, Seq("hash", "join", "vector"))
        .orderBy("doc_id")
    },

    // unigram-LM surprisal (perplexity-filter lite): per-token micro-
    // unit logprobs integer-summed per doc, rolled up per source so
    // every token's probability is on the hash path (identical
    // tokenization and micro-unit per-token rounding in the replay)
    Gate("q_unigram_lp", s"""
      WITH $tokCte,
      f AS (SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t),
      tot AS (SELECT SUM(cnt) AS total FROM f),
      lp AS (SELECT t, CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
                                  * 1e6) AS BIGINT) AS lp_e6
             FROM f, tot),
      d AS (SELECT tok.doc_id, COUNT(*) AS toks, SUM(lp.lp_e6) AS lp_sum
            FROM tok JOIN lp ON tok.t = lp.t GROUP BY tok.doc_id),$perSourceLpSql""") { (s, _) =>
      perSourceLp(s, Ranking.unigramLogProb(s.table("documents"), "text", "doc_id"))
    },

    // classifier operating-point sweep with FIXED weights (the trained
    // model's eval twin, oracle-compact): one agg pass, 3 thresholds,
    // integer ppm precision/recall/F1
    Gate("q_classifier_eval", s"""
      WITH $classifierScoreCte,
      t AS (SELECT unnest([0.3, 0.5, 0.7]) AS th),
      c AS (SELECT CAST(round(th * 1e6) AS BIGINT) AS threshold_e6,
                   CAST(SUM(CASE WHEN s >= th AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                   CAST(SUM(CASE WHEN s >= th AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                   CAST(SUM(CASE WHEN s < th AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                   CAST(SUM(CASE WHEN s < th AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
                   CAST(SUM(CASE WHEN s IS NULL OR y IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_rows
            FROM m, t GROUP BY th)
      SELECT threshold_e6, tp, fp, fn, tn, null_rows,
             CASE WHEN tp + fp = 0 THEN 0 ELSE tp * 1000000 // (tp + fp) END AS precision_ppm,
             CASE WHEN tp + fn = 0 THEN 0 ELSE tp * 1000000 // (tp + fn) END AS recall_ppm,
             CASE WHEN 2 * tp + fp + fn = 0 THEN 0
                  ELSE 2 * tp * 1000000 // (2 * tp + fp + fn) END AS f1_ppm
      FROM c ORDER BY threshold_e6""") { (s, _) =>
      val (docs, score, y) = qualityScorer(s)
      Classify.evalReport(docs, score, y, Seq(0.3, 0.5, 0.7))
        .orderBy("threshold_e6")
    },

    // calibration / reliability diagram of the same quality scorer:
    // equal-width bins, integer mean-score/rate/ECE-contribution per
    // bin — is a 0.9 score actually right 90% of the time? The replay
    // buckets the shared scoring CTE with the same integer math.
    Gate("q_calibration", s"""
      WITH $classifierScoreCte,
      b0 AS (SELECT least(CAST(1.0 AS DOUBLE), greatest(CAST(0.0 AS DOUBLE), s)) AS sc, y
             FROM m WHERE s IS NOT NULL AND y IS NOT NULL),
      b AS (SELECT CAST(least(9, floor(sc * 10)) AS INT) AS bin,
                   CAST(round(sc * 1e6) AS BIGINT) AS s_e6,
                   CASE WHEN y = 1.0 THEN 1 ELSE 0 END AS pos
            FROM b0),
      g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(s_e6) // COUNT(*) AS BIGINT) AS mean_score_e6,
                   CAST(SUM(pos) AS BIGINT) AS positives
            FROM b GROUP BY bin)
      SELECT bin, n, mean_score_e6, positives,
             CAST(positives * 1000000 // n AS BIGINT) AS rate_ppm,
             CAST(abs(positives * 1000000 // n - mean_score_e6) * n AS BIGINT)
               AS ece_contrib_e6
      FROM g ORDER BY bin""") { (s, _) =>
      val (docs, score, y) = qualityScorer(s)
      Classify.calibrationReport(docs, score, y, bins = 10).orderBy("bin")
    },

    // in-engine quality classifier: 10 full-batch GD rounds of logistic
    // regression (predict the document-length class from text-metric
    // ratios — a learnable target on this corpus; 489/500 train
    // accuracy from 256/500 base rate); the micro-unit final weights
    // and the training accuracy pin every per-row sigmoid/gradient
    // across all rounds
    Gate("q_logistic", logisticOracleSql(10, 5.0)) { (s, _) =>
      val (docs, feats, y) = qualityFeatures(s)
      val w = Classify.logisticTrain(docs, feats, y, iterations = 10, lr = 5.0)
      val pred = when(Classify.logisticScore(w, feats) >= 0.5, 1.0).otherwise(0.0)
      def e6(d: Double): Long = // ties away from zero, like SQL round()
        (if (d >= 0) math.floor(d * 1e6 + 0.5) else math.ceil(d * 1e6 - 0.5)).toLong
      docs.agg(count(lit(1)).cast("long").as("n"),
          sum(when(pred === y, 1L).otherwise(0L)).cast("long").as("correct"))
        .withColumn("w0_e6", lit(e6(w(0)))).withColumn("w1_e6", lit(e6(w(1))))
        .withColumn("w2_e6", lit(e6(w(2)))).withColumn("w3_e6", lit(e6(w(3))))
    },

    // bigram-LM surprisal: token TRANSITIONS scored under Jelinek-
    // Mercer interpolation, first tokens under the unigram marginal;
    // micro-unit integer sums keep every transition on the hash path.
    // The replay keeps the same pair construction, same bigram-start
    // denominator, same interpolation arithmetic (0.9 / (1.0 - 0.9)
    // literals so the IEEE weights match bit-for-bit), same micro-round.
    // The replay scores each DISTINCT bigram once (dlp) and weights it by
    // the per-doc transition count — SUM(c * lp) over integer lp is
    // exactly the per-occurrence sum, at distinct-bigram join cost
    // instead of per-transition: the restructure that brings the sf1
    // 19.7M-char corpus inside the oracle's 900 s budget (SCALE.md)
    Gate("q_bigram_lp", """
      WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        FROM documents),
      pr AS (
        SELECT doc_id, toks[i+1] AS prev, toks[i+2] AS cur
        FROM (SELECT doc_id, toks,
                     unnest(range(0, greatest(len(toks) - 1, 0))) AS i FROM t)),
      pc AS (SELECT doc_id, prev, cur, COUNT(*) AS c FROM pr GROUP BY doc_id, prev, cur),
      bg AS (SELECT prev, cur, SUM(c) AS cnt FROM pc GROUP BY prev, cur),
      st AS (SELECT prev, SUM(cnt) AS s_cnt FROM bg GROUP BY prev),
      fs AS (SELECT doc_id, toks[1] AS tok FROM t WHERE len(toks) > 0),
      un AS (SELECT u_tok, SUM(c) AS u_cnt FROM (
               SELECT cur AS u_tok, cnt AS c FROM bg
               UNION ALL
               SELECT tok, COUNT(*) FROM fs GROUP BY tok) u(u_tok, c)
             GROUP BY u_tok),
      tot AS (SELECT SUM(u_cnt) AS total FROM un),
      dlp AS (SELECT bg.prev, bg.cur,
                     CAST(round(ln(0.9 * (CAST(bg.cnt AS DOUBLE) / CAST(st.s_cnt AS DOUBLE))
                          + (1.0 - 0.9) * (CAST(un.u_cnt AS DOUBLE) / CAST(tot.total AS DOUBLE)))
                          * 1e6) AS BIGINT) AS lp
              FROM bg JOIN st ON bg.prev = st.prev
                      JOIN un ON bg.cur = un.u_tok, tot),
      ps AS (SELECT pc.doc_id, SUM(pc.c) AS toks, SUM(pc.c * dlp.lp) AS lp_sum
             FROM pc JOIN dlp ON pc.prev = dlp.prev AND pc.cur = dlp.cur
             GROUP BY pc.doc_id),
      fsc AS (SELECT fs.doc_id, 1 AS toks,
                     CAST(round(ln(CAST(un.u_cnt AS DOUBLE) / CAST(tot.total AS DOUBLE))
                          * 1e6) AS BIGINT) AS lp_sum
              FROM fs JOIN un ON fs.tok = un.u_tok, tot),
      d AS (SELECT doc_id, SUM(toks) AS toks, SUM(lp_sum) AS lp_sum
            FROM (SELECT * FROM ps UNION ALL SELECT * FROM fsc) GROUP BY doc_id),""" +
      perSourceLpSql) { (s, _) =>
      perSourceLp(s, Ranking.bigramLogProb(s.table("documents"), "text", "doc_id"))
    },

    Gate("q_text_stats", """
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(SUM(length(text)) AS BIGINT) AS total_chars,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_words
      FROM documents GROUP BY lang ORDER BY lang""") { (s, _) =>
      s.sql("""
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs,
               CAST(SUM(length(text)) AS BIGINT) AS total_chars,
               CAST(SUM(size(split(text, ' '))) AS BIGINT) AS total_words
        FROM documents GROUP BY lang ORDER BY lang""")
    },

    Gate("q_token_count", """
      SELECT CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS tokens,
             CAST(COUNT(*) AS BIGINT) AS docs
      FROM documents""") { (s, _) =>
      s.sql("""
        SELECT CAST(SUM(token_count(text)) AS BIGINT) AS tokens,
               CAST(COUNT(*) AS BIGINT) AS docs
        FROM documents""")
    },

    langIdGate("q_lang_id", stopwordHitCols, TextAnalysis.langId),

    langIdGate("q_lang_id_ngram", {
      def score(lang: String) = graft.operators.TextAnalysis.trigramProfiles(lang)
        .map(g => s"(CASE WHEN contains(lower(text), '$g') THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""${score("de")} AS de, ${score("en")} AS en,
               ${score("es")} AS es, ${score("fr")} AS fr"""
    }, TextAnalysis.langIdNgram),

    Gate("q_quality_score", s"""
      WITH ${qualityMetricsCte("")},
      p AS (
        SELECT words, punct / greatest(chars, 1.0) AS punct_ratio,
               chars / greatest(words, 1.0) AS mean_word_len,
               sw_hits / greatest(toks, 1.0) AS sw_ratio
        FROM m)
      SELECT CAST(count(*) AS BIGINT) AS docs,
             CAST(sum(CAST(round(punct_ratio * 1e6) AS BIGINT)) AS BIGINT) AS punct_e6,
             CAST(sum(CAST(round(mean_word_len * 1e6) AS BIGINT)) AS BIGINT) AS mwl_e6,
             CAST(sum(CAST(round(least(1.0, greatest(0.0,
                 0.4 * least(words / 100.0, 1.0)
               + 0.3 * (1.0 - least(punct_ratio * 5.0, 1.0))
               + 0.3 * least(sw_ratio * 4.0, 1.0))) * 1e6) AS BIGINT)) AS BIGINT) AS quality_e6
      FROM p""") { (s, _) =>
      TextAnalysis.withQualityMetrics(s.table("documents"), "text")
        .agg(count(lit(1)).cast("long").as("docs"),
          sum(round(col("punct_ratio") * 1e6).cast("long")).as("punct_e6"),
          sum(round(col("mean_word_len") * 1e6).cast("long")).as("mwl_e6"),
          sum(round(col("quality_score") * 1e6).cast("long")).as("quality_e6"))
    },

    // per-source adaptive quality trim: drop each source's worst 25% by
    // its OWN histogram quantile; thresholds + filter + rollup all
    // replayed: per-doc quality score (the q_quality_score formula),
    // 65-bin width-1/64 histogram slots,
    // cumulative-count interpolated quantile with the EXACT
    // lo + width*(slot + (rank-cum_before)/cnt) arithmetic of
    // HistogramSketch.quantile, then the >= threshold cut and rollup
    Gate("q_adaptive_filter", s"""
      WITH ${qualityMetricsCte("source,\n               ")},
      sc AS (
        SELECT source,
               least(1.0, greatest(0.0,
                   0.4 * least(words / 100.0, 1.0)
                 + 0.3 * (1.0 - least((punct / greatest(chars, 1.0)) * 5.0, 1.0))
                 + 0.3 * least((sw_hits / greatest(toks, 1.0)) * 4.0, 1.0))) AS q
        FROM m),
      slotted AS (
        SELECT source, q,
               CAST(LEAST(64, CAST(FLOOR(q / 0.015625) AS INT)) AS INT) AS slot
        FROM sc WHERE q >= 0.0 AND q < 1.015625),
      c AS (SELECT source, slot, COUNT(*) AS cnt FROM slotted GROUP BY 1, 2),
      n AS (SELECT source, SUM(cnt) AS n FROM c GROUP BY 1),
      w AS (
        SELECT source, slot, cnt,
               SUM(cnt) OVER (PARTITION BY source ORDER BY slot) AS cum
        FROM c),
      land AS (
        SELECT w.source, MIN(w.slot) AS slot
        FROM w JOIN n ON n.source = w.source
        WHERE w.cum >= 0.25 * n.n
        GROUP BY w.source),
      thr AS (
        SELECT l.source,
               0.0 + 0.015625 * (l.slot + GREATEST(0.0, ((0.25 * n.n) - (w.cum - w.cnt)) / w.cnt)) AS t
        FROM land l
        JOIN w ON w.source = l.source AND w.slot = l.slot
        JOIN n ON n.source = l.source)
      SELECT sc.source,
             CAST(COUNT(*) AS BIGINT) AS kept,
             CAST(SUM(CAST(round(sc.q * 1e6) AS BIGINT)) AS BIGINT) AS quality_e6,
             CAST(MIN(CAST(round(sc.q * 1e6) AS BIGINT)) AS BIGINT) AS min_q_e6
      FROM sc LEFT JOIN thr ON thr.source = sc.source
      WHERE sc.q >= COALESCE(thr.t, CAST('-infinity' AS DOUBLE))
      GROUP BY sc.source ORDER BY sc.source""") { (s, _) =>
      TextAnalysis.adaptiveQualityFilter(s.table("documents"), "text", "source", 0.25)
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("kept"),
          sum(round(col("quality_score") * 1e6).cast("long")).as("quality_e6"),
          min(round(col("quality_score") * 1e6).cast("long")).as("min_q_e6"))
        .orderBy("source")
    },

    // two portable fingerprints: md5 of whitespace-normalized text and the
    // rolling_hash native expression — both independently recomputable in
    // DuckDB, giving this gate a real per-row oracle (the duckdb-hash-based
    // TextAnalysis.fingerprint stays covered by the certified hash vectors)
    Gate("q_fingerprint", """
      SELECT doc_id,
             substring(md5(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 16) AS fp_md5,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ''), c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 257 + b) % 1000000007) AS fp_roll
      FROM documents ORDER BY doc_id""") { (s, _) =>
      s.sql("""
        SELECT doc_id,
               substring(md5(collapse_ws(lower(text))), 1, 16) AS fp_md5,
               rolling_hash(text) AS fp_roll
        FROM documents ORDER BY doc_id""")
    },

    Gate("q_redact", """
      WITH c AS (
        SELECT text,
               regexp_replace(
                 regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 'https?://[^ \t\n]+', '<URL>', 'g') AS clean
        FROM documents)
      SELECT CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(SUM(length(clean)) AS BIGINT) AS clean_chars,
             CAST(SUM(CASE WHEN clean <> text THEN 1 ELSE 0 END) AS BIGINT) AS changed,
             CAST(SUM(CAST(('0x' || substring(md5(clean), 1, 15)) AS BIGINT) % 1000000000) AS BIGINT) AS hash_sum
      FROM c""") { (s, _) =>
      s.table("documents")
        .select(TextAnalysis.redactPii(col("text")).as("clean"), col("text"))
        .agg(count(lit(1)).cast("long").as("docs"),
          sum(length(col("clean"))).cast("long").as("clean_chars"),
          sum(when(col("clean") =!= col("text"), 1L).otherwise(0L)).cast("long").as("changed"),
          Gate.md5PrefixSum(col("clean")).as("hash_sum"))
    },

    // canonical text normalization (NFC + lowercase + whitespace collapse
    // + trim, plus the accent-folded variant): per-document md5 of both
    // canonical forms rides the hash path against DuckDB's native
    // nfc_normalize/strip_accents; `changed` proves non-triviality.
    // regexp_replace needs the 'g' flag (RE2) where Java replaces all
    // matches by default.
    Gate("q_normalize", """
      SELECT doc_id,
             md5(trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g'))) AS nh,
             md5(trim(regexp_replace(lower(strip_accents(nfc_normalize(text))), '\s+', ' ', 'g'))) AS ah,
             CAST(CASE WHEN trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g')) <> text
                       THEN 1 ELSE 0 END AS BIGINT) AS changed
      FROM documents ORDER BY doc_id""") { (s, _) =>
      s.table("documents")
        .select(col("doc_id"),
          md5(TextAnalysis.normalizeText(col("text"))).as("nh"),
          md5(TextAnalysis.normalizeText(col("text"), accentFold = true)).as("ah"),
          when(TextAnalysis.normalizeText(col("text")) =!= col("text"), 1L)
            .otherwise(0L).as("changed"))
        .orderBy(col("doc_id"))
    },

    // document chunking (64-token chunks, 8-token overlap): count, token
    // total, and a content-hash sum so chunk boundaries and text both
    // replay exactly
    Gate("q_chunks", """
      WITH n AS (
        SELECT doc_id, string_split_regex(text, '\s+') AS toks,
               len(string_split_regex(text, '\s+')) AS T
        FROM documents),
      c0 AS (
        SELECT doc_id, toks, T,
               unnest(generate_series(0,
                 greatest(CAST(ceil((T - 8) / 56.0) AS BIGINT) - 1, 0))) AS i
        FROM n),
      c AS (
        SELECT doc_id, i AS chunk_idx,
               array_to_string(list_slice(toks, i*56 + 1, i*56 + 64), ' ') AS chunk_text,
               least(T - i*56, 64) AS n_tokens
        FROM c0)
      SELECT CAST(COUNT(*) AS BIGINT) AS chunks,
             CAST(SUM(n_tokens) AS BIGINT) AS tok_sum,
             CAST(SUM(CAST(('0x' || substring(md5(chunk_text), 1, 15)) AS BIGINT) % 1000000000) AS BIGINT) AS hash_sum,
             CAST(MAX(chunk_idx) AS BIGINT) AS max_idx
      FROM c""") { (s, _) =>
      TextAnalysis.chunkDocuments(s.table("documents"), "text", "doc_id", 64, 8)
        .agg(count(lit(1)).cast("long").as("chunks"),
          sum("n_tokens").cast("long").as("tok_sum"),
          Gate.md5PrefixSum(col("chunk_text")).as("hash_sum"),
          max("chunk_idx").cast("long").as("max_idx"))
    },

    // per-column curation profile (exact mode for the oracle; the
    // default HLL mode is the Expand-free 100 TB path, spec-bounded)
    Gate("q_profile", """
      WITH m AS (
        SELECT 'event_id' AS col, COUNT(*) AS n_rows,
               SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS n_nulls,
               COUNT(DISTINCT event_id) AS n_distinct,
               CAST(ROUND(MIN(event_id) * 1e6) AS BIGINT) AS min_e6,
               CAST(ROUND(MAX(event_id) * 1e6) AS BIGINT) AS max_e6
        FROM events
        UNION ALL
        SELECT 'user_id', COUNT(*),
               SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END),
               COUNT(DISTINCT user_id),
               CAST(ROUND(MIN(user_id) * 1e6) AS BIGINT),
               CAST(ROUND(MAX(user_id) * 1e6) AS BIGINT)
        FROM events
        UNION ALL
        SELECT 'event_type', COUNT(*),
               SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END),
               COUNT(DISTINCT event_type), NULL, NULL
        FROM events
        UNION ALL
        SELECT 'value', COUNT(*),
               SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END),
               COUNT(DISTINCT value),
               CAST(ROUND(MIN(value) * 1e6) AS BIGINT),
               CAST(ROUND(MAX(value) * 1e6) AS BIGINT)
        FROM events)
      SELECT col AS "column", CAST(n_rows AS BIGINT) AS n_rows,
             CAST(n_nulls AS BIGINT) AS n_nulls,
             CAST(n_distinct AS BIGINT) AS n_distinct, min_e6, max_e6
      FROM m ORDER BY col""") { (s, _) =>
      graft.operators.Profile.profile(s.table("events"),
          Seq("event_id", "user_id", "event_type", "value"), exact = true)
        .orderBy(col("column"))
    },

    // TF-IDF keywords: top-3 terms per document (tokens >= 3 chars),
    // micro-rounded scores; df/N computed on the FULL corpus, output
    // restricted to doc_id < 40 to bound the compare.
    Gate("q_tfidf", """
      WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> len(x) >= 3)) AS token
        FROM documents),
      tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
             FROM toks GROUP BY 1, 2),
      df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
      s AS (
        SELECT tf.doc_id, tf.token, tf.tf, df.df,
               CAST(round(CAST(tf.tf AS DOUBLE)
                 * ln((n.n_docs + 1.0) / (CAST(df.df AS DOUBLE) + 1.0))
                 * 1e6) AS BIGINT) AS score_e6
        FROM tf JOIN df USING (token) CROSS JOIN n),
      r AS (
        SELECT doc_id, token, tf, df, score_e6,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score_e6 DESC, token) AS rnk
        FROM s)
      SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, token, tf, df, score_e6
      FROM r WHERE rnk <= 3 AND doc_id < 40
      ORDER BY doc_id, rnk""") { (s, _) =>
      Ranking.tfidfTopTerms(s.table("documents"), "text", "doc_id",
          topN = 3, minTokenLen = 3)
        .where(col("doc_id") < 40)
        .orderBy(col("doc_id"), col("rnk"))
    },
  )
}
