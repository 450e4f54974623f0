package graft
package gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Sampling, TextAnalysis, UrlOps, Vocab}
import Gate.{deleteDirs, localResult}

/** Vocabulary and corpus-preparation gates: BPE training and encoding,
  * heavy hitters, token budgets, dense ids, ingest of JSONL/CSV, URL and
  * HTML normalization, scrubbing and corpus reports.
  */
object VocabGates {

  /** Learned BPE merge table (6 merges over `documents`), shared by the
    * `q_bpe` and `q_bpe_encode` gates — the same checkpoint-the-expensive-
    * relation pattern as [[DedupGates.sharedJaccardPairs]]: training
    * drives ~2 jobs per merge step (pair-count argmax + vocab
    * re-materialization), and a
    * real pipeline trains its tokenizer once and ships the merge table to
    * every consumer. The table itself is tiny (one row per merge); what
    * the checkpoint saves is re-RUNNING the training loop per consumer.
    */
  private val sharedBpeMerges: SharedRelation[DataFrame] =
    SharedRelation.parquet("bpe") { s =>
      Vocab.bpeMerges(s.table("documents"), "text", numMerges = 6)
    }

  /** The shared CTE chain replaying `numMerges` BPE training rounds:
    * `w$k` is the (word, cnt, syms) vocab after merge k, `b$k` the round-k
    * winning pair. Consumed by both the training oracle (merge table) and
    * the encode oracle (post-merge token frequencies).
    */
  private def bpeChainSql(numMerges: Int): String = {
    val sb = new StringBuilder
    sb.append("""WITH RECURSIVE w0 AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt,
               list_transform(generate_series(1, length(w)), i -> substring(w, i, 1)) AS syms
        FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS w
              FROM documents)
        GROUP BY w)""")
    // every CTE a later round re-references is MATERIALIZED: without the
    // hint DuckDB inlines the chain, and each of the 6 rounds re-expands
    // its whole ancestry (exponential re-planning of the recursions)
    for (k <- 1 to numMerges) sb.append(s""",
      p$k AS MATERIALIZED (
        SELECT syms[i] AS s1, syms[i + 1] AS s2, SUM(cnt) AS c
        FROM (SELECT cnt, syms, unnest(generate_series(1, len(syms) - 1)) AS i
              FROM w${k - 1} WHERE len(syms) >= 2)
        GROUP BY 1, 2),
      b$k AS MATERIALIZED (SELECT s1, s2, c FROM p$k ORDER BY c DESC, s1, s2 LIMIT 1),
      r$k AS (
        SELECT w, cnt, syms, 1 AS pos, CAST([] AS VARCHAR[]) AS acc, CAST(NULL AS VARCHAR) AS pend
        FROM w${k - 1}
        UNION ALL
        SELECT r.w, r.cnt, r.syms, r.pos + 1,
               CASE WHEN r.pend IS NULL THEN r.acc
                    WHEN r.pend = b.s1 AND r.syms[r.pos] = b.s2 THEN list_append(r.acc, b.s1 || b.s2)
                    ELSE list_append(r.acc, r.pend) END,
               CASE WHEN r.pend IS NULL THEN r.syms[r.pos]
                    WHEN r.pend = b.s1 AND r.syms[r.pos] = b.s2 THEN CAST(NULL AS VARCHAR)
                    ELSE r.syms[r.pos] END
        FROM r$k r, b$k b WHERE r.pos <= len(r.syms)),
      w$k AS MATERIALIZED (
        SELECT w, cnt,
               CASE WHEN pend IS NULL THEN acc ELSE list_append(acc, pend) END AS syms
        FROM r$k WHERE pos = len(syms) + 1)""")
    sb.toString
  }

  /** Generated DuckDB replay of `numMerges` BPE training rounds: each
    * round re-derives the pair stats, the (count DESC, p1, p2) argmax,
    * and the left-to-right non-overlapping merge walk — the walk is a
    * recursive CTE carrying (acc, pend) fold state per word, exactly the
    * aggregate() fold the Spark side runs.
    */
  private def bpeOracleSql(numMerges: Int): String =
    bpeChainSql(numMerges) +
      "\n      SELECT * FROM (\n        " +
      (1 to numMerges).map(k =>
        s"SELECT CAST($k AS BIGINT) AS step, s1 AS p1, s2 AS p2, CAST(c AS BIGINT) AS pair_count FROM b$k")
        .mkString("\n        UNION ALL\n        ") +
      "\n      ) ORDER BY step"

  /** Encode-side replay: corpus token frequencies after the learned
    * merges — per-word symbol lists weighted by corpus word counts.
    */
  private def bpeEncodeOracleSql(numMerges: Int, topK: Int): String =
    bpeChainSql(numMerges) + s"""
      SELECT t.s AS tok, CAST(SUM(w.cnt) AS BIGINT) AS cnt
      FROM w$numMerges w, LATERAL (SELECT unnest(w.syms) AS s) t
      GROUP BY t.s ORDER BY cnt DESC, tok LIMIT $topK"""

  val gates: Seq[Gate] = Seq(
    // BPE merge learning: 6 rounds of pair-count -> argmax -> merge
    // over the corpus vocabulary; the returned merge table pins the
    // whole iterative training run (counts, tie-breaks, merge order)
    Gate("q_bpe", bpeOracleSql(6)) { (s, dir) =>
      sharedBpeMerges(s, dir).orderBy("step")
    },

    // the inference side of the tokenizer: corpus token frequencies
    // after applying the learned merge table (the vocab report shipped
    // with a tokenizer), computed on the distinct-word vocab relation
    // and reweighted by corpus counts (identical to exploding
    // bpeTokenize over every document, at vocab-sized cost); the oracle
    // replays training AND the per-word merge walk
    Gate("q_bpe_encode", bpeEncodeOracleSql(6, 20)) { (s, dir) =>
      val merges = sharedBpeMerges(s, dir)
      Vocab.bpeTokenCounts(s.table("documents"), "text", merges)
        .orderBy(col("cnt").desc, col("tok")).limit(20)
    },

    Gate("q_top_tokens", """
      SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS token FROM documents)
      WHERE token <> '' GROUP BY token ORDER BY cnt DESC, token LIMIT 20""") { (s, _) =>
      TextAnalysis.topTokens(s.table("documents"), "text", 20)
        .selectExpr("token", "CAST(cnt AS BIGINT) AS cnt")
    },

    // per-source curation report: docs / dup rate / volume per source,
    // the table a pipeline reads to set per-source sampling weights
    // URL canonicalization + registered-domain rollup: URLs synthesized
    // deterministically from doc_id (the multimodal pattern — both
    // engines build the identical strings), exercising every contract
    // clause: case, fragments, default/nondefault ports, tracking
    // params, param sort, trailing slash, co.uk registered domains
    // full canonicalization replay: same synthesized strings, then the
    // documented contract step by step (scheme/host lower, fragment off,
    // default-port strip, tracking filter + byte sort, path normalize)
    Gate("q_url_canon", """
      WITH u AS (SELECT concat(
               CASE WHEN doc_id % 3 = 0 THEN 'HTTP://' ELSE 'https://' END,
               CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END,
               'Site', CAST(doc_id % 50 AS VARCHAR), '.',
               CASE WHEN doc_id % 5 = 0 THEN 'co.uk' ELSE 'com' END,
               CASE WHEN doc_id % 7 = 0 THEN ':443'
                    WHEN doc_id % 7 = 1 THEN ':8080' ELSE '' END,
               '/Page/', CAST(doc_id % 100 AS VARCHAR),
               CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END,
               CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x&z=1&a=2'
                    WHEN doc_id % 3 = 1 THEN '?a=2&z=1' ELSE '' END,
               CASE WHEN doc_id % 11 = 0 THEN '#frag' ELSE '' END) AS url
             FROM documents),
      p AS (SELECT url, lower(split_part(url, '://', 1)) AS scheme,
                   split_part(split_part(url, '://', 2), '#', 1) AS nofrag
            FROM u),
      q AS (SELECT *, split_part(nofrag, '?', 1) AS bq,
                   CASE WHEN contains(nofrag, '?')
                        THEN substr(nofrag, length(split_part(nofrag, '?', 1)) + 2)
                        ELSE '' END AS query
            FROM p),
      h AS (SELECT *, split_part(bq, '/', 1) AS hostport FROM q),
      h1 AS (SELECT *, string_split(hostport, '@')[-1] AS hp FROM h),
      h2 AS (SELECT *,
                    CASE WHEN starts_with(hp, '[')
                         THEN lower(split_part(hp, ']', 1) || ']')
                         ELSE lower(split_part(hp, ':', 1)) END AS host,
                    CASE WHEN starts_with(hp, '[')
                         THEN CASE WHEN contains(hp, ']:')
                                   THEN string_split(hp, ']:')[-1] ELSE '' END
                         ELSE CASE WHEN contains(hp, ':')
                                   THEN split_part(hp, ':', 2) ELSE '' END END AS port,
                    substr(bq, length(hostport) + 1) AS rawpath
             FROM h1),
      h3 AS (SELECT *, CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS p0 FROM h2),
      h4 AS (SELECT *,
                    CASE WHEN p0 <> '/' AND p0 LIKE '%/'
                         THEN substr(p0, 1, length(p0) - 1) ELSE p0 END AS path,
                    array_to_string(list_sort(list_filter(string_split(query, '&'),
                      x -> x <> '' AND NOT (starts_with(x, 'utm_') OR starts_with(x, 'fbclid=')
                        OR starts_with(x, 'gclid=') OR starts_with(x, 'msclkid=')
                        OR starts_with(x, 'mc_eid=') OR starts_with(x, 'igshid=')
                        OR starts_with(x, 'ref=')))), '&') AS qs
             FROM h3),
      canon AS (SELECT host,
                  scheme || '://' || host ||
                  CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
                         OR (scheme = 'https' AND port = '443'))
                       THEN ':' || port ELSE '' END ||
                  path ||
                  CASE WHEN qs <> '' THEN '?' || qs ELSE '' END AS curl
                FROM h4),
      dom AS (SELECT curl,
                 CASE WHEN len(string_split(host, '.')) <= 1 THEN host
                      WHEN starts_with(host, '[') THEN host
                      WHEN regexp_matches(host, '^[0-9.]+$') THEN host
                      WHEN len(string_split(host, '.')) >= 3 AND
                           (string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1])
                             IN ('co.uk','org.uk','ac.uk','gov.uk','com.au','net.au','org.au',
                                 'co.jp','ne.jp','or.jp','com.br','com.cn','com.mx','co.in',
                                 'co.nz','co.za','com.sg','com.tr')
                      THEN string_split(host, '.')[-3] || '.' || string_split(host, '.')[-2]
                             || '.' || string_split(host, '.')[-1]
                      ELSE string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
                 END AS domain
              FROM canon)
      SELECT domain, CAST(COUNT(*) AS BIGINT) AS pages,
             CAST(COUNT(DISTINCT curl) AS BIGINT) AS distinct_urls,
             CAST(COUNT(*) - COUNT(DISTINCT curl) AS BIGINT) AS url_duplicates
      FROM dom GROUP BY domain ORDER BY domain""") { (s, _) =>
      val urls = s.table("documents").select(expr(
        """concat(
               CASE WHEN doc_id % 3 = 0 THEN 'HTTP://' ELSE 'https://' END,
               CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END,
               'Site', CAST(doc_id % 50 AS STRING), '.',
               CASE WHEN doc_id % 5 = 0 THEN 'co.uk' ELSE 'com' END,
               CASE WHEN doc_id % 7 = 0 THEN ':443'
                    WHEN doc_id % 7 = 1 THEN ':8080' ELSE '' END,
               '/Page/', CAST(doc_id % 100 AS STRING),
               CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END,
               CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x&z=1&a=2'
                    WHEN doc_id % 3 = 1 THEN '?a=2&z=1' ELSE '' END,
               CASE WHEN doc_id % 11 = 0 THEN '#frag' ELSE '' END)""").as("url"))
      UrlOps.domainReport(urls, "url").orderBy("domain")
    },

    // consistent pseudonymization: every distinct email -> a stable
    // user_<md5-8>@redacted.invalid token, longest-first replace fold;
    // every 11th doc carries the substring-hazard pair (a@b.co inside
    // xa@b.co) so the ordering is exercised live
    // pseudonymize replay: identical payload synthesis, the same
    // longest-first (lpad key) literal-replace fold, token arithmetic via
    // DuckDB's own md5/list_reduce — the whole transform replayed
    Gate("q_pseudonymize", s"""
      WITH d AS (SELECT doc_id, source,
          text || ' contact admin' || CAST(doc_id % 5 AS VARCHAR) || '@example.com' ||
          CASE WHEN doc_id % 11 = 0 THEN ' a@b.co xa@b.co' ELSE '' END AS t
        FROM documents),
      f AS (SELECT doc_id, source, t,
          list_distinct(regexp_extract_all(t,
            '${graft.operators.TextAnalysis.EmailPattern}')) AS found
        FROM d),
      p AS (SELECT doc_id, source,
          CASE WHEN len(found) <= 1000 THEN
            list_reduce(
              list_prepend(t,
                list_transform(
                  list_sort(list_transform(found,
                    e -> lpad(CAST(9999 - length(e) AS VARCHAR), 4, '0') || e)),
                  x -> substr(x, 5))),
              (acc, e) -> replace(acc, e,
                'user_' || substr(md5(e), 1, 8) || '@redacted.invalid'))
          ELSE regexp_replace(t, '${graft.operators.TextAnalysis.EmailPattern}',
            'user_overflow@redacted.invalid', 'g') END AS t2
        FROM f)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(SUM(length(t2)) AS BIGINT) AS chars,
             CAST(COUNT(DISTINCT md5(t2)) AS BIGINT) AS distinct_texts,
             CAST(SUM((length(t2) - length(replace(t2, '@redacted.invalid', ''))) // 17)
               AS BIGINT) AS pseudo_hits
      FROM p GROUP BY source ORDER BY source""") { (s, _) =>
      val docs = s.table("documents").select(col("doc_id"), col("source"),
        concat(col("text"),
          lit(" contact admin"), (col("doc_id") % 5).cast("string"),
          lit("@example.com"),
          when(col("doc_id") % 11 === 0, lit(" a@b.co xa@b.co"))
            .otherwise(lit(""))).as("text"))
      docs.select(col("source"),
          TextAnalysis.pseudonymizeEmails(col("text")).as("t2"))
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("docs"),
          sum(length(col("t2"))).cast("long").as("chars"),
          countDistinct(md5(col("t2"))).cast("long").as("distinct_texts"),
          sum(((length(col("t2")) -
            length(replace(col("t2"), lit("@redacted.invalid"), lit(""))))
            / lit(17)).cast("long")).cast("long").as("pseudo_hits"))
        .orderBy("source")
    },

    // exact-size deterministic sample: the 500 smallest content-hash
    // keys — TakeOrdered plan (bounded heap/partition), no global sort
    // exact-size sample replay: same md5 order, same tie-break, LIMIT n
    Gate("q_sample_take", """
      SELECT doc_id, source FROM (
        SELECT doc_id, source FROM documents
        ORDER BY md5(text), doc_id LIMIT 500) t
      ORDER BY doc_id""") { (s, _) =>
      Sampling.deterministicTake(s.table("documents"), "text", 500, "doc_id")
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },

    // per-source token-budget curation: greedy-prefix admission in
    // (toks DESC, doc_id) priority order under a 2000-token budget per
    // source; ONE stratum-keyed window cumsum
    // token-budget replay: window cumsum in the same (toks DESC, doc_id)
    // order, prefix kept while cum <= budget
    Gate("q_token_budget", """
      WITH t AS (SELECT doc_id, source,
          CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
            x -> x <> '')) AS BIGINT) AS toks
        FROM documents),
      c AS (SELECT doc_id, source, toks,
          SUM(toks) OVER (PARTITION BY source ORDER BY toks DESC, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum FROM t)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS kept_docs,
             CAST(SUM(toks) AS BIGINT) AS kept_tokens
      FROM c WHERE cum <= 2000 GROUP BY source ORDER BY source""") { (s, _) =>
      val docs = s.table("documents").select(col("doc_id"), col("source"),
        size(filter(split(lower(col("text")), "\\s+"), t => t =!= lit("")))
          .cast("long").as("toks"))
      Sampling.tokenBudgetTake(docs, "source", "toks", 2000L,
          Seq(col("toks").desc, col("doc_id")))
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("kept_docs"),
          sum("toks").cast("long").as("kept_tokens"))
        .orderBy("source")
    },

    // encoding-damage (mojibake) screen: cp1252 artifacts injected into
    // every 7th doc with identical string synthesis in both engines;
    // hits counted by pure replace/length arithmetic (no regex dialect)
    // mojibake replay: identical payload synthesis via chr() code points,
    // hits via the same replace/length arithmetic — the artifact list and
    // the SQL are generated from ONE source (TextAnalysis.MojibakeArtifacts)
    Gate("q_mojibake", {
      def chrs(s: String) = s.map(c => s"chr(${c.toInt})").mkString(" || ")
      val arts = graft.operators.TextAnalysis.MojibakeArtifacts
      val hits = arts.map(s =>
        s"(length(t2) - length(replace(t2, ${chrs(s)}, ''))) // ${s.length}")
        .mkString("(", " + ", ")")
      val payload = s"' caf' || ${chrs("\u00c3\u00a9")} || ' don' || " +
        s"${chrs("\u00e2\u20ac\u2122")} || 't' || ${chrs("\u00c2\u00a0")} || 'end'"
      s"""
      WITH d AS (SELECT doc_id, source,
          CASE WHEN doc_id % 7 = 0 THEN text || $payload ELSE text END AS t2
        FROM documents),
      r AS (SELECT doc_id, source, $hits AS h, length(t2) AS chars FROM d),
      p AS (SELECT doc_id, source, h,
                   CASE WHEN chars = 0 THEN 0 ELSE h * 1000000 // chars END AS ppm
            FROM r)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(SUM(CASE WHEN h > 0 THEN 1 ELSE 0 END) AS BIGINT) AS damaged_docs,
             CAST(SUM(h) AS BIGINT) AS hits,
             CAST(MAX(ppm) AS BIGINT) AS max_ppm
      FROM p GROUP BY source ORDER BY source"""
    }) { (s, _) =>
      val docs = s.table("documents").select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit("\u0020caf\u00c3\u00a9 don" +
            "\u00e2\u20ac\u2122t\u00c2\u00a0end")))
          .otherwise(col("text")).as("text"))
      TextAnalysis.mojibakeReport(docs, "text", "doc_id")
        .join(s.table("documents").select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("docs"),
          sum(when(col("mojibake_hits") > 0, 1L).otherwise(0L))
            .cast("long").as("damaged_docs"),
          sum(col("mojibake_hits")).cast("long").as("hits"),
          max(col("mojibake_ppm")).cast("long").as("max_ppm"))
        .orderBy("source")
    },

    // dataset-card corpus summary: one (metric, value) block
    Gate("q_corpus_report", """
      WITH a AS (SELECT
        CAST(COUNT(*) AS BIGINT) AS docs,
        CAST(SUM(length(text)) AS BIGINT) AS chars,
        CAST(SUM(len(list_filter(string_split_regex(lower(text), '\s+'),
          x -> x <> ''))) AS BIGINT) AS tokens,
        CAST(COUNT(DISTINCT source) AS BIGINT) AS sources,
        CAST(COUNT(DISTINCT lang) AS BIGINT) AS languages,
        CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS distinct_texts,
        CAST(SUM(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS empty_docs,
        CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_docs
        FROM documents)
      SELECT 'docs' AS metric, docs AS value FROM a
      UNION ALL SELECT 'chars', chars FROM a
      UNION ALL SELECT 'tokens', tokens FROM a
      UNION ALL SELECT 'sources', sources FROM a
      UNION ALL SELECT 'languages', languages FROM a
      UNION ALL SELECT 'distinct_texts', distinct_texts FROM a
      UNION ALL SELECT 'empty_docs', empty_docs FROM a
      UNION ALL SELECT 'null_docs', null_docs FROM a
      UNION ALL SELECT 'duplicate_docs', docs - null_docs - distinct_texts FROM a
      ORDER BY metric""") { (s, _) =>
      TextAnalysis.corpusReport(s.table("documents"), "text", "doc_id",
          "lang", "source")
        .orderBy("metric")
    },

    // dense global ids ordered by (source, doc_id): range partition +
    // zipWithIndex; oracle replays row_number() - 1
    Gate("q_dense_ids", """
      SELECT doc_id, source,
             CAST(row_number() OVER (ORDER BY source, doc_id) - 1 AS BIGINT) AS seq_id
      FROM documents ORDER BY seq_id""") { (s, _) =>
      graft.operators.Ids.assignSequential(
          s.table("documents").select("doc_id", "source"),
          Seq("source", "doc_id"))
        .select(col("doc_id"), col("source"), col("seq_id"))
        .orderBy("seq_id")
    },

    // JSONL quarantine ingest: hand-built JSON lines (identical string
    // construction in both engines), every 17th truncated-corrupt;
    // PERMISSIVE parse splits good rows from quarantined raw lines
    // the same hand-built lines; good rows are the %17!=0 docs, the
    // quarantine is the truncated lines (raw text lands in the corrupt
    // column, so its length is the truncated length)
    Gate("q_jsonl_ingest", """
      WITH l AS (SELECT doc_id, source,
        concat('{"doc_id": ', CAST(doc_id AS VARCHAR), ', "source": "', source,
               '", "n_chars": ', CAST(n_chars AS VARCHAR), '}') AS line
        FROM documents),
      g AS (SELECT CAST(COUNT(*) AS BIGINT) AS good_rows,
                   CAST(SUM(doc_id) AS BIGINT) AS id_sum,
                   CAST(COUNT(DISTINCT source) AS BIGINT) AS sources
            FROM l WHERE doc_id % 17 <> 0),
      b AS (SELECT CAST(COUNT(*) AS BIGINT) AS quarantined,
                   CAST(SUM(length(line) - 5) AS BIGINT) AS quarantine_chars
            FROM l WHERE doc_id % 17 = 0)
      SELECT good_rows, id_sum, sources, quarantined, quarantine_chars FROM g, b""") { (s, _) =>
      val lines = s.table("documents")
        .select(concat(lit("{\"doc_id\": "), col("doc_id").cast("string"),
          lit(", \"source\": \""), col("source"), lit("\", \"n_chars\": "),
          col("n_chars").cast("string"), lit("}")).as("l"),
          col("doc_id"))
        .select(when(col("doc_id") % 17 === 0,
          col("l").substr(lit(1), length(col("l")) - lit(5)))
          .otherwise(col("l")).as("line"))
      val tmp = streaming.FileStreams.createTempDir("graft_jsonl_").toString
      lines.coalesce(4).write.mode("overwrite").text(tmp)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_chars",
          org.apache.spark.sql.types.LongType)))
      val (good, bad) = graft.sources.JsonlIngest.ingest(s, tmp, schema)
      val res = good.agg(count(lit(1)).cast("long").as("good_rows"),
          sum("doc_id").cast("long").as("id_sum"),
          countDistinct("source").cast("long").as("sources"))
        .crossJoin(bad.agg(count(lit(1)).cast("long").as("quarantined"),
          sum(length(col("raw_line"))).cast("long").as("quarantine_chars")))
      val out = localResult(s, res) // 1-row checksum; frees the staged text
      deleteDirs(tmp)
      out
    },

    // strict PII scrub on deterministically injected payloads: the
    // engine must pass the valid card, keep the Luhn-failed one, catch
    // both phone shapes and leave bare digit runs alone
    // expected-output construction: the oracle knows which injected
    // payload each doc got and what the strict scrub must do to it (the
    // Luhn decision itself is pinned by the fixed valid/invalid pair)
    Gate("q_redact_strict", """
      SELECT doc_id, substring(md5(concat(text,
        CASE CAST(doc_id % 5 AS INT)
          WHEN 0 THEN ' card <CARD> end'
          WHEN 1 THEN ' bogus 4532015112830367 end'
          WHEN 2 THEN ' call <PHONE> end'
          WHEN 3 THEN ' dial <PHONE> end'
          ELSE ' mail <EMAIL> end'
        END)), 1, 16) AS redacted_md5
      FROM documents ORDER BY doc_id""") { (s, _) =>
      val withPii = s.table("documents").select(col("doc_id"), concat(col("text"), expr(
        """CASE CAST(doc_id % 5 AS INT)
               WHEN 0 THEN ' card 4532 0151 1283 0366 end'
               WHEN 1 THEN ' bogus 4532015112830367 end'
               WHEN 2 THEN ' call +1 415 555 0123 end'
               WHEN 3 THEN ' dial 555-867-5309 end'
               ELSE concat(' mail u', CAST(doc_id AS STRING), '@ex.com end')
             END""")).as("t"))
      withPii.select(col("doc_id"),
          substring(md5(TextAnalysis.redactPiiStrict(col("t"))), 1, 16).as("redacted_md5"))
        .orderBy("doc_id")
    },

    // CSV quarantine ingest: strict-arity parse — every 13th line is
    // written SHORT (two fields) and must land verbatim in quarantine
    Gate("q_csv_ingest", """
      WITH g AS (SELECT CAST(COUNT(*) AS BIGINT) AS good_rows,
                        CAST(SUM(doc_id) AS BIGINT) AS id_sum,
                        CAST(SUM(n_chars) AS BIGINT) AS chars_sum
                 FROM documents WHERE doc_id % 13 <> 0),
      b AS (SELECT CAST(COUNT(*) AS BIGINT) AS quarantined,
                   CAST(SUM(length(CAST(doc_id AS VARCHAR)) + 1 + length(source)) AS BIGINT)
                     AS quarantine_chars
            FROM documents WHERE doc_id % 13 = 0)
      SELECT good_rows, id_sum, chars_sum, quarantined, quarantine_chars FROM g, b""") { (s, _) =>
      val lines = s.table("documents")
        .select(when(col("doc_id") % 13 === 0,
            concat(col("doc_id").cast("string"), lit(","), col("source")))
          .otherwise(concat(col("doc_id").cast("string"), lit(","), col("source"),
            lit(","), col("n_chars").cast("string"))).as("line"))
      val tmp = streaming.FileStreams.createTempDir("graft_csv_").toString
      lines.coalesce(4).write.mode("overwrite").text(tmp)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_chars",
          org.apache.spark.sql.types.LongType)))
      val (good, bad) = graft.sources.JsonlIngest.ingestCsv(s, tmp, schema)
      val res = good.agg(count(lit(1)).cast("long").as("good_rows"),
          sum("doc_id").cast("long").as("id_sum"),
          sum("n_chars").cast("long").as("chars_sum"))
        .crossJoin(bad.agg(count(lit(1)).cast("long").as("quarantined"),
          sum(length(col("raw_line"))).cast("long").as("quarantine_chars")))
      val out = localResult(s, res) // 1-row checksum; frees the staged text
      deleteDirs(tmp)
      out
    },

    // readability: Flesch reading ease with heuristic vowel-group
    // syllables, per-doc integers + e3 score replayed exactly
    Gate("q_readability", """
      WITH t AS (SELECT doc_id, text,
        list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        FROM documents),
      m AS (SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS words,
        GREATEST(1, CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS sentences,
        CAST(list_sum(list_prepend(CAST(0 AS BIGINT), list_transform(toks, x ->
          GREATEST(1, CAST(len(regexp_extract_all(x, '[aeiouy]+')) AS BIGINT))))) AS BIGINT)
          AS syllables
        FROM t)
      SELECT doc_id, words, sentences, syllables,
             CASE WHEN words = 0 THEN NULL
                  ELSE CAST(round((206.835
                    - 1.015 * CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE)
                    - 84.6 * CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE))
                    * 1000.0) AS BIGINT) END AS flesch_e3
      FROM m ORDER BY doc_id""") { (s, _) =>
      TextAnalysis.readability(s.table("documents"), "text", "doc_id")
        .orderBy("doc_id")
    },

    // HTML -> text extraction on synthesized pages (script/style with
    // embedded '<', entities incl. double-escapes, block breaks);
    // per-doc md5 + length of the extraction, replayed byte for byte
    // identical page synthesis, then the same regex pipeline with RE2 +
    // the 'g' flag; entity decodes are plain replaces with &amp; LAST so
    // double-escapes stay literal in both engines
    Gate("q_html_extract", """
      WITH pages AS (SELECT doc_id,
        concat('<html><head><title>', source, '</title>',
               '<style type="text/css">body{margin:0}</style>',
               '<script>if(1<2){track()}</script></head>',
               '<body><h1>Doc ', CAST(doc_id AS VARCHAR), '</h1><p>', text,
               '</p><ul><li>Tag &amp;amp; entity &lt;test&gt;</li></ul>',
               '<br/>&nbsp;end</body></html>') AS html
        FROM documents),
      s1 AS (SELECT doc_id, regexp_replace(html,
               '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g') AS t FROM pages),
      s2 AS (SELECT doc_id, regexp_replace(t,
               '(?i)</(p|div|li|h[1-6]|tr|table|ul|ol|blockquote)>|<br[^>]*>',
               chr(10), 'g') AS t FROM s1),
      s3 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s2),
      s4 AS (SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(regexp_replace(regexp_replace(t,
                 '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
                 '&#39;', chr(39), 'g'), '&apos;', chr(39), 'g'),
                 '&nbsp;', ' ', 'g'), '&amp;', '&', 'g') AS t FROM s3),
      s5 AS (SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g')) AS t FROM s4)
      SELECT doc_id, CAST(length(t) AS BIGINT) AS chars,
             substring(md5(t), 1, 16) AS extract_md5
      FROM s5 ORDER BY doc_id""") { (s, _) =>
      val pages = s.table("documents").select(col("doc_id"), expr(
        """concat('<html><head><title>', source, '</title>',
                    '<style type="text/css">body{margin:0}</style>',
                    '<script>if(1<2){track()}</script></head>',
                    '<body><h1>Doc ', CAST(doc_id AS STRING), '</h1><p>', text,
                    '</p><ul><li>Tag &amp;amp; entity &lt;test&gt;</li></ul>',
                    '<br/>&nbsp;end</body></html>')""").as("html"))
      pages.select(col("doc_id"),
          TextAnalysis.extractHtmlText(col("html")).as("t"))
        .select(col("doc_id"), length(col("t")).cast("long").as("chars"),
          substring(md5(col("t")), 1, 16).as("extract_md5"))
        .orderBy("doc_id")
    },

    Gate("q_source_report", """
      SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS distinct_docs,
             CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS duplicate_docs,
             CAST(SUM(length(text)) AS BIGINT) AS chars_sum,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS words_sum,
             CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS tokens_sum
      FROM documents GROUP BY source ORDER BY source""") { (s, _) =>
      TextAnalysis.sourceReport(s.table("documents"), "text", "source")
        .selectExpr("source", "CAST(docs AS BIGINT) AS docs",
          "CAST(distinct_docs AS BIGINT) AS distinct_docs",
          "CAST(duplicate_docs AS BIGINT) AS duplicate_docs",
          "CAST(chars_sum AS BIGINT) AS chars_sum",
          "CAST(words_sum AS BIGINT) AS words_sum",
          "CAST(tokens_sum AS BIGINT) AS tokens_sum")
        .orderBy("source")
    },

    // Gopher-style repetition quality filters. The gate sums only
    // INTEGER per-doc quantities (counts, char coverages, a modular
    // bigram hash) — no per-doc float rounding to go cross-engine-flaky;
    // the fraction columns the API exposes are these integers divided.
    // Gopher repetition filters replayed independently: line/word distinct
    // counts via list_distinct, top word-bigram per doc via the same
    // count-DESC-then-bigram-ASC window, all-gate-columns integer
    Gate("q_repetition", """
      WITH t AS (
        SELECT doc_id, string_split(text, chr(10)) AS lns,
               string_split_regex(lower(text), '\s+') AS toks
        FROM documents),
      base AS (
        SELECT doc_id, len(lns) AS lines, len(toks) AS words,
               len(lns) - len(list_distinct(lns)) AS dup_lines,
               len(toks) - len(list_distinct(toks)) AS dup_words
        FROM t),
      bg AS (
        SELECT doc_id, toks[i] || ' ' || toks[i+1] AS b
        FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
              FROM t WHERE len(toks) >= 2)),
      cnt AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b),
      top AS (
        SELECT doc_id, b, c FROM (
          SELECT doc_id, b, c,
                 row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, b ASC) AS rn
          FROM cnt) WHERE rn = 1)
      SELECT m.docs, m.words_sum, m.dup_words_sum, m.lines_sum, m.dup_lines_sum,
             p.tb_cnt_sum, p.tb_chars_sum, p.tb_hash_sum
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS docs,
                   CAST(SUM(words) AS BIGINT) AS words_sum,
                   CAST(SUM(dup_words) AS BIGINT) AS dup_words_sum,
                   CAST(SUM(lines) AS BIGINT) AS lines_sum,
                   CAST(SUM(dup_lines) AS BIGINT) AS dup_lines_sum
            FROM base) m,
           (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS tb_cnt_sum,
                   CAST(COALESCE(SUM(c * length(b)), 0) AS BIGINT) AS tb_chars_sum,
                   CAST(COALESCE(SUM(CAST(('0x' || substring(md5(b), 1, 15)) AS BIGINT) % 1000000000), 0) AS BIGINT) AS tb_hash_sum
            FROM top) p""") { (s, _) =>
      TextAnalysis.repetitionMetrics(s.table("documents"), "text", "doc_id")
        .agg(count(lit(1)).cast("long").as("docs"),
          sum("words").cast("long").as("words_sum"),
          sum("dup_words").cast("long").as("dup_words_sum"),
          sum("lines").cast("long").as("lines_sum"),
          sum("dup_lines").cast("long").as("dup_lines_sum"),
          coalesce(sum("top_bigram_count"), lit(0L)).cast("long").as("tb_cnt_sum"),
          coalesce(sum(col("top_bigram_count") * length(col("top_bigram"))), lit(0L))
            .cast("long").as("tb_chars_sum"),
          coalesce(sum(conv(substring(md5(col("top_bigram")), 1, 15), 16, 10)
            .cast("long") % 1000000000L), lit(0L)).cast("long").as("tb_hash_sum"))
    },
  )
}
