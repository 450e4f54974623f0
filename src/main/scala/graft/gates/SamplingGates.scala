package graft
package gates

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Packing, Sampling, TextAnalysis}
import Gate.localResult
import DedupGates.{minhashPairsStagePath, sharedMinhashPairs}

/** Deterministic sampling, splits and mixing: content-hash driven, so
  * every rerun draws the same rows.
  */
object SamplingGates {

  val gates: Seq[Gate] = Seq(
    // deterministic content-hash sample: the md5-prefix uniform weight is
    // recomputed exactly (60-bit hex prefix -> BIGINT -> double / 2^60)
    Gate("q_sample_det", """
      SELECT CAST(COUNT(*) AS BIGINT) AS kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM documents
      WHERE CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) / 1152921504606846976.0 < 0.25""") { (s, _) =>
      Sampling.deterministicSample(s.table("documents"), "text", 0.25)
        .agg(count(lit(1)).cast("long").as("kept"),
          sum("doc_id").cast("long").as("id_sum"))
    },

    // deterministic train/val/test assignment: content-hash thresholds,
    // append-stable, salt-decorrelated from the sampling decisions
    Gate("q_split", """
      WITH u AS (
        SELECT doc_id,
               CAST(('0x' || substring(md5(text || 'graft-split'), 1, 15)) AS BIGINT)
                 / 1152921504606846976.0 AS u
        FROM documents)
      SELECT CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split,
             CAST(COUNT(*) AS BIGINT) AS docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM u GROUP BY 1 ORDER BY 1""") { (s, _) =>
      Sampling.assignSplits(s.table("documents"), "text")
        .groupBy("split")
        .agg(count(lit(1)).cast("long").as("docs"),
          sum("doc_id").cast("long").as("id_sum"))
        .orderBy("split")
    },

    // LEAKAGE-SAFE split (r13): exact-duplicate clusters land wholly in
    // one split — split decision hashes the group label, singletons
    // their own id. The gate hard-fails if ANY group spans two splits
    // (the eval-contamination invariant, checked live), then rolls up
    // per split; the oracle replays clusters (recursive CTE), the
    // grouped hash split, and the rollup.
    // leakage-safe split: exact-dup clusters via the recursive reach CTE
    // (q_dedup_clusters' replay), split hashed on the group key
    // (min-label, singletons their own doc_id), same md5 thresholds
    Gate("q_leakage_split", """
      WITH RECURSIVE p AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2
        FROM documents a JOIN documents b
          ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id),
      e AS (SELECT id1 AS a, id2 AS b FROM p UNION SELECT id2, id1 FROM p),
      reach(src, dst) AS (
        SELECT a, a FROM e
        UNION
        SELECT r.src, e.b FROM reach r JOIN e ON e.a = r.dst),
      lab AS (SELECT src AS id, MIN(dst) AS label FROM reach GROUP BY src),
      u AS (
        SELECT d.doc_id,
               CAST(('0x' || substring(md5(
                 CAST(COALESCE(lab.label, d.doc_id) AS VARCHAR) || 'graft-split'), 1, 15)) AS BIGINT)
                 / 1152921504606846976.0 AS u
        FROM documents d LEFT JOIN lab ON lab.id = d.doc_id)
      SELECT CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split,
             CAST(COUNT(*) AS BIGINT) AS docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM u GROUP BY 1 ORDER BY 1""") { (s, _) =>
      val d = s.table("documents").select(col("doc_id"), md5(col("text")).as("h"))
      val pairs = d.as("a").join(d.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      val clusters = Dedup.nearDuplicateClusters(pairs)
      // persisted: the zero-leak audit below AND the returned rollup both
      // execute this relation — uncached, the documents⋈labels split join
      // ran twice per gate (guide §5: reuse beats recompute; lineage kept
      // so a post-clearCache re-execution still works)
      val out = Sampling.assignSplitsByGroup(s.table("documents"), "doc_id",
          clusters, "id", "label")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val leaked = out
        .join(clusters.withColumnRenamed("id", "doc_id"), Seq("doc_id"))
        .groupBy("label").agg(countDistinct(col("split")).as("ns"))
        .where(col("ns") > 1).count()
      require(leaked == 0,
        s"leakage-safe split LEAKED $leaked groups across splits")
      // materialize the <=3-row rollup from the still-cached split and
      // UNPERSIST before returning (round 16, advisor item): a returned
      // live plan left the corpus-sized cached relation pinned for any
      // non-harness caller — Bench's per-gate clearCache merely masked it
      val rollup = localResult(s, out.groupBy("split")
        .agg(count(lit(1)).cast("long").as("docs"),
          sum("doc_id").cast("long").as("id_sum"))
        .orderBy("split"))
      out.unpersist()
      rollup
    },

    // LEAKAGE-SAFE split over NEAR-duplicate clusters (r14): the leak
    // that motivates group-aware splitting is near-copies crossing
    // splits, so the groups here come from the REAL pipeline — portable
    // MinHash-LSH pairs -> connected components -> grouped hash split.
    // Same hard zero-leakage require as q_leakage_split; the oracle
    // replays components + split hash + rollup over the STAGED pair
    // artifact (verified pair-by-pair by q_minhash_near_dup's oracle).
    // near-dup leakage-safe split: components via recursive
    // min-reachable-id over the STAGED pair artifact (which
    // q_minhash_near_dup's oracle verifies pair-by-pair against its full
    // independent minhash replay), then the SAME grouped md5 split hash
    // and rollup as q_leakage_split — the oracle no longer recomputes an
    // O(corpus) minhash chain single-node (the sf1cd timeout class)
    Gate("q_leakage_split_near", s"""
      WITH RECURSIVE
      p AS (SELECT id1, id2 FROM read_parquet('$minhashPairsStagePath/*.parquet')),
      e AS (SELECT id1 AS a, id2 AS b FROM p UNION SELECT id2, id1 FROM p),
      reach(src, dst) AS (
        SELECT a, a FROM e
        UNION
        SELECT r.src, e.b FROM reach r JOIN e ON e.a = r.dst),
      lab AS (SELECT src AS id, MIN(dst) AS label FROM reach GROUP BY src),
      u AS (
        SELECT d.doc_id,
               CAST(('0x' || substring(md5(
                 CAST(COALESCE(lab.label, d.doc_id) AS VARCHAR) || 'graft-split'), 1, 15)) AS BIGINT)
                 / 1152921504606846976.0 AS u
        FROM documents d LEFT JOIN lab ON lab.id = d.doc_id)
      SELECT CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split,
             CAST(COUNT(*) AS BIGINT) AS docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM u GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      // pairs from the STAGED shared relation (verified pair-by-pair by
      // q_minhash_near_dup's oracle): both engines read the same parquet,
      // so the DuckDB replay runs components+split over the artifact
      // instead of recomputing an O(corpus) minhash chain single-node —
      // the sf1cd oracle-timeout class (SCALE.md r14) and ~5 s of
      // per-gate recompute at sf0.1 both gone
      val pairs = sharedMinhashPairs(s, dir).select(col("id1"), col("id2"))
      val clusters = Dedup.nearDuplicateClusters(pairs)
      // persisted for the audit + rollup double execution (see
      // q_leakage_split)
      val out = Sampling.assignSplitsByGroup(s.table("documents"), "doc_id",
          clusters, "id", "label")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val leaked = out
        .join(clusters.withColumnRenamed("id", "doc_id"), Seq("doc_id"))
        .groupBy("label").agg(countDistinct(col("split")).as("ns"))
        .where(col("ns") > 1).count()
      require(leaked == 0,
        s"near-dup leakage-safe split LEAKED $leaked clusters across splits")
      // <=3-row rollup collected + unpersist, as in q_leakage_split
      val rollup = localResult(s, out.groupBy("split")
        .agg(count(lit(1)).cast("long").as("docs"),
          sum("doc_id").cast("long").as("id_sum"))
        .orderBy("split"))
      out.unpersist()
      rollup
    },

    // target-mixture rebalance: integer-ppm quota arithmetic, binding
    // stratum fixes the scale, per-stratum content-hash prefix keeps
    // the mix exact without upsampling
    // temperature-flattened mixture weights (sampling-alpha 0.6):
    // p_i ~ n_i^alpha with integer e6 weights and quotas
    // integer-ppm quota replay: binding stratum scale -> per-stratum
    // take -> content-hash prefix, all integer division
    Gate("q_temperature_mix", """
      WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
                        pow(CAST(COUNT(*) AS DOUBLE), 0.6) AS pw
                 FROM documents GROUP BY source),
      t AS (SELECT SUM(pw) AS tot FROM c)
      SELECT source, docs,
             CAST(round(pw / t.tot * 1e6) AS BIGINT) AS weight_ppm,
             CAST(round(pw / t.tot * 1e6) AS BIGINT) * 1000000 // 1000000 AS quota
      FROM c, t ORDER BY source""") { (s, _) =>
      Sampling.temperatureWeights(s.table("documents"), "source",
          alpha = 0.6, budget = 1000000L)
        .orderBy("source")
    },

    Gate("q_domain_mix", """
      WITH t AS (SELECT * FROM (VALUES ('src0', 400000), ('src1', 300000),
                                       ('src2', 200000), ('src3', 100000)) v(source, ppm)),
      c AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source),
      j AS (SELECT t.source, t.ppm, c.cnt FROM t JOIN c USING (source)),
      s AS (SELECT MIN(cnt * 1000000 // ppm) AS scale FROM j),
      q AS (SELECT source, (SELECT scale FROM s) * ppm // 1000000 AS take FROM j),
      r AS (SELECT d.source, d.doc_id,
                   row_number() OVER (PARTITION BY d.source
                     ORDER BY md5(d.text), d.doc_id) AS rn
            FROM documents d JOIN t USING (source))
      SELECT r.source, CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(SUM(r.doc_id) AS BIGINT) AS id_sum
      FROM r JOIN q ON r.source = q.source AND r.rn <= q.take
      GROUP BY r.source ORDER BY r.source""") { (s, _) =>
      Sampling.rebalanceMix(s.table("documents"), "source", "text", "doc_id",
          Seq("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1))
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("docs"),
          sum("doc_id").cast("long").as("id_sum"))
        .orderBy("source")
    },

    // contiguous block packing into 512-token sequences per source:
    // the assignment checksum (doc_id * (seq+1)) pins every block id,
    // seq_pos sums pin the in-block offsets
    // window-cumsum replay of contiguous block packing: exclusive cumsum
    // in content-hash order, integer-divided by the 512-token budget
    Gate("q_pack", """
      WITH t AS (
        SELECT doc_id, source, text,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS tok
        FROM documents),
      c AS (
        SELECT doc_id, source, tok,
               SUM(tok) OVER (PARTITION BY source ORDER BY md5(text), doc_id
                              ROWS UNBOUNDED PRECEDING) - tok AS cum
        FROM t),
      p AS (SELECT source, doc_id, tok, cum // 512 AS seq,
                   cum - (cum // 512) * 512 AS pos FROM c)
      SELECT source, CAST(COUNT(DISTINCT seq) AS BIGINT) AS seqs,
             CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(SUM(tok) AS BIGINT) AS tokens,
             CAST(SUM(doc_id * (seq + 1)) AS BIGINT) AS assign_sum,
             CAST(SUM(pos) AS BIGINT) AS pos_sum
      FROM p GROUP BY source ORDER BY source""") { (s, _) =>
      Packing.packSequences(s.table("documents"), "source",
          expr("token_count(text)"), "text", "doc_id", budget = 512L)
        .groupBy("source")
        .agg(countDistinct("seq_id").cast("long").as("seqs"),
          count(lit(1)).cast("long").as("docs"),
          sum(expr("token_count(text)")).cast("long").as("tokens"),
          sum(col("doc_id") * (col("seq_id") + lit(1L))).cast("long").as("assign_sum"),
          sum("seq_pos").cast("long").as("pos_sum"))
        .orderBy("source")
    },

    // end-to-end curation pipeline: quality gate -> language filter ->
    // exact dedup -> deterministic split assignment, composed from the
    // SAME operators the per-component gates verify. The oracle chains
    // the per-component SQL replays, so every intermediate row set (not
    // just the final counts) must agree for the hashes to match.
    // chained replay of the full curation pipeline: quality formula ->
    // stopword-argmax language id -> keep-first dedup -> salted-hash split
    Gate("q_curation", {
      def inList(lang: String) =
        graft.operators.LangId.stopwords(lang).map(w => s"'$w'").mkString("[", ", ", "]")
      def hits(lang: String) =
        s"len(list_filter(string_split_regex(lower(text), '\\s+'), x -> list_contains(${inList(lang)}, x))) AS $lang"
      s"""
      WITH m AS (
        SELECT doc_id, text,
               CAST(length(text) AS DOUBLE) AS chars,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS words,
               CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) AS punct,
               CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                 x -> list_contains(['the','a','an','and','or','of','in','to','is','it','that','for','on','with','as'], x))) AS DOUBLE) AS sw_hits,
               CAST(len(string_split_regex(lower(text), '\\s+')) AS DOUBLE) AS toks
        FROM documents),
      filt AS (
        SELECT doc_id, text FROM m
        WHERE least(1.0, greatest(0.0,
                0.4 * least(words / 100.0, 1.0)
              + 0.3 * (1.0 - least(punct / greatest(chars, 1.0) * 5.0, 1.0))
              + 0.3 * least(sw_hits / greatest(toks, 1.0) * 4.0, 1.0))) >= 0.5),
      lh AS (
        SELECT doc_id, text, ${hits("de")}, ${hits("en")}, ${hits("es")}, ${hits("fr")}
        FROM filt),
      enl AS (
        SELECT doc_id, text FROM lh
        WHERE greatest(de, en, es, fr) > 0
          AND en = greatest(de, en, es, fr)
          AND fr < greatest(de, en, es, fr)
          AND es < greatest(de, en, es, fr)),
      ded AS (
        SELECT doc_id, text
        FROM (SELECT doc_id, text,
                     row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
              FROM enl) WHERE rn = 1),
      sp AS (
        SELECT doc_id, text,
               CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
        FROM (SELECT doc_id, text,
                     CAST(('0x' || substring(md5(text || 'graft-split'), 1, 15)) AS BIGINT)
                       / 1152921504606846976.0 AS u
              FROM ded))
      SELECT split, CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS tokens
      FROM sp GROUP BY split ORDER BY split"""
    }) { (s, _) =>
      val docs = s.table("documents")
      val scored = TextAnalysis.withQualityMetrics(docs, "text")
        .where(col("quality_score") >= 0.5)
      val en = scored.where(TextAnalysis.langId(col("text")) === "en")
      val deduped = Dedup.dropExactDuplicates(
        en.select("doc_id", "text"), "text", "doc_id")
      Sampling.assignSplits(deduped, "text")
        .groupBy("split")
        .agg(count(lit(1)).cast("long").as("docs"),
          sum("doc_id").cast("long").as("id_sum"),
          sum(expr("token_count(text)")).cast("long").as("tokens"))
        .orderBy("split")
    },

    Gate("q_sample_strat", """
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM (SELECT lang, doc_id,
              row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rn
            FROM documents)
      WHERE rn <= 50 GROUP BY lang ORDER BY lang""") { (s, _) =>
      Sampling.stratifiedTake(s.table("documents"), "lang", "text", 50, "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).cast("long").as("docs"),
          sum("doc_id").cast("long").as("id_sum"))
        .orderBy("lang")
    },

    // weighted (Efraimidis-Spirakis) variant, weight = document length;
    // the -ln(u)/w ranking keys are doubles in both engines, with random
    // 60-bit uniforms the min pairwise key gap is ~12 orders of magnitude
    // above ulp, and exact-duplicate texts (equal keys) fall through to
    // the doc_id tiebreak — deterministic either way
    Gate("q_sample_weighted", """
      WITH w AS (
        SELECT lang, doc_id,
               -ln(greatest(CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT)
                     / 1152921504606846976.0, 1e-18))
                 / greatest(CAST(length(text) AS DOUBLE), 1e-18) AS k
        FROM documents),
      r AS (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang ORDER BY k, doc_id) AS rn
            FROM w)
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM r WHERE rn <= 50 GROUP BY lang ORDER BY lang""") { (s, _) =>
      val docs = s.table("documents").withColumn("wt", length(col("text")).cast("double"))
      Sampling.weightedStratifiedTake(docs, "lang", "text", "wt", 50, "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).cast("long").as("docs"),
          sum("doc_id").cast("long").as("id_sum"))
        .orderBy("lang")
    },
  )
}
