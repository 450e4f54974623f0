package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Packing, Sampling, TextAnalysis}
import Gate.localResult
import DedupGates.{componentLabelCtes, exactDupPairs, exactDupPairsCte,
  minhashPairsStagePath, sharedMinhashPairs}

/** Deterministic sampling, splits and mixing: content-hash driven, so
  * every rerun draws the same rows.
  */
object SamplingGates {

  /** Docs and their doc_id sum per `key`, ordered by `key`. */
  private def docsPer(df: DataFrame, key: String): DataFrame =
    df.groupBy(key)
      .agg(count(lit(1)).cast("long").as("docs"), sum("doc_id").cast("long").as("id_sum"))
      .orderBy(key)

  /** A leakage-safe split gate: the components of the `(id1, id2)` pair
    * graph are the groups, the split hashes each doc's group label
    * (singletons their own id) with the same md5 thresholds as
    * `q_split`, and the gate hard-fails if ANY group spans two splits
    * (the eval-contamination invariant, checked live) before rolling up
    * per split. `pairsCte` declares the oracle's `p(id1, id2)` after
    * `WITH RECURSIVE`; `pairs` is the engine's pair relation.
    */
  private def leakageSplit(name: String, pairsCte: String)(
      pairs: (SparkSession, String) => DataFrame): Gate = Gate(name, s"""
      WITH RECURSIVE$pairsCte,
      $componentLabelCtes,
      u AS (
        SELECT d.doc_id,
               CAST(('0x' || substring(md5(
                 CAST(COALESCE(lab.label, d.doc_id) AS VARCHAR) || 'graft-split'), 1, 15)) AS BIGINT)
                 / 1152921504606846976.0 AS u
        FROM documents d LEFT JOIN lab ON lab.id = d.doc_id)
      SELECT CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split,
             CAST(COUNT(*) AS BIGINT) AS docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM u GROUP BY 1 ORDER BY 1""") { (s, dir) =>
    val clusters = Dedup.nearDuplicateClusters(pairs(s, dir))
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
    require(leaked == 0, s"$name LEAKED $leaked groups across splits")
    // materialize the <=3-row rollup from the still-cached split and
    // UNPERSIST before returning (round 16, advisor item): a returned
    // live plan left the corpus-sized cached relation pinned for any
    // non-harness caller — Bench's per-gate clearCache merely masked it
    val rollup = localResult(s, docsPer(out, "split"))
    out.unpersist()
    rollup
  }

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
      docsPer(Sampling.assignSplits(s.table("documents"), "text"), "split")
    },

    // LEAKAGE-SAFE split (r13): exact-duplicate clusters land wholly in
    // one split — split decision hashes the group label, singletons
    // their own id. The oracle replays the clusters with the recursive
    // reach CTE (q_dedup_clusters' replay).
    leakageSplit("q_leakage_split", s" $exactDupPairsCte")((s, _) => exactDupPairs(s)),

    // LEAKAGE-SAFE split over NEAR-duplicate clusters (r14): the leak
    // that motivates group-aware splitting is near-copies crossing
    // splits, so the groups here come from the REAL pipeline — portable
    // MinHash-LSH pairs -> connected components -> grouped hash split.
    // Both engines read the STAGED pair artifact (verified pair-by-pair
    // by q_minhash_near_dup's oracle against its full independent minhash
    // replay), so the oracle no longer recomputes an O(corpus) minhash
    // chain single-node (the sf1cd oracle-timeout class, SCALE.md r14)
    // and the engine skips ~5 s of per-gate recompute at sf0.1.
    leakageSplit("q_leakage_split_near", s"""
      p AS (SELECT id1, id2 FROM read_parquet('$minhashPairsStagePath/*.parquet'))""") {
      (s, dir) => sharedMinhashPairs(s, dir).select(col("id1"), col("id2"))
    },

    // temperature-flattened mixture weights (sampling-alpha 0.6):
    // p_i ~ n_i^alpha with integer e6 weights and quotas
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

    // target-mixture rebalance: integer-ppm quota arithmetic, binding
    // stratum fixes the scale, per-stratum content-hash prefix keeps
    // the mix exact without upsampling; all integer division in the replay
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
      docsPer(Sampling.rebalanceMix(s.table("documents"), "source", "text", "doc_id",
          Seq("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1)), "source")
    },

    // contiguous block packing into 512-token sequences per source:
    // the assignment checksum (doc_id * (seq+1)) pins every block id,
    // seq_pos sums pin the in-block offsets. The replay is an exclusive
    // window cumsum in content-hash order, integer-divided by the budget.
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
    // just the final counts) must agree for the hashes to match: quality
    // formula -> stopword-argmax language id -> keep-first dedup ->
    // salted-hash split.
    Gate("q_curation", s"""
      WITH ${TextGates.qualityMetricsCte("doc_id, text,\n               ")},
      filt AS (
        SELECT doc_id, text FROM m
        WHERE least(1.0, greatest(0.0,
                0.4 * least(words / 100.0, 1.0)
              + 0.3 * (1.0 - least(punct / greatest(chars, 1.0) * 5.0, 1.0))
              + 0.3 * least(sw_hits / greatest(toks, 1.0) * 4.0, 1.0))) >= 0.5),
      lh AS (
        SELECT doc_id, text, ${TextGates.stopwordHitCols}
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
      FROM sp GROUP BY split ORDER BY split""") { (s, _) =>
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
      docsPer(Sampling.stratifiedTake(s.table("documents"), "lang", "text", 50, "doc_id"), "lang")
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
      docsPer(Sampling.weightedStratifiedTake(docs, "lang", "text", "wt", 50, "doc_id"), "lang")
    },
  )
}
