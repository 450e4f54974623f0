package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}

/** Deduplication and contamination gates: exact, MinHash-LSH, SimHash,
  * n-gram Jaccard/containment, span and line dedup. Owns the shared pair
  * relations the near-dup gates (and [[SamplingGates]]' near-dup split)
  * read.
  */
object DedupGates {

  /** Exact 3-shingle Jaccard/containment pair relation over `documents`,
    * shared by the `q_ngram_jaccard` and `q_containment` gates. Built once
    * per (session, dir) and MATERIALIZED TO PARQUET (not `.persist`):
    * Bench clears the Spark cache between queries, and a real pipeline
    * checkpoints an expensive pair relation the same way — the second
    * consumer reads the checkpoint instead of re-running the
    * shingle-groupBy pipeline (the containment columns are free on the
    * jaccard pair stream, SURVEY §2c).
    *
    * Only rows satisfying the UNION of the two consumers' thresholds are
    * written (`jaccard >= 0.2 OR max containment >= 0.6`): the raw pair
    * relation is near-quadratic in the replica-shared fixture (writing it
    * all at sf1 cost more than recomputing it — measured 188 s vs 137 s),
    * while the near-dup survivors are a tiny fraction. Each gate applies
    * its own, strictly tighter, filter on top, so results are unchanged.
    * Long-lived embedders should call
    * [[SparkEntry.clearSharedRelations]] to drop the checkpoint files.
    */
  private[graft] val sharedJaccardPairs: SharedRelation[DataFrame] =
    SharedRelation.parquet("jaccard") { s =>
      Dedup.exactJaccardPairs(
          Dedup.shingleHashes(s.table("documents"), "text", "doc_id", 3))
        .where(col("jaccard") >= 0.2 ||
          greatest(col("containment1"), col("containment2")) >= 0.6)
    }

  /** FIXED filesystem location of the staged portable-minhash pair list —
    * the one shared relation the DuckDB oracles read back directly
    * (`read_parquet`), so unlike every other checkpoint it cannot live
    * under the per-run temp [[SharedRelation.dir]]: the oracle replay
    * runs in a separate process AFTER Verify exits, against the same
    * path embedded in the oracle SQL. Each Verify/Bench run overwrites
    * it for its own fixture before its own oracle replay (the driver
    * runs them sequentially); replaying an oracle against a stage written for a
    * DIFFERENT fixture hash-mismatches loudly rather than passing.
    *
    * `SPARK_GRAFT_STAGE_DIR` overrides the parent directory (round 16):
    * the /tmp default is a LOCAL-MODE assumption — on a real cluster the
    * stage must sit on shared storage every executor can write and the
    * oracle process can read. The env is read once (the oracle SQL
    * embeds the same interpolated path, so engine and replay always
    * agree within a process).
    */
  private[graft] val minhashPairsStagePath =
    sys.env.getOrElse("SPARK_GRAFT_STAGE_DIR", "/tmp/graft_stage") +
      "/minhash_pairs"

  /** Portable MinHash-LSH near-dup pair relation over `documents`
    * (threshold 0.2, 128 hashes / 32 bands / 3-shingles), built once per
    * (session, dir), STAGED at [[minhashPairsStagePath]] and shared by
    * `q_minhash_near_dup`, `q_minhash_fast` and `q_leakage_split_near` —
    * the suite's most expensive recomputed relation (the split gate alone
    * re-ran the whole signature pipeline, ~5 s at sf0.1).
    *
    * Verification chain: `q_minhash_near_dup`'s oracle replays the ENTIRE
    * portable pipeline independently in DuckDB and anti-joins the staged
    * file both ways — any missing/extra/mis-estimated pair turns that gate
    * red — so the downstream consumers replay over a pair list the oracle
    * has verified PAIR BY PAIR (stronger than the old count-only check),
    * and the split oracle no longer re-runs an O(corpus) minhash chain in
    * single-node DuckDB (the sf1cd replay-timeout class, SCALE.md r14).
    */
  private[graft] val sharedMinhashPairs: SharedRelation[DataFrame] =
    new SharedRelation[DataFrame]((s, dir) => {
      new java.io.File(minhashPairsStagePath).getParentFile.mkdirs()
      // pairs derive from the staged SIGNATURE relation (round 15): the
      // signature kernel runs once per (session, fixture) in
      // [[sharedMinhashSigs]] and both this pair derivation and
      // q_incremental_dedup read it back, instead of each re-running
      // the kernel over the corpus
      Dedup.lshNearDuplicatePairs(sharedMinhashSigs(s, dir),
          bands = 32, numHashes = 128)
        .where(col("jaccard_est") >= 0.2)
        .select(col("id1"), col("id2"),
          round(col("jaccard_est") * lit(1e6)).cast("long").as("je_e6"))
        .write.mode("overwrite").parquet(minhashPairsStagePath)
      s.read.parquet(minhashPairsStagePath)
    })

  /** Portable per-document MinHash SIGNATURES over `documents` (128
    * hashes / 3-shingles — the config every portable minhash gate pins),
    * materialized once per (session, dir) under [[SharedRelation.dir]]: the
    * persisted-corpus-metadata shape of a real refresh pipeline. The
    * kernel pass over the corpus runs ONCE; [[sharedMinhashPairs]] (and
    * through it q_minhash_near_dup / q_minhash_fast /
    * q_leakage_split_near) and q_incremental_dedup all consume the
    * parquet. Engine-internal: the ORACLE contract stays the pair
    * artifact, which q_minhash_near_dup's oracle verifies pair by pair
    * against its own full DuckDB replay of the portable pipeline — a
    * signature-kernel bug still turns that gate red.
    */
  private[graft] val sharedMinhashSigs: SharedRelation[DataFrame] =
    SharedRelation.parquet("msigs") { s =>
      Dedup.minHashSignaturesFused(s.table("documents"), "text", "doc_id",
          numHashes = 128, shingleSize = 3, portable = true)
    }

  /** Shared oracle CTE chain producing the portable MinHash-LSH candidate
    * pairs with their signature-match estimate (`est(id1, id2, je)`); used
    * by both the pair-count and the clustering oracle. Constants come from
    * the SAME MinHashPerm.params the Spark aggregate uses.
    */
  private lazy val minhashPairCtes: String = {
    val (a, b) = graft.operators.MinHashPerm.params(128)
    s"""$md5ShingleCtes,
      prm AS (
        SELECT unnest(generate_series(1, 128)) AS j,
               unnest(${a.mkString("[", ", ", "]")}) AS a,
               unnest(${b.mkString("[", ", ", "]")}) AS b),
      sigv AS (
        SELECT sh.doc_id, prm.j,
               MIN(CAST((CAST(prm.a AS HUGEINT) * sh.h + prm.b) % 2305843009213693951 AS BIGINT)) AS m
        FROM sh, prm GROUP BY sh.doc_id, prm.j),
      sig AS (SELECT doc_id, list(m ORDER BY j) AS sig FROM sigv GROUP BY doc_id),
      banded AS (
        SELECT doc_id, bnd, list_slice(sig, bnd * 4 + 1, bnd * 4 + 4) AS slc
        FROM sig, (SELECT unnest(generate_series(0, 31)) AS bnd)),
      cand AS (
        SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
        FROM banded x JOIN banded y
          ON x.bnd = y.bnd AND x.slc = y.slc AND x.doc_id < y.doc_id),
      est AS (
        SELECT id1, id2,
               len(list_filter(generate_series(1, 128), i -> s1.sig[i] = s2.sig[i])) / 128.0 AS je
        FROM cand JOIN sig s1 ON cand.id1 = s1.doc_id JOIN sig s2 ON cand.id2 = s2.doc_id)"""
  }

  /** 3-shingle CTEs: `toks(doc_id, t)`, the whitespace tokens of
    * `lower(text)`, and `sh`, the distinct 3-token windows of each doc with
    * at least 3 tokens; `shingle` is `sh`'s select list after `doc_id,`.
    */
  private def shingleCtes(shingle: String): String = s"""toks AS (
        SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM documents),
      sh AS (
        SELECT DISTINCT doc_id,$shingle
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
              FROM toks WHERE len(t) >= 3))"""

  private val shingleText = "t[i] || ' ' || t[i+1] || ' ' || t[i+2]"

  /** [[shingleCtes]] as `sh(doc_id, h)`: each shingle's md5-prefix 60-bit
    * hash, the portable shingle hash.
    */
  private val md5ShingleCtes = shingleCtes(
    s"\n               CAST(('0x' || substring(md5($shingleText), 1, 15)) AS BIGINT) AS h")

  /** The exact 3-shingle overlap replay behind the Jaccard/containment
    * gates: string shingles `sh(doc_id, s)`, minus those in more than 1000
    * docs, give `f`, per-doc `sizes(doc_id, sz)` and per-pair
    * `common(id1, id2, c)`; `name(cols)` then reads `common` joined to
    * both sides' sizes as `s1` and `s2`.
    */
  private def shingleOverlapCtes(name: String, cols: String): String = s"""
      WITH ${shingleCtes(s" $shingleText AS s")},
      flt AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 1000),
      f AS (SELECT sh.doc_id, sh.s FROM sh JOIN flt USING (s)),
      sizes AS (SELECT doc_id, COUNT(*) AS sz FROM f GROUP BY doc_id),
      common AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
        FROM f a JOIN f b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      $name AS (
        SELECT $cols
        FROM common JOIN sizes s1 ON common.id1 = s1.doc_id
                    JOIN sizes s2 ON common.id2 = s2.doc_id)"""

  /** The exact-duplicate pair CTE `p(id1, id2)`: documents with equal
    * `md5(text)`, `id1 < id2`.
    */
  private[gates] val exactDupPairsCte = """p AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2
        FROM documents a JOIN documents b
          ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id)"""

  /** Connected components of the pair CTE `p(id1, id2)` in scope, replayed
    * as a recursive min-reachable-id walk (the query must be `WITH
    * RECURSIVE`): `lab(id, label)`, one row per paired node.
    */
  private[gates] val componentLabelCtes =
    """e AS (SELECT id1 AS a, id2 AS b FROM p UNION SELECT id2, id1 FROM p),
      reach(src, dst) AS (
        SELECT a, a FROM e
        UNION
        SELECT r.src, e.b FROM reach r JOIN e ON e.a = r.dst),
      lab AS (SELECT src AS id, MIN(dst) AS label FROM reach GROUP BY src)"""

  /** The Spark twin of [[exactDupPairsCte]]'s pattern: `(id1, id2)` pairs
    * of `df` rows with equal `key`, `id1 < id2` by `doc_id`.
    */
  private[gates] def keyPairs(df: DataFrame, key: String): DataFrame =
    df.as("a").join(df.as("b"),
        col(s"a.$key") === col(s"b.$key") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))

  /** The Spark side of [[exactDupPairsCte]]. */
  private[gates] def exactDupPairs(s: SparkSession): DataFrame =
    keyPairs(s.table("documents").select(col("doc_id"), md5(col("text")).as("h")), "h")

  /** The rollup of a line/span dedup pass that rebuilt `text_deduped` out
    * of `units` pieces: docs, pieces, removed pieces, rebuilt chars and an
    * md5-prefix checksum of the rebuilt texts.
    */
  private def rebuiltTextRollup(deduped: DataFrame, units: String): DataFrame =
    deduped.agg(count(lit(1)).cast("long").as("docs"),
      sum(units).cast("long").as(units),
      sum("removed").cast("long").as("removed"),
      sum(length(col("text_deduped"))).cast("long").as("chars"),
      Gate.md5PrefixSum(col("text_deduped")).as("checksum"))

  val gates: Seq[Gate] = Seq(
    // corpus-level exact span dedup: 8-token windows occurring >= 2
    // times anywhere are removed (first occurrence kept); the rebuilt
    // texts ride the hash path via md5-prefix checksums. The replay uses
    // the same windows, md5 keys, packed keep-first winner and rebuild order.
    Gate("q_span_dedup", """
      WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        FROM documents),
      sp AS (
        SELECT doc_id, i, array_to_string(toks[i*8+1 : i*8+8], ' ') AS span,
               md5(array_to_string(toks[i*8+1 : i*8+8], ' ')) AS h,
               doc_id * 1000000 + i AS packed
        FROM (SELECT doc_id, toks,
                     unnest(range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS i
              FROM t)),
      g AS (SELECT h, COUNT(*) AS cnt, MIN(packed) AS fst FROM sp GROUP BY h),
      k AS (SELECT sp.doc_id, sp.i, sp.span,
                   (g.cnt < 2 OR sp.packed = g.fst) AS keep
            FROM sp JOIN g USING (h)),
      reb AS (
        SELECT doc_id, COUNT(*) AS spans,
               SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS removed,
               string_agg(CASE WHEN keep THEN span END, ' ' ORDER BY i) AS newt
        FROM k GROUP BY doc_id),
      f AS (
        SELECT d.doc_id, coalesce(reb.newt, '') AS newt,
               coalesce(reb.spans, 0) AS spans, coalesce(reb.removed, 0) AS removed
        FROM documents d LEFT JOIN reb ON d.doc_id = reb.doc_id)
      SELECT CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(SUM(spans) AS BIGINT) AS spans,
             CAST(SUM(removed) AS BIGINT) AS removed,
             CAST(SUM(length(newt)) AS BIGINT) AS chars,
             CAST(SUM(CAST(('0x' || substring(md5(newt), 1, 15)) AS BIGINT)
                      % 1000000000) AS BIGINT) AS checksum
      FROM f""") { (s, _) =>
      rebuiltTextRollup(Dedup.dropDuplicateSpans(s.table("documents"), "text", "doc_id",
          spanTokens = 8, minCount = 2, keepFirst = true), "spans")
    },

    Gate("q_dedup_exact", """
      SELECT CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS distinct_docs,
             CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS duplicate_docs
      FROM documents""") { (s, _) =>
      Dedup.exactDuplicateStats(s.table("documents"), "text")
        .selectExpr("CAST(docs AS BIGINT) AS docs",
          "CAST(distinct_docs AS BIGINT) AS distinct_docs",
          "CAST(duplicate_docs AS BIGINT) AS duplicate_docs")
    },

    // portable=true => md5-prefix hashes + affine mod-2^61-1 permutations,
    // so the DuckDB oracle recomputes the identical signatures/fingerprints.
    // The gate is the PRODUCER + verifier of the staged pair list
    // (sharedMinhashPairs): its Spark side stages and summarizes the
    // relation; its oracle replays the whole pipeline independently and
    // anti-joins the staged file both ways, so stage_missing/stage_extra
    // are genuinely computed on the DuckDB side (trivially 0 here — the
    // stage IS this pipeline's output) and any staging corruption turns
    // the hash compare red before a downstream consumer trusts the file.
    // The oracle fully replicates the portable MinHash-LSH pipeline:
    // string shingles -> md5-prefix 60-bit hashes -> the SAME affine
    // permutations (constants embedded below from MinHashPerm.params) ->
    // 32x4 band slices -> candidate pairs -> signature-estimate filter —
    // PLUS a pair-by-pair verification of the staged artifact the
    // downstream gates consume: count/checksum columns come from the
    // independent replay, and the two outer-join columns count replay
    // pairs absent from the stage / stage rows absent from the replay
    // (a je_e6 mismatch fails the 3-column join key, so it counts on
    // both sides). All five must match the Spark side (whose
    // stage_missing/stage_extra are definitionally 0). One FULL OUTER
    // JOIN, not per-column scalar subqueries: DuckDB re-inlines a CTE
    // per reference, and five subqueries re-ran the whole minhash chain
    // enough times to blow the sf1cd ORACLE_TIMEOUT=300 (the join form
    // replays once: 130 s there).
    Gate("q_minhash_near_dup", s"""
      WITH $minhashPairCtes,
      p AS (SELECT id1, id2, CAST(round(je * 1e6) AS BIGINT) AS je_e6
            FROM est WHERE je >= 0.2),
      st AS (SELECT id1, id2, je_e6
             FROM read_parquet('$minhashPairsStagePath/*.parquet'))
      SELECT CAST(COUNT(CASE WHEN pid1 IS NOT NULL THEN 1 END) AS BIGINT) AS pairs,
             CAST(SUM(pid1 * 3 + pid2) AS BIGINT) AS pair_sum,
             CAST(SUM(pje) AS BIGINT) AS est_e6_sum,
             CAST(COUNT(CASE WHEN pid1 IS NOT NULL AND sid1 IS NULL THEN 1 END) AS BIGINT) AS stage_missing,
             CAST(COUNT(CASE WHEN pid1 IS NULL THEN 1 END) AS BIGINT) AS stage_extra
      FROM (SELECT p.id1 AS pid1, p.id2 AS pid2, p.je_e6 AS pje, st.id1 AS sid1
            FROM p FULL OUTER JOIN st
              ON p.id1 = st.id1 AND p.id2 = st.id2 AND p.je_e6 = st.je_e6)""") { (s, dir) =>
      sharedMinhashPairs(s, dir)
        .agg(count(lit(1)).cast("long").as("pairs"),
          sum(col("id1") * lit(3L) + col("id2")).cast("long").as("pair_sum"),
          sum(col("je_e6")).cast("long").as("est_e6_sum"),
          lit(0L).as("stage_missing"), lit(0L).as("stage_extra"))
    },

    // refresh-time near-dup: a 10% "new" slice banded against the other
    // 90% — only new-vs-old collisions are examined, never old-vs-old.
    // Checksums pin every (new, old) pair and its micro-unit estimate.
    // The oracle restricts the STAGED pair artifact across the slices:
    // the full pipeline's pair set intersected with (one side new, one
    // side old) is exactly the incremental operator's collision set, and
    // the stage is verified pair-by-pair by q_minhash_near_dup's replay.
    Gate("q_incremental_dedup", s"""
      SELECT CAST(COUNT(*) AS BIGINT) AS pairs,
             CAST(SUM(CASE WHEN id1 % 10 = 0 THEN id1 * 3 + id2
                           ELSE id2 * 3 + id1 END) AS BIGINT) AS pair_sum,
             CAST(SUM(je_e6) AS BIGINT) AS est_e6_sum
      FROM read_parquet('$minhashPairsStagePath/*.parquet')
      WHERE (id1 % 10 = 0) <> (id2 % 10 = 0)""") { (s, dir) =>
      // round 15: the refresh consumes the SHARED persisted signature
      // relation (slice-filtered) instead of re-running the portable
      // signature kernel over both corpus slices — the refresh-pipeline
      // shape (signatures are persisted corpus metadata), one corpus
      // kernel pass per suite pass instead of two. Signatures are a
      // pure function of the text, so the pair set is identical
      // (oracle: cross-slice subset of the pair-by-pair-verified
      // staged artifact).
      val sigs = sharedMinhashSigs(s, dir)
      Dedup.incrementalNearDuplicatesFromSignatures(
          sigs.where(col("doc_id") % 10 === 0),
          sigs.where(col("doc_id") % 10 =!= 0),
          numHashes = 128, bands = 32, threshold = 0.2)
        .agg(count(lit(1)).cast("long").as("pairs"),
          sum(col("new_id") * lit(3L) + col("old_id")).cast("long").as("pair_sum"),
          sum(round(col("jaccard_est") * lit(1e6)).cast("long")).cast("long").as("est_e6_sum"))
    },

    // production mode of the same pipeline: xxhash64 shingles + splitmix
    // permutations (~2x cheaper than the md5-based portable mode above,
    // which exists to be replayable in SQL). The oracle is CROSS-MODE
    // planted-pair recall: a pair of docs with identical text has
    // identical shingle multisets, hence identical signatures in EITHER
    // hash mode, hence collides in every band and survives the estimate
    // filter at 1.0 — so BOTH pipelines must recover every exact-dup
    // pair among shingle-eligible docs (>= shingleSize tokens). DuckDB
    // counts those pairs independently from the corpus and asserts both
    // miss counts are zero; a fast-mode hash/permutation/banding bug
    // that loses pairs now hash-mismatches instead of passing rows-only.
    Gate("q_minhash_fast", """
      WITH elig AS (
        SELECT doc_id, md5(text) AS ch FROM documents
        WHERE len(string_split_regex(lower(text), '\s+')) >= 3)
      SELECT CAST(COUNT(*) AS BIGINT) AS planted_pairs,
             CAST(0 AS BIGINT) AS fast_missing,
             CAST(0 AS BIGINT) AS portable_missing
      FROM elig a JOIN elig b ON a.ch = b.ch AND a.doc_id < b.doc_id""") { (s, dir) =>
      val docs = s.table("documents")
      val eligible = docs
        .where(size(split(lower(col("text")), "\\s+")) >= 3)
        .select(col("doc_id"), md5(col("text")).as("ch"))
      val planted = keyPairs(eligible, "ch")
      val fastPairs = Dedup.minHashNearDuplicates(docs, "text", "doc_id",
          numHashes = 128, bands = 32, shingleSize = 3, threshold = 0.2,
          portable = false)
        .select(col("id1"), col("id2"))
      // the portable side comes from the staged shared relation — same
      // config, already oracle-verified pair-by-pair (q_minhash_near_dup)
      val portablePairs = sharedMinhashPairs(s, dir).select(col("id1"), col("id2"))
      planted
        .join(fastPairs.withColumn("__f", lit(1)), Seq("id1", "id2"), "left")
        .join(portablePairs.withColumn("__p", lit(1)), Seq("id1", "id2"), "left")
        .agg(count(lit(1)).cast("long").as("planted_pairs"),
          coalesce(sum(when(col("__f").isNull, 1L).otherwise(0L)), lit(0L))
            .cast("long").as("fast_missing"),
          coalesce(sum(when(col("__p").isNull, 1L).otherwise(0L)), lit(0L))
            .cast("long").as("portable_missing"))
    },

    // clustering (keep-one-per-cluster) over the exact-duplicate pair
    // graph: md5-equality pairs keep the gate cheap while exercising the
    // same component-labelling path as minhash/simhash pair graphs;
    // replayed with a recursive CTE (min reachable id per node)
    Gate("q_dedup_clusters", s"""
      WITH RECURSIVE $exactDupPairsCte,
      $componentLabelCtes
      SELECT CAST(COUNT(*) AS BIGINT) AS nodes,
             CAST(COUNT(DISTINCT label) AS BIGINT) AS clusters,
             CAST(SUM(label) AS BIGINT) AS label_sum
      FROM lab""") { (s, _) =>
      Dedup.nearDuplicateClusters(exactDupPairs(s))
        .agg(count(lit(1)).cast("long").as("nodes"),
          countDistinct("label").cast("long").as("clusters"),
          sum("label").cast("long").as("label_sum"))
    },

    // keep-best near-dup resolution: docs sharing a 2-token prefix pair
    // up, components form, and the longest member (n_chars, ties to the
    // smaller doc_id) survives each cluster. The integer score makes the
    // cross-engine argmax exact; singletons keep trivially via the
    // replay's left join.
    Gate("q_keep_best", s"""
      WITH RECURSIVE k AS (
        SELECT doc_id, n_chars,
               md5(array_to_string(list_slice(
                 list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''),
                 1, 2), ' ')) AS pk
        FROM documents),
      p AS (SELECT a.doc_id AS id1, b.doc_id AS id2
            FROM k a JOIN k b ON a.pk = b.pk AND a.doc_id < b.doc_id),
      $componentLabelCtes,
      cl AS (SELECT k.doc_id, k.n_chars, COALESCE(lab.label, k.doc_id) AS cluster
             FROM k LEFT JOIN lab ON k.doc_id = lab.id),
      win AS (SELECT cluster, doc_id AS winner FROM (
        SELECT cluster, doc_id,
               row_number() OVER (PARTITION BY cluster
                 ORDER BY n_chars DESC, doc_id) AS rn
        FROM cl) WHERE rn = 1)
      SELECT CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(COUNT(DISTINCT cl.cluster) AS BIGINT) AS clusters,
             CAST(SUM(CASE WHEN cl.doc_id = w.winner THEN 1 ELSE 0 END) AS BIGINT) AS kept,
             CAST(SUM(CASE WHEN cl.doc_id = w.winner THEN cl.doc_id END) AS BIGINT) AS kept_id_sum,
             CAST(SUM(CASE WHEN cl.doc_id <> w.winner THEN cl.doc_id END) AS BIGINT) AS dropped_id_sum
      FROM cl JOIN win w ON cl.cluster = w.cluster""") { (s, _) =>
      val d = s.table("documents")
      val keyed = d.select(col("doc_id"),
        md5(concat_ws(" ",
          slice(filter(split(lower(col("text")), "\\s+"), t => t =!= ""), 1, 2))).as("pk"))
      Dedup.resolveNearDuplicates(
          d.select(col("doc_id"), col("n_chars")), "doc_id", "n_chars", keyPairs(keyed, "pk"))
        .agg(count(lit(1)).cast("long").as("docs"),
          countDistinct("cluster").cast("long").as("clusters"),
          sum(when(col("keep"), 1L).otherwise(0L)).cast("long").as("kept"),
          sum(when(col("keep"), col("doc_id"))).cast("long").as("kept_id_sum"),
          sum(when(!col("keep"), col("doc_id"))).cast("long").as("dropped_id_sum"))
    },

    // independent replication of the portable SimHash pipeline: md5-prefix
    // token hashes -> per-bit +1/-1 votes -> 64-bit fingerprint -> 4x16-bit
    // band blocking -> hamming<=3 verify
    Gate("q_simhash_near_dup", """
      WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok FROM documents),
      th AS (
        SELECT doc_id, CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS h FROM tok),
      votes AS (
        SELECT doc_id, bit, SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM th, (SELECT unnest(generate_series(0, 63)) AS bit) GROUP BY doc_id, bit),
      fp AS (
        SELECT doc_id, CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS f
        FROM votes GROUP BY doc_id),
      banded AS (
        SELECT doc_id, f, bb, (f >> (bb * 16)) & 65535 AS bv
        FROM fp, (SELECT unnest(generate_series(0, 3)) AS bb)),
      cand AS (
        SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2, bit_count(xor(x.f, y.f)) AS hamming
        FROM banded x JOIN banded y
          ON x.bb = y.bb AND x.bv = y.bv AND x.doc_id < y.doc_id)
      SELECT CAST(COUNT(*) AS BIGINT) AS pairs FROM cand WHERE hamming <= 3""") { (s, _) =>
      Dedup.simHashNearDuplicates(s.table("documents"), "text", "doc_id",
          maxHamming = 3, portable = true)
        .agg(count(lit(1)).cast("long").as("pairs"))
    },

    // train/held-out decontamination: fuse-filter prune + exact verify
    // (held-out stand-in = the 'de' slice); the filter only prunes (no
    // false negatives) and the exact semi-join confirms, so the flagged
    // set equals the plain fingerprint semi-join the oracle runs
    Gate("q_decontaminate", """
      WITH f AS (
        SELECT doc_id,
               CAST(('0x' || substring(md5(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 15)) AS BIGINT) AS fp,
               lang
        FROM documents)
      SELECT CAST(COUNT(*) AS BIGINT) AS flagged, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM f WHERE fp IN (SELECT fp FROM f WHERE lang = 'de')""") { (s, _) =>
      val docs = s.table("documents")
      Dedup.flagContaminated(docs, docs.where(col("lang") === "de"), "text", "doc_id")
        .agg(count(lit(1)).cast("long").as("flagged"),
          sum("doc_id").cast("long").as("id_sum"))
    },

    // exact n-gram Jaccard on STRING shingles (the Spark side hashes
    // shingles to 64 bits first; at 500-doc scale collisions are absent, so
    // set-based counts agree exactly)
    Gate("q_ngram_jaccard", shingleOverlapCtes("j", "c * 1.0 / (s1.sz + s2.sz - c) AS jac") + """
      SELECT CAST(COUNT(*) AS BIGINT) AS pairs FROM j WHERE jac >= 0.2""") { (s, dir) =>
      sharedJaccardPairs(s, dir)
        .where(col("jaccard") >= 0.2)
        .agg(count(lit(1)).cast("long").as("pairs"))
    },

    // asymmetric containment pairs (|A∩B|/|A|): subset/quote detection —
    // a short doc embedded in a long one scores near 1 where jaccard is
    // near 0. Same integer-ratio arithmetic both engines, sums
    // micro-rounded; c/sz is the same integer-input IEEE division in
    // both engines.
    Gate("q_containment",
        shingleOverlapCtes("p", "id1, id2, c * 1.0 / s1.sz AS c1, c * 1.0 / s2.sz AS c2") + """
      SELECT CAST(COUNT(*) AS BIGINT) AS pairs,
             CAST(SUM(id1 * 3 + id2) AS BIGINT) AS pair_sum,
             CAST(SUM(CAST(round(c1 * 1e6) AS BIGINT)
                    + CAST(round(c2 * 1e6) AS BIGINT)) AS BIGINT) AS cont_e6_sum
      FROM p WHERE greatest(c1, c2) >= 0.6""") { (s, dir) =>
      sharedJaccardPairs(s, dir)
        .where(greatest(col("containment1"), col("containment2")) >= 0.6)
        .agg(count(lit(1)).cast("long").as("pairs"),
          sum(col("id1") * 3 + col("id2")).cast("long").as("pair_sum"),
          sum(round(col("containment1") * lit(1e6)).cast("long") +
            round(col("containment2") * lit(1e6)).cast("long")).cast("long").as("cont_e6_sum"))
    },

    // graded contamination: per-doc fraction of distinct 3-shingles
    // found in the held-out slice (doc_id % 17 = 0); one broadcast
    // exact-set match per shingle over portable shingle hashes, every
    // count replayable.
    Gate("q_contamination", s"""
      WITH $md5ShingleCtes,
      held AS (SELECT DISTINCT h FROM sh WHERE doc_id % 17 = 0),
      corp AS (SELECT doc_id, h FROM sh WHERE doc_id % 17 <> 0),
      tot AS (SELECT doc_id, COUNT(*) AS shingles FROM corp GROUP BY doc_id),
      hit AS (SELECT c.doc_id, COUNT(*) AS contaminated
              FROM corp c JOIN held ON c.h = held.h GROUP BY c.doc_id)
      SELECT t.doc_id, CAST(t.shingles AS BIGINT) AS shingles,
             CAST(COALESCE(hit.contaminated, 0) AS BIGINT) AS contaminated,
             CAST(round(CAST(COALESCE(hit.contaminated, 0) AS DOUBLE)
               / t.shingles * 1e6) AS BIGINT) AS frac_e6
      FROM tot t LEFT JOIN hit ON t.doc_id = hit.doc_id
      ORDER BY frac_e6 DESC, t.doc_id LIMIT 20""") { (s, _) =>
      val docs = s.table("documents")
      Dedup.contaminationScore(
          docs.where(col("doc_id") % 17 =!= 0), docs.where(col("doc_id") % 17 === 0),
          "text", "doc_id", shingleSize = 3, portable = true)
        .select(col("doc_id"), col("shingles").cast("long").as("shingles"),
          col("contaminated").cast("long").as("contaminated"),
          round(col("contaminated_frac") * lit(1e6)).cast("long").as("frac_e6"))
        .orderBy(col("frac_e6").desc, col("doc_id"))
        .limit(20)
    },

    Gate("q_dedup_drop", """
      SELECT CAST(COUNT(*) AS BIGINT) AS kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM (SELECT doc_id, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM documents) WHERE rn = 1""") { (s, _) =>
      Dedup.dropExactDuplicates(s.table("documents"), "text", "doc_id")
        .agg(count(lit(1)).cast("long").as("kept"),
          sum("doc_id").cast("long").as("id_sum"))
    },

    // within-doc repeated-line strip: per-row HOF only (no shuffle);
    // per-doc md5-prefix checksums make the oracle sensitive to every
    // kept/dropped/reordered byte. The replay explodes lines with their
    // index, keeps the first row of each (doc, normalized-key) by line
    // order and rebuilds the document in order.
    Gate("q_doc_line_dedup", """
      WITH l AS (
        SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM documents),
      x AS (
        SELECT doc_id, t.i, lines[t.i + 1] AS line,
               regexp_replace(lower(trim(lines[t.i + 1])), '\s+', ' ', 'g') AS key
        FROM l, LATERAL (SELECT unnest(range(len(lines))) AS i) t),
      f AS (
        SELECT doc_id, i, line,
               row_number() OVER (PARTITION BY doc_id, key ORDER BY i) AS rn
        FROM x),
      d AS (
        SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS txt,
               COUNT(*) AS kept
        FROM f WHERE rn = 1 GROUP BY doc_id)
      SELECT CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(SUM(CASE WHEN d.txt <> l.text THEN 1 ELSE 0 END) AS BIGINT) AS changed,
             CAST(SUM(len(l.lines)) AS BIGINT) AS lines_before,
             CAST(SUM(d.kept) AS BIGINT) AS lines_after,
             CAST(SUM(CAST('0x' || substr(md5(d.txt), 1, 15) AS BIGINT) % 1000000007) AS BIGINT) AS fp_sum
      FROM d JOIN l ON l.doc_id = d.doc_id""") { (s, _) =>
      val out = TextAnalysis.dropRepeatedLinesInDoc(s.table("documents"), "text")
      out.agg(
        count(lit(1)).cast("long").as("docs"),
        sum(when(col("text_dedup") =!= col("text"), 1L).otherwise(0L)).cast("long").as("changed"),
        sum(size(split(col("text"), "\n"))).cast("long").as("lines_before"),
        sum(size(split(col("text_dedup"), "\n"))).cast("long").as("lines_after"),
        sum(pmod(call_function("md5_prefix64", col("text_dedup")), lit(1000000007L))).cast("long").as("fp_sum"))
    },

    // corpus-level repeated-line removal (boilerplate pass) over a
    // derived multi-line view (the synthetic corpus is single-line, so
    // both engines split it on a frequent token first); rebuilt texts
    // ride the hash path via md5-prefix checksums; lines whose hash
    // occurs >= 3 times corpus-wide are dropped
    Gate("q_line_dedup", """
      WITH d AS (
        SELECT doc_id,
               string_split(replace(text, ' table ', chr(10)), chr(10)) AS parts
        FROM documents),
      l AS (
        SELECT doc_id, i, parts[i+1] AS line, md5(parts[i+1]) AS h,
               doc_id * 1000000 + i AS packed
        FROM (SELECT doc_id, parts, unnest(range(0, len(parts))) AS i FROM d)),
      g AS (SELECT h, COUNT(*) AS cnt FROM l GROUP BY h),
      k AS (SELECT l.doc_id, l.i, l.line,
                   (g.cnt < 3 OR regexp_matches(l.line, '^\s*$')) AS keep
            FROM l JOIN g USING (h)),
      reb AS (
        SELECT doc_id, COUNT(*) AS lines,
               SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS removed,
               coalesce(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY i), '') AS newt
        FROM k GROUP BY doc_id)
      SELECT CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(SUM(lines) AS BIGINT) AS lines,
             CAST(SUM(removed) AS BIGINT) AS removed,
             CAST(SUM(length(newt)) AS BIGINT) AS chars,
             CAST(SUM(CAST(('0x' || substring(md5(newt), 1, 15)) AS BIGINT)
               % 1000000000) AS BIGINT) AS checksum
      FROM reb""") { (s, _) =>
      val docs = s.table("documents").select(col("doc_id"),
        expr("replace(text, ' table ', '\n')").as("text"))
      rebuiltTextRollup(Dedup.dropDuplicateLines(docs, "text", "doc_id", minCount = 3), "lines")
    },

    // any-alignment repeated-span detection: sliding 6-token windows at
    // every offset, cross-corpus hot windows merged to maximal ranges;
    // full md5 replay with the same windows and range-merge walk
    Gate("q_span_ranges", """
      WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        FROM documents),
      wins AS (
        SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos,
               md5(array_to_string(toks[u.i:u.i+5], ' ')) AS h
        FROM t, LATERAL unnest(range(1, len(toks) - 4)) AS u(i)
        WHERE len(toks) >= 6),
      hot AS (SELECT h FROM wins GROUP BY h HAVING COUNT(*) >= 2),
      f AS (SELECT w.doc_id, w.pos FROM wins w JOIN hot USING (h)),
      m AS (
        SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER w IS NULL
                     OR pos > lag(pos) OVER w + 6 THEN 1 ELSE 0 END AS brk
        FROM f WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      r AS (
        SELECT doc_id, pos,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS rid
        FROM m),
      g AS (SELECT doc_id, rid, MIN(pos) AS s, MAX(pos) + 6 AS e,
                   COUNT(*) AS wn
            FROM r GROUP BY 1, 2)
      SELECT CAST(COUNT(*) AS BIGINT) AS ranges,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS docs,
             CAST(SUM(e - s) AS BIGINT) AS masked_tokens,
             CAST(SUM(wn) AS BIGINT) AS windows,
             CAST(MAX(e - s) AS BIGINT) AS max_range
      FROM g""") { (s, _) =>
      val r = Dedup.repeatedSpanRanges(s.table("documents"), "text", "doc_id",
        spanTokens = 6, minCount = 2, portable = true)
      r.agg(count(lit(1)).cast("long").as("ranges"),
          countDistinct(col("doc_id")).cast("long").as("docs"),
          sum(col("end_token") - col("start_token")).cast("long").as("masked_tokens"),
          sum("windows").cast("long").as("windows"),
          max(col("end_token") - col("start_token")).cast("long").as("max_range"))
    },
  )
}
