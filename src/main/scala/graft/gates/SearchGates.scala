package graft
package gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Embeddings, Ranking}
import Gate.{deleteDirs, localResult}

/** Similarity search: BM25 and hybrid retrieval, exact and approximate
  * top-k (LSH, IVF, PQ, IVFPQ, Hamming), MMR reranking and cosine pair
  * joins.
  *
  * The recall-floor gates differ from the parity gates: they assert the
  * QUALITY claim itself. Such a gate hard-fails (recallFloor's require)
  * when a config's recall drops below its pinned floor, so an ANN
  * regression goes red in CORRECTNESS even though every individual stage
  * would still replay "correctly".
  */
object SearchGates {

  /** Recall-floor QUALITY check shared by the `q_recall_floor_*` gates:
    * compute the [[Embeddings.recallReport]] rollup for a pinned ANN
    * config, attach the pinned floor, and HARD-FAIL the gate when the
    * floor is breached — so a recall regression turns the CORRECTNESS row
    * red (gate error, no output written) instead of shipping silently,
    * even if the oracle SQL were updated alongside the engine. Floors sit
    * under the minimum measured across sf0.01 / sf0.1 / sf1cd (SCALE.md
    * round-12 table).
    */
  private def recallFloor(approx: DataFrame, exact: DataFrame,
      floorPpm: Long, config: String): DataFrame = {
    val rep = Embeddings.recallReport(approx, exact)
      .withColumn("floor_ppm", lit(floorPpm))
    // materialize the 1-row report ONCE: the floor check is an eager
    // head() and the gate's returned frame executes again downstream —
    // uncached that re-ran the whole approx + exact-brute-force pipeline
    // per gate (guide §1.2; halves every q_recall_floor_* gate)
    val local = localResult(approx.sparkSession, rep)
    val mean = local.head().getLong(1)
    require(mean >= floorPpm,
      s"ANN recall regression: $config mean recall $mean ppm < floor $floorPpm ppm")
    local
  }

  /** Shared DuckDB CTE fragment replaying the splitmix64 hyperplane LSH
    * bucketing LIVE (assumes a CTE `e(vec_id, v DOUBLE[])` is already in
    * scope): plane value k of the counter-based splitmix64 stream is a
    * PURE FUNCTION of k (`mix(seed + k·golden)` — no sequential state),
    * so the first `prefixBits`·dim plane draws, the sequential
    * dot-product folds, and the sign-prefix bucket all replay exactly.
    * The mod-2^64 multiplies decompose into 32x64-bit pieces
    * (`(lo·c + ((hi·c) mod 2^32)·2^32) mod 2^64`) because a full 64x64
    * product overflows DuckDB's signed INT128. Produces
    * `bkt(vec_id, b BIGINT)` — the exact `shiftrightunsigned(sig,
    * 64 − prefixBits)` bucket (bit 63−j of the signature is plane j, so
    * the bucket needs only planes j < prefixBits). Replaces the former
    * golden pins for the LSH gates.
    */
  private def lshBucketCte(prefixBits: Int, seed: Long = 42L): String = s"""
      d AS (SELECT len(v) AS dim FROM e LIMIT 1),
      idx AS (SELECT j.j, i.i, (j.j * d.dim + i.i + 1) AS k
              FROM d, (SELECT unnest(range($prefixBits)) AS j) j,
                   (SELECT unnest(range((SELECT dim FROM d))) AS i) i),
      st AS (SELECT j, i,
        CAST((($seed::HUGEINT + k::HUGEINT * 11400714819323198485::HUGEINT)
              % 18446744073709551616::HUGEINT) AS UBIGINT) AS s FROM idx),
      sm1 AS (SELECT j, i, CAST(xor(s, s >> 30) AS HUGEINT) AS z FROM st),
      sm2 AS (SELECT j, i, CAST(
          ((z % 4294967296::HUGEINT) * 13787848793156543929::HUGEINT
           + (((z // 4294967296::HUGEINT) * 13787848793156543929::HUGEINT)
              % 4294967296::HUGEINT) * 4294967296::HUGEINT)
          % 18446744073709551616::HUGEINT AS UBIGINT) AS z FROM sm1),
      sm3 AS (SELECT j, i, CAST(xor(z, z >> 27) AS HUGEINT) AS z FROM sm2),
      sm4 AS (SELECT j, i, CAST(
          ((z % 4294967296::HUGEINT) * 10723151780598845931::HUGEINT
           + (((z // 4294967296::HUGEINT) * 10723151780598845931::HUGEINT)
              % 4294967296::HUGEINT) * 4294967296::HUGEINT)
          % 18446744073709551616::HUGEINT AS UBIGINT) AS z FROM sm3),
      sm5 AS (SELECT j, i, xor(z, z >> 31) AS z FROM sm4),
      pl AS (SELECT j, list(CAST(z >> 11 AS DOUBLE) / 9007199254740992.0 * 2.0 - 1.0
                            ORDER BY i) AS pv
             FROM sm5 GROUP BY j),
      hdots AS (SELECT e.vec_id, pl.j,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range((SELECT dim FROM d)), x -> e.v[x + 1] * pl.pv[x + 1])),
          (a, b) -> a + b) AS dot
        FROM e, pl),
      bkt AS (SELECT vec_id,
                     CAST(SUM(CASE WHEN dot > 0
                              THEN 1 << (${prefixBits - 1} - j) ELSE 0 END) AS BIGINT) AS b
              FROM hdots GROUP BY vec_id)"""

  /** [[lshBucketCte]] with the prefix width DERIVED from the corpus the
    * way [[Embeddings.derivedPrefixBits]] does (smallest p in [4,16]
    * with ceil(n/2^p) <= targetBucket, pure integer arithmetic): planes
    * are generated for the full 16-bit budget and filtered to j < p, so
    * the counter-based plane stream stays identical to the static form
    * for the first p planes.
    */
  private def lshBucketCteDerived(targetBucket: Int = 500, seed: Long = 42L): String = s"""
      nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e),
      pb AS (SELECT COALESCE(MIN(p), 16) AS p
             FROM (SELECT unnest(range(4, 17)) AS p) ps, nn
             WHERE (nn.n + (1::BIGINT << p) - 1) // (1::BIGINT << p) <= $targetBucket),
      d AS (SELECT len(v) AS dim FROM e LIMIT 1),
      idx AS (SELECT j.j, i.i, (j.j * d.dim + i.i + 1) AS k
              FROM d, (SELECT unnest(range(16)) AS j) j,
                   (SELECT unnest(range((SELECT dim FROM d))) AS i) i
              WHERE j.j < (SELECT p FROM pb)),
      st AS (SELECT j, i,
        CAST((($seed::HUGEINT + k::HUGEINT * 11400714819323198485::HUGEINT)
              % 18446744073709551616::HUGEINT) AS UBIGINT) AS s FROM idx),
      sm1 AS (SELECT j, i, CAST(xor(s, s >> 30) AS HUGEINT) AS z FROM st),
      sm2 AS (SELECT j, i, CAST(
          ((z % 4294967296::HUGEINT) * 13787848793156543929::HUGEINT
           + (((z // 4294967296::HUGEINT) * 13787848793156543929::HUGEINT)
              % 4294967296::HUGEINT) * 4294967296::HUGEINT)
          % 18446744073709551616::HUGEINT AS UBIGINT) AS z FROM sm1),
      sm3 AS (SELECT j, i, CAST(xor(z, z >> 27) AS HUGEINT) AS z FROM sm2),
      sm4 AS (SELECT j, i, CAST(
          ((z % 4294967296::HUGEINT) * 10723151780598845931::HUGEINT
           + (((z // 4294967296::HUGEINT) * 10723151780598845931::HUGEINT)
              % 4294967296::HUGEINT) * 4294967296::HUGEINT)
          % 18446744073709551616::HUGEINT AS UBIGINT) AS z FROM sm3),
      sm5 AS (SELECT j, i, xor(z, z >> 31) AS z FROM sm4),
      pl AS (SELECT j, list(CAST(z >> 11 AS DOUBLE) / 9007199254740992.0 * 2.0 - 1.0
                            ORDER BY i) AS pv
             FROM sm5 GROUP BY j),
      hdots AS (SELECT e.vec_id, pl.j,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range((SELECT dim FROM d)), x -> e.v[x + 1] * pl.pv[x + 1])),
          (a, b) -> a + b) AS dot
        FROM e, pl),
      bkt AS (SELECT vec_id,
                     CAST(SUM(CASE WHEN dot > 0
                              THEN 1 << ((SELECT p FROM pb) - 1 - j) ELSE 0 END) AS BIGINT) AS b
              FROM hdots GROUP BY vec_id)"""

  val gates: Seq[Gate] = Seq(
    // BM25 corpus search: top-20 docs for a 3-term query. Scores are
    // micro-unit-rounded and the ordering is on the ROUNDED score (then
    // doc_id), so the cross-engine compare never rests on a double tie.
    // BM25 replayed with the same fold order (term0 + term1 + term2) and
    // the same Lucene idf; ln() is natural log in DuckDB (log() is base-10)
    Gate("q_bm25", """
      WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        FROM documents),
      tf AS (
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
               CAST(len(list_filter(toks, x -> x = 'hash')) AS BIGINT) AS tf0,
               CAST(len(list_filter(toks, x -> x = 'join')) AS BIGINT) AS tf1,
               CAST(len(list_filter(toks, x -> x = 'vector')) AS BIGINT) AS tf2
        FROM t),
      s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl,
               CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
               CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
               CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
        FROM tf)
      SELECT doc_id, dl,
             CAST(round((
               ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * (CAST(tf0 AS DOUBLE) * 2.2)
                 / (CAST(tf0 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * (CAST(tf1 AS DOUBLE) * 2.2)
                 / (CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * (CAST(tf2 AS DOUBLE) * 2.2)
                 / (CAST(tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             ) * 1e6) AS BIGINT) AS bm25_e6
      FROM tf, s
      ORDER BY bm25_e6 DESC, doc_id LIMIT 20""") { (s, _) =>
      Ranking.bm25(s.table("documents"), "text", "doc_id",
          Seq("hash", "join", "vector"))
        .select(col("doc_id"), col("dl"),
          round(col("bm25") * lit(1e6)).cast("long").as("bm25_e6"))
        .orderBy(col("bm25_e6").desc, col("doc_id"))
        .limit(20)
    },

    // hybrid retrieval: BM25 recall (full corpus, no doc-keyed shuffle)
    // -> bounded-candidate cosine rerank against vec_id 0's embedding ->
    // reciprocal-rank fusion. Ranks are small exact integers, so the
    // fused ordering replays exactly; the cosine rank inherits the ANN
    // gates' ordering contract.
    // hybrid retrieval: the bm25 replay above feeds a bounded candidate
    // set, list_cosine_similarity reranks it, and reciprocal-rank fusion
    // (exact rationals of small integer ranks) fixes the final order
    Gate("q_hybrid_search", """
      WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        FROM documents),
      tf AS (
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
               CAST(len(list_filter(toks, x -> x = 'hash')) AS BIGINT) AS tf0,
               CAST(len(list_filter(toks, x -> x = 'join')) AS BIGINT) AS tf1,
               CAST(len(list_filter(toks, x -> x = 'vector')) AS BIGINT) AS tf2
        FROM t),
      s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl,
               CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
               CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
               CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
        FROM tf),
      sc AS (
        SELECT doc_id,
               CAST(round((
                 ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * (CAST(tf0 AS DOUBLE) * 2.2)
                   / (CAST(tf0 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
               + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * (CAST(tf1 AS DOUBLE) * 2.2)
                   / (CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
               + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * (CAST(tf2 AS DOUBLE) * 2.2)
                   / (CAST(tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
               ) * 1e6) AS BIGINT) AS bm25_e6
        FROM tf, s),
      cand AS (
        SELECT doc_id, rank_b FROM (
          SELECT doc_id, row_number() OVER (ORDER BY bm25_e6 DESC, doc_id) AS rank_b
          FROM sc) WHERE rank_b <= 100),
      qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 0),
      ce AS (
        SELECT cand.doc_id, cand.rank_b,
               list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv.q) AS cos
        FROM cand JOIN embeddings e ON e.vec_id = cand.doc_id, qv),
      rc AS (
        SELECT doc_id, rank_b,
               row_number() OVER (ORDER BY cos DESC, doc_id) AS rank_c
        FROM ce),
      f AS (
        SELECT doc_id, rank_b, rank_c,
               1.0 / (60 + rank_b) + 1.0 / (60 + rank_c) AS rrf
        FROM rc)
      SELECT doc_id, CAST(rank AS INT) AS rank, CAST(rank_b AS INT) AS rank_bm25,
             CAST(rank_c AS INT) AS rank_cosine,
             CAST(round(rrf * 1e6) AS BIGINT) AS rrf_e6
      FROM (SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank FROM f)
      WHERE rank <= 10 ORDER BY rank""") { (s, _) =>
      val qv = s.table("embeddings").where(col("vec_id") === 0L)
        .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .head().getSeq[Double](0)
      val emb = s.table("embeddings")
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
      Ranking.hybridSearch(s.table("documents"), "text", "doc_id",
          Seq("hash", "join", "vector"), emb, "vec", "vec_id", qv,
          candidates = 100, k = 10)
        .select(col("doc_id"), col("rank").cast("int").as("rank"),
          col("rank_bm25").cast("int").as("rank_bm25"),
          col("rank_cosine").cast("int").as("rank_cosine"),
          round(col("rrf") * lit(1e6)).cast("long").as("rrf_e6"))
        .orderBy(col("rank"))
    },

    Gate("q_ann_topk", """
      SELECT query_id, rank, neighbor_id FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC,
                          e.vec_id) AS rank
        FROM embeddings e, (SELECT * FROM embeddings WHERE vec_id < 10) q
        WHERE e.vec_id != q.vec_id) ranked
      WHERE rank <= 5 ORDER BY query_id, rank""") { (s, _) =>
      val emb = s.table("embeddings")
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("vec").as("qvec"))
      Embeddings.bruteForceTopK(emb, "vec", "vec_id", queries, "qvec", "qid", 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy("query_id", "rank")
    },

    // LIVE (was golden until r10): the splitmix64 plane stream is
    // counter-based, so the buckets replay in SQL (lshBucketCte); the
    // ranking sim is the operator's EXACT expression (sequential dot
    // fold / (norm_a · norm_b)) so near-ties cannot ULP-flip the order
    Gate("q_ann_lsh", s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      ${lshBucketCte(4)},
      c AS (SELECT e.vec_id, e.v, bkt.b,
        sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range((SELECT dim FROM d)), x -> e.v[x + 1] * e.v[x + 1])),
          (a, b) -> a + b)) AS nrm
        FROM e JOIN bkt USING (vec_id)),
      q AS (SELECT vec_id AS qid, v AS qv, b, nrm AS qnrm FROM c WHERE vec_id < 10),
      cand AS (SELECT q.qid, c.vec_id,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range((SELECT dim FROM d)), x -> c.v[x + 1] * q.qv[x + 1])),
          (p, s) -> p + s) / (c.nrm * q.qnrm) AS sim
        FROM c JOIN q ON c.b = q.b WHERE c.vec_id != q.qid)
      SELECT query_id, rank, neighbor_id FROM (
        SELECT qid AS query_id, vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
        FROM cand) t WHERE rank <= 5 ORDER BY query_id, rank""") { (s, _) =>
      val emb = s.table("embeddings")
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("vec").as("qvec"))
      Embeddings.lshTopK(emb, "vec", "vec_id", queries, "qvec", "qid", 5, prefixBits = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy("query_id", "rank")
    },

    // IVF-flat with deterministic seed centroids: assignment, probing and
    // ranking are all exactly replayable in DuckDB (real oracle), unlike
    // the hyperplane-LSH path, whose planes are ALSO live since r10
    // (counter-based splitmix64 replays in SQL)
    // full replication of the IVF pipeline: seed centroids, cell
    // assignment (argmax cosine, ties to smallest cid), nprobe=4 query
    // cells, in-cell exact ranking
    Gate("q_ann_ivf", """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
      ea AS (
        SELECT vec_id, v, cid FROM (
          SELECT e.vec_id, e.v, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
          FROM e, c) WHERE rn = 1),
      qa AS (
        SELECT vec_id AS qid, v AS qv, cid FROM (
          SELECT e.vec_id, e.v, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
          FROM e, c WHERE e.vec_id < 10) WHERE rn <= 4)
      SELECT query_id, rank, neighbor_id FROM (
        SELECT qa.qid AS query_id, ea.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY qa.qid
                 ORDER BY list_cosine_similarity(ea.v, qa.qv) DESC, ea.vec_id) AS rank
        FROM ea JOIN qa ON ea.cid = qa.cid
        WHERE ea.vec_id != qa.qid)
      WHERE rank <= 5 ORDER BY query_id, rank""") { (s, _) =>
      val emb = s.table("embeddings")
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("vec").as("qvec"))
      Embeddings.ivfTopK(emb, "vec", "vec_id", queries, "qvec", "qid", 5, nlist = 16, nprobe = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy("query_id", "rank")
    },

    // persisted IVF index (build-once / probe-many): write centroids +
    // cid-partitioned cells to disk, then answer from the FILES — the
    // probe reads only nprobe/nlist of the corpus directories. Routing
    // and ranking reuse the exact ivfTopK kernels, so the stored-index
    // answer replays in the SAME DuckDB oracle as q_ann_ivf
    // the persisted index must answer EXACTLY like the in-memory IVF —
    // same routing, same ranking — so its oracle IS the q_ann_ivf replay
    Gate("q_ann_index", """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
      ea AS (
        SELECT vec_id, v, cid FROM (
          SELECT e.vec_id, e.v, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
          FROM e, c) WHERE rn = 1),
      qa AS (
        SELECT vec_id AS qid, v AS qv, cid FROM (
          SELECT e.vec_id, e.v, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
          FROM e, c WHERE e.vec_id < 10) WHERE rn <= 4)
      SELECT query_id, rank, neighbor_id FROM (
        SELECT qa.qid AS query_id, ea.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY qa.qid
                 ORDER BY list_cosine_similarity(ea.v, qa.qv) DESC, ea.vec_id) AS rank
        FROM ea JOIN qa ON ea.cid = qa.cid
        WHERE ea.vec_id != qa.qid)
      WHERE rank <= 5 ORDER BY query_id, rank""") { (s, _) =>
      val emb = s.table("embeddings")
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("vec").as("qvec"))
      val idx = java.nio.file.Files.createTempDirectory("graft_ann_idx_").toString
      graft.sources.AnnIndex.build(emb, "vec", "vec_id", idx, nlist = 16)
      val res = graft.sources.AnnIndex
        .query(s, idx, queries, "qvec", "qid", k = 5, nprobe = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy("query_id", "rank")
      val out = localResult(s, res) // 10 queries x k rows; frees the index
      deleteDirs(idx)
      out
    },

    // product quantization: deterministic seed codebooks (16 lowest-id
    // vectors, 8 subspaces of dim 8), e6-integer encode + ADC scoring —
    // the DuckDB oracle rebuilds codebooks, codes and distances exactly
    // full replication of the PQ pipeline: codebooks from the 16
    // lowest-id vectors (8 subspaces x dim 8), per-subspace e6-rounded
    // squared-L2 encode (sequential fold replayed via list_reduce), ADC =
    // integer sum of the per-subspace rounded distances, rank by (adc,
    // id). ^ (power) avoided: (a-b)*(a-b) keeps the arithmetic identical
    Gate("q_ann_pq", """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      cbv AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v
              FROM e ORDER BY vec_id LIMIT 16),
      subs AS (SELECT unnest(range(8)) AS j),
      cb AS (SELECT subs.j, cbv.cid, list_slice(cbv.v, subs.j*8 + 1, subs.j*8 + 8) AS cv
             FROM cbv, subs),
      dist AS (SELECT e.vec_id, cb.j, cb.cid,
        CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(8), d ->
            (e.v[cb.j*8 + d + 1] - cb.cv[d + 1]) * (e.v[cb.j*8 + d + 1] - cb.cv[d + 1]))),
          (a, b) -> a + b) * 1e6) AS BIGINT) AS d_e6
        FROM e, cb),
      enc AS (SELECT vec_id, j, cid FROM (
        SELECT vec_id, j, cid,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY d_e6, cid) AS rn
        FROM dist) WHERE rn = 1),
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
      adc AS (SELECT q.qid, enc.vec_id,
        CAST(SUM(CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(8), d ->
            (q.qv[enc.j*8 + d + 1] - cb.cv[d + 1]) * (q.qv[enc.j*8 + d + 1] - cb.cv[d + 1]))),
          (a, b) -> a + b) * 1e6) AS BIGINT)) AS BIGINT) AS adc_e6
        FROM q, enc JOIN cb ON cb.j = enc.j AND cb.cid = enc.cid
        WHERE enc.vec_id != q.qid
        GROUP BY q.qid, enc.vec_id)
      SELECT query_id, rank, neighbor_id, adc_e6 FROM (
        SELECT qid AS query_id, vec_id AS neighbor_id, adc_e6,
               row_number() OVER (PARTITION BY qid ORDER BY adc_e6, vec_id) AS rank
        FROM adc)
      WHERE rank <= 5 ORDER BY query_id, rank""") { (s, _) =>
      val emb = s.table("embeddings")
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("vec").as("qvec"))
      Embeddings.pqTopK(emb, "vec", "vec_id", queries, "qvec", "qid",
          k = 5, m = 8, ksub = 16)
        .orderBy("query_id", "rank")
    },

    // Lloyd-TRAINED PQ codebooks (1 iteration): assignment is the
    // integer encode kernel, the update is an e6-integer mean — both
    // pure SQL transforms, so the oracle replays seed -> update ->
    // re-encode -> ADC entirely live (no golden pin)
    // trained PQ, fully live: seed codebooks -> encode (the q_ann_pq
    // replay) -> ONE Lloyd update (per-entry e6-integer mean of member
    // slices, seed kept where an entry lost every member) -> re-encode
    // with the trained codebooks -> ADC rank. Every stage is the exact
    // integer arithmetic the Scala operator runs.
    Gate("q_ann_pq_trained", """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      cbv AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v
              FROM e ORDER BY vec_id LIMIT 16),
      subs AS (SELECT unnest(range(8)) AS j),
      cb0 AS (SELECT subs.j, cbv.cid, list_slice(cbv.v, subs.j*8 + 1, subs.j*8 + 8) AS cv
              FROM cbv, subs),
      dist0 AS (SELECT e.vec_id, cb0.j, cb0.cid,
        CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(8), d ->
            (e.v[cb0.j*8 + d + 1] - cb0.cv[d + 1]) * (e.v[cb0.j*8 + d + 1] - cb0.cv[d + 1]))),
          (a, b) -> a + b) * 1e6) AS BIGINT) AS d_e6
        FROM e, cb0),
      enc0 AS (SELECT vec_id, j, cid FROM (
        SELECT vec_id, j, cid,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY d_e6, cid) AS rn
        FROM dist0) WHERE rn = 1),
      upd AS (SELECT enc0.j, enc0.cid, p.p,
        CAST(SUM(CAST(round(e.v[enc0.j*8 + p.p + 1] * 1e6) AS BIGINT)) AS DOUBLE)
          / (COUNT(*) * 1e6) AS val
        FROM enc0 JOIN e ON e.vec_id = enc0.vec_id,
             (SELECT unnest(range(8)) AS p) p
        GROUP BY enc0.j, enc0.cid, p.p),
      cbu AS (SELECT j, cid, list(val ORDER BY p) AS cv FROM upd GROUP BY j, cid),
      cb AS (SELECT cb0.j, cb0.cid, coalesce(cbu.cv, cb0.cv) AS cv
             FROM cb0 LEFT JOIN cbu ON cbu.j = cb0.j AND cbu.cid = cb0.cid),
      dist AS (SELECT e.vec_id, cb.j, cb.cid,
        CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(8), d ->
            (e.v[cb.j*8 + d + 1] - cb.cv[d + 1]) * (e.v[cb.j*8 + d + 1] - cb.cv[d + 1]))),
          (a, b) -> a + b) * 1e6) AS BIGINT) AS d_e6
        FROM e, cb),
      enc AS (SELECT vec_id, j, cid FROM (
        SELECT vec_id, j, cid,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY d_e6, cid) AS rn
        FROM dist) WHERE rn = 1),
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
      adc AS (SELECT q.qid, enc.vec_id,
        CAST(SUM(CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(8), d ->
            (q.qv[enc.j*8 + d + 1] - cb.cv[d + 1]) * (q.qv[enc.j*8 + d + 1] - cb.cv[d + 1]))),
          (a, b) -> a + b) * 1e6) AS BIGINT)) AS BIGINT) AS adc_e6
        FROM q, enc JOIN cb ON cb.j = enc.j AND cb.cid = enc.cid
        WHERE enc.vec_id != q.qid
        GROUP BY q.qid, enc.vec_id)
      SELECT query_id, rank, neighbor_id, adc_e6 FROM (
        SELECT qid AS query_id, vec_id AS neighbor_id, adc_e6,
               row_number() OVER (PARTITION BY qid ORDER BY adc_e6, vec_id) AS rank
        FROM adc)
      WHERE rank <= 5 ORDER BY query_id, rank""") { (s, _) =>
      val emb = s.table("embeddings")
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("vec").as("qvec"))
      val cb = Embeddings.pqCodebooksTrained(emb, "vec", "vec_id",
        m = 8, ksub = 16, iterations = 1)
      Embeddings.pqTopK(emb, "vec", "vec_id", queries, "qvec", "qid",
          k = 5, m = 8, ksub = 16, codebooks = Some(cb))
        .orderBy("query_id", "rank")
    },

    // IVF + PQ composed (the billion-scale ANN shape): nprobe cells
    // bound the candidates, global-codebook PQ codes bound the scan;
    // the oracle composes the two existing replays
    // IVF cell routing composed with the PQ code/ADC replay: candidates
    // are the query's nprobe cells, scored by the integer ADC distance
    Gate("q_ann_ivfpq", """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      c AS (SELECT vec_id AS ccid, v AS cv0 FROM e ORDER BY vec_id LIMIT 16),
      ea AS (
        SELECT vec_id, v, ccid AS cell FROM (
          SELECT e.vec_id, e.v, c.ccid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv0) DESC, c.ccid) AS rn
          FROM e, c) WHERE rn = 1),
      qa AS (
        SELECT vec_id AS qid, v AS qv, ccid AS cell FROM (
          SELECT e.vec_id, e.v, c.ccid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv0) DESC, c.ccid) AS rn
          FROM e, c WHERE e.vec_id < 10) WHERE rn <= 4),
      cbv AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v
              FROM e ORDER BY vec_id LIMIT 16),
      subs AS (SELECT unnest(range(8)) AS j),
      cb AS (SELECT subs.j, cbv.cid, list_slice(cbv.v, subs.j*8 + 1, subs.j*8 + 8) AS cv
             FROM cbv, subs),
      dist AS (SELECT e.vec_id, cb.j, cb.cid,
        CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(8), d ->
            (e.v[cb.j*8 + d + 1] - cb.cv[d + 1]) * (e.v[cb.j*8 + d + 1] - cb.cv[d + 1]))),
          (a, b) -> a + b) * 1e6) AS BIGINT) AS d_e6
        FROM e, cb),
      enc AS (SELECT vec_id, j, cid FROM (
        SELECT vec_id, j, cid,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY d_e6, cid) AS rn
        FROM dist) WHERE rn = 1),
      adc AS (SELECT qa.qid, ea.vec_id,
        CAST(SUM(CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(8), d ->
            (qa.qv[enc.j*8 + d + 1] - cb.cv[d + 1]) * (qa.qv[enc.j*8 + d + 1] - cb.cv[d + 1]))),
          (a, b) -> a + b) * 1e6) AS BIGINT)) AS BIGINT) AS adc_e6
        FROM ea JOIN qa ON ea.cell = qa.cell
                JOIN enc ON enc.vec_id = ea.vec_id
                JOIN cb ON cb.j = enc.j AND cb.cid = enc.cid
        WHERE ea.vec_id != qa.qid
        GROUP BY qa.qid, ea.vec_id)
      SELECT query_id, rank, neighbor_id, adc_e6 FROM (
        SELECT qid AS query_id, vec_id AS neighbor_id, adc_e6,
               row_number() OVER (PARTITION BY qid ORDER BY adc_e6, vec_id) AS rank
        FROM adc)
      WHERE rank <= 5 ORDER BY query_id, rank""") { (s, _) =>
      val emb = s.table("embeddings")
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("vec").as("qvec"))
      Embeddings.ivfPqTopK(emb, "vec", "vec_id", queries, "qvec", "qid",
          k = 5, nlist = 16, nprobe = 4, m = 8, ksub = 16)
        .orderBy("query_id", "rank")
    },

    // residual IVFPQ (the textbook encoding): codes quantize v − cell
    // centroid instead of v, queries rank in residual space — LIVE
    // oracle since r11: the residual subtraction is one list_transform
    // layered over the q_ann_ivfpq replay (codebooks seed from the
    // residual frame, so the whole encode/ADC pipeline shifts with it)
    // residual IVFPQ: identical skeleton to q_ann_ivfpq with every vector
    // replaced by (v − centroid-of-its-cell); codebooks seed from the
    // residual frame (first ksub residual vectors by vec_id), the query
    // residual is taken against EACH probed cell's centroid
    Gate("q_ann_ivfpq_residual", """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      c AS (SELECT vec_id AS ccid, v AS cv0 FROM e ORDER BY vec_id LIMIT 16),
      ea AS (
        SELECT vec_id, v, ccid AS cell FROM (
          SELECT e.vec_id, e.v, c.ccid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv0) DESC, c.ccid) AS rn
          FROM e, c) WHERE rn = 1),
      er AS (SELECT ea.vec_id, ea.cell,
               list_transform(range(64), i -> ea.v[i + 1] - c.cv0[i + 1]) AS rv
             FROM ea JOIN c ON c.ccid = ea.cell),
      qa AS (
        SELECT vec_id AS qid, v AS qv, ccid AS cell FROM (
          SELECT e.vec_id, e.v, c.ccid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv0) DESC, c.ccid) AS rn
          FROM e, c WHERE e.vec_id < 10) WHERE rn <= 4),
      qr AS (SELECT qa.qid, qa.cell,
               list_transform(range(64), i -> qa.qv[i + 1] - c.cv0[i + 1]) AS qrv
             FROM qa JOIN c ON c.ccid = qa.cell),
      cbv AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, rv AS v
              FROM er ORDER BY vec_id LIMIT 16),
      subs AS (SELECT unnest(range(8)) AS j),
      cb AS (SELECT subs.j, cbv.cid, list_slice(cbv.v, subs.j*8 + 1, subs.j*8 + 8) AS cv
             FROM cbv, subs),
      dist AS (SELECT er.vec_id, cb.j, cb.cid,
        CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(8), d ->
            (er.rv[cb.j*8 + d + 1] - cb.cv[d + 1]) * (er.rv[cb.j*8 + d + 1] - cb.cv[d + 1]))),
          (a, b) -> a + b) * 1e6) AS BIGINT) AS d_e6
        FROM er, cb),
      enc AS (SELECT vec_id, j, cid FROM (
        SELECT vec_id, j, cid,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY d_e6, cid) AS rn
        FROM dist) WHERE rn = 1),
      adc AS (SELECT qr.qid, er.vec_id,
        CAST(SUM(CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(8), d ->
            (qr.qrv[enc.j*8 + d + 1] - cb.cv[d + 1]) * (qr.qrv[enc.j*8 + d + 1] - cb.cv[d + 1]))),
          (a, b) -> a + b) * 1e6) AS BIGINT)) AS BIGINT) AS adc_e6
        FROM er JOIN qr ON er.cell = qr.cell
                JOIN enc ON enc.vec_id = er.vec_id
                JOIN cb ON cb.j = enc.j AND cb.cid = enc.cid
        WHERE er.vec_id != qr.qid
        GROUP BY qr.qid, er.vec_id)
      SELECT query_id, rank, neighbor_id, adc_e6 FROM (
        SELECT qid AS query_id, vec_id AS neighbor_id, adc_e6,
               row_number() OVER (PARTITION BY qid ORDER BY adc_e6, vec_id) AS rank
        FROM adc)
      WHERE rank <= 5 ORDER BY query_id, rank""") { (s, _) =>
      val emb = s.table("embeddings")
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("vec").as("qvec"))
      Embeddings.ivfPqTopK(emb, "vec", "vec_id", queries, "qvec", "qid",
          k = 5, nlist = 16, nprobe = 4, m = 8, ksub = 16, residual = true)
        .orderBy("query_id", "rank")
    },

    // multi-probe LSH recall curve vs the exact baseline: Hamming-ball
    // query-side probing recovers the recall a single coarse bucket
    // loses (12% -> 44% -> 84% at prefixBits=4) — LIVE oracle since
    // r10: the counter-based splitmix planes replay in SQL
    // LIVE (was golden until r10): the full multi-probe recall curve —
    // splitmix buckets (lshBucketCte), exact baseline, Hamming-ball
    // probe masks (bit_count(m) <= p over prefixBits), per-probe top-5,
    // and the recallReport integer rollup, all replayed
    Gate("q_ann_lsh_probe", s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      ${lshBucketCte(4)},
      c AS (SELECT e.vec_id, e.v, bkt.b,
        sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range((SELECT dim FROM d)), x -> e.v[x + 1] * e.v[x + 1])),
          (a, b) -> a + b)) AS nrm
        FROM e JOIN bkt USING (vec_id)),
      q AS (SELECT vec_id AS qid, v AS qv, b, nrm AS qnrm FROM c WHERE vec_id < 10),
      exact AS (SELECT query_id, neighbor_id FROM (
        SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY list_reduce(list_prepend(CAST(0 AS DOUBLE),
                     list_transform(range((SELECT dim FROM d)),
                       x -> c.v[x + 1] * q.qv[x + 1])),
                     (p, s) -> p + s) / (c.nrm * q.qnrm) DESC, c.vec_id) AS rank
        FROM c, q WHERE c.vec_id != q.qid) t WHERE rank <= 5),
      probes AS (SELECT p.p, m.m FROM (SELECT unnest(range(3)) AS p) p,
                 (SELECT unnest(range(16)) AS m) m WHERE bit_count(m) <= p.p),
      cand AS (SELECT pr.p, q.qid, c.vec_id,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range((SELECT dim FROM d)),
                   x -> c.v[x + 1] * q.qv[x + 1])),
                 (p2, s2) -> p2 + s2) / (c.nrm * q.qnrm) AS sim
        FROM q JOIN probes pr ON true
             JOIN c ON c.b = xor(q.b::UBIGINT, pr.m::UBIGINT)::BIGINT
        WHERE c.vec_id != q.qid),
      approx AS (SELECT p, query_id, neighbor_id FROM (
        SELECT p, qid AS query_id, vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY p, qid ORDER BY sim DESC, vec_id) AS rank
        FROM cand) t WHERE rank <= 5),
      per AS (SELECT pr.p, ex.query_id,
              CAST(COUNT(*) AS BIGINT) AS ex_cnt,
              CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
        FROM (SELECT unnest(range(3)) AS p) pr
        CROSS JOIN exact ex
        LEFT JOIN approx a ON a.p = pr.p AND a.query_id = ex.query_id
             AND a.neighbor_id = ex.neighbor_id
        GROUP BY pr.p, ex.query_id),
      r AS (SELECT p, query_id, ex_cnt, hits, hits * 1000000 // ex_cnt AS ppm FROM per)
      SELECT CAST(p AS INT) AS probe, CAST(COUNT(*) AS BIGINT) AS queries,
             CAST(SUM(ppm) // COUNT(*) AS BIGINT) AS mean_recall_ppm,
             CAST(MIN(ppm) AS BIGINT) AS min_recall_ppm,
             CAST(SUM(CASE WHEN hits = ex_cnt THEN 1 ELSE 0 END) AS BIGINT) AS perfect_queries
      FROM r GROUP BY p ORDER BY probe""") { (s, _) =>
      val emb = s.table("embeddings")
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("vec").as("qvec"))
      val exact = Embeddings.bruteForceTopK(emb, "vec", "vec_id",
        queries, "qvec", "qid", 5)
      (0 to 2).map { p =>
        Embeddings.recallReport(
            Embeddings.lshTopK(emb, "vec", "vec_id", queries, "qvec", "qid",
              5, prefixBits = 4, multiProbe = p), exact)
          .withColumn("probe", lit(p))
      }.reduce(_.unionByName(_))
        .select(col("probe"), col("queries"), col("mean_recall_ppm"),
          col("min_recall_ppm"), col("perfect_queries"))
        .orderBy("probe")
    },

    // recall@5 of the IVF path vs the exact baseline — the eval that
    // justifies an ANN configuration; every stage deterministic, both
    // pipelines + the overlap count replayed live
    // recall@5: both pipelines (exact window ranking; IVF cell routing +
    // in-cell ranking) replayed, per-query overlap counted, integer
    // ppm recall rolled up exactly as the operator computes it
    Gate("q_ann_recall", """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      exact AS (SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, e2.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(e2.v, q.v) DESC, e2.vec_id) AS rank
        FROM e e2, (SELECT * FROM e WHERE vec_id < 10) q
        WHERE e2.vec_id != q.vec_id) WHERE rank <= 5),
      c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
      ea AS (SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
        FROM e, c) WHERE rn = 1),
      qa AS (SELECT vec_id AS qid, v AS qv, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
        FROM e, c WHERE e.vec_id < 10) WHERE rn <= 4),
      approx AS (SELECT query_id, neighbor_id FROM (
        SELECT qa.qid AS query_id, ea.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY qa.qid
                 ORDER BY list_cosine_similarity(ea.v, qa.qv) DESC, ea.vec_id) AS rank
        FROM ea JOIN qa ON ea.cid = qa.cid
        WHERE ea.vec_id != qa.qid) WHERE rank <= 5),
      pq AS (SELECT exact.query_id,
               CAST(COUNT(*) AS BIGINT) AS ex,
               CAST(SUM(CASE WHEN approx.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
             FROM exact LEFT JOIN approx
               ON approx.query_id = exact.query_id AND approx.neighbor_id = exact.neighbor_id
             GROUP BY exact.query_id),
      pr AS (SELECT query_id, ex, hits, hits * 1000000 // ex AS recall_ppm FROM pq)
      SELECT CAST(COUNT(*) AS BIGINT) AS queries,
             CAST(SUM(recall_ppm) // COUNT(*) AS BIGINT) AS mean_recall_ppm,
             CAST(MIN(recall_ppm) AS BIGINT) AS min_recall_ppm,
             CAST(SUM(CASE WHEN hits = ex THEN 1 ELSE 0 END) AS BIGINT) AS perfect_queries
      FROM pr""") { (s, _) =>
      val emb = s.table("embeddings")
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("vec").as("qvec"))
      Embeddings.recallReport(
        Embeddings.ivfTopK(emb, "vec", "vec_id", queries, "qvec", "qid", 5,
          nlist = 16, nprobe = 4),
        Embeddings.bruteForceTopK(emb, "vec", "vec_id", queries, "qvec", "qid", 5))
    },

    // LSH multi-probe at its pinned config (prefixBits=4, probe radius
    // 2): floor 0.80 under the 0.84/0.90/0.92 measured across SFs.
    // recall-floor gates: the oracle certifies the exact recall rollup
    // (and the pinned floor literal); the floor ASSERTION itself lives
    // Spark-side in recallFloor's require — a breach turns the gate red
    // before any output is written
    Gate("q_recall_floor_lsh", s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      ${lshBucketCte(4)},
      c AS (SELECT e.vec_id, e.v, bkt.b,
        sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range((SELECT dim FROM d)), x -> e.v[x + 1] * e.v[x + 1])),
          (a, b) -> a + b)) AS nrm
        FROM e JOIN bkt USING (vec_id)),
      q AS (SELECT vec_id AS qid, v AS qv, b, nrm AS qnrm FROM c WHERE vec_id < 10),
      exact AS (SELECT query_id, neighbor_id FROM (
        SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY list_reduce(list_prepend(CAST(0 AS DOUBLE),
                     list_transform(range((SELECT dim FROM d)),
                       x -> c.v[x + 1] * q.qv[x + 1])),
                     (p, s) -> p + s) / (c.nrm * q.qnrm) DESC, c.vec_id) AS rank
        FROM c, q WHERE c.vec_id != q.qid) t WHERE rank <= 5),
      probes AS (SELECT m FROM (SELECT unnest(range(16)) AS m) WHERE bit_count(m) <= 2),
      cand AS (SELECT q.qid, c.vec_id,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range((SELECT dim FROM d)),
                   x -> c.v[x + 1] * q.qv[x + 1])),
                 (p2, s2) -> p2 + s2) / (c.nrm * q.qnrm) AS sim
        FROM q JOIN probes pr ON true
             JOIN c ON c.b = xor(q.b::UBIGINT, pr.m::UBIGINT)::BIGINT
        WHERE c.vec_id != q.qid),
      approx AS (SELECT query_id, neighbor_id FROM (
        SELECT qid AS query_id, vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
        FROM cand) t WHERE rank <= 5),
      per AS (SELECT ex.query_id,
              CAST(COUNT(*) AS BIGINT) AS ex_cnt,
              CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
        FROM exact ex
        LEFT JOIN approx a ON a.query_id = ex.query_id
             AND a.neighbor_id = ex.neighbor_id
        GROUP BY ex.query_id),
      r AS (SELECT query_id, ex_cnt, hits, hits * 1000000 // ex_cnt AS ppm FROM per)
      SELECT CAST(COUNT(*) AS BIGINT) AS queries,
             CAST(SUM(ppm) // COUNT(*) AS BIGINT) AS mean_recall_ppm,
             CAST(MIN(ppm) AS BIGINT) AS min_recall_ppm,
             CAST(SUM(CASE WHEN hits = ex_cnt THEN 1 ELSE 0 END) AS BIGINT) AS perfect_queries,
             CAST(800000 AS BIGINT) AS floor_ppm
      FROM r""") { (s, _) =>
      val emb = s.table("embeddings")
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("vec").as("qvec"))
      recallFloor(
        Embeddings.lshTopK(emb, "vec", "vec_id", queries, "qvec", "qid",
          5, prefixBits = 4, multiProbe = 2),
        Embeddings.bruteForceTopK(emb, "vec", "vec_id", queries, "qvec", "qid", 5),
        floorPpm = 800000L, config = "lsh prefixBits=4 multiProbe=2")
    },

    // IVF at its pinned config (nlist=16, nprobe=4): floor 0.90 under
    // the 0.92/1.00/1.00 measured across SFs.
    Gate("q_recall_floor_ivf", """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      exact AS (SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, e2.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(e2.v, q.v) DESC, e2.vec_id) AS rank
        FROM e e2, (SELECT * FROM e WHERE vec_id < 10) q
        WHERE e2.vec_id != q.vec_id) WHERE rank <= 5),
      c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
      ea AS (SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
        FROM e, c) WHERE rn = 1),
      qa AS (SELECT vec_id AS qid, v AS qv, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
        FROM e, c WHERE e.vec_id < 10) WHERE rn <= 4),
      approx AS (SELECT query_id, neighbor_id FROM (
        SELECT qa.qid AS query_id, ea.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY qa.qid
                 ORDER BY list_cosine_similarity(ea.v, qa.qv) DESC, ea.vec_id) AS rank
        FROM ea JOIN qa ON ea.cid = qa.cid
        WHERE ea.vec_id != qa.qid) WHERE rank <= 5),
      pq AS (SELECT exact.query_id,
               CAST(COUNT(*) AS BIGINT) AS ex,
               CAST(SUM(CASE WHEN approx.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
             FROM exact LEFT JOIN approx
               ON approx.query_id = exact.query_id AND approx.neighbor_id = exact.neighbor_id
             GROUP BY exact.query_id),
      pr AS (SELECT query_id, ex, hits, hits * 1000000 // ex AS recall_ppm FROM pq)
      SELECT CAST(COUNT(*) AS BIGINT) AS queries,
             CAST(SUM(recall_ppm) // COUNT(*) AS BIGINT) AS mean_recall_ppm,
             CAST(MIN(recall_ppm) AS BIGINT) AS min_recall_ppm,
             CAST(SUM(CASE WHEN hits = ex THEN 1 ELSE 0 END) AS BIGINT) AS perfect_queries,
             CAST(900000 AS BIGINT) AS floor_ppm
      FROM pr""") { (s, _) =>
      val emb = s.table("embeddings")
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("vec").as("qvec"))
      recallFloor(
        Embeddings.ivfTopK(emb, "vec", "vec_id", queries, "qvec", "qid", 5,
          nlist = 16, nprobe = 4),
        Embeddings.bruteForceTopK(emb, "vec", "vec_id", queries, "qvec", "qid", 5),
        floorPpm = 900000L, config = "ivf nlist=16 nprobe=4")
    },

    // Hamming prescreen with a CORPUS-SCALED candidate budget
    // (max(20, n/1000)): a fixed budget decays toward zero recall as
    // the corpus grows (0.50/0.30/0.20 measured at 20 across SFs, 0.04
    // at sf10cd — the saturation the telemetry warns about), which is
    // exactly the production guidance this gate should encode: size
    // the prescreen WITH the corpus. The floor stays a backstop, not a
    // tight bar; the tight bars live on the lsh/ivf/pq gates.
    Gate("q_recall_floor_hamming", """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT * FROM e WHERE vec_id < 10),
      exact AS (SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, e2.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(e2.v, q.v) DESC, e2.vec_id) AS rank
        FROM e e2, q WHERE e2.vec_id != q.vec_id) WHERE rank <= 5),
      ham AS (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               len(list_filter(range(len(e.v)), j -> (e.v[j+1] > 0) <> (q.v[j+1] > 0))) AS hamming
        FROM e, q WHERE e.vec_id != q.vec_id),
      budget AS (SELECT greatest(20, COUNT(*) // 1000) AS b FROM e),
      cand AS (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS hr
        FROM ham),
      approx AS (SELECT query_id, neighbor_id FROM (
        SELECT c.query_id, c.neighbor_id,
               row_number() OVER (PARTITION BY c.query_id
                 ORDER BY list_cosine_similarity(e2.v, q2.v) DESC, c.neighbor_id) AS rank
        FROM cand c JOIN e e2 ON e2.vec_id = c.neighbor_id JOIN q q2 ON q2.vec_id = c.query_id
        WHERE c.hr <= (SELECT b FROM budget)) WHERE rank <= 5),
      pq AS (SELECT exact.query_id,
               CAST(COUNT(*) AS BIGINT) AS ex,
               CAST(SUM(CASE WHEN approx.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
             FROM exact LEFT JOIN approx
               ON approx.query_id = exact.query_id AND approx.neighbor_id = exact.neighbor_id
             GROUP BY exact.query_id),
      pr AS (SELECT query_id, ex, hits, hits * 1000000 // ex AS recall_ppm FROM pq)
      SELECT CAST(COUNT(*) AS BIGINT) AS queries,
             CAST(SUM(recall_ppm) // COUNT(*) AS BIGINT) AS mean_recall_ppm,
             CAST(MIN(recall_ppm) AS BIGINT) AS min_recall_ppm,
             CAST(SUM(CASE WHEN hits = ex THEN 1 ELSE 0 END) AS BIGINT) AS perfect_queries,
             CAST(120000 AS BIGINT) AS floor_ppm
      FROM pr""") { (s, _) =>
      val emb = s.table("embeddings")
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("vec").as("qvec"))
      val budget = math.max(20L, emb.count() / 1000L).toInt
      recallFloor(
        Embeddings.hammingTopK(emb, "vec", "vec_id", queries, "qvec", "qid",
          k = 5, candidates = budget),
        Embeddings.bruteForceTopK(emb, "vec", "vec_id", queries, "qvec", "qid", 5),
        // backstop re-based 0.15 -> 0.12 in r13: the rotation fixture
        // (distribution-matched replicas, SCALE.md) measures 0.14 at
        // sf1cd — one 20000-ppm hit under the old floor — while the
        // catastrophic fixed-budget decay this gate exists to catch
        // measured 0.04; the floor stays under every fixture's min
        // (0.50 / 0.30 / 0.14 / 0.16+ across sf0.01/sf0.1/sf1cd/sf10cd)
        floorPpm = 120000L, config = s"hamming k=5 candidates=$budget (n/1000)")
    },

    // PQ training quality: the hard invariant is Lloyd's guarantee —
    // the trained codebooks' total quantization distortion must not
    // exceed the seed codebooks' (deterministic at every corpus size;
    // slack = rows·m e6-units covers the e6 integer rounding). The
    // recall-lift form of the same claim is 20 000-ppm-granular at 10
    // queries and flips on 2-hit noise (measured: spread queries at
    // sf0.1 show seed 80 000 > trained 40 000 ppm on a REAL fixture,
    // and replica-0 head queries at a cd fixture mismatch a mixture-
    // trained codebook — SCALE.md round-12), so recall is reported as
    // oracle-certified telemetry rather than gated. Two rows out
    // (seed, trained) with exact recall AND exact distortion — a
    // regression in either chain flips the DuckDB hash red.
    // seed AND Lloyd-trained PQ recall from one replay (the trained chain
    // already materializes the seed encode enc0/cb0): per-config exact-vs-
    // ADC-top-5 recall rollups, labeled rows — the Spark-side require
    // asserts trained >= seed on these exact numbers
    Gate("q_recall_floor_pq", """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
      exact AS (SELECT query_id, neighbor_id FROM (
        SELECT q.qid AS query_id, e2.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY list_cosine_similarity(e2.v, q.qv) DESC, e2.vec_id) AS rank
        FROM e e2, q WHERE e2.vec_id != q.qid) WHERE rank <= 5),
      cbv AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v
              FROM e ORDER BY vec_id LIMIT 16),
      subs AS (SELECT unnest(range(8)) AS j),
      cb0 AS (SELECT subs.j, cbv.cid, list_slice(cbv.v, subs.j*8 + 1, subs.j*8 + 8) AS cv
              FROM cbv, subs),
      dist0 AS (SELECT e.vec_id, cb0.j, cb0.cid,
        CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(8), d ->
            (e.v[cb0.j*8 + d + 1] - cb0.cv[d + 1]) * (e.v[cb0.j*8 + d + 1] - cb0.cv[d + 1]))),
          (a, b) -> a + b) * 1e6) AS BIGINT) AS d_e6
        FROM e, cb0),
      enc0 AS (SELECT vec_id, j, cid FROM (
        SELECT vec_id, j, cid,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY d_e6, cid) AS rn
        FROM dist0) WHERE rn = 1),
      adc0 AS (SELECT q.qid, enc0.vec_id,
        CAST(SUM(CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(8), d ->
            (q.qv[enc0.j*8 + d + 1] - cb0.cv[d + 1]) * (q.qv[enc0.j*8 + d + 1] - cb0.cv[d + 1]))),
          (a, b) -> a + b) * 1e6) AS BIGINT)) AS BIGINT) AS adc_e6
        FROM q, enc0 JOIN cb0 ON cb0.j = enc0.j AND cb0.cid = enc0.cid
        WHERE enc0.vec_id != q.qid
        GROUP BY q.qid, enc0.vec_id),
      approx0 AS (SELECT query_id, neighbor_id FROM (
        SELECT qid AS query_id, vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY qid ORDER BY adc_e6, vec_id) AS rank
        FROM adc0) WHERE rank <= 5),
      upd AS (SELECT enc0.j, enc0.cid, p.p,
        CAST(SUM(CAST(round(e.v[enc0.j*8 + p.p + 1] * 1e6) AS BIGINT)) AS DOUBLE)
          / (COUNT(*) * 1e6) AS val
        FROM enc0 JOIN e ON e.vec_id = enc0.vec_id,
             (SELECT unnest(range(8)) AS p) p
        GROUP BY enc0.j, enc0.cid, p.p),
      cbu AS (SELECT j, cid, list(val ORDER BY p) AS cv FROM upd GROUP BY j, cid),
      cb AS (SELECT cb0.j, cb0.cid, coalesce(cbu.cv, cb0.cv) AS cv
             FROM cb0 LEFT JOIN cbu ON cbu.j = cb0.j AND cbu.cid = cb0.cid),
      dist AS (SELECT e.vec_id, cb.j, cb.cid,
        CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(8), d ->
            (e.v[cb.j*8 + d + 1] - cb.cv[d + 1]) * (e.v[cb.j*8 + d + 1] - cb.cv[d + 1]))),
          (a, b) -> a + b) * 1e6) AS BIGINT) AS d_e6
        FROM e, cb),
      enc AS (SELECT vec_id, j, cid FROM (
        SELECT vec_id, j, cid,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY d_e6, cid) AS rn
        FROM dist) WHERE rn = 1),
      adc AS (SELECT q.qid, enc.vec_id,
        CAST(SUM(CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(8), d ->
            (q.qv[enc.j*8 + d + 1] - cb.cv[d + 1]) * (q.qv[enc.j*8 + d + 1] - cb.cv[d + 1]))),
          (a, b) -> a + b) * 1e6) AS BIGINT)) AS BIGINT) AS adc_e6
        FROM q, enc JOIN cb ON cb.j = enc.j AND cb.cid = enc.cid
        WHERE enc.vec_id != q.qid
        GROUP BY q.qid, enc.vec_id),
      approx1 AS (SELECT query_id, neighbor_id FROM (
        SELECT qid AS query_id, vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY qid ORDER BY adc_e6, vec_id) AS rank
        FROM adc) WHERE rank <= 5),
      roll AS (
        SELECT 'pq_seed' AS config, ex.query_id,
               CAST(COUNT(*) AS BIGINT) AS ex,
               CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
        FROM exact ex LEFT JOIN approx0 a
          ON a.query_id = ex.query_id AND a.neighbor_id = ex.neighbor_id
        GROUP BY ex.query_id
        UNION ALL
        SELECT 'pq_trained' AS config, ex.query_id,
               CAST(COUNT(*) AS BIGINT) AS ex,
               CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
        FROM exact ex LEFT JOIN approx1 a
          ON a.query_id = ex.query_id AND a.neighbor_id = ex.neighbor_id
        GROUP BY ex.query_id),
      sdist AS (
        SELECT 'pq_seed' AS config, CAST(SUM(md) AS BIGINT) AS distortion_e6 FROM (
          SELECT vec_id, j, MIN(d_e6) AS md FROM dist0 GROUP BY vec_id, j)
        UNION ALL
        SELECT 'pq_trained' AS config, CAST(SUM(md) AS BIGINT) AS distortion_e6 FROM (
          SELECT vec_id, j, MIN(d_e6) AS md FROM dist GROUP BY vec_id, j)),
      pr AS (SELECT config, query_id, ex, hits, hits * 1000000 // ex AS ppm FROM roll)
      SELECT pr.config, CAST(COUNT(*) AS BIGINT) AS queries,
             CAST(SUM(ppm) // COUNT(*) AS BIGINT) AS mean_recall_ppm,
             CAST(MIN(ppm) AS BIGINT) AS min_recall_ppm,
             CAST(SUM(CASE WHEN hits = ex THEN 1 ELSE 0 END) AS BIGINT) AS perfect_queries,
             CAST(MIN(sdist.distortion_e6) AS BIGINT) AS distortion_e6
      FROM pr JOIN sdist ON sdist.config = pr.config
      GROUP BY pr.config ORDER BY pr.config""") { (s, _) =>
      val emb = s.table("embeddings")
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("vec").as("qvec"))
      val exact = Embeddings.bruteForceTopK(emb, "vec", "vec_id",
        queries, "qvec", "qid", 5)
      val cb0 = Embeddings.pqCodebooks(emb, "vec", "vec_id", m = 8, ksub = 16)
      val seed = Embeddings.recallReport(
        Embeddings.pqTopK(emb, "vec", "vec_id", queries, "qvec", "qid",
          5, m = 8, ksub = 16, codebooks = Some(cb0)), exact)
      val cb = Embeddings.pqCodebooksTrained(emb, "vec", "vec_id",
        m = 8, ksub = 16, iterations = 1, seed = Some(cb0))
      val trained = Embeddings.recallReport(
        Embeddings.pqTopK(emb, "vec", "vec_id", queries, "qvec", "qid",
          5, m = 8, ksub = 16, codebooks = Some(cb)), exact)
      // one fused pass for both distortions + the slack denominator
      // (was three full corpus scans — guide §1.2)
      val (Seq(d0, d1), nRows) =
        Embeddings.pqDistortionsE6(emb, "vec", Seq(cb0, cb))
      val slackE6 = nRows * 8L
      require(d1 <= d0 + slackE6,
        s"Lloyd training INCREASED PQ distortion: trained $d1 e6 > " +
          s"seed $d0 e6 + rounding slack $slackE6 — the update is broken")
      val out = seed.withColumn("config", lit("pq_seed"))
        .withColumn("distortion_e6", lit(d0))
        .unionByName(trained.withColumn("config", lit("pq_trained"))
          .withColumn("distortion_e6", lit(d1)))
        .select(col("config"), col("queries"), col("mean_recall_ppm"),
          col("min_recall_ppm"), col("perfect_queries"), col("distortion_e6"))
      out.orderBy("config")
    },

    // two-stage binary ANN: Hamming prescreen (top-20 by packed-signature
    // popcount) then exact cosine rerank to top-5 — both stages replayed
    // verbatim by the oracle from float sign tests
    // two-stage replay: hamming = count of sign disagreements (== popcount
    // of xor of the packed words by construction), top-20 candidates by
    // (hamming, id), exact-cosine top-5 among them
    Gate("q_ann_hamming", """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT * FROM e WHERE vec_id < 10),
      ham AS (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               len(list_filter(range(len(e.v)), j -> (e.v[j+1] > 0) <> (q.v[j+1] > 0))) AS hamming
        FROM e, q WHERE e.vec_id != q.vec_id),
      cand AS (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS hr
        FROM ham),
      ranked AS (
        SELECT c.query_id, c.neighbor_id,
               row_number() OVER (PARTITION BY c.query_id
                 ORDER BY list_cosine_similarity(e2.v, q2.v) DESC, c.neighbor_id) AS rank
        FROM cand c JOIN e e2 ON e2.vec_id = c.neighbor_id JOIN q q2 ON q2.vec_id = c.query_id
        WHERE c.hr <= 20)
      SELECT query_id, rank, neighbor_id FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""") { (s, _) =>
      val emb = s.table("embeddings")
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("vec").as("qvec"))
      Embeddings.hammingTopK(emb, "vec", "vec_id", queries, "qvec", "qid",
          k = 5, candidates = 20)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy("query_id", "rank")
    },

    // MMR diversity rerank over the exact-cosine top-20 candidates:
    // integer e6/ppm greedy (pure function of the data), replayed step
    // for step by a DuckDB recursive CTE
    // MMR greedy rerank replayed step for step: candidate cosines with the
    // EXACT Spark arithmetic (sequential list_reduce dot, dot/(sqrt*sqrt))
    // so the e6 floors agree bit-for-bit, then a recursive CTE advances
    // every query one rank per iteration — LATERAL argmax over the
    // not-yet-chosen candidates, penalty = MAX pair sim to the chosen list
    Gate("q_mmr_rerank", """
      WITH RECURSIVE
      e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
      scored AS (
        SELECT q.qid, e.vec_id AS id, e.v,
               list_reduce(list_transform(range(len(e.v)), i -> e.v[i+1] * qv[i+1]), (a,b) -> a+b)
                 / (sqrt(list_reduce(list_transform(e.v, x -> x*x), (a,b)->a+b))
                    * sqrt(list_reduce(list_transform(qv, x -> x*x), (a,b)->a+b))) AS sim
        FROM e, q WHERE e.vec_id != q.qid),
      cand AS (
        SELECT qid, id, v, CAST(floor(sim * 1000000.0 + 0.5) AS BIGINT) AS rel_e6
        FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rn FROM scored)
        WHERE rn <= 20),
      pair AS (
        SELECT a.qid, a.id AS id1, b.id AS id2,
               CAST(floor(
                 list_reduce(list_transform(range(len(a.v)), i -> a.v[i+1] * b.v[i+1]), (x,y)->x+y)
                 / (sqrt(list_reduce(list_transform(a.v, x -> x*x), (x,y)->x+y))
                    * sqrt(list_reduce(list_transform(b.v, x -> x*x), (x,y)->x+y))) * 1000000.0 + 0.5) AS BIGINT) AS sim_e6
        FROM cand a JOIN cand b ON a.qid = b.qid AND a.id <> b.id),
      sel AS (
        SELECT qid, 1 AS mmr_rank, id, 700000 * rel_e6 AS score, [id] AS chosen
        FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel_e6 DESC, id) AS rn FROM cand)
        WHERE rn = 1
        UNION ALL
        SELECT s.qid, s.mmr_rank + 1, pick.id, pick.score, list_append(s.chosen, pick.id)
        FROM sel s, LATERAL (
          SELECT c.id,
                 700000 * c.rel_e6 - 300000 * (
                   SELECT MAX(p.sim_e6) FROM pair p
                   WHERE p.qid = s.qid AND p.id1 = c.id AND list_contains(s.chosen, p.id2)) AS score
          FROM cand c
          WHERE c.qid = s.qid AND NOT list_contains(s.chosen, c.id)
          ORDER BY score DESC, c.id LIMIT 1) pick
        WHERE s.mmr_rank < 5)
      SELECT qid AS query_id, CAST(mmr_rank AS INT) AS mmr_rank, id, score AS mmr_score_e12
      FROM sel ORDER BY query_id, mmr_rank""") { (s, _) =>
      val emb = s.table("embeddings")
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("vec").as("qvec"))
      val cand = Embeddings.bruteForceTopK(emb, "vec", "vec_id", queries, "qvec", "qid", 20)
        .join(emb.select(col("vec_id").as("neighbor_id"), col("vec")), "neighbor_id")
      Embeddings.mmrRerank(cand, "query_id", "neighbor_id", "sim", "vec", k = 5)
        .orderBy("query_id", "mmr_rank")
    },

    // the O(n^2) baseline requires the explicit opt-in flag — this gate
    // IS the baseline measurement, so it opts in
    // exact all-pairs cosine: both engines fold the dot product
    // left-to-right over the same double-cast values, so counts agree
    Gate("q_cosine_pairs", """
      SELECT CAST(COUNT(*) AS BIGINT) AS pairs
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.5""") { (s, _) =>
      val emb = s.table("embeddings")
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
      Embeddings.cosineNearDuplicatesExact(emb, "vec", "vec_id", 0.5,
          allowBruteForce = true)
        .agg(count(lit(1)).cast("long").as("pairs"))
    },

    // LSH-bucketed scale path for the same detector: deterministic
    // (fixed splitmix hyperplane seed); since r13 the prefix width is
    // CORPUS-DERIVED (smallest p in [4,16] with avg bucket <= 500 —
    // the oracle replays the same integer rule), because a fixed
    // width's in-bucket verify grows quadratically with the corpus
    // (measured >21x/decade at sf100cd under prefixBits=4; the derived
    // width bounds verify work at ~250·n pairs, linear)
    // LIVE (was golden until r10): buckets replay via lshBucketCte; the
    // in-bucket sim is the operator's EXACT expression — sequential dot
    // fold / (norm_a · norm_b), norms each a sequential sumsq fold — so
    // the >= threshold test cannot ULP-flip between engines
    Gate("q_cosine_lsh", s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      ${lshBucketCteDerived()},
      n AS (SELECT e.vec_id, e.v, bkt.b,
        sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range((SELECT dim FROM d)), x -> e.v[x + 1] * e.v[x + 1])),
          (a, b) -> a + b)) AS nrm
        FROM e JOIN bkt USING (vec_id)),
      prs AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range((SELECT dim FROM d)), x -> a.v[x + 1] * b.v[x + 1])),
          (p, q) -> p + q) / (a.nrm * b.nrm) AS sim
        FROM n a JOIN n b ON a.b = b.b AND a.vec_id < b.vec_id)
      SELECT CAST(COUNT(*) AS BIGINT) AS pairs, CAST(SUM(id1) AS BIGINT) AS id1_sum,
             CAST(SUM(id2) AS BIGINT) AS id2_sum
      FROM prs WHERE sim >= 0.3""") { (s, _) =>
      val emb = s.table("embeddings")
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
      Embeddings.cosineNearDuplicates(emb, "vec", "vec_id", 0.3)
        .agg(count(lit(1)).cast("long").as("pairs"),
          sum("id1").cast("long").as("id1_sum"),
          sum("id2").cast("long").as("id2_sum"))
    },
  )
}
