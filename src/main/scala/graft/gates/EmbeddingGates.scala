package graft
package gates

import org.apache.spark.sql.functions._

import graft.operators.{Embeddings, Pca, PcaPinnedModels}
import Gate.{deleteDirs, localResult}

/** Embedding transforms and clustering: k-means, kNN evaluation,
  * outliers, feature-hash vectors, SemDeDup (batch, incremental and
  * persisted index), binary and int8 quantization, and PCA.
  */
object EmbeddingGates {

  val gates: Seq[Gate] = Seq(
    // spherical k-means, one full Lloyd round (seed-assign -> exact
    // micro-unit centroid update -> reassign); per-cluster membership
    // and id-checksums put every assignment on the hash path
    // one Lloyd round replayed: same seeds (first 8 by vec_id), same
    // argmax-cosine-ties-to-smallest-cid, same exact micro-unit centroid
    // reconstruction CAST(s_e6 AS DOUBLE) / (CAST(m AS DOUBLE) * 1e6)
    Gate("q_kmeans", """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      c0 AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
      a0 AS (SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c0.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c0.cv) * 1e6) DESC, c0.cid) AS rn
        FROM e, c0) WHERE rn = 1),
      dims AS (SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM a0),
      sums AS (SELECT cid, i, SUM(CAST(round(x * 1e6) AS BIGINT)) AS s_e6,
                      COUNT(*) AS m
               FROM dims GROUP BY cid, i),
      c1 AS (SELECT cid, list(CAST(s_e6 AS DOUBLE) / (CAST(m AS DOUBLE) * 1e6)
                              ORDER BY i) AS cv
             FROM sums GROUP BY cid),
      a1 AS (SELECT vec_id, cid FROM (
        SELECT e.vec_id, c1.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c1.cv) * 1e6) DESC, c1.cid) AS rn
        FROM e, c1) WHERE rn = 1)
      SELECT cid, CAST(COUNT(*) AS BIGINT) AS members,
             CAST(SUM(vec_id) AS BIGINT) AS id_sum
      FROM a1 GROUP BY cid ORDER BY cid""") { (s, _) =>
      val emb = s.table("embeddings")
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
      Embeddings.kmeansLloyd(emb, "vec", "vec_id", k = 8, iterations = 1)
        .groupBy("cid")
        .agg(count(lit(1)).cast("long").as("members"),
          sum("vec_id").cast("long").as("id_sum"))
        .orderBy("cid")
    },

    // kNN label consistency: do the 5 nearest neighbors of each of the
    // first 200 vectors share its label? Per-label exact-integer rollup
    // kNN label consistency: the ann_topk ordering contract + label joins
    Gate("q_knn_eval", """
      WITH nn AS (
        SELECT query_id, neighbor_id, qlabel FROM (
          SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                 q.label AS qlabel,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC,
                            e.vec_id) AS rank
          FROM embeddings e, (SELECT * FROM embeddings WHERE vec_id < 200) q
          WHERE e.vec_id != q.vec_id) ranked
        WHERE rank <= 5)
      SELECT nn.qlabel AS label,
             CAST(COUNT(DISTINCT nn.query_id) AS BIGINT) AS queries,
             CAST(COUNT(*) AS BIGINT) AS votes,
             CAST(SUM(CASE WHEN e.label = nn.qlabel THEN 1 ELSE 0 END) AS BIGINT) AS agree
      FROM nn JOIN embeddings e ON e.vec_id = nn.neighbor_id
      GROUP BY nn.qlabel ORDER BY label""") { (s, _) =>
      val emb = s.table("embeddings")
        .select(col("vec_id"), col("label"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
      val queries = emb.where(col("vec_id") < 200)
        .select(col("vec_id").as("qid"), col("vec").as("qvec"),
          col("label").as("qlabel"))
      Embeddings.knnLabelConsistency(emb, "vec", "vec_id", "label",
          queries, "qvec", "qid", "qlabel", k = 5)
        .orderBy("label")
    },

    // per-cluster embedding outliers: the 5 members farthest from their
    // Lloyd-fit centroid (micro-rounded cosine, id tiebreak) — the
    // oracle extends the q_kmeans replay chain with the similarity rank
    // centroid outliers: the q_kmeans chain through c1, re-scoring every
    // member against its ASSIGNED centroid and ranking ascending
    Gate("q_outliers", """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      c0 AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
      a0 AS (SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c0.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c0.cv) * 1e6) DESC, c0.cid) AS rn
        FROM e, c0) WHERE rn = 1),
      dims AS (SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM a0),
      sums AS (SELECT cid, i, SUM(CAST(round(x * 1e6) AS BIGINT)) AS s_e6,
                      COUNT(*) AS m
               FROM dims GROUP BY cid, i),
      c1 AS (SELECT cid, list(CAST(s_e6 AS DOUBLE) / (CAST(m AS DOUBLE) * 1e6)
                              ORDER BY i) AS cv
             FROM sums GROUP BY cid),
      a1 AS (SELECT vec_id, cid, sim_e6 FROM (
        SELECT e.vec_id, c1.cid,
               CAST(round(list_cosine_similarity(e.v, c1.cv) * 1e6) AS BIGINT) AS sim_e6,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c1.cv) * 1e6) DESC, c1.cid) AS rn
        FROM e, c1) WHERE rn = 1),
      r AS (SELECT cid, vec_id, sim_e6,
                   row_number() OVER (PARTITION BY cid
                     ORDER BY sim_e6 ASC, vec_id) AS rnk
            FROM a1)
      SELECT cid, CAST(rnk AS INTEGER) AS rnk, vec_id, sim_e6
      FROM r WHERE rnk <= 5 ORDER BY cid, rnk""") { (s, _) =>
      val emb = s.table("embeddings")
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
      Embeddings.centroidOutliers(emb, "vec", "vec_id", k = 8,
          iterations = 1, m = 5)
        .orderBy("cid", "rnk")
    },

    // feature-hashed text vectors (hashing trick): md5-bucket tf counts,
    // L2-normalized — the in-engine text vectorizer. nnz + micro-rounded
    // element sums checksum every vector for the first 20 docs.
    // feature-hash vectors replayed: same md5-prefix bucket, same integer
    // counts, same IEEE normalize; docs with no tokens keep a zero row
    Gate("q_text_vectors", """
      WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
        FROM documents),
      b AS (SELECT doc_id,
              CAST(CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) % 32 AS INT) AS bkt
            FROM toks),
      c AS (SELECT doc_id, bkt, CAST(COUNT(*) AS DOUBLE) AS c FROM b GROUP BY doc_id, bkt),
      nrm AS (SELECT doc_id, sqrt(SUM(c * c)) AS n FROM c GROUP BY doc_id),
      v AS (SELECT c.doc_id, c.c / nrm.n AS x FROM c JOIN nrm ON c.doc_id = nrm.doc_id),
      agg AS (SELECT doc_id, COUNT(*) AS nnz,
                     SUM(CAST(round(x * 1e6) AS BIGINT)) AS s
              FROM v GROUP BY doc_id)
      SELECT d.doc_id, CAST(COALESCE(agg.nnz, 0) AS BIGINT) AS nnz,
             CAST(COALESCE(agg.s, 0) AS BIGINT) AS sum_e6
      FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
      ORDER BY d.doc_id LIMIT 20""") { (s, _) =>
      Embeddings.featureHashVectors(s.table("documents"), "text", "doc_id", dim = 32)
        .select(col("doc_id"),
          expr("aggregate(vec, 0L, (a, x) -> a + IF(x != CAST(0.0 AS DOUBLE), 1L, 0L))").as("nnz"),
          expr("aggregate(vec, 0L, (a, x) -> a + CAST(round(x * 1e6) AS LONG))").as("sum_e6"))
        .orderBy("doc_id").limit(20)
    },

    // SemDeDup: spherical k-means clusters, then per-cluster cosine
    // pruning — keep the smallest-id member of every semantic-duplicate
    // ball. Assignment argmax and the drop threshold are micro-rounded
    // on both sides, so the cross-engine compare is integer-robust.
    // k = 0 exercises the CORPUS-DERIVED default (clamp(ceil(n/1000),
    // 32, 65536)) — a fixed k measured 23.9x/decade at sf100cd because
    // occupancy n/k grew linearly and within-cell pairing quadratically;
    // the derived rule pins occupancy, and the oracle replays it from
    // COUNT(*).
    // SemDeDup: the q_kmeans assignment chain, then the per-cluster drop
    // rule — a vector is dropped iff a same-cluster smaller-id neighbor has
    // round(sim*1e6) >= 350000 (threshold 0.35 micro-rounded, as in Spark).
    // k is the CORPUS-DERIVED default replayed from COUNT(*):
    // clamp(ceil(n/1000), 32, 65536), pure integer arithmetic (kk CTE)
    Gate("q_semdedup", """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      kk AS (SELECT GREATEST(LEAST(((SELECT COUNT(*) FROM e) + 999) // 1000, 65536), 32) AS k),
      c0 AS (SELECT vec_id AS cid, v AS cv FROM (
               SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn FROM e)
             WHERE rn <= (SELECT k FROM kk)),
      a0 AS (SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c0.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c0.cv) * 1e6) DESC, c0.cid) AS rn
        FROM e, c0) WHERE rn = 1),
      dims AS (SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM a0),
      sums AS (SELECT cid, i, SUM(CAST(round(x * 1e6) AS BIGINT)) AS s_e6,
                      COUNT(*) AS m
               FROM dims GROUP BY cid, i),
      c1 AS (SELECT cid, list(CAST(s_e6 AS DOUBLE) / (CAST(m AS DOUBLE) * 1e6)
                              ORDER BY i) AS cv
             FROM sums GROUP BY cid),
      a1 AS (SELECT vec_id, cid FROM (
        SELECT e.vec_id, c1.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c1.cv) * 1e6) DESC, c1.cid) AS rn
        FROM e, c1) WHERE rn = 1),
      dropped AS (
        SELECT DISTINCT a.vec_id
        FROM a1 a JOIN a1 b ON a.cid = b.cid AND a.vec_id > b.vec_id
        JOIN e ea ON ea.vec_id = a.vec_id
        JOIN e eb ON eb.vec_id = b.vec_id
        WHERE round(list_cosine_similarity(ea.v, eb.v) * 1e6) >= 350000)
      SELECT a1.cid, CAST(COUNT(*) AS BIGINT) AS members,
             CAST(SUM(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS kept,
             CAST(SUM(CASE WHEN d.vec_id IS NULL THEN a1.vec_id END) AS BIGINT) AS kept_id_sum
      FROM a1 LEFT JOIN dropped d ON a1.vec_id = d.vec_id
      GROUP BY a1.cid ORDER BY a1.cid""") { (s, _) =>
      val emb = s.table("embeddings")
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
      Embeddings.semanticDeduplicate(emb, "vec", "vec_id", k = 0, threshold = 0.35)
        .groupBy("cid")
        .agg(count(lit(1)).cast("long").as("members"),
          sum(when(col("keep"), 1L).otherwise(0L)).cast("long").as("kept"),
          sum(when(col("keep"), col("vec_id"))).cast("long").as("kept_id_sum"))
        .orderBy("cid")
    },

    // incremental SemDeDup: the refresh slice (vec_id % 10 = 0) is
    // assigned into the cluster space fit on the REST (frozen — the old
    // corpus is not re-clustered); a new vector drops on a >=-threshold
    // OLD neighbor or a smaller-id NEW neighbor. Old-vs-old, the
    // unchanged quadratic bulk, is never paired. The fit is computed
    // ONCE and passed through the frozen-centroids parameter — the
    // refresh path the operator advertises (the operator never re-fits).
    // k = 0: the fit derives k from the OLD slice's count (the
    // occupancy-pinned SemDeDup sizing rule), replayed by the oracle.
    // incremental SemDeDup: the kmeans chain fit on the OLD slice only,
    // ALL vectors assigned into it, drop rule restricted to new-side
    // vectors against (old OR smaller-id new) same-cluster neighbors.
    // k derives from the OLD slice's COUNT(*) (the fit corpus):
    // clamp(ceil(n/1000), 32, 65536)
    Gate("q_incremental_semdedup", """
      WITH eo AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings WHERE vec_id % 10 <> 0),
      ea AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                    vec_id % 10 = 0 AS isnew
             FROM embeddings),
      kk AS (SELECT GREATEST(LEAST(((SELECT COUNT(*) FROM eo) + 999) // 1000, 65536), 32) AS k),
      c0 AS (SELECT vec_id AS cid, v AS cv FROM (
               SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn FROM eo)
             WHERE rn <= (SELECT k FROM kk)),
      a0 AS (SELECT vec_id, v, cid FROM (
        SELECT eo.vec_id, eo.v, c0.cid,
               row_number() OVER (PARTITION BY eo.vec_id
                 ORDER BY round(list_cosine_similarity(eo.v, c0.cv) * 1e6) DESC, c0.cid) AS rn
        FROM eo, c0) WHERE rn = 1),
      dims AS (SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM a0),
      sums AS (SELECT cid, i, SUM(CAST(round(x * 1e6) AS BIGINT)) AS s_e6,
                      COUNT(*) AS m
               FROM dims GROUP BY cid, i),
      c1 AS (SELECT cid, list(CAST(s_e6 AS DOUBLE) / (CAST(m AS DOUBLE) * 1e6)
                              ORDER BY i) AS cv
             FROM sums GROUP BY cid),
      a1 AS (SELECT vec_id, isnew, cid FROM (
        SELECT ea.vec_id, ea.isnew, c1.cid,
               row_number() OVER (PARTITION BY ea.vec_id
                 ORDER BY round(list_cosine_similarity(ea.v, c1.cv) * 1e6) DESC, c1.cid) AS rn
        FROM ea, c1) WHERE rn = 1),
      dropped AS (
        SELECT DISTINCT a.vec_id
        FROM a1 a JOIN a1 b ON a.cid = b.cid AND a.isnew
          AND (NOT b.isnew OR b.vec_id < a.vec_id)
        JOIN ea x ON x.vec_id = a.vec_id
        JOIN ea y ON y.vec_id = b.vec_id
        WHERE round(list_cosine_similarity(x.v, y.v) * 1e6) >= 350000)
      SELECT a1.cid, CAST(COUNT(*) AS BIGINT) AS members,
             CAST(SUM(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS kept,
             CAST(SUM(CASE WHEN d.vec_id IS NULL THEN a1.vec_id END) AS BIGINT) AS kept_id_sum
      FROM a1 LEFT JOIN dropped d ON a1.vec_id = d.vec_id
      WHERE a1.isnew
      GROUP BY a1.cid ORDER BY a1.cid""") { (s, _) =>
      val emb = s.table("embeddings")
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
      val oldE = emb.where(col("vec_id") % 10 =!= 0)
      val cents = Embeddings.kmeansCentroids(oldE, "vec", "vec_id",
        k = 0, iterations = 1)
      Embeddings.incrementalSemanticDeduplicate(
          emb.where(col("vec_id") % 10 === 0), oldE,
          "vec", "vec_id", k = 0, threshold = 0.35, centroids = Some(cents))
        .groupBy("cid")
        .agg(count(lit(1)).cast("long").as("members"),
          sum(when(col("keep"), 1L).otherwise(0L)).cast("long").as("kept"),
          sum(when(col("keep"), col("vec_id"))).cast("long").as("kept_id_sum"))
        .orderBy("cid")
    },

    // persisted SemDeDup model (build-once / refresh-many): the archive
    // fit + assignment are written to disk (centroids + cid-partitioned
    // members) and the refresh answers from the FILES, reading only the
    // cells the slice touches — zero re-fit, zero archive re-assignment.
    // Identical drop rule and fit, so it replays in the SAME DuckDB
    // oracle as q_incremental_semdedup.
    // the persisted-index refresh computes the IDENTICAL fit, assignment
    // and drop rule as q_incremental_semdedup (spec-asserted row-equal),
    // so the same replay is its oracle
    Gate("q_semdedup_index", """
      WITH eo AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings WHERE vec_id % 10 <> 0),
      ea AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                    vec_id % 10 = 0 AS isnew
             FROM embeddings),
      kk AS (SELECT GREATEST(LEAST(((SELECT COUNT(*) FROM eo) + 999) // 1000, 65536), 32) AS k),
      c0 AS (SELECT vec_id AS cid, v AS cv FROM (
               SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn FROM eo)
             WHERE rn <= (SELECT k FROM kk)),
      a0 AS (SELECT vec_id, v, cid FROM (
        SELECT eo.vec_id, eo.v, c0.cid,
               row_number() OVER (PARTITION BY eo.vec_id
                 ORDER BY round(list_cosine_similarity(eo.v, c0.cv) * 1e6) DESC, c0.cid) AS rn
        FROM eo, c0) WHERE rn = 1),
      dims AS (SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM a0),
      sums AS (SELECT cid, i, SUM(CAST(round(x * 1e6) AS BIGINT)) AS s_e6,
                      COUNT(*) AS m
               FROM dims GROUP BY cid, i),
      c1 AS (SELECT cid, list(CAST(s_e6 AS DOUBLE) / (CAST(m AS DOUBLE) * 1e6)
                              ORDER BY i) AS cv
             FROM sums GROUP BY cid),
      a1 AS (SELECT vec_id, isnew, cid FROM (
        SELECT ea.vec_id, ea.isnew, c1.cid,
               row_number() OVER (PARTITION BY ea.vec_id
                 ORDER BY round(list_cosine_similarity(ea.v, c1.cv) * 1e6) DESC, c1.cid) AS rn
        FROM ea, c1) WHERE rn = 1),
      dropped AS (
        SELECT DISTINCT a.vec_id
        FROM a1 a JOIN a1 b ON a.cid = b.cid AND a.isnew
          AND (NOT b.isnew OR b.vec_id < a.vec_id)
        JOIN ea x ON x.vec_id = a.vec_id
        JOIN ea y ON y.vec_id = b.vec_id
        WHERE round(list_cosine_similarity(x.v, y.v) * 1e6) >= 350000)
      SELECT a1.cid, CAST(COUNT(*) AS BIGINT) AS members,
             CAST(SUM(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS kept,
             CAST(SUM(CASE WHEN d.vec_id IS NULL THEN a1.vec_id END) AS BIGINT) AS kept_id_sum
      FROM a1 LEFT JOIN dropped d ON a1.vec_id = d.vec_id
      WHERE a1.isnew
      GROUP BY a1.cid ORDER BY a1.cid""") { (s, _) =>
      val emb = s.table("embeddings")
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
      val idx = java.nio.file.Files.createTempDirectory("graft_semdedup_idx_").toString
      graft.sources.SemDedupIndex.build(
        emb.where(col("vec_id") % 10 =!= 0), "vec", "vec_id", idx, k = 0)
      val res = graft.sources.SemDedupIndex.refresh(s, idx,
          emb.where(col("vec_id") % 10 === 0), "vec", "vec_id", threshold = 0.35)
        .groupBy("cid")
        .agg(count(lit(1)).cast("long").as("members"),
          sum(when(col("keep"), 1L).otherwise(0L)).cast("long").as("kept"),
          sum(when(col("keep"), col("vec_id"))).cast("long").as("kept_id_sum"))
        .orderBy("cid")
      val out = localResult(s, res) // <= k rows; frees the staged index
      deleteDirs(idx)
      out
    },

    // 1-bit sign quantization: the packed word + its popcount per vector
    // certify the exact bit layout (LSB-first within word) against a
    // DuckDB rebuild from embedding[j] > 0 tests
    // packed sign-bit word rebuilt from embedding[j] > 0: HUGEINT power
    // sum (DuckDB raises on 1::BIGINT << 63), two's-complement fold back
    // to BIGINT; popcnt from the SAME packed word certifies the layout
    Gate("q_embed_binary", """
      WITH p AS (
        SELECT vec_id,
          list_reduce(list_transform(range(least(len(embedding), 64)), j ->
            CASE WHEN embedding[j+1] > 0 THEN (1::HUGEINT << CAST(j AS INT)) ELSE 0::HUGEINT END),
            (a, b) -> a + b) AS s
        FROM embeddings),
      w AS (
        SELECT vec_id,
          CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
                    THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT) AS w0
        FROM p)
      SELECT vec_id, w0, bit_count(w0) AS popcnt FROM w ORDER BY vec_id""") { (s, _) =>
      s.table("embeddings")
        .select(col("vec_id"),
          Embeddings.quantizeBinary(col("embedding")).as("__sig"))
        .select(col("vec_id"), element_at(col("__sig"), 1).as("w0"),
          bit_count(element_at(col("__sig"), 1)).cast("int").as("popcnt"))
        .orderBy("vec_id")
    },

    // PCA's distributed phase: one-pass Gram accumulation in replay mode
    // (per-row products micro-rounded to e6 integers, summed as BIGINT —
    // exact in any engine/order); first-8-dims slice keeps the oracle at
    // 36 pair sums
    // upper-triangle Gram over the first 8 dims, each product micro-rounded
    // to e6 (floor(x + 0.5): the only half-rounding identical across
    // engines) before the exact integer sum
    Gate("q_pca_cov", """
      WITH e AS (SELECT list_transform(embedding[1:8], x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      prods AS (
        SELECT ii.i AS i, jj.j AS j,
               CAST(floor(v[ii.i+1] * v[jj.j+1] * 1000000.0 + 0.5) AS BIGINT) AS p
        FROM e, (SELECT unnest(range(8)) AS i) ii, (SELECT unnest(range(8)) AS j) jj
        WHERE jj.j >= ii.i)
      SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j, CAST(SUM(p) AS BIGINT) AS gram_e6
      FROM prods GROUP BY 1, 2 ORDER BY i, j""") { (s, _) =>
      val emb8 = s.table("embeddings").select(slice(col("embedding"), 1, 8).as("v8"))
      Pca.gramMatrix(emb8, "v8", roundE6 = true)
        .orderBy("i", "j")
    },

    // PCA projection, LIVE at every scale factor: BOTH sides project the
    // same pinned model (PcaPinnedModels.sf001K4 — the deterministic
    // exactReplay fit of the sf0.01 fixture; tools.PinPcaModel
    // regenerates, PcaSpec asserts the re-fit still equals the pin) and
    // the oracle replays every per-row projection dot product against
    // the parquet vectors in DuckDB — both engines fold the dot
    // left-to-right, so e6-rounded projections match exactly. A live
    // RE-fit here would bind the gate to the fixture the oracle literals
    // were fitted on (mismatch at any other SF); fit correctness rides
    // q_pca_cov (live gram) + the Jacobi/fit specs + the pin-equality
    // spec instead
    // LIVE fit->project replay: the model (mean + 4 eigenvector rows,
    // deterministic under exactReplay — regenerate with
    // `runMain graft.tools.PinPcaModel`) rides as %.17E DOUBLE literals
    // (E-notation bypasses DuckDB's DECIMAL literal path, which loses the
    // last bit at 17 significant digits); every per-row projection dot
    // product is recomputed from the parquet vectors — both engines fold
    // the dot left-to-right, so the e6 roundings agree bit-for-bit
    Gate("q_pca_project", """
      WITH m(mv) AS (SELECT [2.16468600000000030E-03, -4.54778400000000000E-03, 3.93014800000000000E-03, -4.79319200000000000E-03, 9.94306600000000000E-03, 7.77251400000000000E-03, -1.82313359999999970E-02, 9.21736400000000000E-03, -2.42739800000000030E-03, -6.17906000000000000E-04, 6.43607000000000000E-03, 3.35401200000000000E-03, -2.65886800000000000E-03, 2.05402000000000000E-03, -2.14576000000000000E-04, 5.91025199999999950E-03, 3.33420800000000000E-03, 5.82612199999999960E-03, -4.61284000000000000E-04, 1.23172999999999990E-03, -3.83917000000000030E-03, 2.30218400000000000E-03, 4.16825800000000000E-03, -8.05457800000000000E-03, -1.89116600000000000E-03, 1.28081300000000010E-02, -1.59705000000000000E-03, 1.06263300000000000E-02, -1.15325799999999990E-03, 3.90362000000000000E-04, 5.60471400000000000E-03, -5.79268800000000000E-03, 8.33528600000000000E-03, -6.67538400000000000E-03, 5.15563199999999900E-03, 1.17717800000000000E-03, -5.33530800000000000E-03, -1.59378200000000000E-03, -9.66712000000000000E-04, -1.14097800000000000E-03, -1.74419800000000000E-03, -1.18341320000000000E-02, 3.13532000000000000E-04, -5.63154000000000100E-04, -1.15205620000000000E-02, 3.83261800000000000E-03, -5.98054000000000000E-04, 5.89032400000000000E-03, -3.74965200000000000E-03, -1.02643980000000000E-02, 9.37715800000000000E-03, -1.48200800000000000E-03, 7.77006000000000000E-03, -3.91755000000000000E-03, 4.70980799999999900E-03, -3.57730600000000000E-03, 4.77385400000000000E-03, -2.47035800000000000E-03, -4.84451800000000000E-03, -8.72118400000000000E-03, -2.81182000000000000E-04, 5.00419400000000000E-03, -1.15905400000000000E-03, -1.32662280000000000E-02]),
      w(component, wv) AS (SELECT * FROM (VALUES
        (0, [-2.09637431034738590E-01, -1.20574081125557150E-01, 3.65484518011678500E-02, 1.18156093359072320E-02, 7.56817388533994700E-02, 1.32197454245310180E-02, 9.05857609588422000E-02, 2.86616087396804400E-01, 4.95497316072653700E-02, 4.14058348730044200E-01, 6.53085671210877800E-02, 1.82083204383351400E-01, 6.51357715535512100E-02, -3.65243474073781300E-02, 1.71150317903916350E-01, -1.85344199549312900E-01, 8.89937954353822000E-02, -1.57010237303274070E-01, -3.01407629228647930E-02, 3.21725797766466400E-02, 6.12139494795602800E-02, -1.10687764432858720E-01, -8.34720713703858700E-02, -5.54522004228823000E-02, 1.95393063671478460E-02, 1.99114439155969270E-01, -3.75156375231135360E-02, 1.49508353479352870E-01, -1.72882829635925630E-01, -6.12957524828209900E-03, -5.87145758387652840E-02, 6.20266590780878600E-02, 2.96538670932913100E-01, 1.06169260971473830E-01, -3.20423893743521700E-02, 1.04145965135935400E-01, 4.45388629341989500E-02, 6.14703884423725700E-02, 1.30177048699382240E-02, 2.17717106417454400E-02, -1.16681199841526390E-01, 5.52341414773432100E-03, -2.40839488684682160E-01, 9.57011585582488200E-02, -2.82989518115019830E-02, -2.25136184560476770E-01, 8.72893577383126300E-03, -7.90294833214097600E-02, -8.36753939866723400E-02, -1.18458093179396100E-01, 1.20453643989867310E-01, 7.24793096337067600E-02, -1.71887900893984700E-02, 8.16054089209783300E-02, -1.50202372755692050E-02, -6.67635286145457200E-02, -5.56642937578253060E-02, -5.13756754458284400E-02, 6.02001671306695900E-02, -9.11432572363520700E-02, 1.21984680700850580E-01, 5.06514030110032300E-02, -2.18209687694950060E-01, -1.02018394168036560E-01]),
        (1, [-3.82614861964671650E-03, -5.44267044511338660E-02, -1.25698197232347930E-02, -8.81342057503294600E-02, 1.74852814954314400E-01, 2.52151987808642460E-02, 7.49371066106005200E-02, -6.99958177568155700E-02, 7.74453801465564400E-02, 3.06799222196417300E-02, 1.05752128107031880E-01, -1.78883132165813500E-02, 1.29757662333787800E-02, 1.33696102255356750E-01, 1.45530947155207150E-02, 4.14000730319377600E-02, 1.48406861300535870E-01, 3.60315786144146060E-01, -5.41865469037229250E-02, -5.07686586564696100E-02, 3.25382497876920760E-02, 3.53997596352181800E-02, 6.53369797939068300E-02, -3.09122168435199240E-01, -2.57681848514826400E-01, -2.39072462782937000E-01, -2.06359910011985020E-02, -2.33883731935700200E-04, -8.62787651199400200E-02, -1.74537594547058970E-01, -2.40663772266517400E-02, -2.17545084120418900E-01, 2.94509038873270460E-02, 6.15325170451285560E-02, 3.37554110326395900E-02, 7.92133873339692500E-02, 5.94650003361553600E-02, 3.64950553720355950E-02, 1.82104432477002140E-01, 4.66672188632489500E-02, 1.61553933930031880E-05, 4.69842780918952900E-02, -6.27574830473286200E-02, -1.79195937874397970E-01, 1.72690813366424530E-01, -1.88821930732813730E-01, -4.69494380014951900E-02, 1.45785288530459380E-01, 1.12926222582550000E-01, -1.13279576299867760E-01, -1.57440011601631620E-01, -8.19782552093865900E-02, 1.29831095233372880E-02, -1.60964231847483850E-02, 2.38033292206858430E-01, 2.33885560894593800E-02, -3.02817877638045350E-01, 1.63857327216615470E-02, 1.35434352106690750E-01, -1.21583849203273480E-01, -8.36764122359758800E-02, 8.48386381209897500E-02, -4.33176579799888300E-04, -7.86124825824218300E-02]),
        (2, [-1.48046750332393950E-01, -8.51249043459217600E-02, -6.39494068004561000E-02, -4.52541455521864030E-04, -2.04376279577943400E-01, -4.37370571984197800E-02, 1.17754669789601400E-01, -2.84496004847680500E-01, 4.44000787408083200E-02, 2.37192498718357000E-02, -5.11799527509957300E-02, 3.57093827033086800E-02, -6.01803710327698000E-02, -3.45493885211157100E-02, 9.44875318444576000E-03, -2.34548632161978520E-01, 1.71372227292240500E-01, -8.49342879462092000E-02, 1.16043520351319460E-01, 7.73277547194007900E-02, 1.31304294353160800E-02, 1.75306686477205200E-01, -1.00650252636449930E-01, 5.33752679695009600E-02, 9.25597814132542000E-02, 1.00091656322476960E-01, 9.06388360908878700E-02, -1.34140220029033800E-01, 1.02783781050169390E-02, -1.05405083643715760E-01, -1.22857628213435850E-01, 9.09147158965031600E-02, 4.82536438306717460E-02, -1.80662728726899450E-01, -2.97705661757287770E-02, -1.02159976266446420E-01, 1.39078149535445780E-01, -2.12550272516058800E-01, -6.34582230442277000E-02, -1.03929500726763950E-01, 1.89475955428966360E-01, 1.90111808413394980E-01, -1.25857781556541340E-01, -2.08932047390370360E-01, 1.65862734654765610E-01, 5.28331987054422440E-02, 4.27962315556811400E-02, 1.80183334373169370E-02, -6.83220918754494500E-02, -5.12752891025444300E-02, -1.29497010032367550E-01, -1.06455640341563920E-01, 2.27798082404439160E-01, -1.53292535345041970E-01, -1.79155303703712330E-01, -1.92124817841267870E-03, -5.38094645552129100E-03, 1.09725602383203030E-01, 1.82795279144604470E-01, -5.26860581940923500E-02, -6.95556241582247800E-02, 2.88429622891418500E-01, -9.00798132790077300E-02, -7.55302354799709800E-02]),
        (3, [6.80902328793719600E-02, 6.26914295601839000E-02, 8.78675003826429600E-03, 1.72523607750973250E-01, -2.57962491946418460E-01, 1.07124965529677420E-01, -2.32062842348599200E-02, 1.77547053531111200E-01, -1.15219730227456310E-01, 1.36201693965931430E-01, 7.64362999470015500E-03, 2.01940048873867930E-01, -6.07768168405638000E-02, -1.40229689928538130E-01, -9.31137814263003800E-02, 4.93055606552435500E-02, 9.68299284733391400E-02, 7.14275308210931700E-02, -9.31745913385740400E-03, -2.03162968120711580E-01, -2.25473142082178200E-01, 1.57656322391089200E-01, -1.18584586319731690E-02, 7.32350087910955800E-02, 2.74689860877154050E-02, -1.19084857077785100E-01, 1.16458515506099410E-01, -3.83182587604725170E-03, 1.28927102014330200E-01, -1.04516634935519650E-01, 1.52115839835546750E-01, 2.00577884355629930E-01, -8.14119901158750500E-02, -1.76731186951389030E-02, -1.16499533161383460E-01, 3.16189724822011900E-01, -1.16724728799180640E-01, -1.48437187189686760E-01, -1.02517736677084670E-02, -4.82841177408609700E-02, -1.45110267150384450E-02, -1.81461531978852170E-04, -8.56492646873811700E-02, -1.74328811463185700E-02, -7.57341526004470700E-02, -4.15192630992194940E-02, -1.36232657457258640E-02, 3.69404946286905200E-01, -1.08513557934003700E-01, -1.53443177246738700E-01, 6.64719529412692700E-02, -1.97771895891525120E-02, 9.32838132676339400E-03, 5.39657506983237900E-03, -2.19144018640998470E-02, 1.01474638949070050E-01, -1.70905797865731400E-01, 9.29293227559200300E-02, -1.70723291228551230E-01, -7.39169500430603700E-02, -1.92064350652884740E-01, -9.62199752320433600E-02, -8.40471305389681900E-02, 2.62931794608543600E-02])) t(component, wv)),
      e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
      SELECT e.vec_id, CAST(w.component AS INT) AS component,
             CAST(floor(list_inner_product(
               list_transform(range(1, len(v) + 1), i -> v[i] - mv[i]), wv) * 1000000.0 + 0.5) AS BIGINT) AS x_e6
      FROM e, m, w
      ORDER BY vec_id, component""") { (s, _) =>
      val emb = s.table("embeddings")
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
      Pca.project(emb, "vec", PcaPinnedModels.sf001K4, "pca")
        .select(col("vec_id"), posexplode(col("pca")).as(Seq("component", "x")))
        .select(col("vec_id"), col("component"),
          expr("CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)").as("x_e6"))
        .orderBy("vec_id", "component")
    },

    // int8 quantization of raw and unit-normalized vectors; every step
    // (abs-max, sequential-fold norm, floor(x*scale+0.5)) is exact IEEE
    // arithmetic replayed verbatim by the DuckDB oracle
    // int8 quantization replayed step-for-step: abs-max scale, sequential
    // list_reduce norm (0.0 + x0^2 == x0^2, so the fold matches vec_norm's
    // zero-seeded loop bit-for-bit), floor(x*scale + 0.5) half-up rounding
    Gate("q_embed_quant", """
      WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      s1 AS (SELECT v, list_max(list_transform(v, x -> abs(x))) AS mx,
                    sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
             FROM e),
      s2 AS (SELECT v, mx,
                    CASE WHEN nrm > 0 THEN list_transform(v, x -> x / nrm) ELSE v END AS vn
             FROM s1),
      s3 AS (SELECT v, mx, vn, list_max(list_transform(vn, x -> abs(x))) AS mx2 FROM s2),
      q AS (SELECT
              list_transform(v, x -> CAST(floor(x * (CASE WHEN mx > 0 THEN 127.0 / mx ELSE 0.0 END) + 0.5) AS BIGINT)) AS q,
              list_transform(vn, x -> CAST(floor(x * (CASE WHEN mx2 > 0 THEN 127.0 / mx2 ELSE 0.0 END) + 0.5) AS BIGINT)) AS qn
            FROM s3)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
             CAST(SUM(list_reduce(q, (a, b) -> a + b)) AS BIGINT) AS q_sum,
             CAST(SUM(list_reduce(qn, (a, b) -> a + b)) AS BIGINT) AS qn_sum
      FROM q""") { (s, _) =>
      val emb = s.table("embeddings")
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
      val staged = Embeddings.withInt8Quantized(
        Embeddings.withInt8Quantized(
          Embeddings.withNormalized(emb, "vec", "vn"), "vec", "q", "s1"),
        "vn", "qn", "s2")
      staged.agg(count(lit(1)).cast("long").as("n_vecs"),
        sum(aggregate(col("q"), lit(0L), (a, x) => a + x)).cast("long").as("q_sum"),
        sum(aggregate(col("qn"), lit(0L), (a, x) => a + x)).cast("long").as("qn_sum"))
    },
  )
}
