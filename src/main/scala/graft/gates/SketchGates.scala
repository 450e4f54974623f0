package graft
package gates

import org.apache.spark.sql.functions._

import graft.operators.{Events, Profile, Sampling, TextAnalysis, Vocab}
import TextGates.tokenRowsCte

/** Cardinality, frequency and set sketches (HLL, count-min, KMV) and the
  * statistics built on them: collocations, lexical diversity, drift,
  * quantile binning, winsorizing, coverage, resampling and join-size
  * bounds.
  */
object SketchGates {

  /** Per-source token rows `toks(source, tok)`. */
  private val sourceTokens = tokenRowsCte("toks", "source", "tok")

  /** The HistogramSketch replay over non-NaN event values (1000 slots of
    * width 0.5 on [0, 500)): `slot = min(nbins-1, floor((x-lo)/width))`
    * per in-range value, per-slot counts `c`, total `n` and running counts
    * `w(slot, cnt, cum)` — the input of every quantile threshold.
    */
  private val valueHistCtes = """WITH v AS (SELECT value AS x FROM events WHERE NOT isnan(value)),
      inr AS (
        SELECT LEAST(999, CAST(FLOOR((x - 0.0) / 0.5) AS INT)) AS slot
        FROM v WHERE x >= 0.0 AND x < 500.0),
      c AS (SELECT slot, COUNT(*) AS cnt FROM inr GROUP BY slot),
      n AS (SELECT SUM(cnt) AS n FROM c),
      w AS (SELECT slot, cnt, SUM(cnt) OVER (ORDER BY slot) AS cum FROM c)"""

  /** CountMinSketch.RowSeeds as unsigned decimals: rows `s(i, seed)`. */
  private val cmsRowSeeds = """SELECT * FROM (VALUES
          (0, CAST(0 AS UBIGINT)),
          (1, CAST(2611923443488327891 AS UBIGINT)),
          (2, CAST(1376283091369227076 AS UBIGINT)),
          (3, CAST(11820040416388919760 AS UBIGINT))) s(i, seed)"""

  /** The ten most frequent suppliers in `lineitem` with their exact
    * counts: `top(suppkey, exact_cnt)`, in DuckDB and Spark SQL alike.
    */
  private val topSuppliersCte = """top AS (
        SELECT CAST(l_suppkey AS BIGINT) AS suppkey, CAST(COUNT(*) AS BIGINT) AS exact_cnt
        FROM lineitem GROUP BY 1 ORDER BY exact_cnt DESC, suppkey LIMIT 10)"""

  /** The exact self-join size per pair of event types, from per-(user,
    * type) counts without the pair blowup: `ex(t1, t2, exact_pairs)`, in
    * DuckDB and Spark SQL alike.
    */
  private val exactJoinPairsCtes = """cnt AS (SELECT user_id, event_type, COUNT(*) AS c FROM events GROUP BY 1, 2),
      ex AS (
        SELECT a.event_type AS t1, b.event_type AS t2,
               CAST(SUM(a.c * b.c) AS BIGINT) AS exact_pairs
        FROM cnt a JOIN cnt b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2)"""

  val gates: Seq[Gate] = Seq(
    // HLL per group over the engine hash. The gate pins the REGISTER
    // CONTENT with integer checksums (zeros, sum, position-weighted sum,
    // 2^-register harmonic numerator mod p) — the estimate is a pure
    // function of the registers — plus the centi-rounded estimate itself.
    // DuckDB recomputes every register from hash bit arithmetic
    // (bucket = top-12 bits, rho = 53 - bitlength(low 52 bits); bin()
    // gives exact integer bit length — no float log2), absent buckets
    // are zeros. The estimate
    // mirrors HllSketch.estimate operation for operation: exact integer
    // harmonic numerator summed as HUGEINT, one rounding at CAST AS DOUBLE,
    // same multiply/divide order, same linear-counting branch.
    Gate("q_hll", """
      WITH h AS (
        SELECT l_returnflag AS flag, hash(CAST(l_orderkey AS BIGINT)) AS hv
        FROM lineitem),
      rho AS (
        SELECT flag, CAST(hv >> 52 AS BIGINT) AS bucket,
               CASE WHEN hv % 4503599627370496 = 0 THEN 53
                    ELSE 53 - length(bin(hv % 4503599627370496)) END AS r
        FROM h),
      regs AS (SELECT flag, bucket, MAX(r) AS reg FROM rho GROUP BY flag, bucket),
      ex AS (SELECT l_returnflag AS flag, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_cnt
             FROM lineitem GROUP BY 1),
      agg AS (
        SELECT flag, COUNT(*) AS nonzero,
               SUM(reg) AS reg_sum,
               SUM((bucket + 1) * reg) AS pos_sum,
               SUM(CAST(pow(2.0, 53 - reg) AS BIGINT) % 1000000007) AS pm_part,
               SUM(CAST(pow(2.0, 53 - reg) AS HUGEINT)) AS num_part
        FROM regs GROUP BY flag),
      fin AS (
        SELECT a.flag, e.exact_cnt, 4096 - a.nonzero AS zeros, a.reg_sum, a.pos_sum,
               (a.pm_part + CAST(4096 - a.nonzero AS BIGINT) * (9007199254740992 % 1000000007)) % 1000000007 AS pow_mod,
               CAST(a.num_part AS HUGEINT) + CAST(4096 - a.nonzero AS HUGEINT) * 9007199254740992 AS num
        FROM agg a JOIN ex e USING (flag)),
      est AS (
        SELECT flag,
               0.7213 / (1.0 + 1.079 / 4096.0) * 4096.0 * 4096.0 * 9007199254740992.0 / CAST(num AS DOUBLE) AS raw
        FROM fin)
      SELECT f.flag, f.exact_cnt,
             CAST(f.zeros AS BIGINT) AS zeros,
             CAST(f.reg_sum AS BIGINT) AS reg_sum,
             CAST(f.pos_sum AS BIGINT) AS pos_sum,
             CAST(f.pow_mod AS BIGINT) AS pow_mod,
             CAST(round((CASE WHEN e.raw <= 2.5 * 4096.0 AND f.zeros > 0
                              THEN 4096.0 * ln(4096.0 / f.zeros)
                              ELSE e.raw END) * 100) AS BIGINT) AS est_e2
      FROM fin f JOIN est e USING (flag) ORDER BY f.flag""") { (s, _) =>
      s.sql("""
          WITH sk0 AS (
            SELECT l_returnflag AS flag,
                   hll_sketch(12, bitfilters_duckdb_hash('v1.5.1', CAST(l_orderkey AS BIGINT))) AS s
            FROM lineitem GROUP BY l_returnflag),
          -- exact_cnt in its OWN aggregation, joined on the 3-row result:
          -- mixing COUNT(DISTINCT) with the sketch aggregate makes Spark
          -- Expand-duplicate every scan row through both agg paths (2.3x
          -- slower, measured); two independent scans + a tiny join avoid it
          ex AS (
            SELECT l_returnflag AS flag, COUNT(DISTINCT l_orderkey) AS exact_cnt
            FROM lineitem GROUP BY l_returnflag),
          sk AS (
            SELECT sk0.flag, s, exact_cnt FROM sk0 JOIN ex ON sk0.flag = ex.flag),
          -- est computed below the explode (once per group), not per
          -- register row: the projection under Generate is not collapsed
          -- into the per-row output, so hll_estimate runs 3x, not 12288x
          r AS (
            SELECT flag, exact_cnt, est, pos, reg
            FROM (SELECT flag, exact_cnt, s, hll_estimate(s) AS est FROM sk) sk2
            LATERAL VIEW posexplode(hll_registers(s)) t AS pos, reg)
          SELECT flag,
                 CAST(MAX(exact_cnt) AS BIGINT) AS exact_cnt,
                 CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zeros,
                 CAST(SUM(reg) AS BIGINT) AS reg_sum,
                 CAST(SUM(CAST(pos + 1 AS BIGINT) * reg) AS BIGINT) AS pos_sum,
                 CAST(SUM(CAST(pow(2.0, 53 - reg) AS BIGINT) % 1000000007) % 1000000007 AS BIGINT) AS pow_mod,
                 CAST(MAX(CAST(round(est * 100) AS BIGINT)) AS BIGINT) AS est_e2
          FROM r GROUP BY flag ORDER BY flag""")
    },

    // Count-Min heavy hitters: one corpus-wide sketch, probed at the
    // exact top-10 keys. Counters and estimates are integers, so the
    // cross-engine compare is tolerance-free; DuckDB rebuilds each
    // probed cell as COUNT(*) over rows hashing there (row hash =
    // engine-hash of the XOR-perturbed key); probe = MIN over the 4 row
    // cells.
    Gate("q_cms", s"""
      WITH seeds AS (
        $cmsRowSeeds),
      h AS (SELECT hash(CAST(l_suppkey AS BIGINT)) AS hv FROM lineitem),
      cells AS (
        SELECT s.i, hash(xor(h.hv, s.seed)) % 16384 AS idx, COUNT(*) AS c
        FROM h, seeds s GROUP BY 1, 2),
      $topSuppliersCte,
      probe AS (
        SELECT t.suppkey, t.exact_cnt, s.i,
               hash(xor(hash(t.suppkey), s.seed)) % 16384 AS idx
        FROM top t, seeds s)
      SELECT p.suppkey, p.exact_cnt, CAST(MIN(c.c) AS BIGINT) AS est_cnt
      FROM probe p JOIN cells c ON c.i = p.i AND c.idx = p.idx
      GROUP BY p.suppkey, p.exact_cnt
      ORDER BY p.suppkey""") { (s, _) =>
      s.sql(s"""
          WITH sk AS (
            SELECT cms_sketch(4, 14, bitfilters_duckdb_hash('v1.5.1', CAST(l_suppkey AS BIGINT))) AS s
            FROM lineitem),
          $topSuppliersCte
          SELECT t.suppkey, t.exact_cnt,
                 cms_estimate(sk.s, bitfilters_duckdb_hash('v1.5.1', t.suppkey)) AS est_cnt
          FROM top t CROSS JOIN sk
          ORDER BY suppkey""")
    },

    // KMV audience overlap: per-priority bottom-256 customer sketches;
    // per-pair shared-minima count (the exact-integer Jaccard numerator)
    // plus centi-rounded distinct estimates. DuckDB replays bottom-k
    // DISTINCT in native unsigned (UBIGINT) hash order; estimate =
    // (k-1) * 2^64 / kth minimum with the same operation order; shared =
    // |bottom-256(A ∪ B) ∩ A ∩ B|.
    Gate("q_kmv", """
      WITH d AS (
        SELECT DISTINCT o_orderpriority AS prio, hash(CAST(o_custkey AS BIGINT)) AS hv
        FROM orders),
      rk AS (SELECT prio, hv, row_number() OVER (PARTITION BY prio ORDER BY hv) AS rn FROM d),
      sk AS (SELECT prio, hv FROM rk WHERE rn <= 256),
      st AS (SELECT prio, COUNT(*) AS n, MAX(CASE WHEN rn = 256 THEN hv END) AS kth
             FROM rk WHERE rn <= 256 GROUP BY 1),
      ex AS (SELECT prio, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM d GROUP BY 1),
      est AS (
        SELECT prio, CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
                          ELSE 255.0 * 18446744073709551616.0 / CAST(kth AS DOUBLE) END AS est
        FROM st),
      pairs AS (
        SELECT a.prio AS p1, b.prio AS p2 FROM ex a, ex b WHERE a.prio < b.prio),
      u AS (
        SELECT p.p1, p.p2, s.hv FROM pairs p
        JOIN sk s ON s.prio = p.p1 OR s.prio = p.p2
        GROUP BY 1, 2, 3),
      ur AS (SELECT p1, p2, hv, row_number() OVER (PARTITION BY p1, p2 ORDER BY hv) AS rn FROM u),
      l AS (SELECT p1, p2, hv FROM ur WHERE rn <= 256),
      shr AS (
        SELECT l.p1, l.p2, COUNT(*) AS shared
        FROM l JOIN sk s1 ON s1.prio = l.p1 AND s1.hv = l.hv
               JOIN sk s2 ON s2.prio = l.p2 AND s2.hv = l.hv
        GROUP BY 1, 2)
      SELECT p.p1, p.p2, ea.exact_cnt AS exact1, eb.exact_cnt AS exact2,
             CAST(round(e1.est * 100) AS BIGINT) AS est1_e2,
             CAST(round(e2.est * 100) AS BIGINT) AS est2_e2,
             CAST(COALESCE(shr.shared, 0) AS BIGINT) AS shared
      FROM pairs p
      JOIN ex ea ON ea.prio = p.p1 JOIN ex eb ON eb.prio = p.p2
      JOIN est e1 ON e1.prio = p.p1 JOIN est e2 ON e2.prio = p.p2
      LEFT JOIN shr ON shr.p1 = p.p1 AND shr.p2 = p.p2
      ORDER BY p.p1, p.p2""") { (s, _) =>
      s.sql("""
          WITH sk AS (
            SELECT o_orderpriority AS prio,
                   kmv_sketch(256, bitfilters_duckdb_hash('v1.5.1', CAST(o_custkey AS BIGINT))) AS s,
                   CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_cnt
            FROM orders GROUP BY o_orderpriority)
          SELECT a.prio AS p1, b.prio AS p2,
                 a.exact_cnt AS exact1, b.exact_cnt AS exact2,
                 CAST(round(kmv_estimate(a.s) * 100) AS BIGINT) AS est1_e2,
                 CAST(round(kmv_estimate(b.s) * 100) AS BIGINT) AS est2_e2,
                 CAST(kmv_intersect_count(a.s, b.s) AS BIGINT) AS shared
          FROM sk a JOIN sk b ON a.prio < b.prio
          ORDER BY p1, p2""")
    },

    // PMI collocations: top-20 adjacent pairs by count with micro-
    // rounded pointwise mutual information (the replay keeps the exact
    // same division order)
    Gate("q_collocations", """
      WITH t AS (
        SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        FROM documents),
      uni AS (
        SELECT u.tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM t, LATERAL unnest(t.toks) AS u(tok) GROUP BY u.tok),
      tu AS (SELECT CAST(SUM(c) AS BIGINT) AS tu FROM uni),
      bi_all AS (
        SELECT toks[u.i] AS x, toks[u.i + 1] AS y, CAST(COUNT(*) AS BIGINT) AS cxy
        FROM t, LATERAL unnest(range(1, len(toks))) AS u(i)
        WHERE len(toks) >= 2
        GROUP BY 1, 2),
      tb AS (SELECT CAST(SUM(cxy) AS BIGINT) AS tb FROM bi_all),
      bi AS (SELECT * FROM bi_all WHERE cxy >= 10)
      SELECT bi.x, bi.y, bi.cxy AS pair_count,
             ux.c AS x_count, uy.c AS y_count,
             CAST(round(ln((CAST(bi.cxy AS DOUBLE) / CAST(tb.tb AS DOUBLE)) /
               ((CAST(ux.c AS DOUBLE) / CAST(tu.tu AS DOUBLE)) *
                (CAST(uy.c AS DOUBLE) / CAST(tu.tu AS DOUBLE)))) * 1e6) AS BIGINT) AS pmi_e6
      FROM bi JOIN uni ux ON ux.tok = bi.x
              JOIN uni uy ON uy.tok = bi.y
              CROSS JOIN tb CROSS JOIN tu
      ORDER BY pair_count DESC, bi.x, bi.y LIMIT 20""") { (s, _) =>
      TextAnalysis.collocations(s.table("documents"), "text",
        minCount = 10L, topK = 20)
    },

    // per-doc lexical diversity: type-token ratio + integer entropy
    // numerator (c·ln c micro-rounded per type, summed)
    Gate("q_lexdiv", s"""
      WITH ${tokenRowsCte("toks", "doc_id", "tok", "documents WHERE doc_id < 50")},
      c AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
            FROM toks GROUP BY doc_id, tok)
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS tokens,
             CAST(COUNT(*) AS BIGINT) AS types,
             CAST(SUM(CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT)) AS BIGINT) AS clnc_e6,
             CAST((COUNT(*) * 1000000) // SUM(c) AS BIGINT) AS ttr_ppm
      FROM c GROUP BY doc_id ORDER BY doc_id""") { (s, _) =>
      TextAnalysis.lexicalDiversity(s.table("documents"), "text", "doc_id")
        .where(col("doc_id") < 50)
        .orderBy("doc_id")
    },

    // token-distribution drift per source: KL(source || corpus) over the
    // corpus top-200 tokens, add-one smoothed, nano-rounded per-token
    // contributions summed as integers; the vocab orders by count desc,
    // token asc
    Gate("q_token_drift", s"""
      WITH $sourceTokens,
      top AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS cc FROM toks
        GROUP BY tok ORDER BY cc DESC, tok LIMIT 200),
      sc AS (
        SELECT t.source, t.tok, CAST(COUNT(*) AS BIGINT) AS sc
        FROM toks t JOIN top ON top.tok = t.tok
        GROUP BY t.source, t.tok),
      st AS (SELECT source, CAST(SUM(sc) AS BIGINT) AS st FROM sc GROUP BY source),
      ct AS (SELECT CAST(SUM(cc) AS BIGINT) AS ct,
                    CAST(COUNT(*) AS BIGINT) AS kk FROM top),
      terms AS (
        SELECT st.source,
               CAST(round(
                 (CAST(COALESCE(sc.sc, 0) + 1 AS DOUBLE) / CAST(st.st + ct.kk AS DOUBLE))
                 * ln((CAST(COALESCE(sc.sc, 0) + 1 AS DOUBLE) / CAST(st.st + ct.kk AS DOUBLE))
                      / (CAST(top.cc + 1 AS DOUBLE) / CAST(ct.ct + ct.kk AS DOUBLE)))
                 * 1e9) AS BIGINT) AS term_e9,
               ct.kk AS kk, st.st AS st
        FROM st CROSS JOIN top CROSS JOIN ct
        LEFT JOIN sc ON sc.source = st.source AND sc.tok = top.tok)
      SELECT source, CAST(MAX(kk) AS BIGINT) AS tokens,
             CAST(MAX(st) AS BIGINT) AS n,
             CAST(SUM(term_e9) AS BIGINT) AS kl_e9
      FROM terms GROUP BY source ORDER BY source""") { (s, _) =>
      TextAnalysis.tokenDrift(s.table("documents"), "text", "source", topK = 200)
        .orderBy("source")
    },

    // equal-frequency quartile binning: thresholds from one sketch pass,
    // per-bucket rollup — near-equal counts, exact integer sums; the
    // three interpolated thresholds replay with the winsorize arithmetic
    // (v < t -> lower bucket)
    Gate("q_qbin", s"""
      $valueHistCtes,${Seq("0.25", "0.5", "0.75").zipWithIndex.map { case (q, i) => s"""
      t${i + 1} AS (SELECT 0.0 + 0.5 * (w.slot + GREATEST(0.0,
               (($q * n.n) - (w.cum - w.cnt)) / w.cnt)) AS t
             FROM w, n WHERE w.cum >= $q * n.n ORDER BY w.slot LIMIT 1),""" }.mkString}
      b AS (
        SELECT CASE WHEN v.x < t1.t THEN 0
                    WHEN v.x < t2.t THEN 1
                    WHEN v.x < t3.t THEN 2
                    ELSE 3 END AS bucket,
               v.x
        FROM v, t1, t2, t3)
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(round(x * 100) AS BIGINT)) AS BIGINT) AS v_e2,
             CAST(MIN(CAST(round(x * 100) AS BIGINT)) AS BIGINT) AS min_e2,
             CAST(MAX(CAST(round(x * 100) AS BIGINT)) AS BIGINT) AS max_e2
      FROM b GROUP BY bucket ORDER BY bucket""") { (s, _) =>
      Profile.quantileBins(s.table("events"), "value", nbins = 1000,
          lo = 0.0, hi = 500.0, k = 4)
        .groupBy("bucket")
        .agg(count(lit(1)).cast("long").as("n"),
          sum(round(col("value") * 100).cast("long")).cast("long").as("v_e2"),
          min(round(col("value") * 100).cast("long")).cast("long").as("min_e2"),
          max(round(col("value") * 100).cast("long")).cast("long").as("max_e2"))
        .orderBy("bucket")
    },

    // winsorization at hist-sketch quantiles: p05/p95 thresholds from
    // one sketch pass, heavy tail clipped; interpolated thresholds and
    // per-row micro-rounded sums replay exactly: rank q*n walked to the
    // first bin with cum >= rank, uniform within the bin
    Gate("q_winsorize", s"""
      $valueHistCtes,
      tlo AS (
        SELECT 0.0 + 0.5 * (w.slot + GREATEST(0.0,
                 ((0.05 * n.n) - (w.cum - w.cnt)) / w.cnt)) AS t
        FROM w, n WHERE w.cum >= 0.05 * n.n ORDER BY w.slot LIMIT 1),
      thi AS (
        SELECT 0.0 + 0.5 * (w.slot + GREATEST(0.0,
                 ((0.95 * n.n) - (w.cum - w.cnt)) / w.cnt)) AS t
        FROM w, n WHERE w.cum >= 0.95 * n.n ORDER BY w.slot LIMIT 1),
      clip AS (
        SELECT v.x, tlo.t AS tl, thi.t AS th,
               LEAST(GREATEST(v.x, tlo.t), thi.t) AS wv
        FROM v, tlo, thi)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(round(wv * 100) AS BIGINT)) AS BIGINT) AS w_e2,
             CAST(SUM(CASE WHEN x < tl THEN 1 ELSE 0 END) AS BIGINT) AS clipped_low,
             CAST(SUM(CASE WHEN x > th THEN 1 ELSE 0 END) AS BIGINT) AS clipped_high,
             CAST(round(MAX(tl) * 1e6) AS BIGINT) AS t_lo_e6,
             CAST(round(MAX(th) * 1e6) AS BIGINT) AS t_hi_e6
      FROM clip""") { (s, _) =>
      Profile.winsorize(s.table("events"), "value", nbins = 1000,
          lo = 0.0, hi = 500.0, pLo = 0.05, pHi = 0.95)
        .agg(count(lit(1)).cast("long").as("n_rows"),
          sum(round(col("winsorized") * 100).cast("long")).cast("long").as("w_e2"),
          sum(when(col("clipped_low"), 1L).otherwise(0L)).cast("long").as("clipped_low"),
          sum(when(col("clipped_high"), 1L).otherwise(0L)).cast("long").as("clipped_high"),
          round(max(col("t_lo")) * 1e6).cast("long").as("t_lo_e6"),
          round(max(col("t_hi")) * 1e6).cast("long").as("t_hi_e6"))
    },

    // vocab coverage: OOV occurrence rate per source against the
    // corpus's own top-500 token vocab (count desc, token asc) — exact
    // truncating-div integer ppm
    Gate("q_vocab_coverage", s"""
      WITH $sourceTokens,
      vocab AS (
        SELECT tok FROM (
          SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
          ORDER BY c DESC, tok LIMIT 500)),
      j AS (
        SELECT t.source, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
        FROM toks t LEFT JOIN vocab v ON t.tok = v.tok)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS total_tokens,
             CAST(SUM(oov) AS BIGINT) AS oov_tokens,
             CAST((SUM(oov) * 1000000) // COUNT(*) AS BIGINT) AS oov_ppm
      FROM j GROUP BY source ORDER BY source""") { (s, _) =>
      val docs = s.table("documents")
      Vocab.coverageReport(docs, "text", "source",
          TextAnalysis.topTokens(docs, "text", 500), "token")
        .orderBy("source")
    },

    // event-stream resampling: 6-hour grid per user, forward-filled
    // (LOCF) — the oracle replays the fill with DuckDB's native ASOF
    // LEFT JOIN ((user, ts) unique per key, so the carry is total-ordered)
    Gate("q_resample", """
      WITH obs AS (
        SELECT user_id, epoch_us(ts) AS us, value
        FROM events WHERE user_id < 5),
      sp AS (
        SELECT user_id, (MIN(us) // 21600000000) * 21600000000 AS lo,
               MAX(us) AS hi
        FROM obs GROUP BY user_id),
      grid AS (
        SELECT user_id, unnest(generate_series(lo, hi, 21600000000)) AS ts_us
        FROM sp)
      SELECT g.user_id, g.ts_us,
             CAST(round(o.value * 100) AS BIGINT) AS value_e2
      FROM grid g ASOF LEFT JOIN obs o
        ON g.user_id = o.user_id AND g.ts_us >= o.us
      ORDER BY g.user_id, g.ts_us""") { (s, _) =>
      Events.resample(s.table("events").where(col("user_id") < 5),
          "user_id", "ts", "value", stepUs = 21600000000L)
        .select(col("user_id"), unix_micros(col("grid_ts")).as("ts_us"),
          round(col("value") * 100).cast("long").as("value_e2"))
        .orderBy("user_id", "ts_us")
    },

    // deterministic contrastive negative sampling: 4 hash-drawn corpus
    // negatives per anchor over the dense vec_id space; the draw is a
    // pure function of the data (engine-portable integer hash), so the
    // oracle replays every pick: the engine hash of id*1000003 + j,
    // sign-cleared then mod n, anchor-collision bumped to (r+1) mod n
    Gate("q_neg_sample", """
      WITH n AS (SELECT COUNT(*) AS n FROM embeddings),
      anchors AS (SELECT vec_id FROM embeddings WHERE vec_id < 20),
      j AS (SELECT unnest(range(4)) AS j),
      raw AS (
        SELECT a.vec_id, j.j,
               CAST((hash(a.vec_id * 1000003 + j.j) & 9223372036854775807) % n.n AS BIGINT) AS r,
               n.n AS nn
        FROM anchors a, j, n),
      neg AS (
        SELECT vec_id, CAST(j AS INT) AS j,
               CASE WHEN r = vec_id THEN (r + 1) % nn ELSE r END AS neg_id
        FROM raw)
      SELECT neg.vec_id, neg.j, e.vec_id AS neg_vec_id, e.label AS neg_label
      FROM neg JOIN embeddings e ON e.vec_id = neg.neg_id
      ORDER BY neg.vec_id, neg.j""") { (s, _) =>
      val emb = s.table("embeddings")
      Sampling.contrastiveNegatives(
          emb.where(col("vec_id") < 20), emb, "vec_id", k = 4)
        .select(col("vec_id"), col("j"), col("neg_vec_id"), col("neg_label"))
        .orderBy("vec_id", "j")
    },

    // CMS join-cardinality estimation: per-event-type user_id sketches,
    // cms_inner_product bounds each cross-type self-join size WITHOUT
    // running the join — the planner-side primitive. Exact pair counts
    // computed from per-(user, type) counts (no pair blowup); estimates
    // are integers, DuckDB rebuilds every counter cell exactly (same
    // machinery as q_cms), then min-over-rows of the cell-product sums.
    Gate("q_join_card", s"""
      WITH seeds(i, seed) AS (
        $cmsRowSeeds),
      h AS (SELECT event_type, hash(CAST(user_id AS BIGINT)) AS hv FROM events),
      cells AS (
        SELECT event_type, s.i, hash(xor(h.hv, s.seed)) % 16384 AS idx,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM h, seeds s GROUP BY 1, 2, 3),
      prod AS (
        SELECT a.event_type AS t1, b.event_type AS t2, a.i,
               SUM(a.c * b.c) AS rowsum
        FROM cells a JOIN cells b
          ON a.i = b.i AND a.idx = b.idx AND a.event_type < b.event_type
        GROUP BY 1, 2, 3),
      est AS (SELECT t1, t2, MIN(rowsum) AS est_pairs FROM prod GROUP BY 1, 2),
      $exactJoinPairsCtes
      SELECT ex.t1, ex.t2, ex.exact_pairs, CAST(est.est_pairs AS BIGINT) AS est_pairs
      FROM ex JOIN est ON est.t1 = ex.t1 AND est.t2 = ex.t2
      ORDER BY ex.t1, ex.t2""") { (s, _) =>
      s.sql(s"""
          WITH sk AS (
            SELECT event_type,
                   cms_sketch(4, 14, bitfilters_duckdb_hash('v1.5.1', CAST(user_id AS BIGINT))) AS s
            FROM events GROUP BY event_type),
          $exactJoinPairsCtes
          SELECT ex.t1, ex.t2, ex.exact_pairs,
                 cms_inner_product(sa.s, sb.s) AS est_pairs
          FROM ex JOIN sk sa ON sa.event_type = ex.t1
                  JOIN sk sb ON sb.event_type = ex.t2
          ORDER BY t1, t2""")
    },
  )
}
