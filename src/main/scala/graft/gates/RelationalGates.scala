package graft
package gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Changelog, Dedup, Events, Profile}

/** Plain relational gates: SQL aggregates and joins Spark plans on its
  * own, event-log analytics (windows, sessions, funnels, retention),
  * exact statistics (quantiles, histograms, drift, top-k) and changelog
  * compaction.
  */
object RelationalGates {

  /** Recursive-CTE replay of the per-key integer EWMA (alpha 0.3) over
    * the `view` events of users with `user_id % 7 = 0`, rolled up so the
    * full per-row fold is pinned; shared by q_ewma and q_stream_ewma (the
    * streaming drain must emit the batch fold row for row). Toward-zero
    * division via (x - x % 1e6) / 1e6: DuckDB % is C-style like the
    * JVM's, so the subtraction leaves an exactly divisible numerator.
    */
  private[gates] val ewmaOracleSql = """
      WITH RECURSIVE ev AS (
        SELECT user_id AS k, epoch_us(ts) AS us,
               CAST(round(value * 1e6) AS BIGINT) AS v
        FROM events WHERE event_type = 'view' AND user_id % 7 = 0),
      o AS (SELECT k, us, v,
                   row_number() OVER (PARTITION BY k ORDER BY us, v) AS rn
            FROM ev),
      r AS (
        SELECT k, rn, v, v AS e, CAST(0 AS BIGINT) AS d
        FROM o WHERE rn = 1
        UNION ALL
        SELECT o.k, o.rn, o.v,
               ((300000 * o.v + 700000 * r.e) -
                ((300000 * o.v + 700000 * r.e) % 1000000)) // 1000000 AS e,
               o.v - r.e AS d
        FROM r JOIN o ON o.k = r.k AND o.rn = r.rn + 1)
      SELECT CAST(COUNT(*) AS BIGINT) AS points,
             CAST(COUNT(DISTINCT k) AS BIGINT) AS keys,
             CAST(SUM(e) AS BIGINT) AS ewma_sum,
             CAST(SUM(ABS(d)) AS BIGINT) AS abs_dev_sum,
             CAST(MAX(ABS(d)) AS BIGINT) AS max_abs_dev
      FROM r"""

  /** Gap sessionization of `events` per user, breaking on a gap over 30
    * min (events exactly 30 min apart merge): `x` flags the breaks and
    * `sess(user_id, us, sid)` numbers each user's sessions.
    */
  private[gates] val sessionCtes = """x AS (
        SELECT user_id, ts, event_id, epoch_us(ts) AS us,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess AS (
        SELECT user_id, us,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM x)"""

  /** Changelog compaction replay: each user's latest event (ts, then
    * event_id), dropped when it is the 'error' tombstone.
    */
  private val latestPerUserSql = """
      WITH latest AS (
        SELECT user_id, event_type, value, ts, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
      SELECT user_id, event_type AS last_type,
             CAST(round(value * 100) AS BIGINT) AS value_e2,
             epoch_us(ts) AS ts_us, event_id
      FROM latest WHERE rn = 1 AND event_type <> 'error'
      ORDER BY user_id"""

  /** The Spark side of [[latestPerUserSql]]'s projection and order. */
  private def latestPerUser(latest: DataFrame): DataFrame =
    latest.select(col("user_id"), col("event_type").as("last_type"),
        round(col("value") * 100).cast("long").as("value_e2"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .orderBy("user_id")

  /** Per-1024-key-bucket checksums of the z-order keys `z(zkey)`, in
    * DuckDB and Spark SQL alike.
    */
  private val zBucketRollup = """
      SELECT CAST(zkey >> 10 AS BIGINT) AS zbucket,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(zkey) AS BIGINT) AS zsum,
             CAST(MIN(zkey) AS BIGINT) AS zmin,
             CAST(MAX(zkey) AS BIGINT) AS zmax
      FROM z GROUP BY zbucket ORDER BY zbucket"""

  val gates: Seq[Gate] = Seq(
    Gate.sameSql("q1_agg", """
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_e2,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_e2,
             CAST(SUM(CAST(ROUND(l_discount * 10000) AS BIGINT)) AS BIGINT) AS sum_disc_e4,
             CAST(COUNT(*) AS BIGINT) AS count_order
      FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""),

    Gate.sameSql("q2_join_agg", """
      SELECT o_orderpriority,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_e2,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    Gate.sameSql("q3_supplier_join", """
      SELECT s_nationkey,
             CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS active_suppliers,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS volume_e2
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_nationkey ORDER BY s_nationkey"""),

    Gate.sameSql("q_events_window", """
      SELECT date_trunc('hour', ts) AS hour, event_type,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS val_e2
      FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),

    // sliding event-time windows (1-day window, 6-hour slide): every
    // event contributes to exactly 4 overlapping windows — the Spark
    // window() multi-assignment semantics, replayed in the oracle by
    // enumerating the 4 aligned starts per event: 6h*floor(ts/6h) - o*6h
    // for o in 0..3 (all satisfy ts < start+24h)
    Gate("q_events_sliding", """
      WITH e AS (
        SELECT epoch_us(ts) AS us, event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS v
        FROM events),
      x AS (
        SELECT (us // 21600000000) * 21600000000 - t.o * 21600000000 AS w_us,
               event_type, v
        FROM e, LATERAL (SELECT unnest(range(4)) AS o) t)
      SELECT w_us, event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(v) AS BIGINT) AS val_e2
      FROM x GROUP BY 1, 2 ORDER BY w_us, event_type""") { (s, _) =>
      s.table("events")
        .groupBy(window(col("ts"), "1 day", "6 hours"), col("event_type"))
        .agg(count(lit(1)).cast("long").as("cnt"),
          sum(round(col("value") * 100).cast("long")).cast("long").as("val_e2"))
        .select(unix_micros(col("window.start")).as("w_us"), col("event_type"),
          col("cnt"), col("val_e2"))
        .orderBy("w_us", "event_type")
    },

    // 5-way star join: Catalyst broadcasts the three small dims and
    // plans the two big joins on their shuffle keys (TPC-H Q5 shape)
    Gate.sameSql("q5_regional_revenue", """
      SELECT r_name,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_e2
      FROM region JOIN nation ON n_regionkey = r_regionkey
        JOIN customer ON c_nationkey = n_nationkey
        JOIN orders ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY r_name ORDER BY r_name"""),

    // semi-structured props: JSON path extraction inside codegen
    Gate("q_events_props", """
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
      FROM events GROUP BY event_type ORDER BY event_type""") { (s, _) =>
      s.sql("""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(CAST(get_json_object(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
        FROM events GROUP BY event_type ORDER BY event_type""")
    },

    // exact interpolated percentiles: quarter fractions on integer-scaled
    // values keep every interpolation step exactly representable, so the
    // doubles are bit-equal across engines (type-7 positioning both)
    Gate("q_event_percentiles", """
      SELECT event_type,
             quantile_cont(v, 0.25) AS p25, quantile_cont(v, 0.5) AS p50, quantile_cont(v, 0.75) AS p75,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v FROM events)
      GROUP BY event_type ORDER BY event_type""") { (s, _) =>
      s.sql("""
        SELECT event_type,
               percentile(v, 0.25) AS p25, percentile(v, 0.5) AS p50, percentile(v, 0.75) AS p75,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v FROM events)
        GROUP BY event_type ORDER BY event_type""")
    },

    // gap-based sessionization: one shuffle on user_id, running-sum
    // session index, co-partitioned per-session rollup
    Gate("q_sessionize", s"""
      WITH $sessionCtes,
      g AS (
        SELECT user_id, sid, COUNT(*) AS n, MAX(us) - MIN(us) AS dur
        FROM sess GROUP BY user_id, sid)
      SELECT CAST(COUNT(*) AS BIGINT) AS sessions, CAST(SUM(n) AS BIGINT) AS events,
             CAST(SUM(dur) AS BIGINT) AS dur_us, CAST(MAX(n) AS BIGINT) AS max_events
      FROM g""") { (s, _) =>
      Events.sessionStats(
          Events.sessionize(s.table("events"), "user_id", "ts", gapSeconds = 1800), "user_id")
        .agg(count(lit(1)).cast("long").as("sessions"),
          sum("n_events").cast("long").as("events"),
          sum("duration_us").cast("long").as("dur_us"),
          max("n_events").cast("long").as("max_events"))
    },

    // funnel analysis: earliest view->click->purchase chain within 3
    // days; greedy earliest-step choice is optimal (the minimal t_i
    // admits the most candidates for t_{i+1}), microsecond-exact
    Gate("q_funnel", """
      WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
      s0 AS (SELECT user_id, MIN(us) AS t0 FROM e WHERE event_type = 'view' GROUP BY user_id),
      s1 AS (SELECT e.user_id, MIN(t0) AS t0, MIN(us) AS t1
             FROM e JOIN s0 USING (user_id)
             WHERE event_type = 'click' AND us >= t0 GROUP BY e.user_id),
      s2 AS (SELECT e.user_id, MIN(t0) AS t0, MIN(t1) AS t1, MIN(us) AS t2
             FROM e JOIN s1 USING (user_id)
             WHERE event_type = 'purchase' AND us >= t1 GROUP BY e.user_id)
      SELECT CAST(COUNT(*) AS BIGINT) AS completed,
             CAST(SUM(t2 - t0) AS BIGINT) AS span_us_sum,
             CAST(SUM(user_id) AS BIGINT) AS user_sum
      FROM s2 WHERE t2 - t0 <= 259200000000""") { (s, _) =>
      Events.funnel(s.table("events"), "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"), maxSpanUs = 259200000000L)
        .agg(count(lit(1)).cast("long").as("completed"),
          sum(col("t2") - col("t0")).cast("long").as("span_us_sum"),
          sum("user").cast("long").as("user_sum"))
    },

    // cohort retention matrix over full event dates (exact distinct
    // users per cohort x day-offset)
    Gate("q_retention", """
      WITH base AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events),
      cohorts AS (SELECT u, MIN(d) AS cohort FROM base GROUP BY u),
      m AS (
        SELECT cohort, date_diff('day', cohort, d) AS day_offset, COUNT(DISTINCT u) AS users
        FROM base JOIN cohorts USING (u)
        WHERE date_diff('day', cohort, d) <= 30
        GROUP BY 1, 2)
      SELECT CAST(COUNT(*) AS BIGINT) AS cells,
             CAST(SUM(users) AS BIGINT) AS user_days,
             CAST(SUM(day_offset * users) AS BIGINT) AS weighted_offsets
      FROM m""") { (s, _) =>
      Events.retentionCohorts(s.table("events"), "user_id", "ts", maxDays = 30)
        .agg(count(lit(1)).cast("long").as("cells"),
          sum("users").cast("long").as("user_days"),
          sum(col("day_offset") * col("users")).cast("long").as("weighted_offsets"))
    },

    // soft data-quality expectations: one agg pass, a row per check
    // with violation counts (the hard plan-side variant is spec-tested
    // — a gate cannot assert a job failure)
    Gate("q_expect", """
      WITH a AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS total,
               CAST(SUM(CASE WHEN NOT coalesce(length(text) = n_chars, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v0,
               CAST(SUM(CASE WHEN NOT coalesce(doc_id >= 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v1,
               CAST(SUM(CASE WHEN NOT coalesce(lang IN ('en', 'de', 'fr', 'es', 'zh'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v2,
               CAST(SUM(CASE WHEN NOT coalesce(n_chars >= 100, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v3
        FROM documents)
      SELECT 'chars_match' AS "check", v0 AS violations, total FROM a
      UNION ALL SELECT 'id_positive', v1, total FROM a
      UNION ALL SELECT 'known_lang', v2, total FROM a
      UNION ALL SELECT 'long_text', v3, total FROM a
      ORDER BY 1""") { (s, _) =>
      Profile.expectReport(s.table("documents"), Seq(
          "chars_match" -> (length(col("text")) === col("n_chars")),
          "id_positive" -> (col("doc_id") >= 0),
          "known_lang" -> col("lang").isin("en", "de", "fr", "es", "zh"),
          "long_text" -> (col("n_chars") >= 100)))
        .orderBy("check")
    },

    // per-key EWMA: exact integer recursion (alpha 0.3), rolled up so
    // the full per-row fold is pinned without a 15k-row output; the
    // DuckDB oracle replays the recursion with a recursive CTE
    // ([[ewmaOracleSql]])
    Gate("q_ewma", ewmaOracleSql) { (s, _) =>
      Events.ewmaSmooth(
          s.table("events").where(col("event_type") === "view" &&
            col("user_id") % 7 === 0),
          "user_id", "ts", "value", alphaPpm = 300000L)
        .agg(count(lit(1)).cast("long").as("points"),
          countDistinct(col("user_id")).cast("long").as("keys"),
          sum("ewma_e6").cast("long").as("ewma_sum"),
          sum(abs(col("dev_e6"))).cast("long").as("abs_dev_sum"),
          max(abs(col("dev_e6"))).cast("long").as("max_abs_dev"))
    },

    // unknown-domain quantiles: min/max pass + [min,max) hist fit with
    // the virtual max bin; both passes replayed exactly in SQL: bin =
    // LEAST(nbins-1, FLOOR((x-lo)/width)), rank q*n walked through the
    // occupied-bin cumulative counts, value = lo + width*(b +
    // (rank-cum)/c); the max values (x >= hi) are the virtual bin at hi
    Gate("q_quantiles_auto", """
      WITH v AS (SELECT CAST(value AS DOUBLE) AS x FROM events WHERE value IS NOT NULL),
      mm AS (SELECT MIN(x) AS lo, MAX(x) AS hi FROM v),
      w AS (SELECT lo, hi, (hi - lo) / 400 AS width FROM mm),
      binned AS (SELECT CASE WHEN x >= w.hi THEN 400
                        ELSE LEAST(399, CAST(FLOOR((x - w.lo) / w.width) AS INT)) END AS b
                 FROM v, w),
      counts AS (SELECT b, COUNT(*) AS c FROM binned GROUP BY b),
      n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM counts),
      realb AS (SELECT b, c, SUM(c) OVER (ORDER BY b) AS ca,
                       SUM(c) OVER (ORDER BY b) - c AS cum
                FROM counts WHERE b < 400),
      qs AS (SELECT unnest([0.0, 0.5, 0.9, 0.99, 1.0]) AS q),
      ranks AS (SELECT q, q * n.n AS rank FROM qs, n),
      pick AS (SELECT ranks.q, ranks.rank, MIN(realb.b) AS b
               FROM ranks LEFT JOIN realb ON CAST(realb.ca AS DOUBLE) >= ranks.rank
               GROUP BY ranks.q, ranks.rank),
      vals AS (SELECT pick.q,
                 CASE WHEN pick.b IS NULL THEN w.hi
                      ELSE w.lo + w.width * (realb.b +
                        GREATEST(0.0, (pick.rank - realb.cum) / realb.c)) END AS value
               FROM pick CROSS JOIN w LEFT JOIN realb ON realb.b = pick.b)
      SELECT CAST(round(q * 1e6) AS BIGINT) AS q_ppm,
             CAST(round(value * 1e6) AS BIGINT) AS value_e6
      FROM vals ORDER BY q_ppm""") { (s, _) =>
      Profile.autoQuantiles(s.table("events"), "value", nbins = 400,
          qs = Seq(0.0, 0.5, 0.9, 0.99, 1.0))
        .orderBy("q_ppm")
    },

    // distribution drift: view-event values vs purchase-event values
    // histogrammed over the same range (the q_histogram slot arithmetic);
    // per-slot counts, micro-unit occupancy fractions, and the integer
    // L1 drift number
    Gate("q_drift", """
      WITH so AS (
        SELECT CASE WHEN value < 0.0 THEN 0 WHEN value >= 500.0 THEN 21
                    ELSE 1 + LEAST(19, CAST(FLOOR(CAST(value AS DOUBLE) / 25.0) AS INT)) END AS slot
        FROM events WHERE event_type = 'view'),
      sn AS (
        SELECT CASE WHEN value < 0.0 THEN 0 WHEN value >= 500.0 THEN 21
                    ELSE 1 + LEAST(19, CAST(FLOOR(CAST(value AS DOUBLE) / 25.0) AS INT)) END AS slot
        FROM events WHERE event_type = 'purchase'),
      co AS (SELECT slot, COUNT(*) AS c FROM so GROUP BY slot),
      cn AS (SELECT slot, COUNT(*) AS c FROM sn GROUP BY slot),
      slots AS (SELECT unnest(generate_series(0, 21)) AS slot),
      j AS (SELECT slots.slot, COALESCE(co.c, 0) AS old_cnt, COALESCE(cn.c, 0) AS new_cnt
            FROM slots LEFT JOIN co ON co.slot = slots.slot
                       LEFT JOIN cn ON cn.slot = slots.slot),
      t AS (SELECT CAST(SUM(old_cnt) AS DOUBLE) AS ot, CAST(SUM(new_cnt) AS DOUBLE) AS nt FROM j),
      f AS (SELECT slot, old_cnt, new_cnt,
              CAST(round(old_cnt / t.ot * 1e6) AS BIGINT) AS old_frac_e6,
              CAST(round(new_cnt / t.nt * 1e6) AS BIGINT) AS new_frac_e6
            FROM j, t),
      l1 AS (SELECT CAST(SUM(ABS(old_frac_e6 - new_frac_e6)) AS BIGINT) AS l1_e6,
                    CAST(SUM(CASE WHEN old_frac_e6 > 0 AND new_frac_e6 > 0
                      THEN CAST(round(CAST(old_frac_e6 - new_frac_e6 AS DOUBLE) / 1e6 *
                        ln(CAST(old_frac_e6 AS DOUBLE) / CAST(new_frac_e6 AS DOUBLE)) * 1e6)
                        AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS psi_e6 FROM f)
      SELECT CAST(f.slot AS INT) AS slot, CAST(old_cnt AS BIGINT) AS old_cnt,
             CAST(new_cnt AS BIGINT) AS new_cnt, old_frac_e6, new_frac_e6, l1.l1_e6,
             l1.psi_e6
      FROM f, l1 WHERE old_cnt > 0 OR new_cnt > 0 ORDER BY slot""") { (s, _) =>
      val ev = s.table("events")
      Profile.histDrift(
          ev.where(col("event_type") === "view").select(col("value")),
          ev.where(col("event_type") === "purchase").select(col("value")),
          "value", 20, 0.0, 500.0)
        .select(col("slot").cast("int").as("slot"),
          col("old_cnt").cast("long").as("old_cnt"),
          col("new_cnt").cast("long").as("new_cnt"),
          col("old_frac_e6"), col("new_frac_e6"), col("l1_e6"), col("psi_e6"))
        .orderBy("slot")
    },

    // bounded-heap per-group top-k: the k highest-balance customers per
    // nation WITHOUT sorting any group (k pairs per partition cross the
    // shuffle). Deterministic (ord DESC, payload ASC) order makes the
    // window-function replay exact (payloads unique).
    Gate("q_topk", """
      SELECT c_nationkey, CAST(rn - 1 AS INT) AS rank,
             CAST(bal_e2 AS BIGINT) AS bal_e2, CAST(c_custkey AS BIGINT) AS custkey
      FROM (SELECT c_nationkey, c_custkey,
                   CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_e2,
                   row_number() OVER (PARTITION BY c_nationkey
                     ORDER BY CAST(ROUND(c_acctbal * 100) AS BIGINT) DESC, c_custkey) AS rn
            FROM customer)
      WHERE rn <= 5 ORDER BY c_nationkey, rank""") { (s, _) =>
      s.sql("""
        SELECT c_nationkey, CAST(pos AS INT) AS rank,
               e.ord AS bal_e2, e.payload AS custkey
        FROM (SELECT c_nationkey,
                     topk_agg(5, CAST(ROUND(c_acctbal * 100) AS BIGINT), c_custkey) AS tk
              FROM customer GROUP BY c_nationkey)
        LATERAL VIEW posexplode(tk) t AS pos, e
        ORDER BY c_nationkey, rank""")
    },

    // histogram sketch: per-type fixed-range histograms over integer-exact
    // scaled values. Every occupied bin count rides the hash path (explode),
    // and the interpolated median/p90 are micro-rounded doubles whose
    // arithmetic (rank walk + within-bin interpolation) DuckDB replays from
    // its own bin counts with a window cumsum. Replay slot = 1 +
    // floor(x/width) (0/nbins+1 for outliers, matching hist_counts layout).
    Gate("q_histogram", """
      WITH v AS (
        SELECT event_type, CAST(CAST(ROUND(value * 100) AS BIGINT) AS DOUBLE) AS x
        FROM events),
      b AS (
        SELECT event_type,
               CASE WHEN x < 0.0 THEN 0 WHEN x >= 50000.0 THEN 51
                    ELSE 1 + LEAST(49, CAST(FLOOR(x / 1000.0) AS INT)) END AS slot
        FROM v),
      c AS (SELECT event_type, slot, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
      n AS (SELECT event_type, SUM(cnt) AS n FROM c WHERE slot BETWEEN 1 AND 50 GROUP BY 1),
      w AS (
        SELECT event_type, slot, cnt,
               SUM(cnt) OVER (PARTITION BY event_type ORDER BY slot) AS cum
        FROM c WHERE slot BETWEEN 1 AND 50),
      land AS (
        SELECT w.event_type, q.qv, MIN(w.slot) AS slot
        FROM w JOIN n ON n.event_type = w.event_type,
             (SELECT UNNEST([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE)]) AS qv) q
        WHERE w.cum >= q.qv * n.n
        GROUP BY w.event_type, q.qv),
      est AS (
        SELECT l.event_type, l.qv,
               0.0 + 1000.0 * ((l.slot - 1) + ((l.qv * n.n) - (w.cum - w.cnt)) / w.cnt) AS est
        FROM land l
        JOIN w ON w.event_type = l.event_type AND w.slot = l.slot
        JOIN n ON n.event_type = l.event_type),
      qp AS (
        SELECT event_type,
               CAST(ROUND(MAX(CASE WHEN qv = 0.5 THEN est END) * 1000000) AS BIGINT) AS med_e6,
               CAST(ROUND(MAX(CASE WHEN qv = 0.9 THEN est END) * 1000000) AS BIGINT) AS p90_e6
        FROM est GROUP BY event_type)
      SELECT c.event_type, CAST(c.slot AS INT) AS slot, CAST(c.cnt AS BIGINT) AS cnt,
             qp.med_e6, qp.p90_e6
      FROM c JOIN qp ON qp.event_type = c.event_type
      ORDER BY c.event_type, slot""") { (s, _) =>
      s.sql("""
        WITH sk AS (
          SELECT event_type,
                 hist_sketch(50, 0.0D, 50000.0D,
                   CAST(CAST(ROUND(value * 100) AS BIGINT) AS DOUBLE)) AS h
          FROM events GROUP BY event_type),
        qv AS (
          SELECT event_type, h,
                 CAST(ROUND(hist_quantile(h, 0.5D) * 1000000) AS BIGINT) AS med_e6,
                 CAST(ROUND(hist_quantile(h, 0.9D) * 1000000) AS BIGINT) AS p90_e6
          FROM sk)
        SELECT event_type, CAST(pos AS INT) AS slot, CAST(cnt AS BIGINT) AS cnt,
               med_e6, p90_e6
        FROM qv LATERAL VIEW posexplode(hist_counts(h)) t AS pos, cnt
        WHERE cnt > 0
        ORDER BY event_type, slot""")
    },

    // z-order clustering key: Morton interleave of two bucketed part/supp
    // dimensions. Per-bucket integer checksums over the full key
    // distribution pin every bit position; DuckDB rebuilds the interleave
    // from shift/mask arithmetic generated from the same (bits=8, dims=2)
    // the Spark expression folds.
    Gate("q_zorder", {
      val terms = (for (j <- 0 until 8; (c, i) <- Seq("x" -> 0, "y" -> 1))
        yield s"(((${c} >> ${j}) & 1) << ${2 * j + i})").mkString(" + ")
      s"""
      WITH v AS (SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y FROM lineitem),
      z AS (SELECT CAST($terms AS BIGINT) AS zkey FROM v)$zBucketRollup"""
    }) { (s, _) =>
      s.sql(s"""
        WITH z AS (SELECT zorder_key(8, l_partkey % 256, l_suppkey % 256) AS zkey
                   FROM lineitem)$zBucketRollup""")
    },

    // corpus snapshot diff: two derived versions of the documents table
    // (old drops doc_id%10==9, new drops %10==0 and edits %7==0) — the
    // incremental-refresh primitive. Status assignment replays as the
    // same md5 full-outer join in DuckDB.
    Gate("q_corpus_diff", """
      WITH o AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 < 9),
      n AS (SELECT doc_id, md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS h
            FROM documents WHERE doc_id % 10 > 0),
      d AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
              CASE WHEN o.h IS NULL THEN 'added' WHEN n.h IS NULL THEN 'removed'
                   WHEN o.h = n.h THEN 'unchanged' ELSE 'changed' END AS status
            FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
      SELECT status, CAST(COUNT(*) AS BIGINT) AS ids, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM d GROUP BY status ORDER BY status""") { (s, _) =>
      val docs = s.table("documents")
      val oldV = docs.where(col("doc_id") % 10 < 9).select(col("doc_id"), col("text"))
      val newV = docs.where(col("doc_id") % 10 > 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      Dedup.corpusDiff(oldV, newV, "text", "doc_id")
        .groupBy("status")
        .agg(count(lit(1)).cast("long").as("ids"),
          sum("doc_id").cast("long").as("id_sum"))
        .orderBy("status")
    },

    // Changelog compaction (CDC upsert): latest event per user wins,
    // 'error' as the tombstone type — a key whose newest change is a
    // tombstone drops out; older tombstones are overridden. One
    // partial-aggregated struct-argmax, replayed by the oracle's
    // window row_number form (ordering unique per key via event_id).
    Gate("q_upsert", latestPerUserSql) { (s, _) =>
      latestPerUser(Changelog.compactLatest(s.table("events"), Seq("user_id"),
          Seq("ts", "event_id"), col("event_type") === "error"))
    },

    // incremental MERGE: compact the first half-month into a snapshot,
    // apply the second half as a change slice — equals (and is oracle-
    // checked against) the FULL-history compaction: snapshot+slice must
    // reproduce it exactly
    Gate("q_upsert_incr", latestPerUserSql) { (s, _) =>
      val ev = s.table("events")
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      val snap = Changelog.compactLatest(ev.where(col("ts") < cut),
        Seq("user_id"), Seq("ts", "event_id"), col("event_type") === "error")
      latestPerUser(Changelog.applyChanges(snap, ev.where(col("ts") >= cut),
          Seq("user_id"), Seq("ts", "event_id"), col("event_type") === "error"))
    },
  )
}
