package graft
package gates

import org.apache.spark.sql.functions._

/** Structured Streaming gates: file-source streaming runs of the
  * batch operators, drained by Trigger.AvailableNow into a parquet
  * sink. Determinism contract (FileStreams scaladoc, pinned by
  * FileStreamsSpec): draining one staged file (one data batch + the
  * no-data flush batch), the emitted set of an append-mode
  * watermarked aggregation is the batch result restricted to windows
  * with end_us <= (floor(max_us/1000) - delay_ms) * 1000 — Spark
  * tracks the watermark in floored milliseconds, eviction inclusive.
  */
object StreamingGates {

  val gates: Seq[Gate] = Seq(
    // STREAMING per-key EWMA: flatMapGroupsWithState carries one 16-byte
    // (lastUs, lastEwma) state per key; one AvailableNow drain emits the
    // batch recursion row for row (same oracle as q_ewma)
    // identical recursion replay as q_ewma — the streaming drain must
    // emit the batch fold row for row
    Gate("q_stream_ewma", """
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
      FROM r""") { (s, dir) =>
      import s.implicits._
      val ev = graft.streaming.FileStreams.tableStream(s, dir, "events", Seq("ts"))
        .where(col("event_type") === "view" && col("user_id") % 7 === 0)
        .select(col("user_id").as("k"), unix_micros(col("ts")).as("us"),
          round(col("value").cast("double") * lit(1e6)).cast("long").as("vE6"))
        .as[graft.streaming.StreamingEwma.KeyedPoint]
      graft.streaming.FileStreams.runAvailableNow(
          graft.streaming.StreamingEwma.ewmaStream(ev, alphaPpm = 300000L).toDF(),
          mode = org.apache.spark.sql.streaming.OutputMode.Append(),
          // state partitions DERIVED from a state-key estimate across
          // ALL q_stream_* gates (round 16; round 15 hardcoded 4 at
          // every site): FileStreams.derivedStatePartitions sizes the
          // store count from projected state VOLUME — floor 4 (the
          // round-15 A/B: 2 ~= 4 < 8 < 16 on watermark-bounded state;
          // the per-batch floor is the per-store-instance commit
          // fsync), one store per ~64 MB of projected state past the
          // knee. The estimate is the staged table's FOOTER row count
          // (metadata-only, the catalog statistic): state keys never
          // exceed staged rows, and the floor absorbs the
          // over-estimate at bench scale while an unbounded-state
          // pipeline at 100 TB derives a real fan-out instead of a
          // copy-pasted literal.
          expectedStateKeys =
            graft.streaming.FileStreams.tableRowCount(s, dir, "events"))
        .agg(count(lit(1)).cast("long").as("points"),
          countDistinct(col("k")).cast("long").as("keys"),
          sum("ewmaE6").cast("long").as("ewma_sum"),
          sum(abs(col("devE6"))).cast("long").as("abs_dev_sum"),
          max(abs(col("devE6"))).cast("long").as("max_abs_dev"))
    },

    // streaming windowed-count replay: the emitted set is the batch daily
    // aggregate restricted to windows finalized by the final watermark —
    // end_us <= (floor(max_us/1000) - 3_600_000) * 1000 (Spark tracks the
    // watermark in floored ms; eviction fires on end <= wm)
    Gate("q_stream_window", """
      WITH m AS (
        SELECT (epoch_us(MAX(ts)) // 1000 - 3600000) * 1000 AS wm FROM events)
      SELECT epoch_us(date_trunc('day', ts)) AS w_us, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events, m
      GROUP BY 1, 2, wm
      HAVING w_us + 86400000000 <= wm
      ORDER BY w_us, event_type""") { (s, dir) =>
      val ev = graft.streaming.FileStreams.tableStream(s, dir, "events", Seq("ts"))
      graft.streaming.FileStreams.runAvailableNow(
          graft.streaming.FileStreams.windowedEventCounts(
            ev, "ts", "event_type", "1 day", "1 hour"),
          // derived from the staged table's footer row count (see q_stream_ewma)
          expectedStateKeys =
            graft.streaming.FileStreams.tableRowCount(s, dir, "events"))
        .orderBy("w_us", "event_type")
    },

    // per-window value histogram (streaming drift monitor): mergeable
    // hist_sketch state per window (nbins+2 longs), bins emitted at
    // window close; pre-rounding and slot arithmetic replay exactly
    // streaming histogram replay: q_histogram's slot arithmetic per
    // window closed by the ms-floored watermark cutoff, zero bins absent
    Gate("q_stream_histogram", """
      WITH m AS (
        SELECT (epoch_us(MAX(ts)) // 1000 - 3600000) * 1000 AS wm FROM events),
      v AS (SELECT epoch_us(date_trunc('day', ts)) AS w_us,
                   CAST(CAST(ROUND(value * 100) AS BIGINT) AS DOUBLE) AS x
            FROM events),
      b AS (SELECT w_us,
                   CASE WHEN x < 0.0 THEN 0 WHEN x >= 50000.0 THEN 51
                        ELSE 1 + LEAST(49, CAST(FLOOR(x / 1000.0) AS INT)) END AS slot
            FROM v)
      SELECT w_us, CAST(slot AS INT) AS slot, CAST(COUNT(*) AS BIGINT) AS n
      FROM b, m WHERE w_us + 86400000000 <= wm
      GROUP BY w_us, slot ORDER BY w_us, slot""") { (s, dir) =>
      val ev = graft.streaming.FileStreams.tableStream(s, dir, "events", Seq("ts"))
        .withColumn("x", round(col("value") * 100).cast("long").cast("double"))
      graft.streaming.FileStreams.runAvailableNow(
          graft.streaming.FileStreams.windowedHistogram(
            ev, "ts", "x", 50, 0.0, 50000.0, "1 day", "1 hour"),
          // derived from the staged table's footer row count (see q_stream_ewma)
          expectedStateKeys =
            graft.streaming.FileStreams.tableRowCount(s, dir, "events"))
        .orderBy("w_us", "slot")
    },

    // per-window top-k heavy hitters as CHAINED stateful aggregations
    // (count per (window,key) -> window-of-window topk_agg): the second
    // operator's state is <= k entries per window, never the key
    // universe; emission inherits the q_stream_window cutoff
    // streaming windowed top-k replay: per-(closed window, user) counts
    // ranked n DESC, user ASC — the topk_agg ordering contract — under
    // the same ms-floored watermark cutoff as q_stream_window
    Gate("q_stream_topk", """
      WITH m AS (
        SELECT (epoch_us(MAX(ts)) // 1000 - 3600000) * 1000 AS wm FROM events),
      c AS (SELECT epoch_us(date_trunc('day', ts)) AS w_us, user_id,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2),
      r AS (SELECT w_us, user_id, n,
                   row_number() OVER (PARTITION BY w_us ORDER BY n DESC, user_id) AS rk
            FROM c)
      SELECT w_us, CAST(rk AS INT) AS rank, CAST(user_id AS BIGINT) AS user_id, n
      FROM r, m WHERE rk <= 5 AND w_us + 86400000000 <= wm
      ORDER BY w_us, rank""") { (s, dir) =>
      val ev = graft.streaming.FileStreams.tableStream(s, dir, "events", Seq("ts"))
      graft.streaming.FileStreams.runAvailableNow(
          graft.streaming.FileStreams.windowedTopK(
            ev, "ts", "user_id", 5, "1 day", "1 hour"),
          // derived from the staged table's footer row count (see q_stream_ewma)
          expectedStateKeys =
            graft.streaming.FileStreams.tableRowCount(s, dir, "events"))
        .orderBy("w_us", "rank")
    },

    // stream-static enrichment: the events stream broadcast-joins the
    // static customer dimension each micro-batch, then rolls up per
    // (day, mktsegment) under the watermark — same emission contract as
    // q_stream_window; per-row micro-rounded value sums replay exactly
    // stream-static enrichment replay: broadcast-dim join + the same
    // ms-floored watermark cutoff as q_stream_window
    Gate("q_stream_enrich", """
      WITH m AS (
        SELECT (epoch_us(MAX(ts)) // 1000 - 3600000) * 1000 AS wm FROM events)
      SELECT epoch_us(date_trunc('day', ts)) AS w_us,
             c.c_mktsegment AS segment,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_e2
      FROM events e JOIN customer c ON e.user_id = c.c_custkey, m
      GROUP BY 1, 2, wm
      HAVING w_us + 86400000000 <= wm
      ORDER BY w_us, segment""") { (s, dir) =>
      val ev = graft.streaming.FileStreams.tableStream(s, dir, "events", Seq("ts"))
      graft.streaming.FileStreams.runAvailableNow(
          graft.streaming.FileStreams.enrichedWindowedStats(
            ev, "ts", "value", "user_id",
            s.table("customer"), "c_custkey", "c_mktsegment"),
          // derived from the staged table's footer row count (see q_stream_ewma)
          expectedStateKeys =
            graft.streaming.FileStreams.tableRowCount(s, dir, "events"))
        .orderBy("w_us", "segment")
    },

    // stream-stream interval self-join: view->click attribution pairs
    // within 30 min per user as a REAL watermarked join; under one
    // AvailableNow drain the emitted set is exactly the batch interval
    // join (inner-join rows have no output watermark cutoff)
    // stream-stream interval join replay: the plain batch interval join
    // (inner-join emission has no watermark cutoff under one drain)
    Gate("q_stream_join", """
      SELECT CAST(COUNT(*) AS BIGINT) AS pairs,
             CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS users,
             CAST(SUM(epoch_us(b.ts) - epoch_us(a.ts)) AS BIGINT) AS dt_sum
      FROM events a JOIN events b
        ON a.user_id = b.user_id
       AND a.event_type = 'view' AND b.event_type = 'click'
       AND b.ts >= a.ts
       AND epoch_us(b.ts) <= epoch_us(a.ts) + 1800000000""") { (s, dir) =>
      val ev = graft.streaming.FileStreams.tableStream(s, dir, "events", Seq("ts"))
      graft.streaming.FileStreams.runAvailableNow(
          graft.streaming.FileStreams.streamIntervalJoin(
            ev, "ts", "event_type", "user_id", "view", "click", 1800000000L),
          // derived from the staged table's footer row count (see q_stream_ewma)
          expectedStateKeys =
            graft.streaming.FileStreams.tableRowCount(s, dir, "events"))
        .agg(count(lit(1)).cast("long").as("pairs"),
          countDistinct(col("user_id")).cast("long").as("users"),
          sum("dt_us").cast("long").as("dt_sum"))
    },

    // left-outer stream-stream interval join: matched pairs emit as the
    // batch inner join; a view whose 30-min conversion window expires
    // unmatched before the final watermark emits a NULL-extended row
    // from the state store (strict cutoff l_us + win < wm, spec-pinned)
    // left-outer replay: inner pairs (no cutoff) + anti-join left events
    // whose window expired strictly before the final GLOBAL watermark —
    // the MIN of the two per-side watermark nodes (each ms-floored over
    // its own filtered stream), NOT the overall event-time max
    Gate("q_stream_outer_join", """
      WITH wm AS (
        SELECT (LEAST(
            (SELECT epoch_us(MAX(ts)) // 1000 FROM events WHERE event_type = 'view'),
            (SELECT epoch_us(MAX(ts)) // 1000 FROM events WHERE event_type = 'click'))
          - 3600000) * 1000 AS w),
      l AS (SELECT user_id, epoch_us(ts) AS lus FROM events WHERE event_type = 'view'),
      r AS (SELECT user_id, epoch_us(ts) AS rus FROM events WHERE event_type = 'click'),
      m AS (SELECT l.user_id, l.lus, r.rus FROM l JOIN r
              ON l.user_id = r.user_id
             AND r.rus >= l.lus AND r.rus <= l.lus + 1800000000),
      u AS (SELECT l.user_id, l.lus FROM l, wm
            WHERE NOT EXISTS (SELECT 1 FROM r WHERE r.user_id = l.user_id
                    AND r.rus >= l.lus AND r.rus <= l.lus + 1800000000)
              AND l.lus + 1800000000 < wm.w)
      SELECT CAST((SELECT COUNT(*) FROM m) AS BIGINT) AS pairs,
             CAST((SELECT COUNT(*) FROM u) AS BIGINT) AS expired_unmatched,
             CAST((SELECT COUNT(DISTINCT user_id) FROM (
               SELECT user_id FROM m UNION ALL SELECT user_id FROM u)) AS BIGINT) AS users,
             CAST((SELECT SUM(rus - lus) FROM m) AS BIGINT) AS dt_sum""") { (s, dir) =>
      val ev = graft.streaming.FileStreams.tableStream(s, dir, "events", Seq("ts"))
      graft.streaming.FileStreams.runAvailableNow(
          graft.streaming.FileStreams.streamIntervalJoinOuter(
            ev, "ts", "event_type", "user_id", "view", "click", 1800000000L),
          // derived from the staged table's footer row count (see q_stream_ewma)
          expectedStateKeys =
            graft.streaming.FileStreams.tableRowCount(s, dir, "events"))
        .agg(sum(when(col("r_us").isNotNull, 1L).otherwise(0L)).cast("long").as("pairs"),
          sum(when(col("r_us").isNull, 1L).otherwise(0L)).cast("long").as("expired_unmatched"),
          countDistinct(col("user_id")).cast("long").as("users"),
          sum("dt_us").cast("long").as("dt_sum"))
    },

    // streaming gap-sessionization (session_window + watermark): rollup
    // over the sessions finalized by the final watermark; session end is
    // last event + gap, events exactly gap apart merge (same break rule
    // as the batch sessionizer)
    // streaming sessionization replay: gap sessions (break on diff > gap —
    // events exactly gap apart merge, same as session_window), session end
    // = last event + gap, kept iff end <= final ms-floored watermark
    Gate("q_stream_sessions", """
      WITH m AS (
        SELECT (epoch_us(MAX(ts)) // 1000 - 3600000) * 1000 AS wm FROM events),
      x AS (
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
        FROM x),
      g AS (
        SELECT user_id, sid, COUNT(*) AS n, MIN(us) AS s_us,
               MAX(us) + 1800000000 AS e_us
        FROM sess GROUP BY user_id, sid),
      f AS (SELECT * FROM g, m WHERE e_us <= wm)
      SELECT CAST(COUNT(*) AS BIGINT) AS sessions,
             CAST(SUM(n) AS BIGINT) AS events,
             CAST(SUM(e_us - s_us) AS BIGINT) AS dur_us,
             CAST(MAX(n) AS BIGINT) AS max_events
      FROM f""") { (s, dir) =>
      val ev = graft.streaming.FileStreams.tableStream(s, dir, "events", Seq("ts"))
      graft.streaming.FileStreams.runAvailableNow(
          graft.streaming.StreamingSessions.streamingSessionStats(
            ev, "user_id", "ts", gap = "30 minutes", watermark = "1 hour"),
          // derived from the staged table's footer row count (see q_stream_ewma)
          expectedStateKeys =
            graft.streaming.FileStreams.tableRowCount(s, dir, "events"))
        .agg(count(lit(1)).cast("long").as("sessions"),
          sum("n_events").cast("long").as("events"),
          sum(unix_micros(col("session_end")) - unix_micros(col("session_start")))
            .cast("long").as("dur_us"),
          max("n_events").cast("long").as("max_events"))
    },

    // streaming exact dedup: dropDuplicates state keeps the first
    // sighting of each (source, md5) — the emitted KEY SET is
    // deterministic, so the gate projects keys only and counts per source
    // streaming exact dedup replay: the emitted key set of dropDuplicates
    // after a full drain is exactly the distinct key set
    Gate("q_stream_dedup", """
      SELECT source, CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique
      FROM documents GROUP BY source ORDER BY source""") { (s, dir) =>
      val docs = graft.streaming.FileStreams.tableStream(s, dir, "documents")
        .select(col("source"), md5(col("text")).as("fp"))
      graft.streaming.FileStreams.runAvailableNow(
          graft.streaming.FileStreams.distinctKeys(docs, Seq("source", "fp")),
          // derived from the staged table's footer row count (see q_stream_ewma)
          expectedStateKeys =
            graft.streaming.FileStreams.tableRowCount(s, dir, "documents"))
        .groupBy("source").agg(count(lit(1)).cast("long").as("n_unique"))
        .orderBy("source")
    },

    // watermark-BOUNDED streaming dedup: state evicts at the event-time
    // horizon instead of growing with the all-time key count. One
    // in-order drain emits exactly the first-sighting set (batch
    // distinct replay); cross-horizon re-emission is spec-pinned
    // one in-order drain: the watermark only advances at batch end, so no
    // key expires mid-drain and the emitted set is the batch distinct
    Gate("q_stream_dedup_wm", """
      SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys
      FROM events GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
      val ev = graft.streaming.FileStreams.tableStream(s, dir, "events", Seq("ts"))
      graft.streaming.FileStreams.runAvailableNow(
          graft.streaming.FileStreams.distinctKeysWithinWatermark(
            ev, "ts", Seq("user_id", "event_type"), "1 day"),
          // derived from the staged table's footer row count (see q_stream_ewma)
          expectedStateKeys =
            graft.streaming.FileStreams.tableRowCount(s, dir, "events"))
        .groupBy("event_type").agg(count(lit(1)).cast("long").as("n_keys"))
        .orderBy("event_type")
    },

    // streaming sketch maintenance: per-day bloom filters over user-id
    // hashes, finalized by the watermark; the gate then probes every
    // distinct key of each emitted day against that day's blob — the
    // no-false-negative contract makes misses exactly 0, so counts are
    // fully oracle-replayable
    // streaming per-day bloom maintenance replay: counts are exact
    // (finalized windows only), misses is exactly 0 by the filters'
    // no-false-negative contract over the probed member keys
    Gate("q_stream_filters", """
      WITH m AS (
        SELECT (epoch_us(MAX(ts)) // 1000 - 3600000) * 1000 AS wm FROM events),
      g AS (
        SELECT epoch_us(date_trunc('day', ts)) AS w_us,
               CAST(COUNT(*) AS BIGINT) AS events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS keys
        FROM events GROUP BY 1)
      SELECT w_us, events, keys, CAST(0 AS BIGINT) AS misses
      FROM g, m WHERE w_us + 86400000000 <= wm ORDER BY w_us""") { (s, dir) =>
      val ev = graft.streaming.FileStreams.tableStream(s, dir, "events", Seq("ts"))
        .selectExpr("ts", "bitfilters_duckdb_hash('v1.5.1', user_id) AS h")
      val filters = graft.streaming.FileStreams.runAvailableNow(
          graft.streaming.StreamingFilters.windowedKeyFilters(
            ev, "ts", "h", "1 day", "1 hour", numSectors = 1024),
          // derived from the staged table's footer row count (see q_stream_ewma)
          expectedStateKeys =
            graft.streaming.FileStreams.tableRowCount(s, dir, "events"))
        .select(unix_micros(col("window.start")).as("w_us"),
          col("filter"), col("events").cast("long").as("events"))
      val keys = s.table("events")
        .select(unix_micros(date_trunc("day", col("ts"))).as("w_us"), col("user_id"))
        .distinct()
      filters.join(keys, "w_us")
        .groupBy(col("w_us"), col("events"))
        .agg(count(lit(1)).cast("long").as("keys"),
          // probe takes the RAW value (hashes internally); create took
          // the pre-hashed column — the same asymmetry as the reference
          sum(when(call_function("bitfilters_duckdb_bloom_filter_probe",
              lit("v1.5.1"), col("filter"), col("user_id")), 0L).otherwise(1L))
            .cast("long").as("misses"))
        .select("w_us", "events", "keys", "misses")
        .orderBy("w_us")
    },
  )
}
