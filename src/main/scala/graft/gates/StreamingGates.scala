package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.{FileStreams, StreamingEwma, StreamingFilters, StreamingSessions}

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

  /** The final event-time watermark every windowed oracle cuts at: `m(wm)`,
    * the ms-floored max event time minus the 1-hour delay, in us.
    */
  private val wmCte = """m AS (
        SELECT (epoch_us(MAX(ts)) // 1000 - 3600000) * 1000 AS wm FROM events)"""

  /** One AvailableNow drain of `query` over `table` streamed from the
    * staged fixture in `dir` (events with its nanos `ts` rebuilt), under
    * the one state setup every drain has (FileStreams.drainConf).
    */
  private def drain(s: SparkSession, dir: String, table: String = "events")(
      query: DataFrame => DataFrame): DataFrame =
    FileStreams.runAvailableNow(
      query(FileStreams.tableStream(s, dir, table, if (table == "events") Seq("ts") else Nil)))

  val gates: Seq[Gate] = Seq(
    // STREAMING per-key EWMA: flatMapGroupsWithState carries one 16-byte
    // (lastUs, lastEwma) state per key; one AvailableNow drain emits the
    // batch recursion row for row (same oracle as q_ewma)
    Gate("q_stream_ewma", RelationalGates.ewmaOracleSql) { (s, dir) =>
      import s.implicits._
      drain(s, dir)(ev => StreamingEwma.ewmaStream(
          ev.where(col("event_type") === "view" && col("user_id") % 7 === 0)
            .select(col("user_id").as("k"), unix_micros(col("ts")).as("us"),
              round(col("value").cast("double") * lit(1e6)).cast("long").as("vE6"))
            .as[StreamingEwma.KeyedPoint],
          alphaPpm = 300000L).toDF())
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
    Gate("q_stream_window", s"""
      WITH $wmCte
      SELECT epoch_us(date_trunc('day', ts)) AS w_us, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events, m
      GROUP BY 1, 2, wm
      HAVING w_us + 86400000000 <= wm
      ORDER BY w_us, event_type""") { (s, dir) =>
      drain(s, dir)(ev => FileStreams.windowedEventCounts(
          ev, "ts", "event_type", "1 day", "1 hour"))
        .orderBy("w_us", "event_type")
    },

    // per-window value histogram (streaming drift monitor): mergeable
    // hist_sketch state per window (nbins+2 longs), bins emitted at
    // window close; q_histogram's pre-rounding and slot arithmetic
    // replay exactly per window closed by the ms-floored watermark
    // cutoff, zero bins absent
    Gate("q_stream_histogram", s"""
      WITH $wmCte,
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
      drain(s, dir)(ev => FileStreams.windowedHistogram(
          ev.withColumn("x", round(col("value") * 100).cast("long").cast("double")),
          "ts", "x", 50, 0.0, 50000.0, "1 day", "1 hour"))
        .orderBy("w_us", "slot")
    },

    // per-window top-k heavy hitters as CHAINED stateful aggregations
    // (count per (window,key) -> window-of-window topk_agg): the second
    // operator's state is <= k entries per window, never the key
    // universe; emission inherits the q_stream_window cutoff. Replay:
    // per-(closed window, user) counts ranked n DESC, user ASC — the
    // topk_agg ordering contract
    Gate("q_stream_topk", s"""
      WITH $wmCte,
      c AS (SELECT epoch_us(date_trunc('day', ts)) AS w_us, user_id,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2),
      r AS (SELECT w_us, user_id, n,
                   row_number() OVER (PARTITION BY w_us ORDER BY n DESC, user_id) AS rk
            FROM c)
      SELECT w_us, CAST(rk AS INT) AS rank, CAST(user_id AS BIGINT) AS user_id, n
      FROM r, m WHERE rk <= 5 AND w_us + 86400000000 <= wm
      ORDER BY w_us, rank""") { (s, dir) =>
      drain(s, dir)(ev => FileStreams.windowedTopK(
          ev, "ts", "user_id", 5, "1 day", "1 hour"))
        .orderBy("w_us", "rank")
    },

    // stream-static enrichment: the events stream broadcast-joins the
    // static customer dimension each micro-batch, then rolls up per
    // (day, mktsegment) under the watermark — same emission contract as
    // q_stream_window; per-row micro-rounded value sums replay exactly
    Gate("q_stream_enrich", s"""
      WITH $wmCte
      SELECT epoch_us(date_trunc('day', ts)) AS w_us,
             c.c_mktsegment AS segment,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_e2
      FROM events e JOIN customer c ON e.user_id = c.c_custkey, m
      GROUP BY 1, 2, wm
      HAVING w_us + 86400000000 <= wm
      ORDER BY w_us, segment""") { (s, dir) =>
      drain(s, dir)(ev => FileStreams.enrichedWindowedStats(
          ev, "ts", "value", "user_id",
          s.table("customer"), "c_custkey", "c_mktsegment"))
        .orderBy("w_us", "segment")
    },

    // stream-stream interval self-join: view->click attribution pairs
    // within 30 min per user as a REAL watermarked join; under one
    // AvailableNow drain the emitted set is exactly the batch interval
    // join (inner-join rows have no output watermark cutoff)
    Gate("q_stream_join", """
      SELECT CAST(COUNT(*) AS BIGINT) AS pairs,
             CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS users,
             CAST(SUM(epoch_us(b.ts) - epoch_us(a.ts)) AS BIGINT) AS dt_sum
      FROM events a JOIN events b
        ON a.user_id = b.user_id
       AND a.event_type = 'view' AND b.event_type = 'click'
       AND b.ts >= a.ts
       AND epoch_us(b.ts) <= epoch_us(a.ts) + 1800000000""") { (s, dir) =>
      drain(s, dir)(ev => FileStreams.streamIntervalJoin(
          ev, "ts", "event_type", "user_id", "view", "click", 1800000000L))
        .agg(count(lit(1)).cast("long").as("pairs"),
          countDistinct(col("user_id")).cast("long").as("users"),
          sum("dt_us").cast("long").as("dt_sum"))
    },

    // left-outer stream-stream interval join: matched pairs emit as the
    // batch inner join; a view whose 30-min conversion window expires
    // unmatched before the final watermark emits a NULL-extended row
    // from the state store (strict cutoff l_us + win < wm, spec-pinned).
    // The replay's watermark is the final GLOBAL one — the MIN of the two
    // per-side watermark nodes (each ms-floored over its own filtered
    // stream), NOT the overall event-time max
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
      drain(s, dir)(ev => FileStreams.streamIntervalJoinOuter(
          ev, "ts", "event_type", "user_id", "view", "click", 1800000000L))
        .agg(sum(when(col("r_us").isNotNull, 1L).otherwise(0L)).cast("long").as("pairs"),
          sum(when(col("r_us").isNull, 1L).otherwise(0L)).cast("long").as("expired_unmatched"),
          countDistinct(col("user_id")).cast("long").as("users"),
          sum("dt_us").cast("long").as("dt_sum"))
    },

    // streaming gap-sessionization (session_window + watermark): rollup
    // over the sessions finalized by the final watermark; session end is
    // last event + gap, events exactly gap apart merge (same break rule
    // as the batch sessionizer); kept iff end <= the final ms-floored
    // watermark
    Gate("q_stream_sessions", s"""
      WITH $wmCte,
      ${RelationalGates.sessionCtes},
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
      drain(s, dir)(ev => StreamingSessions.streamingSessionStats(
          ev, "user_id", "ts", gap = "30 minutes", watermark = "1 hour"))
        .agg(count(lit(1)).cast("long").as("sessions"),
          sum("n_events").cast("long").as("events"),
          sum(unix_micros(col("session_end")) - unix_micros(col("session_start")))
            .cast("long").as("dur_us"),
          max("n_events").cast("long").as("max_events"))
    },

    // streaming exact dedup: dropDuplicates state keeps the first
    // sighting of each (source, md5) — the emitted KEY SET is
    // deterministic (after a full drain, exactly the distinct key set), so
    // the gate projects keys only and counts per source
    Gate("q_stream_dedup", """
      SELECT source, CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique
      FROM documents GROUP BY source ORDER BY source""") { (s, dir) =>
      drain(s, dir, "documents")(docs => FileStreams.distinctKeys(
          docs.select(col("source"), md5(col("text")).as("fp")), Seq("source", "fp")))
        .groupBy("source").agg(count(lit(1)).cast("long").as("n_unique"))
        .orderBy("source")
    },

    // watermark-BOUNDED streaming dedup: state evicts at the event-time
    // horizon instead of growing with the all-time key count. One
    // in-order drain emits exactly the first-sighting set (batch
    // distinct replay: the watermark only advances at batch end, so no
    // key expires mid-drain); cross-horizon re-emission is spec-pinned
    Gate("q_stream_dedup_wm", """
      SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys
      FROM events GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
      drain(s, dir)(ev => FileStreams.distinctKeysWithinWatermark(
          ev, "ts", Seq("user_id", "event_type"), "1 day"))
        .groupBy("event_type").agg(count(lit(1)).cast("long").as("n_keys"))
        .orderBy("event_type")
    },

    // streaming sketch maintenance: per-day bloom filters over user-id
    // hashes, finalized by the watermark; the gate then probes every
    // distinct key of each emitted day against that day's blob — the
    // no-false-negative contract makes misses exactly 0, so counts are
    // fully oracle-replayable (finalized windows only)
    Gate("q_stream_filters", s"""
      WITH $wmCte,
      g AS (
        SELECT epoch_us(date_trunc('day', ts)) AS w_us,
               CAST(COUNT(*) AS BIGINT) AS events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS keys
        FROM events GROUP BY 1)
      SELECT w_us, events, keys, CAST(0 AS BIGINT) AS misses
      FROM g, m WHERE w_us + 86400000000 <= wm ORDER BY w_us""") { (s, dir) =>
      val filters = drain(s, dir)(ev => StreamingFilters.windowedKeyFilters(
          ev.selectExpr("ts", "bitfilters_duckdb_hash('v1.5.1', user_id) AS h"),
          "ts", "h", "1 day", "1 hour", numSectors = 1024))
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
