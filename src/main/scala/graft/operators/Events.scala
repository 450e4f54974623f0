package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream operators over (user, timestamp) logs: gap-based
  * sessionization and per-session rollups.
  *
  * Scale shape: one shuffle on the user key (the window partition); the
  * running session index is a running sum inside each partition, and the
  * per-session rollup groups on (user, session) which is co-partitioned
  * with the window — Spark plans it without a second exchange. Skewed
  * power users are bounded by per-user event counts, not corpus size.
  */
object Events {

  /** Assign a session index per user: a new session starts when the gap
    * since the previous event exceeds `gapSeconds`. Microsecond-exact
    * (`unix_micros`), deterministic tie-break on `orderCols`.
    */
  def sessionize(df: DataFrame, userCol: String, tsCol: String,
      gapSeconds: Long = 1800, orderCols: Seq[String] = Seq("event_id")): DataFrame = {
    val order = (col(tsCol) +: orderCols.map(col)).map(_.asc)
    val w = Window.partitionBy(col(userCol)).orderBy(order: _*)
    val us = unix_micros(col(tsCol))
    val break = when(
      lag(us, 1).over(w).isNull || us - lag(us, 1).over(w) > gapSeconds * 1000000L, 1L)
      .otherwise(0L)
    df.withColumn("__us", us)
      .withColumn("session_idx",
        sum(break).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Per-session rollup: event count and duration (µs). */
  def sessionStats(sessions: DataFrame, userCol: String): DataFrame =
    sessions.groupBy(col(userCol), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("__us")) - min(col("__us"))).as("duration_us"))

  /** Funnel analysis: users whose earliest chain of `steps` completes in
    * order within `maxSpanUs` microseconds. Step i's timestamp t_i is the
    * MINIMUM event time of that step at or after t_{i-1} (the earliest-
    * completion semantics every funnel product uses); users missing any
    * step drop out via the inner joins. Returns (user, t0..t_{n-1}).
    *
    * Scale shape: one groupBy per step, all keyed on the user column —
    * after the first shuffle every join and aggregation is co-partitioned
    * on user, so Spark plans the whole chain with a single exchange per
    * step input and no repartitioning of the accumulated funnel state.
    * Microsecond-exact integer arithmetic end to end (oracle-replayable).
    */
  def funnel(df: DataFrame, userCol: String, tsCol: String, typeCol: String,
      steps: Seq[String], maxSpanUs: Long = Long.MaxValue): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val base = df.select(col(userCol).as("user"),
      unix_micros(col(tsCol)).as("us"), col(typeCol).as("et"))
    var acc = base.where(col("et") === steps.head)
      .groupBy("user").agg(min("us").as("t0"))
    for (i <- 1 until steps.length) {
      val prev = s"t${i - 1}"
      val aggs = (0 until i).map(j => min(col(s"t$j")).as(s"t$j")) :+ min(col("us")).as(s"t$i")
      acc = base.where(col("et") === steps(i))
        .join(acc, "user")
        .where(col("us") >= col(prev))
        .groupBy("user")
        .agg(aggs.head, aggs.tail: _*)
    }
    val last = s"t${steps.length - 1}"
    acc.where(col(last) - col("t0") <= maxSpanUs)
  }

  /** Cohort retention: users grouped by their first active DATE (the
    * cohort), counted again for each later day-offset they return on —
    * the (cohort, day_offset) -> users matrix behind every retention
    * curve. Shape: one distinct over (user, date), a user-keyed min and
    * join (co-partitioned with the distinct's shuffle), then the final
    * (cohort, offset) aggregation; distinct-user counts are exact.
    */
  def retentionCohorts(df: DataFrame, userCol: String, tsCol: String,
      maxDays: Int = 30): DataFrame = {
    val base = df.select(col(userCol).as("user"), to_date(col(tsCol)).as("d")).distinct()
    val cohorts = base.groupBy("user").agg(min("d").as("cohort"))
    base.join(cohorts, "user")
      .withColumn("day_offset", datediff(col("d"), col("cohort")))
      .where(col("day_offset") <= maxDays)
      .groupBy("cohort", "day_offset")
      .agg(countDistinct("user").as("users"))
  }

  /** As-of join: for every left row, attach the payload of the LATEST
    * right row with the same key whose timestamp is <= the left row's
    * timestamp (inclusive, DuckDB `ASOF JOIN ... ON l.ts >= r.ts`
    * semantics; unmatched left rows keep NULL payloads like ASOF LEFT
    * JOIN). `toleranceUs`, if set, voids matches older than that many
    * microseconds.
    *
    * Scale shape: NOT a range join (no O(left × right-per-key) pair
    * explosion) and not a per-key collect. Both sides are tagged and
    * unioned, hash-partitioned on the key once, sorted within each
    * partition by (ts, side) — right rows sort before left rows at equal
    * timestamps so inclusive semantics fall out of the ordering — and the
    * right payload is carried forward with `last(_, ignoreNulls)` over a
    * running window. One shuffle total, O(1) carried state per key, skew
    * bounded by per-key row counts.
    *
    * Right-side determinism: if several right rows share (key, ts), which
    * one wins is tie-broken by the LAST payload in `rightOrderCols` order
    * (DuckDB ASOF leaves this unspecified; pre-aggregate the right side
    * to unique (key, ts) when replaying against it).
    *
    * `direction` (the pandas merge_asof axis): "backward" (default,
    * latest right ts <= left ts) or "forward" (EARLIEST right ts >= left
    * ts — "next scheduled event after"); both inclusive, same single
    * shuffle (the forward pass just reverses the time axis of the same
    * running window), same tie policy, tolerance voids matches farther
    * than `toleranceUs` in the match direction.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      leftTs: String, rightTs: String, payloadCols: Seq[String],
      toleranceUs: Option[Long] = None,
      rightOrderCols: Seq[String] = Nil,
      direction: String = "backward"): DataFrame = {
    require(payloadCols.nonEmpty, "asofJoin needs at least one payload column")
    require(direction == "backward" || direction == "forward",
      s"direction must be 'backward' or 'forward', got '$direction'")
    val fwd = direction == "forward"
    // The helper columns below would silently overwrite (or be dropped with)
    // same-named input columns, corrupting results — fail fast instead.
    val reserved = Seq("__us", "__side", "__rus", "__c_rus") ++
      payloadCols.flatMap(c => Seq(s"__p_$c", s"__c_$c")) ++
      rightOrderCols.map(c => s"__o_$c")
    guardReserved("asofJoin", reserved, Seq("left" -> left, "right" -> right))
    val pay = payloadCols.map(c => col(c).as(s"__p_$c"))
    val rTagged = right.select(
      keyCols.map(col) ++ Seq(unix_micros(col(rightTs)).as("__us"), lit(0).as("__side"),
        unix_micros(col(rightTs)).as("__rus")) ++ pay ++
        rightOrderCols.map(c => col(c).as(s"__o_$c")): _*)
    val lTagged = left
      .withColumn("__us", unix_micros(col(leftTs)))
      .withColumn("__side", lit(1))
    val unioned = lTagged.unionByName(rTagged, allowMissingColumns = true)
    // Right rows (__side=0) sort before left rows at the same __us, so a
    // right event AT the left timestamp is visible — inclusive semantics.
    // Forward direction traverses time DESCENDING: the last non-null
    // payload seen is then the SMALLEST right ts >= the left ts.
    val tsOrder = if (fwd) col("__us").desc else col("__us").asc
    val order = (tsOrder +: col("__side").asc +:
      rightOrderCols.map(c => col(s"__o_$c").asc))
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = payloadCols.foldLeft(unioned) { (df, c) =>
      df.withColumn(s"__c_$c", last(col(s"__p_$c"), ignoreNulls = true).over(w))
    }.withColumn("__c_rus", last(col("__rus"), ignoreNulls = true).over(w))
    val gap = if (fwd) col("__c_rus") - col("__us") else col("__us") - col("__c_rus")
    val inTol = toleranceUs match {
      case Some(t) => col("__c_rus").isNotNull && gap <= t
      case None    => col("__c_rus").isNotNull
    }
    val out = payloadCols.foldLeft(carried.where(col("__side") === 1)) { (df, c) =>
      df.withColumn(c, when(inTol, col(s"__c_$c")))
    }
    out.drop(reserved: _*)
  }

  private def guardReserved(name: String, reserved: Seq[String],
      inputs: Seq[(String, DataFrame)]): Unit =
    for ((side, df) <- inputs) {
      val clash = df.columns.toSet.intersect(reserved.toSet)
      require(clash.isEmpty,
        s"$name $side input contains reserved helper column(s) ${clash.mkString(", ")}; rename them before the join")
    }

  /** Point-in-interval range join: each `left` row (timestamp `leftTs`)
    * joined to every `right` row whose `[rightStart, rightEnd]` interval
    * (inclusive on both ends) contains it, optionally also matching on
    * `keyCols` equality.
    *
    * Spark plans a raw `l.ts BETWEEN r.s AND r.e` join as a broadcast
    * nested loop — O(|L|·|R|) comparisons, the classic 100 TB killer. This
    * operator turns it into an EQUI-join on time bins: intervals explode
    * into the `binWidthUs`-wide bins they cover, points map to the single
    * bin containing them, the sort-merge/hash join runs on
    * `keyCols :+ bin`, and the exact `BETWEEN` predicate is applied as a
    * residual filter. A point lies in exactly one bin and an interval
    * covers each of its bins exactly once, so no pair can match twice —
    * no dedup pass is needed and the output is exactly the nested-loop
    * result.
    *
    * Scale shape: shuffle volume is |L| + |R|·(avg interval span / bin
    * width + 1); pick `binWidthUs` near the typical interval length so
    * intervals replicate into O(1) bins. Hot bins (burst hours) are
    * ordinary equi-join skew — AQE's skew-join split handles them, no
    * custom salting needed. Empty-bin pairs never shuffle at all.
    */
  def rangeJoin(left: DataFrame, right: DataFrame,
      leftTs: String, rightStart: String, rightEnd: String,
      keyCols: Seq[String] = Nil,
      binWidthUs: Long = 3600L * 1000000L): DataFrame = {
    require(binWidthUs > 0, s"binWidthUs must be positive, got $binWidthUs")
    val reserved = Seq("__bin", "__lus", "__sus", "__eus")
    guardReserved("rangeJoin", reserved, Seq("left" -> left, "right" -> right))
    // `div` (integer division) not `floor(a / w)`: `/` on longs is DOUBLE
    // division, and a 1-ulp wobble at a bin boundary would silently drop
    // pairs. Any monotonic binning is correct here (s <= ts <= e implies
    // bin(s) <= bin(ts) <= bin(e), and `sequence` covers the whole range).
    val l = left
      .withColumn("__lus", unix_micros(col(leftTs)))
      .withColumn("__bin", expr(s"__lus div ${binWidthUs}L"))
    val r = right
      .withColumn("__sus", unix_micros(col(rightStart)))
      .withColumn("__eus", unix_micros(col(rightEnd)))
      .where(col("__sus") <= col("__eus"))
      .withColumn("__bin", explode(sequence(
        expr(s"__sus div ${binWidthUs}L"), expr(s"__eus div ${binWidthUs}L"))))
    l.join(r, keyCols :+ "__bin",  "inner")
      .where(col("__lus").between(col("__sus"), col("__eus")))
      .drop(reserved: _*)
  }

  /** Interval-overlap join: pairs of a `left` interval and a `right`
    * interval that overlap (share at least one microsecond; both ends
    * inclusive), optionally under `keyCols` equality.
    *
    * Same binning idea as [[rangeJoin]], plus the standard ownership-bin
    * trick to keep the join dedup-free: two overlapping intervals share
    * every bin from `max(start_l, start_r)`'s bin up to the earlier end's
    * bin, so emitting a pair ONLY from the `max(start)` bin — a plain
    * residual predicate, no dropDuplicates shuffle — yields each
    * overlapping pair exactly once.
    */
  def intervalOverlapJoin(left: DataFrame, right: DataFrame,
      leftStart: String, leftEnd: String, rightStart: String, rightEnd: String,
      keyCols: Seq[String] = Nil,
      binWidthUs: Long = 3600L * 1000000L): DataFrame = {
    require(binWidthUs > 0, s"binWidthUs must be positive, got $binWidthUs")
    val reserved = Seq("__bin", "__lsus", "__leus", "__rsus", "__reus")
    guardReserved("intervalOverlapJoin", reserved, Seq("left" -> left, "right" -> right))
    def explodeBins(df: DataFrame, s: String, e: String, sOut: String, eOut: String) =
      df.withColumn(sOut, unix_micros(col(s)))
        .withColumn(eOut, unix_micros(col(e)))
        .where(col(sOut) <= col(eOut))
        .withColumn("__bin", explode(sequence(
          expr(s"$sOut div ${binWidthUs}L"), expr(s"$eOut div ${binWidthUs}L"))))
    val l = explodeBins(left, leftStart, leftEnd, "__lsus", "__leus")
    val r = explodeBins(right, rightStart, rightEnd, "__rsus", "__reus")
    l.join(r, keyCols :+ "__bin", "inner")
      .where(col("__lsus") <= col("__reus") && col("__rsus") <= col("__leus") &&
        col("__bin") === expr(s"greatest(__lsus, __rsus) div ${binWidthUs}L"))
      .drop(reserved: _*)
  }

  /** Resample an irregular event stream onto a fixed time grid with
    * forward fill (last observation carried forward) — the feature-
    * engineering step that turns raw logs into aligned model inputs.
    *
    * Per key: grid points every `stepUs` micros from
    * `floor(min_ts / step) * step` (grid-aligned) through `max_ts`; each
    * point carries the latest observation at-or-before it (inclusive),
    * NULL before the first observation or when `toleranceUs` lapses
    * (staleness cutoff). Observation timestamps must be unique per key or
    * a deterministic `orderCols` tie-break supplied — same contract as
    * [[asofJoin]], which implements the fill (tagged union + ONE key
    * exchange + running `last(ignoreNulls)`; no per-grid-point probe, no
    * range join).
    *
    * Scale shape: the grid explode is row-local off a per-key min/max
    * aggregate (grid size = span/step per key, independent of event
    * count); the fill is asofJoin's single key-partitioned window.
    *
    * @return (keyCol, grid_ts TIMESTAMP, valueCol carried)
    */
  def resample(df: DataFrame, keyCol: String, tsCol: String, valueCol: String,
      stepUs: Long, toleranceUs: Option[Long] = None,
      orderCols: Seq[String] = Nil): DataFrame = {
    require(stepUs > 0, "stepUs must be positive")
    val spans = df.groupBy(col(keyCol))
      .agg(min(unix_micros(col(tsCol))).as("__lo"),
        max(unix_micros(col(tsCol))).as("__hi"))
    val grid = spans.select(col(keyCol),
      explode(sequence(expr(s"(__lo div ${stepUs}L) * ${stepUs}L"),
        col("__hi"), lit(stepUs))).as("__grid_us"))
      .select(col(keyCol), timestamp_micros(col("__grid_us")).as("grid_ts"))
    asofJoin(grid, df.select(col(keyCol) +: col(tsCol) +: col(valueCol) +:
        orderCols.map(col): _*),
      Seq(keyCol), "grid_ts", tsCol, Seq(valueCol), toleranceUs, orderCols)
  }

  /** Largest |v_e6| the exact integer recursion can fold without BIGINT
    * overflow: the update term `alpha_ppm·v + (10^6−alpha_ppm)·e` is
    * bounded by `10^6·max(|v|,|e|)`, and |e| never exceeds max|v| (each
    * step is a convex combination under toward-zero division), so
    * |v_e6| ≤ floor(Long.MaxValue / 10^6) = 9 223 372 036 854 — i.e.
    * |value| ≲ 9.22×10^6 natural units — keeps every intermediate in
    * range. Out-of-domain values RAISE (both here and in
    * [[graft.streaming.StreamingEwma]]) rather than silently wrapping:
    * batch and streaming would wrap identically, so no oracle could
    * catch the corruption after the fact.
    */
  val EwmaMaxAbsVE6: Long = Long.MaxValue / 1000000L  // 9223372036854

  /** Per-key EWMA smoothing with EXACT integer recursion — the telemetry
    * baseline/anomaly primitive: `e_1 = v_1`,
    * `e_t = (alpha_ppm·v_t + (10^6 − alpha_ppm)·e_{t−1}) div 10^6`
    * over micro-rounded values (`v_e6 = round(value·1e6)`, truncating
    * integer division), ordered by (ts, value) within each key — a pure
    * integer fold any engine replays bit for bit, where a double
    * recursion would drift with libm/fold-shape differences. Emits per
    * row the smoothed `ewma_e6` and the pre-update residual
    * `dev_e6 = v_e6 − e_{t−1}` (0 for a key's first row) — threshold
    * `abs(dev_e6)` for spike detection against the learned baseline.
    *
    * Domain: |value| must stay within ±[[EwmaMaxAbsVE6]]/10^6 (~9.22e6
    * natural units); rows beyond it raise at the scan rather than fold
    * to silently-wrapped garbage. NULL values pass through untouched
    * (they fold to NULL smoothed values, as before).
    *
    * Scale shape: ONE key-keyed exchange; each key's history is
    * assembled with sort_array(collect_list) and folded row-locally —
    * per-key memory is the key's OWN history (telemetry keys: hundreds
    * of points), never the corpus. The quadratic-ish array append in
    * the fold is bounded by the same per-key count; keys with millions
    * of rows belong in the windowed aggregations instead. `maxKeyHistory`
    * is the fail-soft backstop for exactly that hot key: over-cap keys
    * are DROPPED (their rows are not emitted — truncating a prefix would
    * silently change every downstream smoothed value), and the drop
    * count + max observed history are recorded as a `graft_ewma_keys_<n>`
    * [[Telemetry.Run]]. Default = no cap: dropping keys changes results,
    * so any threshold is the caller's call.
    *
    * @return (keyCol, us BIGINT, v_e6, ewma_e6, dev_e6)
    */
  def ewmaSmooth(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, alphaPpm: Long,
      maxKeyHistory: Int = Int.MaxValue): DataFrame = {
    require(alphaPpm >= 0 && alphaPpm <= 1000000L, "alphaPpm must be in [0, 10^6]")
    // Domain guard on the DOUBLE, before the long cast: with ANSI off the
    // cast CLAMPS (e.g. -1e19 -> Long.MinValue, whose abs wraps negative
    // and would sneak past a post-cast check) — the guard must see the
    // unclamped value. NaN/Infinity fail the <= and raise too (they have
    // no exact-integer fold). NULL keeps the legacy pass-through path.
    val vDouble = round(col(valueCol).cast("double") * lit(1e6))
    val vGuarded = when(
        coalesce(abs(vDouble) <= lit(EwmaMaxAbsVE6.toDouble), col(valueCol).isNull),
        vDouble.cast("long"))
      .otherwise(raise_error(concat(
        lit("graft.ewmaSmooth: |value| outside the exact-recursion domain " +
          s"(|v_e6| <= $EwmaMaxAbsVE6, ~9.22e6 natural units); got value="),
        col(valueCol).cast("string"))).cast("long"))
    val run = Telemetry.start(df.sparkSession, "graft_ewma_keys")
    val histories = df
      .select(col(keyCol), unix_micros(col(tsCol)).as("__us"), vGuarded.as("__v"))
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col("__us"), col("__v")))).as("__h"))
      .where(Telemetry.record(run, size(col("__h")), maxKeyHistory))
    val guarded =
      if (maxKeyHistory == Int.MaxValue) histories
      else histories.where(size(col("__h")) <= maxKeyHistory)
    guarded
      .select(col(keyCol), explode(expr(
        s"""aggregate(__h,
              CAST(array() AS ARRAY<STRUCT<us: BIGINT, v: BIGINT, e: BIGINT, d: BIGINT>>),
              (acc, x) -> concat(acc, array(named_struct(
                'us', x.__us, 'v', x.__v,
                'e', CASE WHEN size(acc) = 0 THEN x.__v
                          ELSE (${alphaPpm}L * x.__v +
                                ${1000000L - alphaPpm}L * element_at(acc, -1).e) div 1000000L
                     END,
                'd', CASE WHEN size(acc) = 0 THEN 0L
                          ELSE x.__v - element_at(acc, -1).e END))))""")).as("__r"))
      .select(col(keyCol), col("__r.us").as("us"), col("__r.v").as("v_e6"),
        col("__r.e").as("ewma_e6"), col("__r.d").as("dev_e6"))
  }
}
