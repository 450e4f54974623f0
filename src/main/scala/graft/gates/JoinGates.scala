package graft
package gates

import org.apache.spark.sql.functions._

import graft.operators.{EditDistance, Events, Joins}
import Gate.{deleteDirs, localResult}

/** Join operators beyond the plain equi-join: as-of, range and interval
  * joins, edit-distance similarity joins, and joins over a skipping
  * index, salted keys or a bucketed layout. Each must return exactly
  * the rows of the brute-force join its oracle replays.
  */
object JoinGates {

  val gates: Seq[Gate] = Seq(
    // as-of join: attach each purchase's most recent preceding click
    // (same user, click ts <= purchase ts). The right side is unique on
    // (user_id, ts) in this corpus, so DuckDB's native ASOF LEFT JOIN
    // replays it exactly; aggregate to matched/unmatched counts plus
    // exact id/lag checksums so every per-row match is on the hash path.
    // forward as-of: each purchase takes its EARLIEST click at-or-after
    // (ties to the largest click_id — the documented rightOrderCols
    // policy); same single-shuffle plan with the time axis reversed
    // forward replay: per purchase the min-ts click at-or-after, ties to
    // the largest click_id (the engine's rightOrderCols-asc last() winner)
    Gate("q_asof_forward", """
      WITH p AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      c AS (
        SELECT user_id, ts, event_id AS click_id FROM events WHERE event_type = 'click'),
      j AS (
        SELECT p.event_id, p.user_id,
               (SELECT c.click_id FROM c
                WHERE c.user_id = p.user_id AND c.ts >= p.ts
                ORDER BY c.ts ASC, c.click_id DESC LIMIT 1) AS click_id
        FROM p)
      SELECT CAST(COUNT(*) AS BIGINT) AS purchases,
             CAST(COUNT(click_id) AS BIGINT) AS matched,
             CAST(SUM(click_id) AS BIGINT) AS click_id_sum,
             CAST(SUM(CASE WHEN click_id IS NOT NULL
                           THEN event_id * click_id % 1000003 END) AS BIGINT) AS pair_checksum
      FROM j""") { (s, _) =>
      val ev = s.table("events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      Events.asofJoin(purchases, clicks, Seq("user_id"), "ts", "ts",
          Seq("click_id"), rightOrderCols = Seq("click_id"),
          direction = "forward")
        .agg(count(lit(1)).cast("long").as("purchases"),
          count(col("click_id")).cast("long").as("matched"),
          sum(col("click_id")).cast("long").as("click_id_sum"),
          sum(when(col("click_id").isNotNull,
            col("event_id") * col("click_id") % lit(1000003L)))
            .cast("long").as("pair_checksum"))
    },

    // native ASOF LEFT JOIN (inclusive l.ts >= r.ts) — right side unique
    // on (user_id, ts), so the match DuckDB picks is the one match
    Gate("q_asof_join", """
      WITH p AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      c AS (
        SELECT user_id, ts, event_id AS click_id FROM events WHERE event_type = 'click'),
      j AS (
        SELECT p.event_id, p.user_id, c.click_id
        FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts)
      SELECT CAST(COUNT(*) AS BIGINT) AS purchases,
             CAST(COUNT(click_id) AS BIGINT) AS matched,
             CAST(SUM(click_id) AS BIGINT) AS click_id_sum,
             CAST(SUM(CASE WHEN click_id IS NOT NULL
                           THEN event_id * click_id % 1000003 END) AS BIGINT) AS pair_checksum
      FROM j""") { (s, _) =>
      val ev = s.table("events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      Events.asofJoin(purchases, clicks, Seq("user_id"), "ts", "ts",
          Seq("click_id"))
        .agg(count(lit(1)).cast("long").as("purchases"),
          count(col("click_id")).cast("long").as("matched"),
          sum(col("click_id")).cast("long").as("click_id_sum"),
          sum(when(col("click_id").isNotNull,
            col("event_id") * col("click_id") % lit(1000003L)))
            .cast("long").as("pair_checksum"))
    },

    // bucketed range join: for each purchase, count the events (any
    // user) inside the hour after it. The binned equi-join must equal
    // the nested-loop BETWEEN join DuckDB runs — per-anchor counts and
    // id checksums ride the hash path. Bin width (15 min) is deliberately
    // SMALLER than the window so intervals span several bins and the
    // explode/residual path is actually exercised.
    // plain nested-loop BETWEEN join (DuckDB plans it as an IEJoin) — the
    // binned equi-join must reproduce it exactly
    Gate("q_range_join", """
      WITH a AS (
        SELECT event_id AS anchor_id, ts AS w_start, ts + INTERVAL 1 HOUR AS w_end
        FROM events WHERE event_type = 'purchase')
      SELECT anchor_id, CAST(COUNT(*) AS BIGINT) AS hits,
             CAST(SUM(e.event_id) % 1000003 AS BIGINT) AS hit_checksum
      FROM a JOIN events e ON e.ts >= a.w_start AND e.ts <= a.w_end
      GROUP BY anchor_id ORDER BY anchor_id""") { (s, _) =>
      val ev = s.table("events")
      val anchors = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("anchor_id"), col("ts").as("w_start"),
          timestamp_micros(unix_micros(col("ts")) + 3600L * 1000000L).as("w_end"))
      Events.rangeJoin(ev.select(col("event_id"), col("ts")), anchors,
          "ts", "w_start", "w_end", binWidthUs = 900L * 1000000L)
        .groupBy(col("anchor_id"))
        .agg(count(lit(1)).cast("long").as("hits"),
          (sum(col("event_id")) % 1000003L).cast("long").as("hit_checksum"))
        .orderBy(col("anchor_id"))
    },

    // interval-overlap join (ownership-bin dedup): purchase windows that
    // overlap each other, counted once per unordered pair
    Gate("q_interval_overlap", """
      WITH a AS (
        SELECT event_id AS id, ts AS s, ts + INTERVAL 1 HOUR AS e
        FROM events WHERE event_type = 'purchase')
      SELECT CAST(COUNT(*) AS BIGINT) AS pairs,
             CAST(SUM(x.id * y.id % 1000003) % 1000003 AS BIGINT) AS pair_checksum
      FROM a x JOIN a y ON x.id < y.id AND x.s <= y.e AND y.s <= x.e""") { (s, _) =>
      val ev = s.table("events")
      def windows(idName: String, sName: String, eName: String) =
        ev.where(col("event_type") === "purchase")
          .select(col("event_id").as(idName), col("ts").as(sName),
            timestamp_micros(unix_micros(col("ts")) + 3600L * 1000000L).as(eName))
      Events.intervalOverlapJoin(
          windows("id1", "s1", "e1"), windows("id2", "s2", "e2"),
          "s1", "e1", "s2", "e2", binWidthUs = 900L * 1000000L)
        .where(col("id1") < col("id2"))
        .agg(count(lit(1)).cast("long").as("pairs"),
          (sum(col("id1") * col("id2") % 1000003L) % 1000003L)
            .cast("long").as("pair_checksum"))
    },

    // skew-salted join: orders x lineitem through Joins.saltedJoin in
    // AUTO-threshold mode — the hot cutoff is the p80 of the per-key
    // count distribution (derived per run, so it stays selective at
    // every SF with zero tuning; the sf10 sweep showed constants rot).
    // On the TPC-H 1..7-lineitems-per-order shape p80 lands on 6, so the
    // max-size orders (~1/7 of keys) take the salted fan-out path and
    // the rest join plain — BOTH paths carry real rows. The result is
    // row-identical to the plain join by construction — the oracle
    // replays the plain join + aggregate.
    // edit-distance similarity self-join (PassJoin segment pigeonhole +
    // bounded-levenshtein verify) over the part-name DICTIONARY — the
    // right altitude for fuzzy matching: dedupe to distinct names first
    // (the replicated fixture would otherwise make the pair OUTPUT
    // quadratic in corpus size), match the dictionary, broadcast the
    // resolution back. Oracle replays the brute-force quadratic join.
    // brute-force replay of the segment-filtered join over the name
    // dictionary: every unordered pair within levenshtein distance 1
    Gate("q_editdist_join", """
      WITH s AS (
        SELECT CAST(MIN(p_partkey) AS BIGINT) AS id, p_name AS nm
        FROM part GROUP BY p_name)
      SELECT a.id AS id_a, b.id AS id_b,
             CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
      FROM s a JOIN s b ON a.id < b.id
      WHERE levenshtein(a.nm, b.nm) <= 1
      ORDER BY id_a, id_b""") { (s, _) =>
      val dict = s.table("part").groupBy(col("p_name").as("name"))
        .agg(min("p_partkey").cast("long").as("id"))
      EditDistance.selfJoin(dict, "id", "name", maxDist = 1)
        .orderBy("id_a", "id_b")
    },

    // the shared-prefix worst case ("Customer#000000...") via SymSpell
    // deletion neighborhoods: segment keys would put every name in one
    // cell (quadratic fan-in); hashed <=1-deletion variants stay nearly
    // unique, so candidates scale with true matches. Dictionary
    // altitude (distinct names, min key as the representative) — the
    // replicated fixture would otherwise multiply every variant cell by
    // the replica count and candidates by its square
    // deletion-neighborhood gate replay: per-distance rollup of the
    // brute-force pair set over customer names
    Gate("q_editdist_names", """
      WITH s AS (
        SELECT CAST(MIN(c_custkey) AS BIGINT) AS id, c_name AS nm
        FROM customer GROUP BY c_name),
      p AS (
        SELECT a.id AS ia, b.id AS ib, levenshtein(a.nm, b.nm) AS d
        FROM s a JOIN s b ON a.id < b.id
        WHERE levenshtein(a.nm, b.nm) <= 1)
      SELECT CAST(d AS BIGINT) AS dist, CAST(COUNT(*) AS BIGINT) AS pairs,
             CAST(SUM(ia + ib) AS BIGINT) AS id_sum,
             CAST(SUM((ia * ib) % 1000003) % 1000003 AS BIGINT) AS pair_checksum
      FROM p GROUP BY d ORDER BY dist""") { (s, _) =>
      EditDistance.selfJoin(
          s.table("customer").groupBy(col("c_name").as("name"))
            .agg(min("c_custkey").cast("long").as("id")),
          "id", "name", maxDist = 1, method = "deletion")
        .groupBy("dist")
        .agg(count(lit(1)).cast("long").as("pairs"),
          sum(col("id_a") + col("id_b")).cast("long").as("id_sum"),
          (sum(col("id_a") * col("id_b") % lit(1000003L)) % lit(1000003L))
            .cast("long").as("pair_checksum"))
        .orderBy("dist")
    },

    // per-file data-skipping index: build min/max + fuse16 filters per
    // physical file of a range-clustered copy, then answer a key-set
    // lookup by reading ONLY candidate files (no false negatives; the
    // exact semi-join removes filter FPs). Row-identical to the
    // full-scan semi-join, which is what the oracle replays. The
    // range-cluster file count derives from VOLUME (~750k rows/file,
    // floor 8, cap 2048) — the production contract: file SIZE stays
    // bounded while the count grows linearly, so the staging write's
    // parallelism scales with the data instead of funnelling 600M rows
    // through 8 tasks (a fixed count was the same corpus-independent-
    // literal trap as the LSH width/semdedup k), and the per-file index
    // stays over right-sized files, never an exploding tiny-file
    // inventory (the anti-pattern regime; SCALE.md r14).
    // skipping-index replay: the pruned read is row-identical to the
    // plain key-set semi-join over the full table
    Gate("q_skipping_index", """
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(l_orderkey) AS BIGINT) AS key_sum,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_e2
      FROM lineitem
      WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 97 = 0)""") { (s, _) =>
      val tmpData = streaming.FileStreams.createTempDir("graft_skip_data_").toString
      val tmpIdx = streaming.FileStreams.createTempDir("graft_skip_idx_").toString
      val rows = s.table("lineitem").count()
      val parts = math.min(2048L, math.max(8L, (rows + 749999L) / 750000L)).toInt
      // guide §2.3 (project before the exchange): the gate's lookup only
      // ever reads (l_orderkey, l_extendedprice), so the range-clustered
      // staging copy carries just those two columns — the range shuffle,
      // the staged write, the index-build scan and the pruned read all
      // move ~5x fewer bytes than staging all 11 lineitem columns, and
      // the result (an aggregate over exactly these columns) is unchanged
      s.table("lineitem").select(col("l_orderkey"), col("l_extendedprice"))
        .repartitionByRange(parts, col("l_orderkey"))
        .write.mode("overwrite").parquet(tmpData)
      graft.sources.SkippingIndex.build(s, tmpData, "l_orderkey", tmpIdx)
      val keys = s.table("orders").where(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey").cast("long"))
      val res = graft.sources.SkippingIndex
        .prunedRead(s, tmpData, tmpIdx, "l_orderkey", keys)
        .agg(count(lit(1)).cast("long").as("n_rows"),
          sum("l_orderkey").cast("long").as("key_sum"),
          sum(round(col("l_extendedprice") * 100).cast("long")).cast("long").as("price_e2"))
      // materialize the 1-row result so the staged copy can be DELETED
      // before returning — a lazily returned frame would pin the temp
      // dirs, and each gate run leaks a full lineitem copy (11 GB at
      // sf100cd; a TimeGates double-pass filled the disk, r14)
      val out = localResult(s, res)
      deleteDirs(tmpData, tmpIdx)
      out
    },

    // the salted join must be row-identical to the plain equi-join
    Gate("q_salted_join", """
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_e2,
             CAST(SUM(l_orderkey % 1000003) % 1000003 AS BIGINT) AS key_checksum
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority""") { (s, _) =>
      val li = s.table("lineitem").select(
        col("l_orderkey").as("orderkey"), col("l_extendedprice"), col("l_discount"))
      val ord = s.table("orders").select(
        col("o_orderkey").as("orderkey"), col("o_orderpriority"))
      Joins.saltedJoin(li, ord, Seq("orderkey"),
          saltFactor = 4, hotKeyQuantile = 0.8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).cast("long").as("cnt"),
          sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long")).cast("long").as("revenue_e2"),
          (sum(col("orderkey") % lit(1000003L)) % lit(1000003L))
            .cast("long").as("key_checksum"))
        .orderBy(col("o_orderpriority"))
    },

    // co-located join from BUCKETED tables: both sides hash-bucketed on
    // the join key at write time, so the join itself plans with zero
    // Exchange (spec-asserted in BucketedTablesSpec) — the write-once /
    // join-many layout. Results are identical to the plain join, which
    // is what the oracle replays.
    // bucketed-table join: the zero-Exchange layout must return exactly
    // the plain join's answer
    Gate("q_bucketed_join", """
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_e2,
             CAST(SUM(l_orderkey % 1000003) % 1000003 AS BIGINT) AS key_checksum
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority""") { (s, _) =>
      val base = streaming.FileStreams.createTempDir("graft_bucketed_").toString
      graft.sources.BucketedTables.saveBucketed(
        s.table("lineitem").select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
        "graft_b_lineitem", "l_orderkey", 8, sortCols = Seq("l_orderkey"),
        path = Some(s"$base/lineitem"))
      graft.sources.BucketedTables.saveBucketed(
        s.table("orders").select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority")),
        "graft_b_orders", "l_orderkey", 8, sortCols = Seq("l_orderkey"),
        path = Some(s"$base/orders"))
      val res = graft.sources.BucketedTables.bucketedJoin(s,
          "graft_b_lineitem", "graft_b_orders", Seq("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).cast("long").as("cnt"),
          sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long")).cast("long").as("revenue_e2"),
          (sum(col("l_orderkey") % lit(1000003L)) % lit(1000003L))
            .cast("long").as("key_checksum"))
        .orderBy(col("o_orderpriority"))
      val out = localResult(s, res) // per-priority rollup; frees the copies
      // drop the catalog entries BEFORE their external locations vanish:
      // leaving graft_b_* registered at deleted paths makes any catalog
      // or table access between gate runs hit a missing-path error
      s.sql("DROP TABLE IF EXISTS graft_b_lineitem")
      s.sql("DROP TABLE IF EXISTS graft_b_orders")
      deleteDirs(base)
      out
    },
  )
}
