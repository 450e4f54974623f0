package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-aware equi-join helpers.
  *
  * At 100 TB a handful of hot keys (a viral document, a default user id, a
  * null-surrogate key) can put >90% of a shuffle partition's rows on one
  * task while 999 executors idle. Spark's AQE skew handling splits oversized
  * PARTITIONS, but a single hot KEY still lands on a single task because
  * every row with that key must meet every matching row. The classic fix is
  * salting: replicate the other side of the join `saltFactor` ways so each
  * hot key fans out across `saltFactor` tasks.
  *
  * [[saltedJoin]] applies the fix surgically — only keys that are actually
  * hot (by measured left-side frequency) take the replicated path; the rest
  * of the data joins normally, so the replication cost is
  * `hot right rows × saltFactor`, not `|right| × saltFactor`.
  *
  * The output is row-for-row identical to `left.join(right, keys, how)` —
  * the gate's DuckDB oracle replays the plain join.
  */
object Joins {

  /** Per-run [[saltedJoin]] telemetry: how many hot keys were salted,
    * whether the `maxHotKeys` cap engaged (heaviest-K kept, rest joined
    * plain — result unchanged, but the threshold has stopped being
    * selective), the smallest kept count (every dropped key weighs ≤
    * this), and the threshold actually used (the quantile-derived value
    * in auto mode). Known on the driver before the join is planned, and
    * delivered through `saltedJoin`'s `onStats` callback.
    */
  final case class SaltedJoinStats(hotKeysKept: Int, overflowed: Boolean,
      minKeptCount: Long, hotKeyThreshold: Long)

  /** Left-side key frequencies above `threshold` — the keys that would
    * overload single tasks in a plain shuffle join. One partial-aggregated
    * key count, so the scan is the only full-data pass; the result is by
    * construction small (≤ |left| / threshold keys).
    */
  def hotKeys(left: DataFrame, keys: Seq[String], threshold: Long): DataFrame = {
    require(keys.nonEmpty, "hotKeys needs at least one key column")
    require(threshold > 0, "threshold must be positive")
    left.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__hot_cnt"))
      .where(col("__hot_cnt") > threshold)
      .drop("__hot_cnt")
  }

  /** Equi-join `left` with `right` on `keys`, salting keys whose left-side
    * row count exceeds `hotKeyThreshold` across `saltFactor` shuffle keys.
    *
    * Shape: one key-count aggregate over `left` (small output, broadcast),
    * then each side splits into a hot and a rest stream via broadcast
    * semi/anti joins (no extra shuffle on the data itself). The rest stream
    * joins normally. The hot stream joins on `(keys, __salt)` where the left
    * salt is a deterministic content hash into `[0, saltFactor)` and the hot
    * right rows are replicated once per salt value. Every (left, right) row
    * pair still meets exactly once — on the left row's salt — so the result
    * equals the plain join for `inner` and `left` joins.
    *
    * The left salt hashes the whole row (not the key, which is constant
    * within a hot group). Fully identical duplicate left rows therefore
    * share a salt and stay on one task; for row-unique data (the common
    * case) hot keys spread uniformly.
    *
    * @param hotKeyThreshold left-side row count above which a key takes
    *            the salted path. The default `0` means DERIVE IT from the
    *            key-count distribution itself — the `hotKeyQuantile`
    *            quantile of per-key counts — so the same call stays
    *            selective at every scale factor (a constant tuned at
    *            sf0.1 qualified >1M keys at sf10: thresholds rot with
    *            scale, quantiles don't). Pass a positive value to pin it.
    * @param hotKeyQuantile quantile of the per-key count distribution
    *            used as the auto threshold (keys STRICTLY ABOVE it salt).
    *            0.9 salts at most the heaviest ~decile; on near-uniform
    *            key counts the quantile sits at the maximum and nothing
    *            salts — the correct no-op for unskewed data. Derivation
    *            costs one quantile pass over the (already computed,
    *            cached) key-count relation — key-cardinality-sized, never
    *            a second scan of `left`.
    * @param how `"inner"` or `"left"` (unmatched left rows appear once,
    *            whatever their salt).
    * @param maxHotKeys cap on the hot-key set (it is materialized on the
    *            driver ONCE so the four split joins reuse a local relation
    *            instead of re-running the key-count aggregate). When MORE
    *            keys exceed the threshold, the operator keeps the
    *            `maxHotKeys` HEAVIEST (count desc, then key — a bounded
    *            TakeOrdered, not a full sort-collect) and joins the rest
    *            plain: the result is identical either way (salting is
    *            layout, not semantics), the driver stays bounded, and the
    *            overflow is reported via a warn log + [[SaltedJoinStats]]
    *            (no silent behavior change). A threshold low enough to
    *            overflow the cap means "hot" stopped being selective — the
    *            heaviest keys are exactly the ones worth salting; found by
    *            the sf10 sweep, where a gate threshold sized at sf0.1
    *            qualified >1M keys and the previous fail-fast require()
    *            aborted a join that was otherwise fine.
    * @param onStats receives this run's [[SaltedJoinStats]]: the derived
    *            threshold and whether the hot-key cap overflowed.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      saltFactor: Int = 16, hotKeyThreshold: Long = 0,
      how: String = "inner", maxHotKeys: Int = 1000000,
      hotKeyQuantile: Double = 0.9,
      onStats: SaltedJoinStats => Unit = _ => ()): DataFrame = {
    require(keys.nonEmpty, "saltedJoin needs at least one key column")
    require(saltFactor >= 2, s"saltFactor must be >= 2, got $saltFactor")
    require(hotKeyThreshold >= 0,
      "hotKeyThreshold must be positive (or 0 = derive from hotKeyQuantile)")
    require(hotKeyQuantile > 0.0 && hotKeyQuantile < 1.0,
      s"hotKeyQuantile must be in (0, 1), got $hotKeyQuantile")
    require(how == "inner" || how == "left",
      s"saltedJoin supports inner and left joins, got '$how'")
    // These helper names would silently collide with same-named payload
    // columns, corrupting results — fail fast instead (same contract as
    // Events.asofJoin).
    val reserved = Seq("__salt", "__hot_cnt")
    for ((side, df) <- Seq("left" -> left, "right" -> right)) {
      val clash = df.columns.toSet.intersect(reserved.toSet)
      require(clash.isEmpty,
        s"saltedJoin $side input contains reserved helper column(s) " +
          s"${clash.mkString(", ")}; rename them before the join")
    }

    // One driver action: the hot-key set is small by construction, and
    // pinning it as a local relation means the splits below are pure
    // broadcast semi/anti joins — the key-count aggregate runs once, not
    // once per split (4 extra full left-side scans at scale otherwise).
    // Ordered by weight so a cap overflow keeps the HEAVIEST keys; the
    // orderBy+limit plans as TakeOrdered (bounded heap), never a full
    // sort-collect of the qualifying set. In auto mode the counts relation
    // is cached so the quantile derivation and the candidate filter share
    // one aggregation of `left`, not two.
    val spark = left.sparkSession
    val keyCols = keys.map(col)
    val counts = left.groupBy(keyCols: _*).agg(count(lit(1)).as("__hot_cnt"))
    val auto = hotKeyThreshold == 0
    if (auto) counts.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val thr =
      if (!auto) hotKeyThreshold
      else counts
        .agg(percentile_approx(col("__hot_cnt"), lit(hotKeyQuantile), lit(10000)))
        .head().getLong(0)
    val candidate = counts
      .where(col("__hot_cnt") > thr)
      .orderBy(col("__hot_cnt").desc +: keyCols: _*)
      .limit(maxHotKeys + 1)
      .collect()
    if (auto) counts.unpersist()
    val overflowed = candidate.length > maxHotKeys
    val hotRows = (if (overflowed) candidate.take(maxHotKeys) else candidate)
      .map(r => org.apache.spark.sql.Row.fromSeq(r.toSeq.dropRight(1)))
    val minKeptCount =
      if (hotRows.isEmpty) 0L else candidate(hotRows.length - 1).getLong(keys.length)
    val stats = SaltedJoinStats(
      hotKeysKept = hotRows.length, overflowed = overflowed,
      minKeptCount = minKeptCount, hotKeyThreshold = thr)
    onStats(stats)
    if (overflowed)
      org.slf4j.LoggerFactory.getLogger(Joins.getClass).warn(
        s"saltedJoin: more than $maxHotKeys keys exceed hotKeyThreshold=" +
          s"$thr; salting only the $maxHotKeys heaviest " +
          s"(min kept count $minKeptCount) and joining the rest plain. " +
          "The result is unchanged, but the threshold is no longer " +
          "selective — raise it so 'hot' means the actual outliers.")
    if (hotRows.isEmpty) return left.join(right, keys, how)
    val hotSchema = org.apache.spark.sql.types.StructType(
      keys.map(k => left.schema(k)))
    val hot = spark.createDataFrame(
      java.util.Arrays.asList(hotRows: _*), hotSchema)

    val leftHot = left.join(broadcast(hot), keys, "left_semi")
    val leftRest = left.join(broadcast(hot), keys, "left_anti")
    val rightHot = right.join(broadcast(hot), keys, "left_semi")
    val rightRest = right.join(broadcast(hot), keys, "left_anti")

    // Deterministic per-row salt: content hash of every left column. Safe
    // under task retry and partitioning changes (unlike rand()).
    val saltedLeft = leftHot.withColumn(
      "__salt", pmod(xxhash64(leftHot.columns.toIndexedSeq.map(col) :+ lit(0x5a17ed): _*),
        lit(saltFactor.toLong)))
    val saltedRight = rightHot.withColumn(
      "__salt", explode(sequence(lit(0L), lit(saltFactor - 1L))))

    val hotJoined = saltedLeft
      .join(saltedRight, keys :+ "__salt", how)
      .drop("__salt")
    val restJoined = leftRest.join(rightRest, keys, how)

    restJoined.unionByName(hotJoined)
  }

  /** Equi-join with the big side pre-pruned by a binary-fuse filter built
    * over the small side's keys — the manual/cross-system bloom-join
    * pushdown the reference exists to serve (docs/README.md:162-203),
    * expressed Spark-side: build the filter ONCE (single-row aggregate,
    * folded to a scalar subquery by [[graft.plans.FoldSingleRowJoin]] so
    * the probe predicate sits on the left scan inside codegen), drop
    * non-matching left rows BEFORE the join shuffle, then run the real
    * join to remove the bounded false positives.
    *
    * No false negatives ⇒ the result is row-identical to the plain join.
    * Worth it when `right` is too big to broadcast but its key set is far
    * smaller than `left` (the filter is ~2.26 B/key — 100M keys ≈ 226 MB
    * shipped once per executor, versus shuffling the full left side).
    *
    * @param how `"inner"` or `"left_semi"` (pruning drops unmatched left
    *            rows, so outer joins are not expressible on this path).
    */
  def filterPrunedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      how: String = "inner", hashVersion: String = "v1.5.1"): DataFrame = {
    require(keys.nonEmpty, "filterPrunedJoin needs at least one key column")
    require(how == "inner" || how == "left_semi",
      s"filterPrunedJoin supports inner and left_semi joins, got '$how'")
    for ((side, df) <- Seq("left" -> left, "right" -> right)) {
      require(!df.columns.contains("__f"),
        s"filterPrunedJoin $side input contains reserved helper column __f; rename it first")
    }
    val h = s"bitfilters_duckdb_hash('$hashVersion', ${keys.map(k => s"`$k`").mkString(", ")})"
    val flt = right.agg(expr(s"binary_fuse16_filter($h)").as("__f"))
    val pruned = left.crossJoin(broadcast(flt))
      .where(expr(s"binary_fuse16_filter_contains(__f, $h)"))
      .drop("__f")
    pruned.join(right, keys, how)
  }
}
