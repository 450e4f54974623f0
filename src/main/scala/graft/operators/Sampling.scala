package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling operators for training-data pipelines.
  *
  * Spark's own `df.sample`/`sampleBy` draw from per-partition RNG streams:
  * results change with partitioning, so a re-run of the pipeline (or the
  * same pipeline on a differently-bucketed copy of the corpus) selects a
  * different subset. Training-data curation needs the opposite property —
  * the sample is a pure FUNCTION of the data, so reruns, backfills, and
  * cross-engine replays agree row-for-row. These operators key every
  * decision on a content hash (md5 — engine-portable, uniform) and are
  * therefore partitioning-invariant, resumable, and oracle-verifiable.
  *
  * All of them are single-pass; the only shuffle is the window partition
  * in the per-stratum variants (hash-uniform keys — skew-free unless a
  * stratum itself is hot, which is the caller's stratification choice).
  */
object Sampling {

  /** md5-based uniform [0, 1) weight for a row, from its key column's
    * STRING rendering: the first 15 hex digits (60 bits) scaled to unit
    * range. Exactly recomputable in any engine with md5 + hex parsing.
    */
  def hashWeight(key: Column): Column =
    (conv(substring(md5(key.cast("string")), 1, 15), 16, 10).cast("double")
      / lit(1152921504606846976.0e0)) // 2^60

  /** Keep ~`fraction` of rows, chosen by content hash: deterministic,
    * partitioning-invariant, and stable under appends (existing rows keep
    * their verdict when new rows arrive — the property that makes
    * incremental corpus refreshes reproducible).
    */
  def deterministicSample(df: DataFrame, keyCol: String, fraction: Double): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, "fraction must be in [0, 1]")
    df.where(hashWeight(col(keyCol)) < lit(fraction))
  }

  /** EXACT-size deterministic sample: the `n` rows with the smallest
    * content-hash order keys — the eval-set cutter when the contract is
    * "exactly 10,000 docs", where [[deterministicSample]]'s fraction
    * only lands NEAR the target. Same determinism family: partitioning-
    * invariant, and append-MONOTONE rather than append-stable — a new
    * row enters the sample only by evicting the current largest key, so
    * refreshes churn at most the boundary (|old ∩ new| >= n − additions),
    * never the interior. Ties on the md5 key break by `uniqueCol`.
    *
    * Scale shape: Spark plans the order-by-limit as
    * TakeOrderedAndProject — a bounded n-row heap per partition, ≤ n
    * rows shipped per partition, no global sort, no full-corpus
    * exchange. (The q_sample_take plan is spec-asserted to contain
    * TakeOrdered and no Sort/Exchange.)
    */
  def deterministicTake(df: DataFrame, keyCol: String, n: Int,
      uniqueCol: String): DataFrame = {
    require(n >= 0, "n must be >= 0")
    df.orderBy(md5(col(keyCol).cast("string")), col(uniqueCol)).limit(n)
  }

  /** Deterministic train/val/test split assignment: each row gets the
    * first label whose cumulative weight share exceeds its content-hash
    * uniform. Purely row-local (no shuffle), partitioning-invariant, and
    * stable under appends — a grown corpus never reshuffles existing rows
    * between splits, the property that keeps eval sets uncontaminated
    * across corpus refreshes. `salt` decorrelates the split from every
    * other hash decision on the same key (sampling, sharding): without it
    * a 25% deterministicSample of the same column would fall entirely
    * inside the first split.
    */
  def assignSplits(df: DataFrame, keyCol: String,
      splits: Seq[(String, Double)] = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      salt: String = "graft-split", labelCol: String = "split"): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0), "split weights must be positive")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9, "split weights must sum to 1")
    val u = hashWeight(concat(col(keyCol).cast("string"), lit(salt)))
    val cums = splits.scanLeft(0.0)(_ + _._2).tail
    // last split catches everything (avoids a float-edge unlabeled row)
    val label = splits.init.zip(cums.init).foldRight(lit(splits.last._1): Column) {
      case (((name, _), cum), rest) => when(u < lit(cum), name).otherwise(rest)
    }
    df.withColumn(labelCol, label)
  }

  /** LEAKAGE-SAFE split assignment: every member of a group — a
    * near-duplicate cluster, a URL host, an author — lands in the SAME
    * split, so eval examples never have near-copies in train. Splitting
    * each ROW independently ([[assignSplits]] on a row key) silently
    * breaks exactly when dedup matters most: two near-identical documents
    * hash to different splits and the eval set is contaminated. Here the
    * split decision hashes the GROUP label; rows absent from `groups`
    * form singleton groups keyed by their own id, so the output is total
    * over `df` and degenerates to the plain row split when `groups` is
    * empty.
    *
    * `groups` is an (id, label) relation — [[Dedup.nearDuplicateClusters]]
    * emits exactly this shape. An id appearing twice (a buggy upstream
    * putting a row in two clusters) collapses to its MIN label before the
    * join, so the output is always row-preserving over `df`, never
    * silently duplicated. Same determinism contract as
    * [[assignSplits]]: row-local after one id-keyed left join,
    * partitioning-invariant, append-stable AS LONG AS group labels are
    * (min-label clusters stay stable while the minimum member stays; a
    * refresh that merges two clusters moves the larger label's members —
    * the unavoidable cost of keeping the no-leakage invariant true on the
    * merged corpus).
    */
  def assignSplitsByGroup(df: DataFrame, idCol: String,
      groups: DataFrame, gIdCol: String = "id", gLabelCol: String = "label",
      splits: Seq[(String, Double)] = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      salt: String = "graft-split", labelCol: String = "split"): DataFrame = {
    val reserved = Seq("__gid", "__glabel", "__gkey")
    require(!df.columns.exists(reserved.contains),
      s"assignSplitsByGroup reserves ${reserved.mkString(", ")}; rename the inputs")
    // one label per id, deterministically (MIN), BEFORE the join: an id
    // carried twice by a buggy upstream (e.g. a row in two clusters)
    // would otherwise duplicate output rows silently — the left join
    // must be row-preserving over df
    val g = groups.select(col(gIdCol).as("__gid"), col(gLabelCol).as("__glabel"))
      .groupBy("__gid").agg(min(col("__glabel")).as("__glabel"))
    val keyed = df.join(g, df(idCol) === col("__gid"), "left")
      .withColumn("__gkey", coalesce(col("__glabel"), df(idCol)).cast("string"))
    assignSplits(keyed, "__gkey", splits, salt, labelCol)
      .drop("__gid", "__glabel", "__gkey")
  }

  /** Exactly `n` rows per stratum (fewer if the stratum is smaller),
    * chosen by content-hash order — a deterministic stratified sample.
    * `uniqueCol` breaks ties between rows with IDENTICAL key content
    * (exact duplicates hash alike; without a unique tiebreak the choice
    * among them would be partition-order-dependent). One shuffle on the
    * stratum column; the per-stratum ORDER BY is a within-partition sort.
    *
    * This is also the "balanced corpus" primitive: capping every language
    * / source / domain at the same document count.
    */
  def stratifiedTake(df: DataFrame, strataCol: String, keyCol: String, n: Int,
      uniqueCol: String): DataFrame = {
    val w = Window.partitionBy(col(strataCol))
      .orderBy(md5(col(keyCol).cast("string")), col(uniqueCol))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= n)
      .drop("__rn")
  }

  /** Per-stratum TOKEN-budget take — the curation primitive when the
    * training contract is "at most B tokens from each source", not "at
    * most n documents": rows are admitted in `orderCols` priority order
    * (quality-first is the usual call) while the stratum's RUNNING token
    * total stays within `budgetTokens`. Greedy-prefix semantics, stated
    * plainly: the first document that would overflow the budget is
    * dropped and ADMISSION STOPS THERE for that stratum — later, smaller
    * documents are not back-filled (a knapsack would be; a deterministic,
    * engine-replayable prefix is worth more than the few percent of
    * budget a backfill recovers, and "highest-priority prefix" is the
    * policy auditors can reason about).
    *
    * `orderCols` must totally order each stratum (add a unique id last)
    * or the prefix is partition-dependent; `tokenCol` must be
    * nonnegative (a negative count would make the running sum
    * non-monotone and re-admit rows after an overflow, which is no
    * longer a prefix). Scale shape: ONE stratum-keyed
    * window cumsum — the [[stratifiedTake]] exchange with a running sum
    * instead of a rank; nothing driver-side, nothing quadratic.
    */
  def tokenBudgetTake(df: DataFrame, strataCol: String, tokenCol: String,
      budgetTokens: Long, orderCols: Seq[Column]): DataFrame = {
    require(budgetTokens >= 0, "budgetTokens must be >= 0")
    require(orderCols.nonEmpty, "need priority order columns")
    require(!df.columns.contains("__cum"),
      "tokenBudgetTake input contains reserved helper column __cum; rename it first")
    val w = Window.partitionBy(col(strataCol)).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // enforce the nonnegativity the prefix contract depends on: a
    // negative count (tokenizer error sentinel) would dip the running
    // sum back under budget and re-admit rows — raise instead of
    // silently returning a non-prefix. NULL counts pass (sum skips them:
    // a NULL-cost row rides the current cumsum).
    val tok = col(tokenCol).cast("long")
    val guarded = when(coalesce(tok >= 0, lit(true)), tok)
      .otherwise(raise_error(concat(
        lit(s"graft.tokenBudgetTake: negative $tokenCol breaks the prefix contract; got "),
        tok.cast("string"))).cast("long"))
    df.withColumn("__cum", sum(guarded).over(w))
      .where(col("__cum") <= budgetTokens)
      .drop("__cum")
  }

  /** Rebalance a corpus to a target domain MIXTURE (the DoReMi /
    * Pile-style "domain weights" primitive): given target proportions per
    * stratum, keep the largest possible corpus whose stratum shares match
    * the targets exactly, without upsampling any stratum.
    *
    * The math is integer-exact end to end (no float thresholds to wobble
    * across engines): targets become parts-per-million, the binding
    * stratum fixes the achievable scale
    * `N = min_s(count_s * 1_000_000 / ppm_s)` (long division), and each
    * stratum keeps its first `n_s = N * ppm_s / 1_000_000` rows in
    * content-hash order. Strata absent from `targets` are dropped;
    * targets naming absent strata make the mix unachievable and fail
    * fast. That failure is raised inside the plan, and with the graft
    * extension `FoldSingleRowJoin` turns the 1-row scale into a scalar
    * subquery, whose errors Spark rethrows as "Exception thrown in
    * awaitResult:". So the "target stratum '<s>' has no rows" message is
    * in the exception's cause chain, not always in its top message.
    *
    * Deterministic and append-degrading-gracefully: adding rows to a
    * stratum never changes WHICH existing rows of other strata are kept
    * (hash order is stable), it only raises `N` if the binding stratum
    * grew.
    *
    * Scale shape: one tiny aggregation for the per-stratum counts (its
    * result is #strata rows — broadcast), a 1-row min over it folded in
    * as a broadcast, and ONE data-sized shuffle (the per-stratum
    * row_number window). The row ranking reuses [[stratifiedTake]]'s
    * ordering, so a rebalanced corpus is a prefix-union of stratified
    * samples.
    */
  def rebalanceMix(df: DataFrame, strataCol: String, keyCol: String,
      uniqueCol: String, targets: Seq[(String, Double)]): DataFrame = {
    require(targets.nonEmpty && targets.forall(_._2 > 0), "target weights must be positive")
    require(targets.map(_._1).distinct.size == targets.size, "duplicate stratum in targets")
    val clash = Seq("__ppm", "__cnt", "__scale", "__take", "__rn").filter(df.columns.contains)
    require(clash.isEmpty,
      s"rebalanceMix uses helper columns ${clash.mkString(", ")} which already exist in the input")
    val wsum = targets.map(_._2).sum
    val ppm = targets.map { case (s, w) =>
      val p = math.round(w / wsum * 1000000.0)
      require(p >= 1, s"target weight for '$s' rounds to < 1 ppm")
      (s, p)
    }
    val spark = df.sparkSession
    val tgt = broadcast(spark.createDataFrame(ppm).toDF(strataCol, "__ppm"))
    val counts = df.groupBy(col(strataCol))
      .agg(count(lit(1)).cast("long").as("__cnt"))
      .join(tgt, Seq(strataCol), "right")
    // a target stratum with no rows caps N at 0; surfacing that as an
    // empty result would be silent data loss, so raise inside the plan
    // (no extra driver-side pass) instead
    val scale = counts
      .agg(min(when(col("__cnt").isNull,
          assert_true(lit(false), concat(lit("rebalanceMix: target stratum '"),
            col(strataCol), lit("' has no rows"))).cast("long"))
        // `div`, not `/`: Column./ is double division — the quota
        // arithmetic must stay integer-exact for cross-engine replay
        .otherwise(expr("__cnt * 1000000L div __ppm"))).as("__scale"))
    val quota = counts.crossJoin(broadcast(scale))
      .select(col(strataCol),
        expr("__scale * __ppm div 1000000L").as("__take"),
        col("__cnt"))
    val w = Window.partitionBy(col(strataCol))
      .orderBy(md5(col(keyCol).cast("string")), col(uniqueCol))
    df.join(broadcast(quota.select(col(strataCol), col("__take"))), Seq(strataCol))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= col("__take"))
      .drop("__rn", "__take")
  }

  /** Temperature-flattened source mixture — the multilingual/multi-source
    * sampling-alpha pattern (GPT-3 §2.2, XLM-R): draw probability
    * p_i ∝ n_i^alpha, so alpha = 1 is proportional sampling, alpha = 0
    * uniform-over-sources, and the usual 0.2–0.7 range up-weights small
    * sources without letting giants dominate. Emits one row per source
    * with its count, weight (ppm of the mixture) and integer quota
    * toward `budget` rows — feed the quotas to [[stratifiedTake]] /
    * [[rebalanceMix]] to materialize the draw.
    *
    * Integer contract: weight_ppm = round(1e6 · n^alpha / Σ n^alpha),
    * quota = budget·weight_ppm div 1e6 — pow/divide happen on doubles
    * (e6-rounded, so ULP-level libm differences between engines cannot
    * flip a value), the quota arithmetic is pure integer. ONE tiny
    * source-keyed aggregation; the normalizer is a broadcast single row.
    */
  def temperatureWeights(df: DataFrame, sourceCol: String, alpha: Double,
      budget: Long): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, "alpha must be in [0, 1]")
    require(budget >= 0, "budget must be >= 0")
    val counts = df.groupBy(col(sourceCol))
      .agg(count(lit(1)).cast("long").as("docs"))
      .withColumn("__pw", pow(col("docs").cast("double"), lit(alpha)))
    val tot = counts.agg(sum(col("__pw")).as("__tot"))
    counts.crossJoin(broadcast(tot))
      .withColumn("weight_ppm",
        round(col("__pw") / col("__tot") * lit(1e6)).cast("long"))
      .withColumn("quota", expr(s"${budget}L * weight_ppm div 1000000L"))
      .select(col(sourceCol), col("docs"), col("weight_ppm"), col("quota"))
  }

  /** Per-stratum weighted reservoir of `n` rows using the A-ES key
    * `weight^(1/w_i)` reformulated in log space: rank strata rows by
    * `-ln(u_i)/w_i` ascending (u_i = the content-hash uniform), keep the
    * first `n`. Equivalent to Efraimidis-Spirakis weighted sampling with
    * deterministic uniforms, so higher-weight rows are proportionally more
    * likely to stay while remaining fully reproducible.
    */
  def weightedStratifiedTake(df: DataFrame, strataCol: String, keyCol: String,
      weightCol: String, n: Int, uniqueCol: String): DataFrame = {
    val u = hashWeight(col(keyCol))
    // clamp into (0,1): u==0 would send -ln(u) to infinity
    val key = -log(greatest(u, lit(1e-18))) / greatest(col(weightCol).cast("double"), lit(1e-18))
    val w = Window.partitionBy(col(strataCol)).orderBy(key.asc, col(uniqueCol))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= n)
      .drop("__rn")
  }

  /** Deterministic negative sampling for contrastive training: `k`
    * pseudo-random corpus rows per anchor, drawn by hashing `(id, j)` into
    * the DENSE id space `[0, n)` — a pure function of the data, so every
    * rerun/backfill pairs each anchor with the same negatives and a SQL
    * oracle replays the draw exactly.
    *
    * Contract: `corpus`'s `idCol` is dense `0..n-1` (embedding tables
    * typically are; densify upstream otherwise). A draw that hits the
    * anchor itself moves to `(id + 1) mod n` — deterministic, still
    * uniform over the other rows to within one slot.
    *
    * The hash is the DuckDB-portable integer hash of `id·1000003 + j +
    * seed·1000033`, sign-cleared then reduced mod n; both steps replay
    * bit-exactly in DuckDB (`hash(x) & maxLong % n`).
    *
    * Scale shape: anchors explode to k rows each (row-local), the corpus
    * row count is a broadcast single-row aggregate, and the payload fetch
    * is ONE equi-join of k·|anchors| skinny rows against the corpus on
    * its id — no window, no collect, nothing quadratic.
    *
    * @return one row per (anchor, j): anchor columns' `idCol`, `j`, and
    *         the negative's columns prefixed `neg_`.
    */
  def contrastiveNegatives(anchors: DataFrame, corpus: DataFrame,
      idCol: String, k: Int, seed: Long = 0L): DataFrame = {
    require(k >= 1 && k <= 1000, "k must be in [1, 1000]")
    val nRow = corpus.agg(count(lit(1)).as("__n"))
    val drawn = anchors.select(col(idCol))
      .crossJoin(broadcast(nRow))
      .select(col(idCol), explode(sequence(lit(0), lit(k - 1))).as("j"), col("__n"))
      .withColumn("__h", expr(
        s"bitfilters_duckdb_hash('v1.5.1', CAST($idCol AS BIGINT) * 1000003L + CAST(j AS BIGINT) + ${seed}L * 1000033L)"))
      .withColumn("__r", pmod(col("__h").bitwiseAND(lit(Long.MaxValue)), col("__n")))
      .withColumn("__neg", when(col("__r") === col(idCol),
        pmod(col("__r") + 1, col("__n"))).otherwise(col("__r")))
    val negSide = corpus.columns.foldLeft(corpus)((d, c) =>
      d.withColumnRenamed(c, s"neg_$c"))
    drawn
      .join(negSide, drawn("__neg") === negSide(s"neg_$idCol"))
      .drop("__h", "__r", "__neg", "__n")
  }
}
