package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Hashing

/** Similarity search over embedding columns (`ARRAY<FLOAT>`).
  *
  * Two paths, as a training-data pipeline needs both:
  *  - brute-force cosine top-k: exact baseline; the query side is broadcast
  *    so the big embeddings table is scanned exactly once with no shuffle.
  *  - random-hyperplane LSH: the scale path; a 64-bit signature per vector,
  *    bucketed by signature prefix, candidates ranked by exact cosine. At
  *    100 TB the bucket join replaces the O(n*q) scan with a co-partitioned
  *    equi-join on bucket ids.
  */
object Embeddings {

  /** Dot product / L2 norm of ARRAY<FLOAT>/ARRAY<DOUBLE> columns — fused
    * native kernels (see [[VectorOps]]); sequential double accumulation,
    * bit-equal to the `aggregate(zip_with(...))` HOF form it replaces.
    */
  def vecDot(a: Column, b: Column): Column =
    ColumnBridge.column(VecDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def vecNorm(a: Column): Column =
    ColumnBridge.column(VecNorm(ColumnBridge.expression(a)))

  /** Cosine similarity of two vector columns. When the same vector feeds
    * many pairs (similarity joins), pre-project [[vecNorm]] once per side
    * instead — see [[cosineNearDuplicatesExact]].
    */
  def cosine(a: Column, b: Column): Column =
    vecDot(a, b) / (vecNorm(a) * vecNorm(b))

  /** Unit-normalize `vecCol` into `outCol` (zero vectors pass through
    * unchanged). The norm is the sequential-fold [[vecNorm]], so normalized
    * components are bit-reproducible across engines that fold
    * left-to-right (DuckDB's `list_reduce` form — see the q_embed_quant
    * oracle). The norm is projected ONCE per row before the per-element
    * transform: inlined into the lambda body it would be recomputed for
    * every element, as Spark does not hoist common subexpressions out of
    * lambda loops (64x per row at 64 dims; measured ~6x slowdown on the
    * quantization gate).
    */
  def withNormalized(df: DataFrame, vecCol: String, outCol: String): DataFrame = {
    val n = "__graft_norm"
    df.withColumn(n, vecNorm(col(vecCol)))
      .withColumn(outCol,
        when(col(n) > lit(0.0), transform(col(vecCol), x => x / col(n)))
          .otherwise(col(vecCol)))
      .drop(n)
  }

  /** Symmetric per-vector int8 quantization of `vecCol` into `outCol`
    * (ARRAY<INT>): scale = 127 / max|x_i|, each component ->
    * floor(x*scale + 0.5) (round-half-up: identical IEEE ops in every
    * engine, unlike round()'s mode-dependent halves). `scaleCol` gets the
    * dequantization factor max|x_i| / 127. The standard embedding-storage
    * compression (4x smaller than FLOAT) — at 100 TB the difference
    * between an ANN index that fits executor memory and one that doesn't.
    * The abs-max is projected once per row (same lambda-inlining rationale
    * as [[withNormalized]]); the element lambda sees only column refs.
    */
  def withInt8Quantized(df: DataFrame, vecCol: String, outCol: String,
      scaleCol: String): DataFrame = {
    val m = "__graft_maxabs"
    val sc = "__graft_scale"
    df.withColumn(m, array_max(transform(col(vecCol), x => abs(x))))
      .withColumn(sc, when(col(m) > lit(0.0), lit(127.0) / col(m)).otherwise(lit(0.0)))
      .withColumn(outCol, transform(col(vecCol), x => floor(x * col(sc) + lit(0.5)).cast("int")))
      .withColumn(scaleCol, when(col(m) > lit(0.0), col(m) / lit(127.0)).otherwise(lit(0.0)))
      .drop(m, sc)
  }

  /** 1-bit sign quantization: packs a vector into ceil(dim/64) longs, bit
    * `i % 64` of word `i / 64` set iff `x_i > 0` (see [[BinaryQuantize]]).
    * 32x smaller than FLOAT storage; pair with [[wordHamming]] for the
    * memory-bound ANN prescreen ([[hammingTopK]]).
    */
  def quantizeBinary(vec: Column): Column =
    ColumnBridge.column(BinaryQuantize(ColumnBridge.expression(vec)))

  /** Hamming distance between two [[quantizeBinary]] signatures — a fused
    * popcount-of-xor per word ([[WordHamming]]).
    */
  def wordHamming(a: Column, b: Column): Column =
    ColumnBridge.column(WordHamming(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** [[hammingTopK]]'s raise-`candidates` signal over one call's two run
    * records (`graft_hamming_candidates_<n>`, then `graft_hamming_kept_<n>`):
    * true when the largest kept Hamming distance reaches the largest
    * candidate distance, i.e. the final top-k consumed the whole prescreen
    * budget and true neighbors may have been cut. A healthy margin (kept
    * max well below candidate max) means the budget had slack. Only
    * meaningful after an action ran the query.
    */
  def hammingSaturated(candidates: Telemetry.Run, kept: Telemetry.Run): Boolean =
    kept.max.value >= candidates.max.value

  /** Two-stage binary-quantized top-k: Hamming prescreen over 1-bit
    * signatures, exact cosine rerank over the survivors.
    *
    * Stage 1 streams the corpus once computing `word_hamming(sig, qsig)`
    * against the broadcast query signatures, and takes the `candidates`
    * best per query with the bounded-heap stage [[graft.functions.TopKAgg.rank]]
    * (`ord = -hamming`, payload = id, so ties break to the smaller id):
    * each task keeps at most `candidates` (hamming, id) pairs per query
    * through the partial phase, the exchange carries ≤ candidates ·
    * |queries| pairs per partition, and no task ever materializes or
    * sorts a full per-query partition — a `row_number()` window here
    * would funnel ALL n corpus rows of a query into one task. Stage 2
    * joins the ≤ `candidates`·|queries| survivors BACK to the embeddings
    * table for their float vectors and ranks by exact cosine through the
    * same stage ([[rankTopKByQuery]]). At 100 TB
    * this is the memory-bound scale path: the prescreen touches 8 bytes
    * per dim-64 vector (a popcount per candidate, inside whole-stage
    * codegen) and the expensive float arithmetic is bounded by the
    * candidate budget, not the corpus. sign-bit Hamming approximates
    * angular distance (1-bit hyperplane LSH), so recall depends on
    * `candidates`/k — both stages are deterministic (id tie-breaks), and
    * the DuckDB oracle replays prescreen + rerank exactly.
    *
    * Recall telemetry: every call starts two [[Telemetry.Run]]s.
    * `graft_hamming_candidates_<n>` records the candidates' Hamming
    * distances; `graft_hamming_kept_<n>` records the kept rows' distances
    * (`max`) and their floored e6 cosine (`min`, the worst kept
    * similarity). [[hammingSaturated]] over the pair after an action means
    * the top-k consumed the whole prescreen budget — raise `candidates`.
    *
    * `candidates <= 0` derives a CORPUS-SCALED budget, max(4k, n/1000):
    * a fixed budget decays toward zero recall as the corpus grows (the
    * prescreen keeps a constant slice of an ever-larger ranking —
    * measured 0.50/0.30/0.20 at budget 20 across sf0.01/sf0.1/sf1cd and
    * 0.04 at sf10cd, SCALE.md round-12), so the default must grow with n
    * or every caller inherits the trap the `q_recall_floor_hamming` gate
    * escaped. Deriving n costs one `count()` over the embeddings relation
    * (metadata-cheap on parquet scans, one pass otherwise) — callers that
    * already know n, or want a fixed budget, pass `candidates` explicitly.
    *
    * Ids must be integral (they ride the heap as BIGINT payloads).
    */
  def hammingTopK(embeddings: DataFrame, vecCol: String, idCol: String,
      queries: DataFrame, queryVecCol: String, queryIdCol: String,
      k: Int, candidates: Int = 0): DataFrame = {
    val c = if (candidates <= 0) derivedHammingBudget(k, embeddings.count())
            else candidates
    require(c >= k, s"candidates ($c) must be >= k ($k)")
    val idType = embeddings.schema(idCol).dataType
    // telemetry recorders run over the already-tiny candidate / kept rows
    // (≤ candidates·|queries| each)
    val candRun = Telemetry.start(embeddings.sparkSession, "graft_hamming_candidates")
    val keptRun = Telemetry.start(embeddings.sparkSession, "graft_hamming_kept")
    val embSig = embeddings.select(col(idCol), quantizeBinary(col(vecCol)).as("__sig"))
    val qrySig = queries.select(col(queryIdCol), quantizeBinary(col(queryVecCol)).as("__qsig"))
    val scanned = embSig.crossJoin(broadcast(qrySig))
      .where(col(idCol) =!= col(queryIdCol))
      .select(col(queryIdCol), col(idCol), wordHamming(col("__sig"), col("__qsig")).as("hamming"))
    val cand = graft.functions.TopKAgg.rank(scanned, Seq(col(queryIdCol)), c,
        (-col("hamming")).cast("long"), col(idCol).cast("long"))
      .select(col(queryIdCol), col("payload").cast(idType).as(idCol),
        (-col("ord")).cast("int").as("hamming"))
    // join-back pins the ≤ c·|queries| candidate set as the BROADCAST side:
    // the corpus scans once more (columns pruned to id + vector) probing a
    // tiny hash table — no shuffle, and the float vectors surface only for
    // rows that survived the prescreen
    val reranked = rankTopKByQuery(
      embeddings.select(col(idCol), col(vecCol))
        .join(broadcast(cand.where(Telemetry.record(candRun, col("hamming"), Long.MaxValue))), idCol)
        .join(broadcast(queries.select(col(queryIdCol), col(queryVecCol))), queryIdCol)
        .withColumn("sim", cosine(col(vecCol), col(queryVecCol))),
      queryIdCol, idCol, k)
    // the rerank keeps (sim, id) only: the kept rows' Hamming distances
    // come back from the candidate rows (the same shuffle, reused)
    reranked
      .join(broadcast(cand.select(col(queryIdCol).as("query_id"),
        col(idCol).as("neighbor_id"), col("hamming"))), Seq("query_id", "neighbor_id"))
      .where(Telemetry.record(keptRun, col("hamming"), floor(col("sim") * lit(1e6))))
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"), col("hamming"))
  }

  /** The default [[cosineNearDuplicates]] bucket width for a corpus of
    * `n` vectors: the smallest prefixBits in [4, 16] whose AVERAGE
    * bucket, ceil(n / 2^p), is at most `targetBucket` rows — pure
    * integer arithmetic so any SQL engine replays it bit-for-bit (a
    * float log2 form can land a ULP either side of an integer at exact
    * powers of two). 16 caps the width: past 65k buckets, hyperplane
    * prefix bits stop being independent enough to keep splitting
    * real clusters.
    */
  private[graft] def derivedPrefixBits(n: Long, targetBucket: Long = 500L): Int =
    (4 to 16).find(p => (n + (1L << p) - 1) / (1L << p) <= targetBucket)
      .getOrElse(16)

  /** The default [[ivfTopK]] cell count for a corpus of `n` vectors when
    * the caller passes `nlist <= 0`: the smallest power of two whose cell
    * occupancy ceil(n/2^p) is at most 2^p — i.e. 2^p ≈ ceil(sqrt(n)) —
    * balancing the coarse-quantizer scan (n·nlist-shaped in training /
    * per-query centroid ranking) against cell size (per-probe scan cost).
    * The classic FAISS sizing heuristic, as a pure integer ladder so any
    * SQL engine replays it from `COUNT(*)` with no float-sqrt ULP risk.
    * Capped at 2^16 cells: past ~4B vectors the coarse quantizer should
    * be trained hierarchically, a per-corpus call.
    */
  private[graft] def derivedNlist(n: Long): Int =
    1 << (0 to 16).find(p => (n + (1L << p) - 1) / (1L << p) <= (1L << p))
      .getOrElse(16)

  /** The default [[hammingTopK]] prescreen budget for a corpus of `n`
    * vectors: max(4k, n/1000) — the same rule `q_recall_floor_hamming`
    * replays in its oracle. Clamped into Int (a > 2·10^12-row corpus
    * saturates at Int.MaxValue, where the prescreen is no longer the
    * memory-bound path anyway).
    */
  private[graft] def derivedHammingBudget(k: Int, n: Long): Int =
    math.max(4L * k, n / 1000L).min(Int.MaxValue).toInt

  /** Shared per-query ranking stage for the ANN paths: reduce a
    * `(queryIdCol, idCol, sim)` candidate relation to each query's top-k
    * via [[graft.functions.TopKAgg.rank]] — `ord` is the order-preserving IEEE
    * bits of `sim` ([[graft.functions.SortableBits]], strictly monotone),
    * `payload` the candidate id, so the (ord DESC, payload ASC) heap order
    * IS the window order (sim DESC, id ASC) and oracles replaying
    * `row_number()` ranking match row for row.
    *
    * Why not `row_number().over(Window.partitionBy(query))`: the window
    * SORTS each query's entire candidate set in one task — for IVF that
    * partition is ~nprobe/nlist of the corpus. The aggregate keeps k
    * entries per (partition, query) map-side, ships ≤ k pairs per group
    * across the shuffle, and never sorts a group.
    *
    * Preconditions (as [[hammingTopK]]): ids integral (they ride the heap
    * as BIGINT), (query, id) pairs distinct (set semantics collapse
    * duplicates — every caller's candidate join produces each pair once).
    */
  private[graft] def rankTopKByQuery(cands: DataFrame, queryIdCol: String,
      idCol: String, k: Int): DataFrame = {
    val idType = cands.schema(idCol).dataType
    graft.functions.TopKAgg.rank(cands, Seq(col(queryIdCol)), k,
        ColumnBridge.column(graft.functions.SortableDoubleBits(
          ColumnBridge.expression(col("sim").cast("double")))),
        col(idCol).cast("long"))
      .select(col(queryIdCol).as("query_id"), col("rank"),
        col("payload").cast(idType).as("neighbor_id"),
        ColumnBridge.column(graft.functions.SortableBitsDouble(
          ColumnBridge.expression(col("ord")))).as("sim"))
  }

  /** [[rankTopKByQuery]] for the PQ paths: a `(queryIdCol, idCol, __adc)`
    * relation ranked by the integer ADC distance ascending (`ord = -adc`),
    * ties to the smaller id. Returns (query_id, rank, neighbor_id, adc_e6).
    */
  private def rankTopKByAdc(scored: DataFrame, queryIdCol: String,
      idCol: String, k: Int): DataFrame = {
    val idType = scored.schema(idCol).dataType
    graft.functions.TopKAgg.rank(scored, Seq(col(queryIdCol)), k,
        (-col("__adc")).cast("long"), col(idCol).cast("long"))
      .select(col(queryIdCol).as("query_id"), col("rank"),
        col("payload").cast(idType).as("neighbor_id"), (-col("ord")).as("adc_e6"))
  }

  /** Exact top-k neighbors for each query vector. `queries` must be small
    * (it is broadcast); the embeddings table streams through one stage and
    * the per-query ranking is the bounded-heap [[rankTopKByQuery]].
    */
  def bruteForceTopK(embeddings: DataFrame, vecCol: String, idCol: String,
      queries: DataFrame, queryVecCol: String, queryIdCol: String, k: Int): DataFrame = {
    val joined = embeddings.crossJoin(broadcast(queries))
      .where(col(idCol) =!= col(queryIdCol))
      .withColumn("sim", cosine(col(vecCol), col(queryVecCol)))
    rankTopKByQuery(joined, queryIdCol, idCol, k)
  }

  /** kNN label-consistency report — the embedding-quality eval: for each
    * query, do its k nearest corpus neighbors (cosine, self excluded)
    * carry the query's label? High agreement = the embedding space
    * respects the labels (and, run label-free on cluster ids, measures
    * cluster cohesion). Per-label rollup of queries / neighbor votes /
    * agreeing votes — all exact integers.
    *
    * Scale shape: inherits [[bruteForceTopK]] (broadcast queries, one
    * corpus scan, bounded-heap [[rankTopKByQuery]] ranking) — the exact
    * baseline; swap the neighbor stage for `lshTopK`/`ivfTopK`/
    * `hammingTopK` at corpus scale. Label joins are id-keyed; the query
    * side broadcasts.
    */
  def knnLabelConsistency(embeddings: DataFrame, vecCol: String, idCol: String,
      labelCol: String, queries: DataFrame, queryVecCol: String,
      queryIdCol: String, queryLabelCol: String, k: Int): DataFrame = {
    val nn = bruteForceTopK(embeddings.select(col(idCol), col(vecCol)),
      vecCol, idCol,
      queries.select(col(queryIdCol), col(queryVecCol)), queryVecCol,
      queryIdCol, k)
    nn.join(embeddings.select(col(idCol).as("neighbor_id"),
        col(labelCol).as("__nl")), Seq("neighbor_id"))
      .join(broadcast(queries.select(col(queryIdCol).as("query_id"),
        col(queryLabelCol).as("__ql"))), Seq("query_id"))
      .groupBy(col("__ql").as(labelCol))
      .agg(countDistinct(col("query_id")).cast("long").as("queries"),
        count(lit(1)).cast("long").as("votes"),
        sum(when(col("__nl") === col("__ql"), 1L).otherwise(0L))
          .cast("long").as("agree"))
  }

  /** Maximal-marginal-relevance diversity rerank over a (query, candidate)
    * relation: greedily selects `k` candidates per query maximizing
    * `λ·rel(q, c) − (1−λ)·max_{s∈selected} cos(c, s)` — the standard
    * redundancy-removal pass between ANN retrieval and downstream use
    * (RAG context assembly, eval-set selection, dedup-aware sampling).
    *
    * Scale shape: ONE shuffle on the query key; per-group state and work
    * are bounded by the CANDIDATE budget of the upstream retrieval stage
    * (`O(k · c)` cosines of driver-free in-task arithmetic per query),
    * never by corpus size — `maxCandidates` fails fast if a caller feeds
    * an unbounded relation. The corpus itself is never touched here.
    *
    * Determinism / replayability: relevance and pairwise cosines are
    * floored to e6 micro-units (`floor(x·1e6 + 0.5)`), λ is an integer
    * ppm, and scores are exact `λppm·relE6 − (1e6−λppm)·maxPairE6`
    * longs (|score| ≤ 2e12, no overflow); ties break to the smaller
    * candidate id. The whole greedy run is therefore a pure integer
    * function of the input doubles — the `q_mmr_rerank` oracle replays
    * it in DuckDB with a recursive CTE, step for step.
    *
    * The first pick (empty selected set) carries zero penalty — pure
    * relevance, the textbook Carbonell–Goldstein definition.
    *
    * Output: (query_id, mmr_rank 1..k, id, mmr_score_e12).
    */
  def mmrRerank(candidates: DataFrame, queryIdCol: String, idCol: String,
      relCol: String, vecCol: String, k: Int, lambdaPpm: Long = 700000L,
      maxCandidates: Int = 100000): DataFrame = {
    require(k >= 1, "mmrRerank: k must be >= 1")
    require(lambdaPpm >= 0L && lambdaPpm <= 1000000L,
      s"mmrRerank: lambdaPpm must be in [0, 1000000], got $lambdaPpm")
    val spark = candidates.sparkSession
    import spark.implicits._
    def e6(x: Double): Long = math.floor(x * 1000000.0 + 0.5).toLong
    val mu = 1000000L - lambdaPpm
    candidates.select(
        col(queryIdCol).cast("long").as("q"),
        col(idCol).cast("long").as("id"),
        col(relCol).cast("double").as("rel"),
        expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))").as("vec"))
      .as[(Long, Long, Double, Array[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (q, it) =>
        val arr = it.toArray
        require(arr.length <= maxCandidates, s"mmrRerank: query $q has " +
          s"${arr.length} candidates (> maxCandidates=$maxCandidates); " +
          "bound the retrieval stage that feeds this rerank")
        val n = arr.length
        val ids = arr.map(_._2)
        val relE6 = arr.map(c => e6(c._3))
        val vecs = arr.map(_._4)
        val norms = vecs.map { v =>
          var s = 0.0; var i = 0
          while (i < v.length) { s += v(i) * v(i); i += 1 }
          math.sqrt(s)
        }
        def pairE6(a: Int, b: Int): Long = {
          val (va, vb) = (vecs(a), vecs(b))
          var s = 0.0; var i = 0
          val m = math.min(va.length, vb.length)
          while (i < m) { s += va(i) * vb(i); i += 1 }
          e6(s / (norms(a) * norms(b)))
        }
        val chosen = new Array[Boolean](n)
        val maxSim = new Array[Long](n)
        val out = Seq.newBuilder[(Long, Int, Long, Long)]
        var step = 0
        while (step < math.min(k, n)) {
          var best = -1; var bestScore = Long.MinValue
          var i = 0
          while (i < n) {
            if (!chosen(i)) {
              val pen = if (step == 0) 0L else maxSim(i)
              val s = lambdaPpm * relE6(i) - mu * pen
              if (s > bestScore || (s == bestScore && (best < 0 || ids(i) < ids(best)))) {
                best = i; bestScore = s
              }
            }
            i += 1
          }
          chosen(best) = true
          out += ((q, step + 1, ids(best), bestScore))
          i = 0
          while (i < n) {
            if (!chosen(i)) {
              val s6 = pairE6(i, best)
              if (step == 0 || s6 > maxSim(i)) maxSim(i) = s6
            }
            i += 1
          }
          step += 1
        }
        out.result().iterator
      }
      .toDF("query_id", "mmr_rank", "id", "mmr_score_e12")
  }

  /** 64-bit random-hyperplane signature column (deterministic from `seed`). */
  def hyperplaneSignature(vec: Column, numBits: Int = 64, seed: Long = 42L): Column =
    ColumnBridge.column(HyperplaneSignature(ColumnBridge.expression(vec), numBits, seed))

  /** LSH-bucketed approximate top-k: candidates share a `prefixBits`-wide
    * signature prefix with the query, ranked by exact cosine. Trades recall
    * for a bucket-equi-join instead of a full scan.
    *
    * `multiProbe` extends the query side to Hamming-adjacent buckets
    * (multi-probe LSH, Lv et al. 2007): 0 = exact-prefix only; `p` adds
    * every bucket within Hamming distance ≤ p of the query's prefix —
    * a hyperplane sign near the decision boundary flips exactly one
    * prefix bit, so probing 1-bit neighbors recovers most of the recall
    * a single bucket loses, for (prefixBits choose ≤p) extra QUERY rows
    * (the corpus side is untouched — still one signature + one
    * equi-join). Monotone: every bucket probed at p is probed at p+1,
    * so recall never decreases (spec-pinned).
    */
  def lshTopK(embeddings: DataFrame, vecCol: String, idCol: String,
      queries: DataFrame, queryVecCol: String, queryIdCol: String,
      k: Int, prefixBits: Int = 12, seed: Long = 42L,
      multiProbe: Int = 0): DataFrame = {
    require(multiProbe >= 0 && multiProbe <= 2,
      "multiProbe must be 0, 1 or 2 (beyond 2 probe the exact path instead)")
    // prefixBits <= 0 derives the width from the corpus count (avg bucket
    // <= 500 rows — the cosineNearDuplicates rule): a fixed width makes
    // the per-query candidate set n/2^p, linear in the corpus; the
    // derived width pins it. Recall-sensitive callers set it explicitly
    // (wider buckets = more recall, more scan) — the knob is a
    // recall/latency trade, the DEFAULT must not decay with n.
    val p = if (prefixBits > 0) prefixBits else derivedPrefixBits(embeddings.count())
    val bucket = (sig: Column) => shiftrightunsigned(sig, 64 - p)
    val embB = embeddings.withColumn("__bucket", bucket(hyperplaneSignature(col(vecCol), 64, seed)))
    val qryB0 = queries.withColumn("__bucket", bucket(hyperplaneSignature(col(queryVecCol), 64, seed)))
    // flip-masks for Hamming balls of radius <= multiProbe over the width
    val masks: Seq[Long] = 0L +: (multiProbe match {
      case 0 => Seq.empty
      case 1 => (0 until p).map(i => 1L << i)
      case _ => (0 until p).map(i => 1L << i) ++
        (for (i <- 0 until p; j <- i + 1 until p)
          yield (1L << i) | (1L << j))
    })
    val qryB =
      if (masks.size == 1) qryB0
      else qryB0.withColumn("__bucket",
        explode(array(masks.map(m => col("__bucket").bitwiseXOR(lit(m))): _*)))
    val cands = embB.join(broadcast(qryB), "__bucket")
      .where(col(idCol) =!= col(queryIdCol))
      .withColumn("sim", cosine(col(vecCol), col(queryVecCol)))
    rankTopKByQuery(cands, queryIdCol, idCol, k)
  }

  /** Nearest-`topN`-centroid assignment against a `(cid, cvec)` relation
    * (broadcast): cosine, ties to the smaller cid — the cell routing used
    * by [[ivfTopK]] and the persisted [[graft.sources.AnnIndex]].
    */
  def assignCells(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, topN: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = centroids.select(col("cid"), col("cvec"))
    if (topN == 1) {
      // zero-shuffle corpus path: the ≤ nlist centroids collect to the
      // driver (config-bounded, the k-means pattern) and ride a codegen'd
      // exact-argmax expression over the scan — no crossJoin row blowup
      // and, critically, no full-corpus Exchange on idCol just to rank
      // nlist candidate rows per vector. `exact = true` replicates the
      // window form `row_number() OVER (PARTITION BY id ORDER BY sim
      // DESC, cid) = 1` bit for bit (raw-double compare under Spark's
      // sort total order, ties to the smallest cid), so both paths — and
      // the DuckDB oracle replay — agree on every assignment.
      val rows = cents.select(col("cid").cast("long"), col("cvec")).collect()
        .map { r =>
          val cv = r.getSeq[Any](1).map {
            case f: Float => f.toDouble
            case d: Double => d
            case x => x.toString.toDouble
          }.toArray
          (r.getLong(0), cv)
        }.sortBy(_._1)
      val nc = NearestCentroid(ColumnBridge.expression(col(vecCol)),
        rows.map(_._1), rows.map(_._2), exact = true)
      df.withColumn("cid", ColumnBridge.column(nc))
    } else {
      val simToCent = vecDot(col(vecCol), col("cvec")) / (vecNorm(col(vecCol)) * vecNorm(col("cvec")))
      val w = Window.partitionBy(col(idCol)).orderBy(simToCent.desc, col("cid"))
      df.crossJoin(broadcast(cents))
        .withColumn("__cr", row_number().over(w))
        .where(col("__cr") <= topN)
        .drop("cvec", "__cr")
    }
  }

  /** The seed centroid relation [[ivfTopK]] defaults to: the first `nlist`
    * vectors by id (deterministic; train with [[kmeansLloyd]] for better
    * cells and pass the result in).
    */
  def seedCentroids(embeddings: DataFrame, vecCol: String, idCol: String,
      nlist: Int): DataFrame =
    embeddings.orderBy(col(idCol)).limit(nlist)
      .select(col(idCol).as("cid"), col(vecCol).as("cvec"))

  /** IVF-flat approximate top-k: vectors are partitioned into `nlist`
    * cells by nearest coarse centroid; a query scans only its `nprobe`
    * nearest cells. The second scale path next to [[lshTopK]]: cells are an
    * equi-join key, so at 100 TB the probe is a co-partitioned join
    * touching ~nprobe/nlist of the corpus instead of a full scan.
    *
    * Coarse centroids default to the `nlist` lowest-id vectors — a
    * deterministic quantizer with NO floating-point-order sensitivity (no
    * Lloyd averaging), so results are exactly reproducible in any engine:
    * the DuckDB oracle replays assignment, probing, and ranking verbatim.
    * Pass a trained `centroids` frame (cid, cvec) for better cell balance
    * when recall matters more than replayability.
    */
  def ivfTopK(embeddings: DataFrame, vecCol: String, idCol: String,
      queries: DataFrame, queryVecCol: String, queryIdCol: String,
      k: Int, nlist: Int = 16, nprobe: Int = 4,
      centroids: Option[DataFrame] = None): DataFrame = {
    // nlist <= 0 (and no centroids given) derives ~sqrt(n) cells from the
    // corpus count ([[derivedNlist]]): a fixed nlist makes every probe
    // scan nprobe/nlist of the CORPUS — linear in n — where sqrt-sized
    // cells keep per-probe work ~nprobe·sqrt(n)
    val nl = if (nlist > 0 || centroids.isDefined) nlist
             else derivedNlist(embeddings.count())
    val cents = centroids.getOrElse(seedCentroids(embeddings, vecCol, idCol, nl))
      .select(col("cid"), col("cvec"))
    val cells = assignCells(embeddings, idCol, vecCol, cents, 1)
    val qCells = assignCells(queries, queryIdCol, queryVecCol, cents, nprobe)
    val cands = cells.join(broadcast(qCells), "cid")
      .where(col(idCol) =!= col(queryIdCol))
      .withColumn("sim", cosine(col(vecCol), col(queryVecCol)))
    rankTopKByQuery(cands, queryIdCol, idCol, k)
  }

  /** Exact all-pairs cosine near-duplicates: the O(n^2) correctness
    * baseline (and the oracle-checkable gate); [[cosineNearDuplicates]] is
    * the LSH-bucketed scale path.
    *
    * Broadcast-blocked kernel: the self-join form materializes BOTH full
    * vectors into every pair row (n^2/2 rows x 2 arrays — at 20k dim-64
    * vectors that is ~200 GB of array copies through the join, measured
    * 68 s at sf1), so instead the (id, vector, norm) table — a few MB per
    * million-vector corpus — is broadcast once per executor and striped
    * row-ranges compute the upper triangle in tight double-array loops,
    * emitting only the above-threshold pairs. The stripe (i mod P)
    * balances the triangular workload across tasks. Arithmetic is
    * operation-for-operation identical to vec_dot / vec_norm (sequential
    * fold, same order), so results are bit-equal to the join form —
    * spec-asserted, and the DuckDB oracle is unchanged. Capped at 2M
    * vectors: beyond that neither the broadcast NOR an O(n^2) pair count
    * is viable — use the LSH path.
    *
    * `allowBruteForce = true` is REQUIRED: the quadratic path measures
    * ~100x per data decade (SCALE.md), so it must never be the default
    * reach a pipeline lands on by accident — callers opt in (baselines,
    * recall audits, bounded slices) or get pointed at
    * [[cosineNearDuplicates]], which returns the same >=-threshold pair
    * semantics at bucketed cost.
    */
  def cosineNearDuplicatesExact(embeddings: DataFrame, vecCol: String, idCol: String,
      threshold: Double, allowBruteForce: Boolean = false): DataFrame = {
    require(allowBruteForce,
      "cosineNearDuplicatesExact is the O(n^2) brute-force baseline (~100x per " +
        "data decade); pass allowBruteForce = true to opt in, or use " +
        "cosineNearDuplicates (LSH) — the scale path with the same semantics")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val selected = embeddings.select(col(idCol).cast("long"), col(vecCol))
    // Enforce the cap BEFORE collect(): a limit-probe for row 2M+1 is cheap
    // and keeps an oversized input from materializing on the driver first.
    val overCap = selected.select(lit(1)).limit(2000001).count()
    require(overCap <= 2000000,
      s"cosineNearDuplicatesExact is the O(n^2) baseline, capped at 2M vectors " +
        s"(input exceeds the cap); use cosineNearDuplicates (LSH) at scale")
    val data: Array[(Long, Array[Double])] = selected
      .collect()
      .map { r =>
        val v = r.getSeq[Any](1).map {
          case f: java.lang.Float => f.toDouble
          case d: java.lang.Double => d.doubleValue()
          case null => Double.NaN // NaN sim never passes the threshold,
                                  // matching the join form's NULL-sim drop
        }.toArray
        (r.getLong(0), v)
      }
      .sortBy(_._1)
    val withNorms: Array[(Long, Array[Double], Double)] = data.map { case (id, v) =>
      var acc = 0.0; var i = 0
      while (i < v.length) { acc += v(i) * v(i); i += 1 } // == vec_norm fold
      (id, v, math.sqrt(acc))
    }
    val bc = spark.sparkContext.broadcast(withNorms)
    val parts = math.max(spark.sparkContext.defaultParallelism, 1)
    val n = withNorms.length
    spark.range(0, n.toLong)
      .repartition(parts, pmod(col("id"), lit(parts))) // stripe triangular load
      .as[Long]
      .mapPartitions { it =>
        val vecs = bc.value
        it.flatMap { i0 =>
          val i = i0.toInt
          val (idI, vi, ni) = vecs(i)
          (i + 1 until vecs.length).iterator.flatMap { j =>
            val (idJ, vj, nj) = vecs(j)
            var s = 0.0; var k = 0
            val len = math.min(vi.length, vj.length)
            while (k < len) { s += vi(k) * vj(k); k += 1 } // == vec_dot fold
            val sim = s / (ni * nj)
            if (sim >= threshold) Iterator.single((idI, idJ, sim)) else Iterator.empty
          }
        }
      }
      .toDF("id1", "id2", "sim")
  }

  /** All pairs with cosine >= threshold via LSH buckets + exact verify.
    * The embedding-cosine near-duplicate detector for dedup pipelines.
    *
    * Norms are projected ONCE per vector before the bucket join (the
    * in-bucket verify is quadratic, so a per-pair vecNorm would redo ~2/3
    * of the arithmetic k times per bucket row); `vecDot / (norm_a·norm_b)`
    * is the exact expression `cosine` expands to, so the pair set and sim
    * values are bit-identical to the naive form.
    */
  def cosineNearDuplicates(embeddings: DataFrame, vecCol: String, idCol: String,
      threshold: Double, prefixBits: Int = 0, seed: Long = 42L): DataFrame = {
    // prefixBits <= 0 derives a CORPUS-SCALED bucket width (r13): at a
    // FIXED width the expected bucket size grows linearly with the
    // corpus and the in-bucket verify grows QUADRATICALLY — measured at
    // the third decade (sf100cd, 2M vectors, prefixBits=4 -> 125k-row
    // buckets): the gate ran >30 min vs 84 s at 200k, >21x/decade. The
    // derived width keeps the average bucket at <= targetBucket rows, so
    // verify work stays ~targetBucket*n/2 — linear in the corpus. Wider
    // buckets trade candidate recall for that bound; pass prefixBits
    // explicitly to pin either side of the trade.
    val p = if (prefixBits <= 0) derivedPrefixBits(embeddings.count())
            else prefixBits
    val sigged = embeddings
      .withColumn("__bucket",
        shiftrightunsigned(hyperplaneSignature(col(vecCol), 64, seed), 64 - p))
      .withColumn("__norm", vecNorm(col(vecCol)))
    sigged.as("a").join(sigged.as("b"),
        col("a.__bucket") === col("b.__bucket") && col(s"a.$idCol") < col(s"b.$idCol"))
      .withColumn("sim",
        vecDot(col(s"a.$vecCol"), col(s"b.$vecCol")) / (col("a.__norm") * col("b.__norm")))
      .where(col("sim") >= threshold)
      .select(col(s"a.$idCol").as("id1"), col(s"b.$idCol").as("id2"), col("sim"))
  }

  /** Spherical k-means (Lloyd's, cosine objective): assigns every vector
    * to the nearest of k centroids, recomputing centroids `iterations`
    * times. Returns (idCol, cid) for the final assignment. The IVF
    * training step ([[ivfTopK]]'s `centroids` input) and the standard
    * embedding-space clustering pass for corpus mixture analysis.
    *
    * Deterministic and oracle-replayable by construction:
    *  - seeds are the first k vectors by `idCol`;
    *  - assignment is argmax cosine with ties to the smallest cid;
    *  - the centroid mean is computed in EXACT micro-unit longs
    *    (`sum(round(x*1e6))` per dimension, an order-independent integer
    *    sum — a plain double sum would vary with shuffle order) and
    *    reconstructed as `sum_e6 / (members * 1e6)` identically in any
    *    engine that replays it. Clusters that lose all members drop out
    *    (no respawn), also deterministically.
    *
    * Scale shape (MLlib's): centroids live on the driver (k×dim doubles —
    * tiny by contract), assignment is a PURE MAP through the
    * `nearest_centroid` kernel (zero shuffle — no n×k window or group-by,
    * which would amplify the corpus 16× at k=16), and each update is one
    * posexplode + partially-aggregated groupBy(cid, dim) shuffle carrying
    * only k·dim rows per map partition. One driver action per iteration,
    * like every production Lloyd's.
    *
    * `k <= 0` derives k from the corpus count via [[derivedSemDedupK]]
    * (clamp(ceil(n/1000), 32, 65536) — occupancy-bounded, replayable from
    * `COUNT(*)` in any SQL engine).
    */
  def kmeansLloyd(embeddings: DataFrame, vecCol: String, idCol: String,
      k: Int, iterations: Int = 1): DataFrame = {
    val cents = kmeansFit(embeddings, vecCol, idCol, k, iterations)
    kmeansAssign(embeddings, vecCol, cents).select(col(idCol), col("cid"))
  }

  /** The trained centroids themselves as a (cid, cvec) frame — feed this
    * to [[ivfTopK]]'s `centroids` parameter for Lloyd-balanced IVF cells.
    * Same determinism contract as [[kmeansLloyd]], including the
    * `k <= 0` corpus-derived default.
    */
  def kmeansCentroids(embeddings: DataFrame, vecCol: String, idCol: String,
      k: Int, iterations: Int = 1): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    kmeansFit(embeddings, vecCol, idCol, k, iterations).toDF("cid", "cvec")
  }

  /** Feature-hashed text vectors (the "hashing trick", Weinberger et al.
    * 2009): whitespace token → portable md5-prefix hash → bucket
    * `h mod dim`, per-document bucket counts assembled into a dense
    * `ARRAY<DOUBLE>`, L2-normalized by default. The in-engine text
    * VECTORIZER that feeds the similarity stack (bruteForceTopK /
    * lshTopK / ivfTopK, cosineNearDuplicates, kmeansLloyd,
    * semanticDeduplicate) when no external embedding model is in play —
    * and, being pure md5 arithmetic, every vector replays exactly in any
    * SQL engine. Documents with no tokens get the zero vector
    * (normalization leaves it untouched).
    *
    * Scale shape: one token explode → (doc, bucket) count with map-side
    * partial aggregation → one doc-keyed map assembly; both exchanges
    * carry (id, int, long) rows, never the text. The dense expansion and
    * normalization are per-row projections with the norm hoisted out of
    * the element lambda.
    */
  def featureHashVectors(docs: DataFrame, textCol: String, idCol: String,
      dim: Int, normalize: Boolean = true): DataFrame = {
    require(dim >= 1 && dim <= 65536, s"dim must be in [1, 65536], got $dim")
    val counts = docs
      .select(col(idCol),
        explode(filter(split(lower(col(textCol)), "\\s+"), t => t =!= "")).as("__tok"))
      .select(col(idCol),
        pmod(Dedup.portableHash64(col("__tok")), lit(dim.toLong)).cast("int").as("__b"))
      .groupBy(col(idCol), col("__b")).agg(count(lit(1)).cast("double").as("__c"))
    val maps = counts.groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("__b"), col("__c")))).as("__m"))
    val raw = docs.select(col(idCol)).join(maps, Seq(idCol), "left")
      .withColumn("vec",
        expr(s"transform(sequence(0, ${dim - 1}), i -> coalesce(element_at(__m, i), CAST(0.0 AS DOUBLE)))"))
      .drop("__m")
    if (!normalize) raw
    else withNormalized(raw, "vec", "vec").select(col(idCol), col("vec"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication over an embedding column. Clusters the space with
    * spherical k-means ([[kmeansLloyd]]'s exact deterministic recipe), then
    * within each cluster drops every vector that has a cosine >= threshold
    * neighbor with a SMALLER id — one survivor per semantic-duplicate
    * ball, so the corpus keeps its first copy. Returns (idCol, cid, keep).
    *
    * Oracle-replayable end to end: assignment is the micro-rounded argmax
    * of [[kmeansLloyd]], and the drop rule compares
    * `round(sim*1e6) >= round(threshold*1e6)`, so no cross-engine raw
    * double comparison ever decides a pair.
    *
    * Scale shape: assignment is a pure map through the `nearest_centroid`
    * kernel over driver-held centroids (zero shuffle); candidate
    * generation is ONE cid-keyed self-join, quadratic only within a
    * cluster — SemDeDup's own contract (k grows with corpus size to keep
    * clusters bounded; the paper runs k=50k over 5B embeddings). `k <= 0`
    * applies exactly that contract as the default: [[derivedSemDedupK]]
    * sizes k from the corpus count so occupancy (and with it the
    * quadratic pairing term) stays pinned — a fixed k measured
    * 23.9x/decade at the third fixture decade.
    * Norms are projected once per vector before
    * the join, and dropped ids collapse through DISTINCT before the final
    * id-keyed join, so in-cluster pair fan-out never reaches the output.
    *
    * `maxClusterSize` is the fail-soft skew backstop (same contract as the
    * LSH `maxBucketSize`): a degenerate cluster — k sized too small, or a
    * corpus slice collapsing onto one centroid — would otherwise make the
    * self-join quadratic in that cluster's size (10^5 members = 5·10^9
    * pairs, an executor OOM rather than a slow query). Clusters over the
    * cap are excluded from PAIRING — every member keeps (conservative: no
    * false drops) — and the capped-cluster count plus the max observed
    * cluster size are recorded as a `graft_semdedup_clusters_<n>`
    * [[Telemetry.Run]]. Default = no cap, because skipping clusters
    * changes results and any threshold must be the caller's call.
    */
  def semanticDeduplicate(embeddings: DataFrame, vecCol: String, idCol: String,
      k: Int, threshold: Double, iterations: Int = 1,
      maxClusterSize: Int = Int.MaxValue): DataFrame = {
    val reserved = Seq("cid", "keep", "__norm", "__drop")
    require(!embeddings.columns.exists(reserved.contains),
      s"semanticDeduplicate reserves column names ${reserved.mkString(", ")}; " +
        "rename the input columns")
    val cents = kmeansFit(embeddings, vecCol, idCol, k, iterations)
    // persisted: the assignment kernel is O(k·dim) per row and this frame
    // feeds both self-join sides, the cap path's sizes aggregate, and the
    // final keep join — recomputing it per consumer would quadruple the
    // dominant cost (house persist style: callers clearCache between
    // pipelines, as Verify/Bench do)
    val assigned = kmeansAssign(embeddings, vecCol, cents)
      .select(col(idCol), col(vecCol), col("cid"))
      .withColumn("__norm", vecNorm(col(vecCol)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val paired = capClusters(assigned, maxClusterSize)
    val dropped = droppedIds(paired, paired, idCol, vecCol,
      col("a.cid") === col("b.cid") && col(s"a.$idCol") > col(s"b.$idCol"),
      thresholdE6(threshold))
    withKeep(assigned.select(col(idCol), col("cid")), dropped, idCol)
  }

  /** Incremental SemDeDup for corpus refreshes — the embedding-space
    * sibling of `Dedup.incrementalNearDuplicates`. The OLD corpus's
    * k-means fit is the frozen reference space: the new slice is assigned
    * into it with the same pure-map kernel (the old corpus is NOT
    * re-clustered), and a new vector drops iff a same-cluster neighbor
    * with precedence — any OLD member, or a smaller-id NEW member — sits
    * at cosine >= threshold. Old members always keep (they are already
    * curated), so old-vs-old — the unchanged quadratic bulk — is never
    * paired: per-cluster pair work is |new|·|all| instead of |all|^2.
    * Returns (idCol, cid, keep) for the NEW slice only.
    *
    * Ids must be unique across both frames (the usual corpus contract).
    * Same micro-rounded drop rule and `maxClusterSize` fail-soft cap
    * (combined cluster size) as [[semanticDeduplicate]], so the gate
    * replays exactly in DuckDB.
    *
    * THE FROZEN FIT IS AN INPUT, not a per-call recomputation: pass
    * `centroids` (a `(cid, cvec)` relation — [[kmeansCentroids]]' output,
    * or `centroids/` of a persisted [[graft.sources.SemDedupIndex]]) and
    * the old corpus is only scanned for assignment + pairing, never
    * re-fit — refresh cost scales with the slice and the pairing join,
    * not with `iterations` extra archive passes. When `centroids` is
    * None, the fit is computed here from `oldEmb` (k, iterations) —
    * identical results either way (the fit is deterministic;
    * spec-asserted). For refreshes that should also skip the archive
    * ASSIGNMENT scan, use [[graft.sources.SemDedupIndex]], which persists
    * the assigned archive cid-partitioned and prunes pairing to the
    * cells the new slice actually touches.
    *
    * `k <= 0` (used only when `centroids` is None) derives k from the
    * OLD corpus's count via [[derivedSemDedupK]] — the fit corpus is the
    * one whose occupancy the rule bounds.
    */
  def incrementalSemanticDeduplicate(newEmb: DataFrame, oldEmb: DataFrame,
      vecCol: String, idCol: String, k: Int, threshold: Double,
      iterations: Int = 1, maxClusterSize: Int = Int.MaxValue,
      centroids: Option[DataFrame] = None): DataFrame = {
    val reserved = Seq("cid", "keep", "__new", "__norm", "__drop")
    for (df <- Seq(newEmb, oldEmb))
      require(!df.columns.exists(reserved.contains),
        s"incrementalSemanticDeduplicate reserves column names " +
          s"${reserved.mkString(", ")}; rename the input columns")
    val cents = centroids.map(collectCentroidFrame)
      .getOrElse(kmeansFit(oldEmb, vecCol, idCol, k, iterations))
    val assignedAll = kmeansAssign(oldEmb, vecCol, cents)
      .select(col(idCol), col(vecCol), col("cid")).withColumn("__new", lit(false))
      .unionByName(kmeansAssign(newEmb, vecCol, cents)
        .select(col(idCol), col(vecCol), col("cid")).withColumn("__new", lit(true)))
      .withColumn("__norm", vecNorm(col(vecCol)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    incrementalDropKeep(assignedAll, idCol, vecCol, threshold, maxClusterSize)
  }

  /** The incremental drop/keep core shared by
    * [[incrementalSemanticDeduplicate]] and the persisted
    * [[graft.sources.SemDedupIndex.refresh]]: `assignedAll` carries
    * (idCol, vecCol, cid, __new, __norm) for every vector eligible to
    * pair (old members may be pre-pruned to the clusters the new slice
    * touches — untouched clusters produce no candidate rows, so pruning
    * never changes results). Returns (idCol, cid, keep) for `__new` rows.
    */
  private[graft] def incrementalDropKeep(assignedAll: DataFrame, idCol: String,
      vecCol: String, threshold: Double, maxClusterSize: Int): DataFrame = {
    val paired = capClusters(assignedAll, maxClusterSize)
    val dropped = droppedIds(paired.where(col("__new")), paired, idCol, vecCol,
      col("a.cid") === col("b.cid") &&
        (!col("b.__new") || col(s"b.$idCol") < col(s"a.$idCol")),
      thresholdE6(threshold))
    withKeep(assignedAll.where(col("__new")).select(col(idCol), col("cid")),
      dropped, idCol)
  }

  /** Collect a `(cid, cvec)` relation to the driver-side centroid seq the
    * assignment kernels take — k·dim doubles, config-bounded (the k-means
    * collect pattern). Parquet round-trips doubles exactly, so a fit
    * persisted and re-read assigns bit-identically to the in-memory fit.
    */
  private[graft] def collectCentroidFrame(centroids: DataFrame): Seq[(Long, Seq[Double])] =
    centroids.select(col("cid").cast("long"), col("cvec").cast("array<double>"))
      .collect().toSeq.map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)

  /** Shared SemDeDup machinery (batch + incremental forms). */

  // same HALF_UP semantics as the sim side's Spark round — math.round
  // (half toward +inf) would shift the boundary by one micro-unit for
  // negative thresholds landing exactly on .5
  private def thresholdE6(threshold: Double): Long =
    java.math.BigDecimal.valueOf(threshold * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong

  /** Fail-soft cluster cap: oversized clusters leave the pairing set
    * (every member keeps); the capped count and max observed size are
    * recorded as a `graft_semdedup_clusters_<n>` [[Telemetry.Run]]. The
    * per-cluster sizes are a ≤ k bounded collect (the k-means pattern),
    * so every cluster counts once however often the caller's plan reads
    * `assigned` (the self-join reads it twice), and the guard is a row
    * filter on the over-cap cids: the data-sized side never reshuffles.
    */
  private def capClusters(assigned: DataFrame, maxClusterSize: Int): DataFrame =
    if (maxClusterSize == Int.MaxValue) assigned
    else {
      val run = Telemetry.start(assigned.sparkSession, "graft_semdedup_clusters")
      val sizes = assigned.groupBy(col("cid")).agg(count(lit(1)))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      sizes.foreach { case (_, n) => run.max.add(n); run.min.add(n) }
      val over = sizes.collect { case (cid, n) if n > maxClusterSize => cid }
      run.dropped.add(over.length.toLong)
      if (over.isEmpty) assigned
      else assigned.where(!col("cid").isin(over.toIndexedSeq: _*))
    }

  /** In-cluster drop join: `candidates` (alias a) against `neighbors`
    * (alias b) under `pairCond`, keeping candidate ids whose micro-rounded
    * cosine clears `thrE6`; collapses through DISTINCT so pair fan-out
    * never reaches the keep join.
    */
  private def droppedIds(candidates: DataFrame, neighbors: DataFrame,
      idCol: String, vecCol: String, pairCond: Column, thrE6: Long): DataFrame =
    candidates.as("a").join(neighbors.as("b"), pairCond)
      .where(round((vecDot(col(s"a.$vecCol"), col(s"b.$vecCol")) /
          (col("a.__norm") * col("b.__norm"))) * lit(1e6)).cast("long") >= lit(thrE6))
      .select(col(s"a.$idCol").as(idCol))
      .distinct()

  private def withKeep(base: DataFrame, dropped: DataFrame, idCol: String): DataFrame =
    base.join(dropped.withColumn("__drop", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("cid"), col("__drop").isNull.as("keep"))

  /** Per-cluster embedding outliers: the `m` members FARTHEST from their
    * assigned centroid (lowest micro-rounded cosine), after the same
    * deterministic Lloyd fit as [[kmeansLloyd]] — the data-cleaning signal
    * for mislabeled/noise/off-distribution points, cluster-localized so a
    * dense cluster's tail is not drowned out by a diffuse one.
    *
    * Determinism: similarity is recomputed against the assigned centroid
    * and micro-rounded (same 1e-6 contract as assignment), ranks break
    * ties on id — the whole report is a pure function of the data and
    * replays in SQL on top of the kmeans oracle chain.
    *
    * Scale shape: assignment is the zero-shuffle kmeans kernel; the
    * centroid re-join is a k-row broadcast; the per-cluster bottom-m is
    * the bounded-heap [[graft.functions.TopKAgg.rank]] stage, so at most
    * m rows per (partition, cluster) cross the shuffle and no cluster is
    * sorted. Ids must be integral (they ride the heap as BIGINT).
    *
    * @return (cid, rnk 1..m, idCol, sim_e6) — rnk 1 = farthest.
    */
  def centroidOutliers(embeddings: DataFrame, vecCol: String, idCol: String,
      k: Int, iterations: Int = 1, m: Int = 5): DataFrame = {
    require(m >= 1 && m <= 10000, "m must be in [1, 10000]")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val cents = kmeansFit(embeddings, vecCol, idCol, k, iterations)
    val cdf = cents.map { case (cid, v) => (cid, v) }.toDF("cid", "__cvec")
    val idType = embeddings.schema(idCol).dataType
    val scored = kmeansAssign(embeddings, vecCol, cents)
      .join(broadcast(cdf), Seq("cid"))
      .withColumn("sim_e6",
        round(vecDot(col(vecCol), col("__cvec"))
          / (vecNorm(col(vecCol)) * vecNorm(col("__cvec"))) * lit(1e6)).cast("long"))
    // ascending sim_e6 = descending -sim_e6. A NULL vector (assigned the
    // smallest cid, NULL sim_e6) sorts first ascending; Long.MaxValue keeps
    // it first, since topk_agg would skip a NULL ord
    graft.functions.TopKAgg.rank(scored, Seq(col("cid")), m,
        coalesce(-col("sim_e6"), lit(Long.MaxValue)), col(idCol).cast("long"))
      .select(col("cid"), col("rank").as("rnk"), col("payload").cast(idType).as(idCol),
        when(col("ord") =!= Long.MaxValue, -col("ord")).as("sim_e6"))
  }

  /** The corpus-derived k for the SemDeDup family when the caller passes
    * `k <= 0`: `clamp(ceil(n / targetOccupancy), 32, 65536)` — SemDeDup's
    * own sizing contract (cluster count grows with the corpus so that
    * occupancy n/k, and with it the quadratic within-cell pair work,
    * stays bounded; the paper runs k=50k over 5B embeddings). Pure
    * integer arithmetic, so any SQL engine replays it bit-for-bit from
    * `COUNT(*)` — the [[derivedPrefixBits]] discipline. Fixed-k gates
    * measured 23.9x/decade at sf100cd (occupancy linear, pairing
    * quadratic in occupancy); with occupancy pinned at `targetOccupancy`
    * the pairing term is ~(targetOccupancy/2)·n — volume-linear.
    *
    * The two clamps are load-bearing, both measured (SCALE.md r14):
    *  - FLOOR 32: the pairing self-join is keyed on cid, so k IS its
    *    maximum parallelism — a first-cut occupancy-5000 rule gave k=4
    *    at 20k vectors and ran 5.3x SLOWER than k=32 (28 of 32 cores
    *    idle + 8x the pairs). Below the floor, extra cells cost nothing
    *    (a 32-cell fit is trivial at any n) and buy full task fan-out.
    *  - occupancy 1000, not the paper-ish 5000: a candidate PAIR (join
    *    row + dim-wide dot) is ~two orders of magnitude more expensive
    *    than one kernel cosine in the assignment map, so trading
    *    assignment cost (n·k, up 5x) for pairing cost (n·occ/2, down
    *    5x) wins until n·k rivals pairs by that ratio (~10^9 vectors).
    *  - cap 65536 keeps the driver-held centroid matrix config-bounded
    *    (the k-means collect pattern); corpora past the cap should set
    *    k per corpus (hierarchical / coarse-quantizer training).
    */
  private[graft] def derivedSemDedupK(n: Long, targetOccupancy: Long = 1000L): Int = {
    require(n >= 1, s"corpus must be non-empty, got n=$n")
    math.max(32L, math.min((n + targetOccupancy - 1) / targetOccupancy, 65536L)).toInt
  }

  private def kmeansFit(embeddings: DataFrame, vecCol: String, idCol: String,
      k0: Int, iterations: Int): Seq[(Long, Seq[Double])] = {
    require(iterations >= 0, "iterations must be >= 0")
    // k <= 0 derives the SemDeDup sizing rule from the corpus count —
    // one column-pruned count() action, paid only on the derived path
    val k = if (k0 > 0) k0 else derivedSemDedupK(embeddings.count())
    var cents: Seq[(Long, Seq[Double])] =
      embeddings.orderBy(col(idCol)).limit(k)
        .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
        .collect().toSeq.map(r => (r.getLong(0), r.getSeq[Double](1)))
    require(cents.nonEmpty, "no vectors to cluster")
    for (_ <- 1 to iterations) {
      val perDim = kmeansAssign(embeddings, vecCol, cents)
        .select(col("cid"), posexplode(col(vecCol)))
        .groupBy("cid", "pos")
        .agg(sum(round(col("col") * lit(1e6)).cast("long")).as("s_e6"),
          count(lit(1)).cast("long").as("members"))
        .collect()
      cents = perDim.groupBy(_.getLong(0)).toSeq.map { case (cid, rows) =>
        val dims = rows.sortBy(_.getInt(1)).map { r =>
          r.getLong(2).toDouble / (r.getLong(3).toDouble * 1e6)
        }
        (cid, dims.toSeq)
      }.sortBy(_._1)
    }
    cents
  }

  /** Nearest-centroid assignment: adds `cid`, the id of the centroid with
    * the greatest micro-unit-ROUNDED cosine similarity, ties to the smaller
    * id. Spark folds dot/(sqrt(a)*sqrt(b)) sequentially while DuckDB's
    * list_cosine_similarity computes dot/sqrt(a*b), so a raw-double argmax
    * could flip near-tie assignments on ULP divergence; rounding both sides
    * to 1e-6 makes the compare integer-robust (see [[NearestCentroid]]).
    * The centroid matrix rides the expression into the broadcast task
    * binary — k·dim doubles shipped once per stage, never per row — and
    * assignment stays inside whole-stage codegen (SemDeDup runs k in the
    * tens of thousands).
    */
  private[graft] def kmeansAssign(embeddings: DataFrame, vecCol: String,
      cents: Seq[(Long, Seq[Double])]): DataFrame = {
    val sorted = cents.sortBy(_._1)
    val nc = NearestCentroid(ColumnBridge.expression(col(vecCol)),
      sorted.map(_._1).toArray, sorted.map(_._2.toArray).toArray)
    embeddings.withColumn("cid", ColumnBridge.column(nc))
  }

  // --- product quantization -------------------------------------------

  /** Product-quantization codebooks: the vector space splits into `m`
    * contiguous subspaces (dim must divide evenly) and each gets a
    * `ksub`-entry codebook. Entries default to the subvectors of the
    * `ksub` LOWEST-id vectors — the same deterministic seed-quantizer
    * convention as [[seedCentroids]], so a SQL oracle rebuilds the exact
    * codebooks (entry c of subspace j = the c-th lowest id's slice j);
    * train per-subspace k-means offline and pass the result when recall
    * matters more than replayability. Driver state: m·ksub·(dim/m) =
    * ksub·dim doubles — config-bounded, the k-means collect pattern.
    *
    * @return codebooks(j)(c) = centroid c of subspace j (length dim/m)
    */
  def pqCodebooks(embeddings: DataFrame, vecCol: String, idCol: String,
      m: Int, ksub: Int): Array[Array[Array[Double]]] = {
    require(m >= 1 && ksub >= 1, "need m >= 1 and ksub >= 1")
    val rows = embeddings.orderBy(col(idCol)).limit(ksub)
      .select(expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))")).collect()
    require(rows.nonEmpty, "pqCodebooks: embeddings relation is empty")
    val vecs = rows.map(_.getSeq[Double](0).toArray)
    val dim = vecs.head.length
    require(dim % m == 0, s"dim $dim must divide evenly into m=$m subspaces")
    require(vecs.forall(_.length == dim), "ragged vectors cannot be product-quantized")
    val sub = dim / m
    Array.tabulate(m)(j => vecs.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub)))
  }

  /** Lloyd-trained PQ codebooks: the production-recall upgrade over the
    * [[pqCodebooks]] seed quantizer. Each iteration assigns every vector
    * to its nearest codebook entry per subspace with the EXACT encode
    * kernel ([[pqEncode]] — e6-rounded squared L2, ties to the smaller
    * index, zero-shuffle codegen), then recomputes each entry as the
    * mean of its members in EXACT micro-unit longs (`sum(round(x·1e6))`
    * per dimension — order-independent integer sums, the [[kmeansLloyd]]
    * discipline), reconstructed as `s_e6 / (members·1e6)`. Entries that
    * lose all members keep their previous value (no respawn),
    * deterministically. Because assignment AND update are both integer-
    * replayable, a 1-iteration training run is a pure SQL transform — the
    * q_ann_pq_trained oracle rebuilds seed codebooks, one Lloyd update,
    * re-encode and ADC ranking live in DuckDB; no golden pin needed.
    *
    * Scale shape: per iteration, ONE corpus pass — encode rides the scan
    * (no shuffle), the update is a posexplode → (subspace, code, dim)
    * groupBy whose partial aggregates are capped at m·ksub·(dim/m) =
    * ksub·dim rows per map partition, and the driver collects exactly
    * ksub·dim rows. Same collect pattern (and size) as the k-means fit.
    */
  def pqCodebooksTrained(embeddings: DataFrame, vecCol: String, idCol: String,
      m: Int, ksub: Int, iterations: Int = 1,
      seed: Option[Array[Array[Array[Double]]]] = None): Array[Array[Array[Double]]] = {
    require(iterations >= 0, "iterations must be >= 0")
    var cb = seed.getOrElse(pqCodebooks(embeddings, vecCol, idCol, m, ksub))
    val sub = cb(0)(0).length
    require(cb.forall(_.forall(_.length == sub)), "ragged codebooks")
    for (_ <- 1 to iterations) {
      // pqEncode is the GENERATOR input, so it evaluates exactly once per
      // row (a plain projection would be collapsed into the per-element
      // select and re-encode the vector once per exploded dimension —
      // measured 13x slower); the per-(row, j) slice then explodes the
      // subvector the assigned code owns
      val rows = embeddings
        .select(col(vecCol),
          posexplode(pqEncode(col(vecCol), cb)).as(Seq("__j", "__c")))
        .select(col("__j"), col("__c"), posexplode(expr(
            s"transform(slice($vecCol, __j * $sub + 1, $sub), x -> CAST(x AS DOUBLE))"))
          .as(Seq("__p", "__x")))
        .groupBy("__j", "__c", "__p")
        .agg(sum(round(col("__x") * lit(1e6)).cast("long")).as("s_e6"),
          count(lit(1)).cast("long").as("n"))
        .collect()
      val next = cb.map(_.map(_.clone()))
      rows.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
          r.getLong(3).toDouble / (r.getLong(4).toDouble * 1e6)
      }
      cb = next
    }
    cb
  }

  /** PQ code column: `ARRAY<INT>` of length m — entry j is the index of
    * the nearest (squared-L2, e6-micro-rounded, ties to the smaller
    * index) codebook entry for subvector j. Codes are the 100 TB ANN
    * memory story: m bytes-ish per vector instead of 4·dim — the
    * candidate scan reads 32 B codes, not 256 B floats.
    */
  def pqEncode(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(PqEncode(ColumnBridge.expression(vec), codebooks))

  /** Total PQ quantization distortion of a codebook over a corpus, in
    * exact e6 integer units: `Σ_rows Σ_j round_e6(‖v_sub_j −
    * cb_j[code_j(v)]‖²)` — [[PqAdcE6]] scored against the vector ITSELF
    * (the corpus is both "query" and code, so the ADC distance IS the
    * reconstruction error). This is the quantity Lloyd's update provably
    * never increases: for fixed assignments the per-entry mean minimizes
    * the summed squared distance, and re-assignment to the nearest entry
    * only lowers it further — so `distortion(trained) ≤ distortion(seed)`
    * DETERMINISTICALLY, at every corpus size and distribution. The
    * recall-lift form of the same claim is statistical and noisy at small
    * query counts (a 10-query probe has 20 000 ppm granularity — SCALE.md
    * round-12 measured lift=false flips on real fixtures from 2-hit
    * noise), which is why `q_recall_floor_pq` gates on THIS invariant and
    * reports recall as oracle-certified telemetry.
    *
    * One light corpus pass (encode + score ride the scan inside codegen,
    * single long per row into one global sum — no shuffle wider than the
    * 8-byte partials). e6-rounding slack: each (row, subspace) term is
    * exact-integer but rounds the true distance within ±0.5e-6, and the
    * e6-integer centroid means sit within 0.5e-6 per coordinate of the
    * true means, so callers comparing two codebooks should allow
    * `rows × m` e6-units of slack — any real training defect overshoots
    * that by orders of magnitude.
    */
  def pqDistortionE6(embeddings: DataFrame, vecCol: String,
      codebooks: Array[Array[Array[Double]]]): Long =
    pqDistortionsE6(embeddings, vecCol, Seq(codebooks))._1.head

  /** [[pqDistortionE6]] for SEVERAL codebooks in ONE corpus pass, plus
    * the row count (the e6-slack denominator) from the same aggregate —
    * a seed-vs-trained comparison (q_recall_floor_pq) previously paid
    * three full passes (two distortions + count) for values one
    * aggregation computes together (guide §1.2: don't re-scan for
    * columns one pass can carry).
    */
  def pqDistortionsE6(embeddings: DataFrame, vecCol: String,
      codebooksSeq: Seq[Array[Array[Array[Double]]]]): (Seq[Long], Long) = {
    require(codebooksSeq.nonEmpty, "need at least one codebook set")
    val scored = embeddings.select(codebooksSeq.zipWithIndex.map {
      case (cb, i) =>
        ColumnBridge.column(PqAdcE6(
          ColumnBridge.expression(pqEncode(col(vecCol), cb)),
          ColumnBridge.expression(col(vecCol)), cb)).as(s"__d$i")
    }: _*)
    val aggs = codebooksSeq.indices.map(i =>
        coalesce(sum(col(s"__d$i")), lit(0L)).cast("long").as(s"__s$i")) :+
      count(lit(1)).cast("long").as("__n")
    val row = scored.agg(aggs.head, aggs.tail: _*).head()
    (codebooksSeq.indices.map(row.getLong), row.getLong(codebooksSeq.size))
  }

  /** Asymmetric-distance top-k over PQ codes: candidates are scored by
    * the integer ADC distance `Σ_j round_e6(‖q_sub_j − cb_j[code_j]‖²)`
    * against the RAW query vector (asymmetric: only the corpus is
    * quantized). The scan touches ids + m-byte codes only — the raw
    * corpus vectors never load — and ranking is the bounded-heap
    * `topk_agg` (ord = −adc, ties to the smaller id), so the whole plan
    * is one light scan + one ≤k-per-group shuffle. Integer distances
    * replay exactly in SQL (the q_ann_pq oracle rebuilds codebooks,
    * codes and ADC sums from the parquet table).
    *
    * @return (query_id, rank, neighbor_id, adc_e6)
    */
  def pqTopK(embeddings: DataFrame, vecCol: String, idCol: String,
      queries: DataFrame, queryVecCol: String, queryIdCol: String,
      k: Int, m: Int = 8, ksub: Int = 16,
      codebooks: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    val cb = codebooks.getOrElse(pqCodebooks(embeddings, vecCol, idCol, m, ksub))
    val codes = embeddings.select(col(idCol), pqEncode(col(vecCol), cb).as("__codes"))
    rankTopKByAdc(
      codes.crossJoin(broadcast(queries.select(col(queryIdCol), col(queryVecCol))))
        .where(col(idCol) =!= col(queryIdCol))
        .select(col(queryIdCol), col(idCol),
          ColumnBridge.column(PqAdcE6(
            ColumnBridge.expression(col("__codes")),
            ColumnBridge.expression(col(queryVecCol)), cb)).as("__adc")),
      queryIdCol, idCol, k)
  }

  /** Recall@k of an approximate ANN result against the exact baseline:
    * per query, |approx ∩ exact| over |exact| (both at the same k), plus
    * the corpus-level rollup — the number that justifies (or vetoes) an
    * LSH/IVF/PQ configuration before it ships. Pure integer counts, so
    * the report is deterministic whenever both inputs are. Expects the
    * (query_id, neighbor_id) shape every topK here emits; extra columns
    * ignored. One co-partitioned join on (query_id, neighbor_id) + one
    * query-keyed aggregate — both sides are ≤ k·|queries| rows.
    *
    * @return one row: (queries, mean_recall_ppm, min_recall_ppm,
    *         perfect_queries)
    */
  def recallReport(approx: DataFrame, exact: DataFrame): DataFrame = {
    val a = approx.select(col("query_id"), col("neighbor_id"))
    val e = exact.select(col("query_id"), col("neighbor_id"))
    val perQuery = e
      .join(a.withColumn("__hit", lit(1)), Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).cast("long").as("__exact"),
        sum(coalesce(col("__hit"), lit(0))).cast("long").as("__hits"))
      .withColumn("__recall_ppm",
        expr("__hits * 1000000L div __exact"))
    perQuery.agg(count(lit(1)).cast("long").as("queries"),
      expr("sum(__recall_ppm) div count(1)").as("mean_recall_ppm"),
      min("__recall_ppm").as("min_recall_ppm"),
      sum(when(col("__hits") === col("__exact"), 1L).otherwise(0L))
        .cast("long").as("perfect_queries"))
  }

  /** IVF + PQ composed — the standard billion-scale ANN shape: coarse
    * cells bound WHICH candidates are scored (a query touches its
    * `nprobe` cells ≈ nprobe/nlist of the corpus, an equi-join) and PQ
    * codes bound WHAT the scoring reads (ids + m-byte codes; raw vectors
    * never load). Cell assignment is the zero-shuffle codegen argmax;
    * ranking is the bounded-heap `topk_agg`.
    *
    * `residual = false` (default, the oracle-gated q_ann_ivfpq path):
    * codebooks are GLOBAL over the raw vectors — one shared codebook
    * keeps the SQL oracle a composition of the two existing replays.
    * `residual = true`: the textbook IVFPQ encoding — each vector is
    * quantized as `v − centroid(cell)` and each probed query scores
    * against its own `q − centroid(cell)` per cell, so the codebook
    * spends its ksub entries on the (much tighter) residual distribution
    * instead of re-describing the coarse structure the cells already
    * capture. Recall recovers at the SAME scan cost (ids + m-byte codes;
    * one extra broadcast of the nlist centroid vectors into the encode
    * and probe projections) — measured in SCALE.md via [[recallReport]]:
    * +42% over global codebooks with kmeans cells + trained residual
    * codebooks. CAVEAT (measured): residual encoding under JUNK cells
    * (the seed-centroid default) is actively harmful — the residual
    * distribution is then as wide as the data itself — so pair
    * `residual = true` with [[kmeansCentroids]] and train codebooks on
    * the residual frame ([[ivfPqResiduals]] + [[pqCodebooksTrained]]).
    *
    * @return (query_id, rank, neighbor_id, adc_e6)
    */
  def ivfPqTopK(embeddings: DataFrame, vecCol: String, idCol: String,
      queries: DataFrame, queryVecCol: String, queryIdCol: String,
      k: Int, nlist: Int = 16, nprobe: Int = 4, m: Int = 8, ksub: Int = 16,
      centroids: Option[DataFrame] = None,
      codebooks: Option[Array[Array[Array[Double]]]] = None,
      residual: Boolean = false): DataFrame = {
    val cents = centroids.getOrElse(seedCentroids(embeddings, vecCol, idCol, nlist))
      .select(col("cid"), col("cvec"))
    val (codes, probes, cb) =
      if (!residual) {
        val cbG = codebooks.getOrElse(pqCodebooks(embeddings, vecCol, idCol, m, ksub))
        (assignCells(embeddings, idCol, vecCol, cents, 1)
            .select(col("cid"), col(idCol), pqEncode(col(vecCol), cbG).as("__codes")),
          assignCells(queries, queryIdCol, queryVecCol, cents, nprobe)
            .select(col("cid"), col(queryIdCol), col(queryVecCol).as("__qv")),
          cbG)
      } else {
        val res = ivfPqResiduals(embeddings, vecCol, idCol, cents)
        val cbR = codebooks.getOrElse(pqCodebooks(res, "__rv", idCol, m, ksub))
        val centsD = cents.select(col("cid"),
          expr("transform(cvec, x -> CAST(x AS DOUBLE))").as("__cv"))
        (res.select(col("cid"), col(idCol), pqEncode(col("__rv"), cbR).as("__codes")),
          assignCells(queries, queryIdCol, queryVecCol, cents, nprobe)
            .join(broadcast(centsD), "cid")
            .select(col("cid"), col(queryIdCol),
              zip_with(col(queryVecCol), col("__cv"),
                (a, b) => a.cast("double") - b).as("__qv")),
          cbR)
      }
    rankTopKByAdc(
      codes.join(broadcast(probes), "cid")
        .where(col(idCol) =!= col(queryIdCol))
        .select(col(queryIdCol), col(idCol),
          ColumnBridge.column(PqAdcE6(
            ColumnBridge.expression(col("__codes")),
            ColumnBridge.expression(col("__qv")), cb)).as("__adc")),
      queryIdCol, idCol, k)
  }

  /** The residual frame residual-IVFPQ encodes: each vector minus its
    * cell's coarse centroid — `(cid, idCol, __rv ARRAY<DOUBLE>)`. Exposed
    * so trained residual codebooks compose:
    * `pqCodebooksTrained(ivfPqResiduals(...), "__rv", id, m, ksub)` →
    * `ivfPqTopK(..., residual = true, codebooks = Some(cb))`.
    * Assignment is the zero-shuffle codegen argmax; the subtraction adds
    * one broadcast of the nlist centroid vectors to the scan projection.
    */
  def ivfPqResiduals(embeddings: DataFrame, vecCol: String, idCol: String,
      centroids: DataFrame): DataFrame = {
    val centsD = centroids.select(col("cid"),
      expr("transform(cvec, x -> CAST(x AS DOUBLE))").as("__cv"))
    assignCells(embeddings, idCol, vecCol, centroids, 1)
      .join(broadcast(centsD), "cid")
      .select(col("cid"), col(idCol),
        zip_with(col(vecCol), col("__cv"), (a, b) => a.cast("double") - b).as("__rv"))
  }
}

/** Shared PQ arithmetic: the per-subspace squared-L2 distance is a
  * SEQUENTIAL fold `acc += (v_d − c_d)²` then Spark's HALF_UP
  * `round(x·1e6)` with NaN/Inf passthrough — the [[NearestCentroid]]
  * rounding discipline, so a SQL engine replays every distance integer
  * (DuckDB: `list_reduce(list_prepend(0.0, diffs), +)` + `round`).
  */
private[operators] object PqMath {
  def roundE6(x0: Double): Long = {
    val x = x0 * 1e6
    if (x.isNaN || x.isInfinite) x.toLong
    else java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
  }

  /** e6-rounded squared L2 between `v[off, off+len)` and `c[0, len)`. */
  def subDistE6(v: Array[Double], off: Int, c: Array[Double]): Long = {
    var acc = 0.0
    var d = 0
    while (d < c.length) {
      val diff = v(off + d) - c(d)
      acc += diff * diff
      d += 1
    }
    roundE6(acc)
  }

  def toDoubles(arr: ArrayData, isFloat: Boolean, n: Int): Array[Double] = {
    val v = new Array[Double](n)
    var i = 0
    while (i < n) {
      v(i) = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      i += 1
    }
    v
  }
}

/** Nearest-centroid assignment against a driver-built centroid matrix —
  * the assignment step of spherical k-means / SemDeDup. Bit-replicates the
  * SQL argmax `greatest(struct(round(sim*1e6), -cid), ...)`: sequential
  * vec_dot/vec_norm folds, Spark's HALF_UP `round(sim*1e6)` with NaN/Inf
  * passthrough, the JVM double→long cast, and ties broken to the SMALLEST
  * cid (spec-asserted against that SQL form on near-tie fixtures).
  *
  * That fidelity includes degenerate inputs: a NULL vector or NULL
  * element nulls every similarity in the SQL form, whose
  * greatest-of-structs then tie-breaks all (null, -cid) structs to the
  * smallest cid — a NON-null assignment (and DuckDB's `ORDER BY sim
  * DESC NULLS LAST, cid` replay agrees). This expression therefore
  * returns `cids(0)` for null input/elements and is total
  * (nullable=false). `cids` must be ascending — both the tie policy and
  * the null policy depend on it.
  *
  * `doGenCode` is a reference-object call so assignment stays inside
  * whole-stage codegen; the matrix serializes with the expression into
  * the per-stage task binary (k·dim doubles, shipped once, never per
  * row).
  */
case class NearestCentroid(child: Expression, cids: Array[Long],
    centroids: Array[Array[Double]], exact: Boolean = false)
  extends UnaryExpression {

  require(cids.nonEmpty && cids.length == centroids.length,
    "need one cid per centroid, at least one")
  require((1 until cids.length).forall(i => cids(i - 1) < cids(i)),
    "cids must be strictly ascending (tie policy: smallest cid wins)")

  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid requires ARRAY<FLOAT> or ARRAY<DOUBLE>, got ${other.sql}")
  }

  @transient private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  // centroid norms: same sequential sum-of-squares fold as vec_norm
  @transient private lazy val norms: Array[Double] = centroids.map { cv =>
    var acc = 0.0
    var i = 0
    while (i < cv.length) { acc += cv(i) * cv(i); i += 1 }
    math.sqrt(acc)
  }

  // per-thread sim scratch (k doubles): expression instances are
  // per-task in practice, but local mode gives no hard guarantee —
  // ThreadLocal keeps the buffer race-free either way
  @transient private lazy val simBuf = new ThreadLocal[Array[Double]] {
    override def initialValue(): Array[Double] = new Array[Double](cids.length)
  }

  /** Public entry shared by interpreted eval and generated code. A null
    * element short-circuits to the smallest cid — the SQL form's
    * all-sims-null tie-break (see class doc).
    *
    * Two passes over the centroids: raw similarities first (pure
    * multiply-adds), then the exact micro-rounded argmax over ONLY the
    * centroids within 2e-6 of the raw maximum. HALF_UP e6-rounding is
    * monotone with r(x) in [x-0.5, x+0.5] micro-units, so a sim more
    * than 1e-6 below the max STRICTLY under-rounds it and can neither
    * win nor tie — the 2e-6 screen is a safe superset (NaN maxima
    * disable the screen: every comparison with NaN is false, so all
    * candidates reach the exact path). This removes the per-centroid
    * BigDecimal round that dominated derived-k assignment (k·n calls —
    * 4e9 at sf100cd, measured r14) without changing one assignment:
    * the rounding applied to surviving candidates is bit-identical.
    */
  def assign(arr: ArrayData): Long = {
    val n = arr.numElements()
    val v = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return cids(0)
      v(i) = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      i += 1
    }
    var vn = 0.0
    i = 0
    while (i < n) { vn += v(i) * v(i); i += 1 }
    val vnorm = math.sqrt(vn)
    if (exact) {
      // raw-double argmax under Spark's sort total order (Double.compare:
      // NaN greatest, -0.0 < 0.0), ties to the smallest cid — replicates
      // `row_number() OVER (ORDER BY sim DESC, cid) = 1` bit for bit
      var bestSim = 0.0
      var bestCid = 0L
      var first = true
      var c = 0
      while (c < cids.length) {
        val cv = centroids(c)
        val len = math.min(n, cv.length) // == vec_dot's min-length contract
        var dot = 0.0
        var j = 0
        while (j < len) { dot += v(j) * cv(j); j += 1 }
        val sim = dot / (vnorm * norms(c))
        if (first || java.lang.Double.compare(sim, bestSim) > 0) {
          bestSim = sim; bestCid = cids(c); first = false
        }
        c += 1
      }
      return bestCid
    }
    // pass 1: raw sims + raw max (plain >, so a NaN max only arises when
    // every sim is NaN — either way the screen below then keeps all)
    val sims = simBuf.get()
    var rawMax = Double.NegativeInfinity
    var c = 0
    while (c < cids.length) {
      val cv = centroids(c)
      val len = math.min(n, cv.length) // == vec_dot's min-length contract
      var dot = 0.0
      var j = 0
      while (j < len) { dot += v(j) * cv(j); j += 1 }
      val sim = dot / (vnorm * norms(c))
      sims(c) = sim
      if (sim > rawMax) rawMax = sim
      c += 1
    }
    val cut = rawMax - 2e-6
    var bestE6 = 0L
    var bestCid = 0L
    var first = true
    c = 0
    while (c < cids.length) {
      val sim = sims(c)
      // NaN sims always enter (NaN < cut is false): exact-path parity
      if (!(sim < cut)) {
        val x = sim * 1e6
        // Spark Round(double): NaN/Inf pass through, else shortest-decimal
        // BigDecimal HALF_UP; the long cast is the JVM d2l (NaN→0,
        // Inf→Long.Max) — identical to cast(round(sim*1e6) as long)
        val simE6 =
          if (x.isNaN || x.isInfinite) x.toLong
          else java.math.BigDecimal.valueOf(x)
            .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
        if (first || simE6 > bestE6) { bestE6 = simE6; bestCid = cids(c); first = false }
      }
      c += 1
    }
    bestCid
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) cids(0) else assign(v.asInstanceOf[ArrayData])
  }

  // Hand-written: generated code reaches this expression's centroids by reference.
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val childGen = child.genCode(ctx)
    val ref = ctx.addReferenceObj("nearestCentroid", this, classOf[NearestCentroid].getName)
    ev.copy(code = childGen.code + code"""
      final long ${ev.value} =
        ${childGen.isNull} ? ${cids(0)}L : $ref.assign(${childGen.value});
    """, isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override def prettyName: String = "nearest_centroid"
  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

/** Random-hyperplane signature: bit j of the result is the sign of
  * dot(vec, plane_j), planes drawn deterministically from splitmix64(seed)
  * with components uniform in [-1, 1). One fused pass over the vector.
  *
  * Implements `doGenCode` (a reference-object call into [[signatureOf]]) so
  * embedding-projection stages stay inside whole-stage codegen — a
  * CodegenFallback here would eject the operator and materialize every
  * embedding row at the stage boundary.
  */
case class HyperplaneSignature(child: Expression, numBits: Int, seed: Long)
  extends UnaryExpression {

  require(numBits > 0 && numBits <= 64, "numBits must be in (0, 64]")

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_signature requires ARRAY<FLOAT> or ARRAY<DOUBLE>, got ${other.sql}")
  }

  @transient private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  // planes(j)(i): lazily sized to the first vector's length, deterministic
  // in (seed, numBits). @volatile publishes the fully-built arrays to any
  // task thread sharing this instance (benign duplicate rebuild otherwise).
  @transient @volatile private var planes: Array[Array[Double]] = _

  private def planesFor(dim: Int): Array[Array[Double]] = {
    var ps = planes
    if (ps == null || ps(0).length != dim) {
      val rng = new Hashing.SplitMix64(seed)
      ps = Array.fill(numBits) {
        Array.fill(dim)((rng.next() >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0)
      }
      planes = ps
    }
    ps
  }

  /** Public entry shared by interpreted eval and generated code. */
  def signatureOf(arr: ArrayData): Long = {
    val dim = arr.numElements()
    val ps = planesFor(dim)
    var sig = 0L
    var j = 0
    while (j < numBits) {
      val p = ps(j)
      var dot = 0.0
      var i = 0
      while (i < dim) {
        val v = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        dot += v * p(i)
        i += 1
      }
      if (dot > 0) sig |= 1L << (63 - j)
      j += 1
    }
    sig
  }

  override protected def nullSafeEval(input: Any): Any =
    signatureOf(input.asInstanceOf[ArrayData])

  // Hand-written: generated code reaches this expression's hyperplanes by reference.
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("hyperplaneSig", this, classOf[HyperplaneSignature].getName)
    defineCodeGen(ctx, ev, v => s"$ref.signatureOf($v)")
  }

  override def prettyName: String = "hyperplane_signature"
  override protected def withNewChildInternal(newChild: Expression): HyperplaneSignature =
    copy(child = newChild)
}

/** PQ encoder: ARRAY<FLOAT|DOUBLE> -> ARRAY<INT> of per-subspace nearest
  * codebook indices (e6-micro-rounded squared L2, ties to the smaller
  * index — [[PqMath]]). The codebook matrix rides the expression into the
  * per-stage task binary (ksub·dim doubles, shipped once, never per row)
  * and `doGenCode` is a reference-object call so encoding stays inside
  * whole-stage codegen — the [[NearestCentroid]] pattern per subspace.
  */
case class PqEncode(child: Expression, codebooks: Array[Array[Array[Double]]])
  extends UnaryExpression {

  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty), "empty codebooks")

  private val m = codebooks.length
  private val sub = codebooks(0)(0).length
  private val dim = m * sub

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_encode requires ARRAY<FLOAT> or ARRAY<DOUBLE>, got ${other.sql}")
  }

  @transient private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** Public entry shared by interpreted eval and generated code. */
  def encode(arr: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    require(arr.numElements() == dim,
      s"pq_encode: vector length ${arr.numElements()} != codebook dim $dim")
    val v = PqMath.toDoubles(arr, isFloat, dim)
    val codes = new Array[Any](m)
    var j = 0
    while (j < m) {
      val cbj = codebooks(j)
      var best = 0L
      var bestC = 0
      var first = true
      var c = 0
      while (c < cbj.length) {
        val d = PqMath.subDistE6(v, j * sub, cbj(c))
        if (first || d < best) { best = d; bestC = c; first = false }
        c += 1
      }
      codes(j) = bestC
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }

  override protected def nullSafeEval(input: Any): Any =
    encode(input.asInstanceOf[ArrayData])

  // Hand-written: generated code reaches this expression's codebooks by reference.
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("pqEncode", this, classOf[PqEncode].getName)
    defineCodeGen(ctx, ev, v => s"$ref.encode($v)")
  }

  override def prettyName: String = "pq_encode"
  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** Integer ADC distance: (codes ARRAY<INT>, query ARRAY<FLOAT|DOUBLE>) ->
  * BIGINT `Σ_j round_e6(‖q_sub_j − cb_j[code_j]‖²)`. Summing the
  * PER-SUBSPACE e6-rounded integers (not rounding the double total)
  * keeps the score an exact integer any engine reproduces.
  */
case class PqAdcE6(left: Expression, right: Expression,
    codebooks: Array[Array[Array[Double]]])
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty), "empty codebooks")

  private val m = codebooks.length
  private val sub = codebooks(0)(0).length
  private val dim = m * sub

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(FloatType, _) | ArrayType(DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"pq_adc_e6 requires (ARRAY<INT> codes, ARRAY<FLOAT|DOUBLE> query), got (${l.sql}, ${r.sql})")
  }

  @transient private lazy val isFloat = right.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** Public entry shared by interpreted eval and generated code. */
  def adc(codesArr: ArrayData, qArr: ArrayData): Long = {
    require(codesArr.numElements() == m, s"pq_adc_e6: ${codesArr.numElements()} codes != m=$m")
    require(qArr.numElements() == dim,
      s"pq_adc_e6: query length ${qArr.numElements()} != codebook dim $dim")
    val q = PqMath.toDoubles(qArr, isFloat, dim)
    var total = 0L
    var j = 0
    while (j < m) {
      val c = codesArr.getInt(j)
      require(c >= 0 && c < codebooks(j).length,
        s"pq_adc_e6: code $c out of range for subspace $j (ksub=${codebooks(j).length}) — codes from a different codebook?")
      total += PqMath.subDistE6(q, j * sub, codebooks(j)(c))
      j += 1
    }
    total
  }

  override protected def nullSafeEval(l: Any, r: Any): Any =
    adc(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  // Hand-written: generated code reaches this expression's codebooks by reference.
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("pqAdc", this, classOf[PqAdcE6].getName)
    defineCodeGen(ctx, ev, (c, q) => s"$ref.adc($c, $q)")
  }

  override def prettyName: String = "pq_adc_e6"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdcE6 =
    copy(left = l, right = r)
}
