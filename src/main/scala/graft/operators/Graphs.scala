package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative link-graph analytics (PageRank power iteration, uniform and
  * personalized/seeded teleport).
  *
  * Web-corpus curation ranks hosts/documents by link centrality before
  * sampling (Common-Crawl-style pipelines weight pages by harmonic or
  * PageRank centrality); personalized PageRank ranks nodes by proximity
  * to a SEED set (topic-focused crawling, "more like these" expansion of
  * a curated allowlist). The reference engine has no graph surface —
  * this is a brief-mandated pipeline operator expressed Spark-first:
  * each power-iteration step is one equi-join (edge src → current rank)
  * plus one destination-keyed partial aggregate, i.e. the same shuffle
  * shape as a Pregel superstep, with Catalyst free to map-side-combine
  * the contribution sums.
  *
  * All arithmetic is 64-bit integer (ranks in parts-per-billion,
  * truncating division), so a run is a pure function of the edge set:
  * the DuckDB oracle replays every iteration exactly, and re-running on
  * different partitionings is bit-identical (sums of longs commute).
  *
  * Scale shape (100 TB): the edge table is the big relation; its
  * distinct+degree pass is materialized ONCE (localCheckpoint — swap for
  * reliable checkpoint() in fault-tolerant production runs) and each of
  * the `iterations` supersteps joins it against the 16 B/node rank
  * table, which is the only thing that reshuffles per step. Supersteps
  * are materialized with their lineage cut every SECOND iteration:
  * persist() alone leaves the logical plan growing one join+agg level
  * per iteration, so analyzer/optimizer/AQE driver time grows with the
  * iteration count (measured: step 5 was 3× step 1) — GraphX
  * checkpoints supersteps for the same reason — while cutting EVERY
  * step pays a per-job floor that dominates at bench scale. The
  * interval is 2 (−23%/−40% pagerank/ppr at sf1cd vs 1); round 15
  * A/B'd 4 twice and it LOST (a longer uncut chain serializes more AQE
  * stages inside one job than the job floors it saves: pagerank
  * 3.3/4.0 s at 2 vs 4.4/5.9 s at 4), but kept the cut-history release
  * queue that makes intervals > 2 SAFE to try (the old release rule
  * dropped checkpoint blocks still referenced by lazy uncut chains);
  * the 8 GB sf10cd stress probe still completes by spilling — SCALE.md
  * round-12 session-4. Dangling mass
  * (nodes with no out-edges) is dropped,
  * the classic simplification; feed an undirected graph
  * (`prepareGraph(undirected = true)` emits each edge both ways) when mass
  * conservation matters.
  */
object Graphs {

  /** One power-iteration run's convergence telemetry (see
    * [[pageRank]]'s `onConvergence`): `finalDeltaPpb` is the L1
    * distance Σ|rank_n − rank_{n−1}| in ppb — the raise-`iterations`
    * signal (a converged run changes a few ppb per node; a run stopped
    * early still moves percent-level mass).
    */
  final case class PageRankStats(iterations: Int, nodes: Long,
      finalDeltaPpb: Long)

  /** Degree distribution of a [[PreparedGraph]]: one row per distinct
    * out-degree with the number of nodes holding it — the first thing to
    * look at before running anything iterative (hubs, skew, disconnected
    * dust). The adjacency relation already carries each node's out-degree,
    * so the histogram is one distinct over the checkpointed edges plus one
    * tiny aggregate; an `undirected` graph counts both endpoints of each
    * input edge.
    *
    * @return DataFrame(degree BIGINT, nodes BIGINT)
    */
  def degreeDistribution(g: PreparedGraph): DataFrame =
    g.eDeg.select(col("src").as("node"), col("deg").as("degree")).distinct()
      .groupBy("degree")
      .agg(count(lit(1)).cast("long").as("nodes"))

  /** Co-occurrence edge construction: items sharing a group become an
    * edge weighted by how many groups contain both — the standard way a
    * pipeline DERIVES a graph (co-purchase, co-citation, token
    * co-occurrence) before running [[pageRank]]/[[degreeDistribution]]
    * on it. Emits each unordered pair once (`src < dst`).
    *
    * Scale shape: ONE group-keyed distinct + collect_set, per-group pair
    * emission row-locally (quadratic ONLY within a group —
    * `maxGroupSize` fail-softs the hub groups that would otherwise
    * produce size² pairs, the same cap discipline as the LSH buckets),
    * then a pair-keyed partial-agg count. Exchanges carry (group, item)
    * and (pair, count) rows only.
    */
  def coOccurrenceEdges(df: DataFrame, groupCol: String, itemCol: String,
      maxGroupSize: Int = 10000, minWeight: Long = 1L): DataFrame = {
    require(maxGroupSize >= 2, "maxGroupSize must be >= 2")
    require(minWeight >= 1, "minWeight must be >= 1")
    // the pre-distinct looks redundant (collect_set dedups too) and costs
    // a second exchange, but it EARNS it: measured round 9 on the
    // q_copurchase fixture, dropping it was 5.35 s vs 5.01 s at sf1
    // (min-of-4 warm; wash at sf0.1) — the hash-distinct thins duplicate
    // (group, item) rows with cheap codegen'd partials BEFORE they hit
    // collect_set's heavier ObjectHashAggregate set-building, which
    // otherwise re-dedups every copy inside per-group sets on both the
    // map and merge sides
    val grouped = df
      .select(col(groupCol).as("__g"), col(itemCol).cast("long").as("__i"))
      .distinct()
      .groupBy("__g")
      .agg(collect_set(col("__i")).as("__items"))
      .where(size(col("__items")).between(2, maxGroupSize))
      .select(array_sort(col("__items")).as("__items"))
    grouped
      // streaming pair emission (see Dedup.exactJaccardPairs): two
      // pipelined generators never hold the k^2/2 pair array per row
      .select(col("__items"), posexplode(col("__items")).as(Seq("__pos", "src")))
      .select(col("src"), explode(expr("slice(__items, __pos + 2, size(__items))")).as("dst"))
      .groupBy("src", "dst")
      .agg(count(lit(1)).cast("long").as("weight"))
      .where(col("weight") >= minWeight)
  }

  /** A graph PREPARED for iterative analytics: the simple (deduplicated)
    * edge relation with each edge's source out-degree, materialized once
    * (DISK_ONLY localCheckpoint — see [[prepareGraph]]). Derive it once
    * per graph and run [[pageRank]], [[personalizedPageRank]] and
    * [[degreeDistribution]] against it: the distinct+degree pass is the
    * one data-sized job in the whole family, paid once per graph however
    * many analyses run over it.
    *
    * `eDeg` schema: (src BIGINT, dst BIGINT, deg BIGINT); `nodes` is the
    * checkpointed node set (src ∪ dst — sinks included), so per-analysis
    * teleport bases start from a materialized node-sized relation instead
    * of re-running the edge-sized distinct. `undirected` is provenance
    * metadata (how eDeg was derived), not consulted by the analyses —
    * callers gating on mass-conservation assumptions can check it.
    */
  final case class PreparedGraph private[operators] (eDeg: DataFrame,
      nodes: DataFrame, undirected: Boolean, reliable: Boolean = false) {

    /** Release the checkpointed blocks NOW (the ContextCleaner would
      * otherwise wait for a driver GC to notice the RDDs are
      * unreferenced — a long-lived session rebuilding graphs can
      * accumulate edge-table copies in spark.local.dir meanwhile). For a
      * `reliable` graph this deletes the checkpoint FILES instead (the
      * cleaner never touches them unless
      * `spark.cleaner.referenceTracking.cleanCheckpoints` is on). The
      * PreparedGraph is unusable afterwards: checkpoints have no lineage
      * to recompute from.
      */
    def unpersist(): Unit = {
      Seq(eDeg, nodes).foreach(Graphs.unpersistCheckpointed)
      if (reliable) Graphs.liveReliableGraphs.remove(this): Unit
    }
  }

  /** Reliable [[PreparedGraph]]s not yet unpersisted (identity-keyed —
    * DataFrames don't define value equality, and two graphs over equal
    * frames are still two independent lifecycles). While one is live the
    * context checkpoint dir must stay under its parent; once all are
    * released, [[prepareGraph]] may move the dir (see its Scaladoc).
    */
  private val liveReliableGraphs =
    java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[PreparedGraph, java.lang.Boolean]())

  /** Drop a checkpointed frame's RDD blocks — Dataset.unpersist only
    * consults the CacheManager (persist()/cache() entries), so it is a
    * no-op for localCheckpoint's RDD-level persistence. Root-only match:
    * a derived plan CONTAINS its base's LogicalRDD, and unpersisting that
    * would free blocks still in use. Reliably-checkpointed frames hold
    * files, not blocks — those are deleted (the superstep loop would
    * otherwise leave one stale rank-table directory per cut under the
    * checkpoint dir until application end).
    */
  private[operators] def unpersistCheckpointed(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false)
        lr.rdd.getCheckpointFile.foreach { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
            .delete(p, true): Unit
        }
      case _ => ()
    }

  /** A [[PreparedGraph]] over already-persisted relations (the
    * [[graft.sources.GraphIndex]] load path). Unpinned, the parquet files
    * are the lineage cut — no checkpoint is taken and `unpersist()`
    * no-ops (root plans are relations, not LogicalRDDs). Pinned, the
    * relations are re-materialized as local blocks (DISK_ONLY edges,
    * default-level nodes — the prepareGraph layout) for superstep loops.
    */
  private[graft] def fromPersisted(eDeg: DataFrame, nodes: DataFrame,
      undirected: Boolean, pin: Boolean = false): PreparedGraph =
    if (pin) PreparedGraph(
      // re-establish the prepare-time clustering before pinning: a parquet
      // scan advertises NO partitioning, so blocks cut straight off the
      // read would make every superstep re-exchange the full edge table
      // per iteration (measured 2.7x on q_ppr at sf1cd) — whereas a
      // checkpoint of repartition(src) is a LogicalRDD that KEEPS
      // HashPartitioning(src), and the per-iteration rank join plans
      // exchange-free on the edge side, same as the in-memory prepare
      // ...and the src SORT alongside it: the in-memory prepare's edge
      // table is a sort-merge-join output, so its checkpoint also
      // advertises src ordering and the per-iteration rank joins skip
      // the edge-side sort — without it every superstep re-sorts the
      // full edge table (the residual 2x on q_ppr after the partition fix)
      cutLineage(eDeg.repartition(col("src")).sortWithinPartitions(col("src")),
        reliable = false, org.apache.spark.storage.StorageLevel.DISK_ONLY),
      cutLineage(nodes.repartition(col("node")), reliable = false),
      undirected)
    else PreparedGraph(eDeg, nodes, undirected)

  /** Cut lineage: reliable `checkpoint()` (files under the context's
    * checkpoint dir — survives executor loss) when `reliable`, else
    * `localCheckpoint` at `level` (executor-local blocks — cheapest, but
    * one lost executor invalidates the frame mid-loop).
    */
  private def cutLineage(df: DataFrame, reliable: Boolean,
      level: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame =
    if (reliable) df.checkpoint() else df.localCheckpoint(true, level)

  /** Build a [[PreparedGraph]]: collapse multi-edges to the simple graph
    * (PageRank and the degree histogram are defined on it; the oracles
    * replay DISTINCT edges), attach each source's out-degree, and
    * materialize the result once.
    *
    * Dedup and out-degree share ONE src-keyed exchange + sort (round 15):
    * a `row_number` window over (src, dst) collapses multi-edges and a
    * `count` window over src attaches the degree, both riding the same
    * partitioning — see the inline comment at the derivation below. The
    * checkpointed relation stays clustered on `src` for the superstep
    * joins.
    *
    * DISK_ONLY: the edge table is the one data-sized checkpoint in the
    * superstep loop (the rank/base tables are 16 B/node). MEMORY_AND_DISK
    * held its blocks inside the PROTECTED storage pool (storageFraction),
    * and at sf10cd under an 8 GB driver the superstep hash aggregations
    * then died with AGGREGATE_OUT_OF_MEMORY — execution could not evict
    * below the protected floor. Disk-backed edge blocks cost one re-read
    * per superstep join and free the whole unified pool for the
    * aggregation (measured: 8 GB/32-thread sf10cd run fails before,
    * passes after; SCALE.md round-12).
    *
    * `checkpointDir` switches the graph — and every superstep lineage cut
    * the analyses make over it — to RELIABLE checkpointing
    * (`sparkContext.setCheckpointDir` + `Dataset.checkpoint()`): blocks
    * become files under the dir, so a lost executor costs a file re-read
    * instead of invalidating the adjacency mid-iteration. Use it on real
    * clusters under executor-loss-prone dynamic allocation; local/static
    * deployments keep the cheaper executor-local blocks (None). Same
    * memory shape as DISK_ONLY — nothing sits in the storage pool the
    * superstep aggregations need (the round-12 8 GB lesson), re-verified
    * under the constrained probe (SCALE.md round-13). The caller owns the
    * directory's lifecycle: stale superstep cuts are deleted eagerly as
    * the loop advances and [[PreparedGraph.unpersist]] deletes the graph's
    * own files, but the dir itself (and the files of any result frame
    * still held) remains until the caller removes it.
    *
    * The context checkpoint dir is a GLOBAL: `setCheckpointDir` affects
    * every `Dataset.checkpoint` in the SparkContext. Spark isolates each
    * call under a fresh per-context UUID subdir, and our deletions only
    * ever remove files the owning RDD reports (`getCheckpointFile`), so
    * interleaved reliable graphs sharing ONE parent dir are safe — but a
    * second prepare requesting a DIFFERENT parent would silently redirect
    * the first graph's still-running superstep cuts into a dir its caller
    * never agreed to (and may delete wholesale). Guarded: if the context
    * already has a checkpoint dir, it must sit under the requested parent
    * or this call throws.
    */
  def prepareGraph(edges: DataFrame, srcCol: String, dstCol: String,
      undirected: Boolean = false,
      checkpointDir: Option[String] = None): PreparedGraph = {
    val reliable = checkpointDir.isDefined
    checkpointDir.foreach { dir =>
      val sc = edges.sparkSession.sparkContext
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(sc.hadoopConfiguration)
      val requested = fs.makeQualified(new org.apache.hadoop.fs.Path(dir))
      // the shared-parent requirement applies only WHILE a reliable graph
      // is outstanding: once every earlier one is unpersisted there are no
      // in-flight checkpoints to redirect, and pinning the context to its
      // first parent dir forever would hard-fail sequential different-dir
      // use that is perfectly safe (setCheckpointDir is re-issuable)
      sc.getCheckpointDir.foreach { cur =>
        val curParent = new org.apache.hadoop.fs.Path(cur).getParent
        require(fs.makeQualified(curParent) == requested ||
            liveReliableGraphs.isEmpty,
          s"prepareGraph(checkpointDir=$dir): the SparkContext checkpoint dir " +
            s"is global and already set under $curParent with a reliable " +
            "graph still live; concurrent reliable graphs (and any other " +
            "Dataset.checkpoint user) must share one parent dir, else this " +
            "call would redirect their in-flight checkpoints into a " +
            "directory another caller owns and may delete — unpersist() the " +
            "earlier graphs first")
      }
      sc.setCheckpointDir(dir)
    }
    val directed = edges.select(
      col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
    val e0 = if (undirected) directed.union(directed.select(col("dst").as("src"), col("src").as("dst")))
             else directed
    // ONE full-data exchange + ONE sort (the GraphIndex.build derivation,
    // round 15): hash-partition by src once, sort within partitions by
    // (src, dst) once, and ride that single pass for BOTH the simple-graph
    // dedup (row_number over (src, dst) — src-only partitioning already
    // co-locates equal pairs) and the out-degree (src-partition count
    // window whose required ordering is a prefix of the dedup's). The
    // former distinct -> groupBy -> join form paid an (src, dst) exchange
    // plus an src exchange of the deduped relation plus two sorts (A/B at
    // 117M mirrored edges: 14.3 s vs 20.6 s, identical output —
    // SCALE.md round-15). Bonus for superstep loops:
    // the checkpoint below then advertises HashPartitioning(src) + (src,
    // dst) ordering, so per-iteration rank joins plan exchange-free and
    // sort-free on the edge side with no separate re-clustering pass.
    val w = org.apache.spark.sql.expressions.Window
    val eDeg = cutLineage(
      e0.repartition(col("src"))
        .withColumn("__rn", row_number().over(
          w.partitionBy(col("src"), col("dst")).orderBy(col("src"))))
        .where(col("__rn") === 1).drop("__rn")
        .withColumn("deg",
          count(lit(1)).over(w.partitionBy(col("src"))).cast("long")),
      reliable, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    // node set checkpointed too (16 B/node): every analysis's teleport
    // base starts here, and without the cut each pageRank/ppr call would
    // re-run this edge-sized distinct — paid once per graph instead
    val nodes = cutLineage(
      eDeg.select(col("src").as("node"))
        .union(eDeg.select(col("dst").as("node")))
        .distinct(), reliable)
    val g = PreparedGraph(eDeg, nodes, undirected, reliable)
    if (reliable) liveReliableGraphs.add(g): Unit
    g
  }

  /** PageRank over a [[PreparedGraph]] (node ids BIGINT).
    *
    * rank_0(v)   = tele(v)
    * rank_i+1(v) = ((10^6 - dampingPpm) * tele(v)) div 10^6
    *             + (dampingPpm * Σ_{(u,v)∈E} (rank_i(u) div outdeg(u))) div 10^6
    *
    * with uniform teleport tele(v) = 10^9 div n, truncating integer
    * division throughout, n = |nodes|. Every intermediate fits
    * comfortably in a long (ranks ≤ 10^9; contributions are divided by
    * out-degree before the damped sum, which stays ≪ 2^63).
    *
    * @param onConvergence receives the run's [[PageRankStats]] before the
    *        call returns. Given a callback, a run without a tolerance pays
    *        one extra bounded node-keyed join for the final step's delta;
    *        `None` pays nothing.
    * @param tolerancePpb > 0 enables convergence-driven early stop: quit
    *        when the L1 step delta Σ|rank_i − rank_{i−1}| falls to the
    *        tolerance (one extra bounded node-keyed join per step;
    *        `iterations` becomes the cap). A converged run is IDENTICAL
    *        to letting the remaining fixed iterations run only when the
    *        tolerance is tight enough that further steps are no-ops —
    *        gates pin iteration counts and leave this 0 (off).
    * @return DataFrame(node BIGINT, rank_ppb BIGINT)
    */
  def pageRank(g: PreparedGraph, iterations: Int, dampingPpm: Long = 850000L,
      onConvergence: Option[PageRankStats => Unit] = None,
      tolerancePpb: Long = 0L): DataFrame =
    runPrepared(g, iterations, dampingPpm, None, onConvergence, tolerancePpb)

  /** Personalized (seeded) PageRank: the teleport mass lands ONLY on the
    * seed nodes — `tele(v) = 10^9 div |seeds|` for seeds, 0 otherwise —
    * so ranks measure random-walk proximity to the seed set ("more like
    * these" corpus expansion, topic-focused host weighting). Seeds not
    * present in the graph are ignored (they have no walk to
    * personalize). Same integer contract as [[pageRank]].
    */
  def personalizedPageRank(g: PreparedGraph, seeds: DataFrame,
      seedCol: String, iterations: Int, dampingPpm: Long = 850000L,
      onConvergence: Option[PageRankStats => Unit] = None,
      tolerancePpb: Long = 0L): DataFrame =
    runPrepared(g, iterations, dampingPpm,
      Some(seeds.select(col(seedCol).cast("long").as("node")).distinct()),
      onConvergence, tolerancePpb)

  private def runPrepared(g: PreparedGraph,
      iterations: Int, dampingPpm: Long,
      seedsOpt: Option[DataFrame], onConvergence: Option[PageRankStats => Unit],
      tolerancePpb: Long): DataFrame = {
    require(iterations >= 1 && iterations <= 100, "iterations must be in [1, 100]")
    require(dampingPpm >= 0 && dampingPpm <= 1000000L, "dampingPpm must be in [0, 10^6]")
    require(tolerancePpb >= 0, "tolerancePpb must be >= 0")

    val eDeg = g.eDeg
    val nodes = g.nodes

    // per-node teleport share in ppb; the denominator is a single-row
    // broadcast (no collect — the count stays inside the plan)
    val base = cutLineage(seedsOpt match {
      case None =>
        val nRow = nodes.agg(count(lit(1)).as("n"))
        nodes.crossJoin(broadcast(nRow))
          .select(col("node"), expr("1000000000L div n").as("tele"))
      case Some(seeds) =>
        val graphSeeds = seeds.join(nodes, Seq("node"), "left_semi")
        val sRow = graphSeeds.agg(count(lit(1)).as("ns"))
        nodes
          .join(graphSeeds.withColumn("__isSeed", lit(1)), Seq("node"), "left")
          .crossJoin(broadcast(sRow))
          .select(col("node"),
            when(col("__isSeed").isNotNull, expr("1000000000L div ns"))
              .otherwise(lit(0L)).as("tele"))
    }, g.reliable)

    // Σ|rank − prev| over the two materialized 16 B/node tables — one
    // cheap node-keyed join; an empty graph aggregates zero rows, so the
    // sum is NULL (guarded), not a crash
    def l1Delta(cur: DataFrame, prv: DataFrame): (Long, Long) = {
      val row = cur.join(prv.withColumnRenamed("rank", "__prev"), Seq("node"))
        .agg(sum(abs(col("rank") - col("__prev"))).as("d"), count(lit(1)).as("n"))
        .head()
      (if (row.isNullAt(0)) 0L else row.getLong(0), row.getLong(1))
    }

    var ranks = cutLineage(
      base.select(col("node"), col("tele").as("rank")), g.reliable)
    var prev: DataFrame = null
    var performed = 0
    var lastDelta = -1L
    var converged = false
    // Lineage is cut every SECOND superstep, not every one: each eager
    // localCheckpoint is its own Spark job, and at benchmark scale the
    // per-job floor (scheduling + AQE stage planning + the materialization
    // itself), not data, dominates a superstep — one job materializes the
    // whole chain since the last cut while the logical plan stays bounded
    // at `interval` join+agg levels (the growth that motivated per-step
    // cuts — "step 5 was 3× step 1" — was unbounded persist-only lineage).
    // Interval 4 was A/B'd (round 15, cut-history rule below makes it
    // safe) and LOST at sf0.1: the longer uncut chain serializes more AQE
    // stages inside one job than the job floors it saves.
    // Convergence-checked runs (tolerancePpb > 0) keep per-step cuts: the
    // delta join needs BOTH sides materialized every step anyway.
    val checkpointInterval = if (tolerancePpb > 0) 1 else 2
    // Cut rank tables are released through a short history queue: a cut's
    // blocks may be referenced by every UNCUT plan chained above it, so a
    // cut is only droppable once TWO newer cuts have materialized (the
    // newest roots all live plans; the one before it may still be `prev`
    // for the convergence/telemetry delta). The former drop-the-frame-two-
    // steps-back rule silently assumed interval <= 2 — at interval 3+ it
    // dropped blocks that step i+1's still-lazy chain re-read
    // (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). Queue depth <= 3 tables of
    // 16 B/node — the same bound the old rule had.
    val cutHistory = scala.collection.mutable.Queue[DataFrame](ranks)
    while (performed < iterations && !converged) {
      prev = ranks
      val contrib = eDeg
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("rank div deg")).as("inc"))
      val next = base
        .join(contrib, Seq("node"), "left")
        .select(col("node"), (
          expr(s"((${1000000L - dampingPpm}L * tele) div 1000000L)") +
          expr(s"(${dampingPpm}L * coalesce(inc, 0L)) div 1000000L")).as("rank"))
      performed += 1
      // the penultimate step is also cut when a convergence callback is
      // given without a tolerance: the final l1Delta joins ranks against
      // prev, and an uncut prev would silently recompute a whole superstep
      // inside the telemetry join
      val cut = performed % checkpointInterval == 0 || performed == iterations ||
        (onConvergence.isDefined && tolerancePpb == 0 && performed == iterations - 1)
      if (cut) {
        ranks = cutLineage(next, g.reliable) // eager: executes the chain
        cutHistory.enqueue(ranks)
        while (cutHistory.size > 3) unpersistCheckpointed(cutHistory.dequeue())
      } else ranks = next
      // convergence-driven early stop: same bounded join as the opt-in
      // telemetry, run per step only when a tolerance is set
      if (tolerancePpb > 0) {
        val (d, _) = l1Delta(ranks, prev)
        lastDelta = d
        if (d <= tolerancePpb) converged = true
      }
    }
    for (report <- onConvergence if prev != null) {
      val (d, n) = if (tolerancePpb > 0 && lastDelta >= 0) {
        // reuse the step's delta; node count from the final rank table
        (lastDelta, ranks.count())
      } else l1Delta(ranks, prev)
      report(PageRankStats(performed, n, d))
    }
    // the returned frame roots at the final rank checkpoint; every other
    // cut in the history (and the per-call teleport base) is unreachable
    // from it and released now
    cutHistory.foreach(c => if (!(c eq ranks)) unpersistCheckpointed(c))
    unpersistCheckpointed(base)
    ranks.select(col("node"), col("rank").as("rank_ppb"))
  }
}
