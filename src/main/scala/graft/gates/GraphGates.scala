package graft
package gates

import org.apache.spark.sql.functions._

import graft.operators.Graphs

/** Graph analytics over the customer-supplier purchase graph: PageRank,
  * personalized PageRank, co-purchase pairs and degree statistics. Owns
  * the shared prepared graph the iterative gates run on.
  */
object GraphGates {

  /** The purchase graph PREPARED for iterative analytics (simple edges +
    * out-degree as DISK_ONLY blocks), shared by `q_pagerank`, `q_ppr` AND
    * `q_graph_stats`: the superstep loops want the relation as compact
    * local row blocks (parquet-backed supersteps measured ~2x slower at
    * sf1cd — SCALE.md round-13).
    *
    * Round-15 optimization (guide §2.4 — remove shuffles outright): ONE
    * fused derivation instead of the stage-parquet → build → load(pin)
    * chain. [[Graphs.prepareGraph]] runs straight off the raw
    * orders⋈lineitem join (no DISTINCT staging write — the one-exchange
    * window derivation dedups inside its single src exchange), its
    * DISK_ONLY checkpoint already advertises HashPartitioning(src) +
    * (src, dst) ordering (the pinned superstep shape), and the durable
    * artifact is then written FROM those blocks
    * ([[sources.GraphIndex.persist]] — available to any
    * [[sources.GraphIndex.load]] consumer for the run's lifetime; it
    * lives under the per-run [[SharedRelation.dir]], so
    * [[SparkEntry.clearSharedRelations]] deletes it with everything
    * else — NOT a cross-session artifact) instead of being re-derived. Net
    * vs the shipped chain: −1 edge-table parquet write, −2 edge-table
    * reads, −1 exchange, −1 sort per (session, fixture); A/B at sf0.1
    * 5.2–5.7 s → 3.9–4.2 s with identical pagerank output
    * (OPTIMIZATION_r15.md). A degree-only session that wants no
    * checkpoint still has the [[sources.GraphIndex.build]] API.
    */
  private[graft] val sharedPreparedGraph: SharedRelation[Graphs.PreparedGraph] =
    new SharedRelation[Graphs.PreparedGraph]((s, dir) => {
      // raw join, NOT distinct: the prepare's window dedup collapses
      // multi-edges inside its one src exchange, so a pre-distinct
      // would only add an (src, dst) exchange of its own (A/B'd equal
      // at sf0.1, fewer total shuffled rows at the fixture's
      // duplication ratio; a heavily multi-edged input would flip the
      // trade — pre-distinct then)
      val raw = s.sql("""
        SELECT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey""")
      val g = Graphs.prepareGraph(raw, "src", "dst", undirected = true)
      sources.GraphIndex.persist(g, SharedRelation.path("graph", dir))
      g
    }, release = _.unpersist())

  /** The undirected simple purchase graph of the replays: distinct
    * customer (even id) to supplier (odd id) edges `e0` and both
    * directions in `edges(src, dst)`.
    */
  private val edgesCte = """e0 AS (
        SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)"""

  /** `iterations` unrolled PageRank steps in ppb integer arithmetic after
    * `r0`: step k spreads `r(k-1)` over `edges` by out-degree (`deg`) and
    * mixes the damped inflow with 0.15 of `teleport`, an expression over
    * `base b`. Truncating integer division (`//`, all values positive)
    * matches Spark's `div` exactly, so ranks replay bit-for-bit.
    */
  private def rankSteps(iterations: Int, teleport: String): String =
    (1 to iterations).map { k => s"""
      it$k AS (SELECT e.dst AS node, SUM(r.rank // d.deg) AS inc
              FROM edges e JOIN r${k - 1} r ON e.src = r.node JOIN deg d ON d.src = e.src
              GROUP BY e.dst),
      r$k AS (SELECT b.node, (150000 * $teleport) // 1000000
                          + (850000 * COALESCE(i.inc, 0)) // 1000000 AS rank
             FROM base b LEFT JOIN it$k i ON b.node = i.node)"""
    }.mkString(",")

  val gates: Seq[Gate] = Seq(
    // PageRank centrality over the customer↔supplier purchase graph
    // (undirected bipartite; node ids disambiguated by parity). Five
    // power iterations in pure ppb integer arithmetic — the oracle
    // replays every iteration exactly via an unrolled CTE chain.
    Gate("q_pagerank", s"""
      WITH $edgesCte,
      deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
      nodes AS (SELECT DISTINCT src AS node FROM edges),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
      base AS (SELECT nodes.node, n.n FROM nodes CROSS JOIN n),
      r0 AS (SELECT node, 1000000000 // n AS rank FROM base),${rankSteps(5, "(1000000000 // b.n)")}
      SELECT CAST(node AS BIGINT) AS node, CAST(rank AS BIGINT) AS rank_ppb
      FROM r5 ORDER BY rank_ppb DESC, node LIMIT 25""") { (s, dir) =>
      Graphs.pageRank(sharedPreparedGraph(s, dir), iterations = 5,
          dampingPpm = 850000L, onConvergence = None, tolerancePpb = 0L)
        .orderBy(col("rank_ppb").desc, col("node")).limit(25)
    },

    // co-purchase graph construction: suppliers sharing an order become
    // weighted edges (pairs emitted row-locally per order); top 20. The
    // replay self-joins distinct (order, supplier) per order.
    Gate("q_copurchase", """
      WITH os AS (SELECT DISTINCT l_orderkey AS g, CAST(l_suppkey AS BIGINT) AS i
                  FROM lineitem)
      SELECT a.i AS src, b.i AS dst, CAST(COUNT(*) AS BIGINT) AS weight
      FROM os a JOIN os b ON a.g = b.g AND a.i < b.i
      GROUP BY a.i, b.i HAVING COUNT(*) >= 2
      ORDER BY weight DESC, src, dst LIMIT 20""") { (s, _) =>
      Graphs.coOccurrenceEdges(
          s.table("lineitem").select(col("l_orderkey"), col("l_suppkey")),
          "l_orderkey", "l_suppkey", minWeight = 2L)
        .orderBy(col("weight").desc, col("src"), col("dst"))
        .limit(20)
    },

    // out-degree distribution of the purchase graph: two chained
    // partial aggregates over the undirected simple graph; top-25
    // degrees by node count
    Gate("q_graph_stats", s"""
      WITH $edgesCte,
      deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS degree FROM edges GROUP BY src)
      SELECT degree, CAST(COUNT(*) AS BIGINT) AS nodes
      FROM deg GROUP BY degree ORDER BY nodes DESC, degree LIMIT 25""") { (s, dir) =>
      // degree histogram straight off the shared pinned blocks (which
      // also persist the durable GraphIndex artifact as a by-product):
      // re-loading the just-written parquet cost one extra edge-table
      // read per pass for bytes already sitting in local blocks. A
      // LATER session reads the artifact via sources.GraphIndex.load —
      // spec-pinned identical. NOTE the result roots at shared blocks:
      // execute it before clearSharedRelations (see the hazard note
      // there); Bench/Verify do.
      Graphs.degreeDistribution(sharedPreparedGraph(s, dir))
        .orderBy(col("nodes").desc, col("degree")).limit(25)
    },

    // personalized PageRank: teleport mass restricted to the
    // (graph-present) nation-0 suppliers — random-walk proximity ranks
    // the "more like these" neighborhood; 3 unrolled iterations, same
    // ppb integer contract
    Gate("q_ppr", s"""
      WITH $edgesCte,
      deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
      nodes AS (SELECT DISTINCT src AS node FROM edges),
      seeds AS (SELECT DISTINCT s_suppkey * 2 + 1 AS node FROM supplier
                WHERE s_nationkey = 0),
      gs AS (SELECT n.node FROM nodes n JOIN seeds s ON n.node = s.node),
      ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS ns FROM gs),
      base AS (
        SELECT n.node,
               CASE WHEN g.node IS NOT NULL THEN 1000000000 // ns.ns
                    ELSE 0 END AS tele
        FROM nodes n LEFT JOIN gs g ON n.node = g.node CROSS JOIN ns),
      r0 AS (SELECT node, tele AS rank FROM base),${rankSteps(3, "b.tele")}
      SELECT CAST(node AS BIGINT) AS node, CAST(rank AS BIGINT) AS rank_ppb
      FROM r3 WHERE rank > 0 ORDER BY rank_ppb DESC, node LIMIT 25""") { (s, dir) =>
      val seeds = s.sql(
        "SELECT s_suppkey * 2 + 1 AS node FROM supplier WHERE s_nationkey = 0")
      Graphs.personalizedPageRank(sharedPreparedGraph(s, dir), seeds, "node",
          iterations = 3, dampingPpm = 850000L, onConvergence = None,
          tolerancePpb = 0L)
        .where(col("rank_ppb") > 0)
        .orderBy(col("rank_ppb").desc, col("node")).limit(25)
    },
  )
}
