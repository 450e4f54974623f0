package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Phase decomposition of the round-15 graph gate path as the BENCH runs it:
  * purchase-edge staging -> GraphIndex.build -> degree histogram (q_graph_stats)
  * -> pinned load (sharedPreparedGraph) -> 5-iter pagerank (q_pagerank)
  * -> 3-iter ppr (q_ppr). Prints per-phase seconds so the suite's ~7 s
  * graph-family cost decomposes instead of being guessed at.
  */
object GraphGatePhases {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftSparkExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[phase] $label%-34s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    graft.SparkEntry.prepare(spark, sfDir)
    // JVM warm pass over the whole family, then reset shared state
    Seq("q_graph_stats", "q_pagerank", "q_ppr").foreach { g =>
      noop(graft.SparkEntry.queries(g)(spark, sfDir))
    }
    graft.SparkEntry.clearSharedRelations()
    spark.catalog.clearCache()

    (1 to 2).foreach { rep =>
      println(s"--- rep $rep ---")
      val edges = timed("purchase edges (stage parquet)") {
        val e = graft.SparkEntry.sharedPurchaseEdges(spark, sfDir)
        e.count(); e
      }
      val dir = java.nio.file.Files.createTempDirectory("graft_gidx_").toString
      timed("GraphIndex.build") {
        graft.sources.GraphIndex.build(edges, "src", "dst", dir, undirected = true)
      }
      timed("degree histogram (q_graph_stats)") {
        noop(graft.operators.Graphs.degreeDistribution(
            graft.sources.GraphIndex.load(spark, dir))
          .orderBy(col("nodes").desc, col("degree")).limit(25))
      }
      val g = timed("pinned load (repartition+sort+ckpt)") {
        val g0 = graft.sources.GraphIndex.load(spark, dir, pin = true)
        g0.eDeg.count(); g0
      }
      timed("pagerank 5 iters") {
        noop(graft.operators.Graphs.pageRank(g, 5, 850000L, None, 0L)
          .orderBy(col("rank_ppb").desc, col("node")).limit(25))
      }
      val seeds = spark.sql(
        "SELECT s_suppkey * 2 + 1 AS node FROM supplier WHERE s_nationkey = 0")
      timed("ppr 3 iters") {
        noop(graft.operators.Graphs.personalizedPageRank(g, seeds, "node",
            3, 850000L, None, 0L)
          .where(col("rank_ppb") > 0)
          .orderBy(col("rank_ppb").desc, col("node")).limit(25))
      }
      g.unpersist()
      graft.SparkEntry.clearSharedRelations()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
