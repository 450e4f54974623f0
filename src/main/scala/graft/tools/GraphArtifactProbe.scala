package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Third-decade graph probe under a bounded-disk envelope: the in-memory
  * prepare's DISK_ONLY blocks need ~60-80 GB scratch at sf100cd (1.17B
  * edges — r13 died on No-space-left), which this box cannot hold next
  * to the 13 GB fixture. The durable path bounds scratch instead:
  *
  *  1. `GraphIndex.build` — the same distinct+degree jobs, landing in a
  *     COMPRESSED parquet artifact instead of row blocks (the artifact is
  *     the lineage cut, so no checkpoint scratch at all);
  *  2. `degreeDistribution` over the unpinned load (the q_graph_stats
  *     shape — one parquet pass);
  *  3. 5-iteration pageRank over the unpinned load: supersteps re-read
  *     the edge parquet per join (measured ~2x slower than pinned blocks
  *     at sf1cd — the price of O(rank tables) scratch instead of
  *     O(edges)); rank-table checkpoints are 16 B/node;
  *  4. optionally (SPARK_GRAFT_TRY_PIN=1) the pinned load — DISK_ONLY
  *     blocks with `spark.rdd.compress=true` + zstd, to see whether
  *     compressed blocks fit where uncompressed ones did not.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/tmp/sf100cd SPARK_DRIVER_MEM=48g \
  *        tools/run_main.sh graft.tools.GraphArtifactProbe [artifactDir]
  */
object GraphArtifactProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val artDir = if (args.nonEmpty) args(0) else "/tmp/graph_artifact"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftSparkExtensions")
      // zstd shuffle/spill/RDD blocks: the probe's whole point is fitting
      // a 1.17B-edge derivation into bounded scratch
      .config("spark.io.compression.codec", "zstd")
      .config("spark.rdd.compress", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[graphart] $label%-32s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
    def freeGb: Double = new java.io.File("/tmp").getUsableSpace / 1e9

    println(f"[graphart] sfDir=$sfDir free=${freeGb}%.1f GB")
    graft.SparkEntry.prepare(spark, sfDir)
    val edges = graft.SparkEntry.sharedPurchaseEdges(spark, sfDir)

    // SPARK_GRAFT_BUILD_REPS reruns the build (warm min-of-N discipline for
    // the decade tables); SPARK_GRAFT_BUILD_ONLY=1 skips the superstep
    // phases when only the build cell is being re-measured
    val buildReps = sys.env.getOrElse("SPARK_GRAFT_BUILD_REPS", "1").toInt
    (1 to buildReps).foreach { i =>
      timed(s"GraphIndex.build (durable prepare) rep$i") {
        graft.sources.GraphIndex.build(edges, "src", "dst", artDir, undirected = true)
      }
    }
    val sizeGb = {
      def du(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(du).sum else f.length()
      du(new java.io.File(artDir)) / 1e9
    }
    println(f"[graphart] artifact size = $sizeGb%.2f GB, free=${freeGb}%.1f GB")

    val g0 = graft.sources.GraphIndex.load(spark, artDir)
    println(s"[graphart] edges = ${g0.eDeg.count()}, nodes = ${g0.nodes.count()}")
    if (sys.env.get("SPARK_GRAFT_BUILD_ONLY").contains("1")) {
      spark.stop(); return
    }
    timed("degreeDistribution (unpinned)") {
      graft.operators.Graphs.degreeDistribution(g0)
        .orderBy(col("nodes").desc, col("degree")).limit(25)
        .write.format("noop").mode("overwrite").save()
    }
    timed("pageRank 5 iters (unpinned)") {
      graft.operators.Graphs.pageRank(g0, 5, 850000L, None, 0L)
        .orderBy(col("rank_ppb").desc, col("node")).limit(25)
        .write.format("noop").mode("overwrite").save()
    }
    if (sys.env.get("SPARK_GRAFT_TRY_PIN").contains("1")) {
      val gp = timed("load pin=true (compressed DISK_ONLY)") {
        val g = graft.sources.GraphIndex.load(spark, artDir, pin = true)
        g.eDeg.count(): Unit // force materialization inside the timer
        g
      }
      println(f"[graphart] after pin: free=${freeGb}%.1f GB")
      timed("pageRank 5 iters (pinned)") {
        graft.operators.Graphs.pageRank(gp, 5, 850000L, None, 0L)
          .orderBy(col("rank_ppb").desc, col("node")).limit(25)
          .write.format("noop").mode("overwrite").save()
      }
      gp.unpersist()
    }
    spark.stop()
  }
}
