package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A/B for the round-15 shared-graph derivation: the shipped chain
  * (stage distinct edges to parquet -> GraphIndex.build -> load(pin=true))
  * vs a FUSED prepare (one exchange+sort -> pinned DISK_ONLY blocks ->
  * artifact persisted FROM the blocks), with the raw-join (no distinct)
  * and pre-distinct edge-plan variants. Each variant ends in the same
  * state: pinned PreparedGraph + durable artifact; a 2-iter pagerank
  * equality check guards identical results.
  */
object GraphFusedAB {
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
    graft.SparkEntry.prepare(spark, sfDir)

    def rawEdges: DataFrame = spark.sql(
      """SELECT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
         FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey""")
    def distinctEdges: DataFrame = rawEdges.distinct()

    val w = org.apache.spark.sql.expressions.Window
    def fusedPrepare(edges: DataFrame): graft.operators.Graphs.PreparedGraph = {
      val directed = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      val e0 = directed.union(
        directed.select(col("dst").as("src"), col("src").as("dst")))
      val eDegPlan = e0.repartition(col("src"))
        .withColumn("__rn", row_number().over(
          w.partitionBy(col("src"), col("dst")).orderBy(col("src"))))
        .where(col("__rn") === 1).drop("__rn")
        .withColumn("deg",
          count(lit(1)).over(w.partitionBy(col("src"))).cast("long"))
      val eDeg = eDegPlan.localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val nodes = eDeg.select(col("src").as("node"))
        .union(eDeg.select(col("dst").as("node")))
        .distinct().localCheckpoint(true)
      graft.operators.Graphs.fromPersisted(eDeg, nodes, undirected = true)
    }

    def timed(label: String)(f: => Unit): Double = {
      val t0 = System.nanoTime(); f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[ab] $label%-34s $dt%.3f s"); dt
    }
    def pr2(g: graft.operators.Graphs.PreparedGraph): Array[org.apache.spark.sql.Row] =
      graft.operators.Graphs.pageRank(g, 2, 850000L, None, 0L)
        .orderBy(col("rank_ppb").desc, col("node")).limit(25).collect()

    var ref: Array[org.apache.spark.sql.Row] = null
    (1 to 3).foreach { rep =>
      println(s"--- rep $rep ---")
      // A: shipped chain
      timed("A stage+build+load(pin)") {
        val stage = java.nio.file.Files.createTempDirectory("ab_stage_").toString
        distinctEdges.write.mode("overwrite").parquet(stage)
        val art = java.nio.file.Files.createTempDirectory("ab_art_").toString
        graft.sources.GraphIndex.build(spark.read.parquet(stage),
          "src", "dst", art, undirected = true)
        val g = graft.sources.GraphIndex.load(spark, art, pin = true)
        g.eDeg.count()
        val r = pr2(g)
        if (ref == null) ref = r
        else require(r.sameElements(ref), "A mismatch")
        g.unpersist()
      }
      // B: fused prepare from the raw join (no distinct, no staging)
      timed("B fused raw join") {
        val g = fusedPrepare(rawEdges)
        g.eDeg.count()
        val art = java.nio.file.Files.createTempDirectory("ab_artB_").toString
        graft.sources.GraphIndex.persist(g, art)
        require(pr2(g).sameElements(ref), "B mismatch")
        g.unpersist()
      }
      // C: fused prepare from pre-distinct edges (extra exchange, less volume)
      timed("C fused distinct") {
        val g = fusedPrepare(distinctEdges)
        g.eDeg.count()
        val art = java.nio.file.Files.createTempDirectory("ab_artC_").toString
        graft.sources.GraphIndex.persist(g, art)
        require(pr2(g).sameElements(ref), "C mismatch")
        g.unpersist()
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
