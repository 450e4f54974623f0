package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.operators.Graphs

/** GraphIndex: the persisted prepared graph must be indistinguishable —
  * row for row, analysis for analysis — from the in-memory
  * [[Graphs.prepareGraph]] over the same raw edges.
  */
class GraphIndexSpec extends AnyFunSuite with SparkSpec {

  private var dir: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    dir = java.nio.file.Files.createTempDirectory("graft_graphidx_").toString
  }

  override def afterAll(): Unit = {
    if (dir != null)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    super.afterAll()
  }

  test("build/load equals prepareGraph: relations, degree histogram, pagerank, ppr") {
    val s = spark
    import s.implicits._
    // multigraph with duplicate edges and a dangling sink, exercising the
    // simple-graph dedup and the undirected doubling
    val raw = (Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (9L, 9L)) ++
      (0L until 30L).map(i => (i % 7, (i * 3 + 1) % 11))).toDF("a", "b")
    GraphIndex.build(raw, "a", "b", s"$dir/g", undirected = true)
    val loaded = GraphIndex.load(spark, s"$dir/g")
    val mem = Graphs.prepareGraph(raw, "a", "b", undirected = true)
    assert(loaded.undirected && !loaded.reliable)

    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq.toList).sortBy(_.mkString(",")).toSeq
    assert(rows(loaded.eDeg) == rows(mem.eDeg))
    assert(rows(loaded.nodes) == rows(mem.nodes))
    assert(rows(Graphs.degreeDistribution(loaded)) ==
           rows(Graphs.degreeDistribution(mem)))
    // integer ppb arithmetic: analysis results must agree EXACTLY
    assert(rows(Graphs.pageRank(loaded, 4, 850000L, onConvergence = None, 0L)) ==
           rows(Graphs.pageRank(mem, 4, 850000L, onConvergence = None, 0L)))
    val seeds = Seq(1L, 3L).toDF("node")
    assert(rows(Graphs.personalizedPageRank(loaded, seeds, "node", 3, 850000L,
             onConvergence = None, 0L)) ==
           rows(Graphs.personalizedPageRank(mem, seeds, "node", 3, 850000L,
             onConvergence = None, 0L)))
    // degree-only analyses over the loaded graph take NO checkpoint: both
    // relations root at parquet scans, so unpersist is a safe no-op and
    // the frames stay executable afterwards
    loaded.unpersist()
    assert(loaded.eDeg.count() > 0 && loaded.nodes.count() > 0)
    mem.unpersist()
    // pinned load: identical relations and analysis results, but rooted
    // at local blocks (LogicalRDD) like the in-memory prepare — the shape
    // the superstep gates use
    val pinned = GraphIndex.load(spark, s"$dir/g", pin = true)
    assert(rows(pinned.eDeg) == rows(loaded.eDeg))
    assert(rows(Graphs.pageRank(pinned, 4, 850000L, onConvergence = None, 0L)) ==
           rows(Graphs.pageRank(loaded, 4, 850000L, onConvergence = None, 0L)))
    assert(pinned.eDeg.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    pinned.unpersist()
    // persist(preparedGraph) — the write-only path — round-trips to the
    // same artifact as build() over the same raw edges
    val mem2 = Graphs.prepareGraph(raw, "a", "b", undirected = true)
    GraphIndex.persist(mem2, s"$dir/gp")
    val loadedP = GraphIndex.load(spark, s"$dir/gp")
    assert(loadedP.undirected)
    assert(rows(loadedP.eDeg) == rows(loaded.eDeg))
    assert(rows(loadedP.nodes) == rows(loaded.nodes))
    mem2.unpersist()
  }

  test("directed build preserves direction and meta") {
    val s = spark
    import s.implicits._
    val raw = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    GraphIndex.build(raw, "s", "d", s"$dir/gd", undirected = false)
    val loaded = GraphIndex.load(spark, s"$dir/gd")
    assert(!loaded.undirected)
    assert(loaded.eDeg.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L), (2L, 3L)))
    assert(loaded.nodes.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
  }
}
