package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Graphs

/** Persisted prepared graph — [[Graphs.prepareGraph]]'s derive-once
  * discipline made durable ACROSS sessions (the [[SemDedupIndex]] /
  * [[AnnIndex]] model-as-data convention): the one data-sized pass in the
  * graph family (simple-graph distinct + out-degree) runs at `build` and
  * lands in parquet; every later session — or every analysis that never
  * needs an in-memory checkpoint at all, like a degree histogram — just
  * reads it.
  *
  * Layout under `dir`:
  *  - `edges/` — `(src BIGINT, dst BIGINT, deg BIGINT)`: the simple
  *    (deduplicated) edge relation with each edge's source out-degree —
  *    exactly [[Graphs.PreparedGraph]]'s `eDeg` schema;
  *  - `nodes/` — `(node BIGINT)`: src ∪ dst, sinks included;
  *  - `meta/`  — one row `(undirected BOOLEAN)`: provenance, as on the
  *    in-memory form.
  *
  * [[load]] returns a [[Graphs.PreparedGraph]] whose relations scan the
  * parquet directly — the files ARE the lineage cut, so nothing is
  * re-derived and nothing sits in executor storage (the superstep joins
  * re-read edge bytes from disk each iteration, the same trade the
  * DISK_ONLY in-memory checkpoint makes deliberately — SCALE.md
  * round-12). Identical analysis results to the in-memory prepare are
  * spec-pinned (integer arithmetic end to end). `unpersist()` on a loaded
  * graph is a no-op: the caller owns the directory's lifecycle.
  */
object GraphIndex {

  /** The three relations are written non-atomically (edges, nodes, meta);
    * `meta` doubles as the COMPLETION MARKER — it is deleted before the
    * first overwrite and written last, so a build/persist that dies
    * mid-way leaves an artifact [[load]] refuses (missing `meta` path)
    * instead of a readable-but-torn mix of new edges and stale nodes.
    */
  private def clearCompletionMarker(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/meta")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true): Unit
  }

  /** Derive the simple graph + degrees from raw `edges(srcCol, dstCol)`
    * and persist.
    *
    * ONE full-data exchange + ONE sort (round 15): the raw edges are
    * hash-partitioned by `src` once, sorted within partitions by
    * `(src, dst)` once, and both derivations ride that single pass —
    * dedup is `row_number() over (partition by src, dst)` = 1 (src-only
    * partitioning co-locates equal `(src, dst)` rows), and the out-degree
    * is a src-partition count window whose required `src` ordering is a
    * PREFIX of the ordering the dedup window already established, so
    * Catalyst plans no second exchange, no second sort, no join, and no
    * spill-prone 2^26-entry hash tables. The former distinct → groupBy →
    * join form paid an `(src, dst)` exchange plus an `src` exchange of
    * the full deduped relation plus two sort-merge sorts; A/B at 117M
    * mirrored edges: 14.3 s vs 20.6 s, identical output (SCALE.md
    * round-15 — third decade re-measured there too).
    * Trade-off: the exchange carries RAW (pre-dedup) rows —
    * an input with heavy multi-edge duplication shuffles the duplicates;
    * pre-`distinct` such inputs before `build` if that dominates.
    */
  def build(edges: DataFrame, srcCol: String, dstCol: String, dir: String,
      undirected: Boolean = false): Unit = {
    val spark = edges.sparkSession
    clearCompletionMarker(spark, dir)
    val directed = edges.select(
      col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
    val e0 = if (undirected)
      directed.union(directed.select(col("dst").as("src"), col("src").as("dst")))
    else directed
    val w = org.apache.spark.sql.expressions.Window
    e0.repartition(col("src"))
      .withColumn("__rn", row_number().over(
        w.partitionBy(col("src"), col("dst")).orderBy(col("src"))))
      .where(col("__rn") === 1).drop("__rn")
      .withColumn("deg",
        count(lit(1)).over(w.partitionBy(col("src"))).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/edges")
    // node set read back off the WRITTEN edges (not the pre-write plan),
    // so the two relations can never drift
    val eDeg = spark.read.parquet(s"$dir/edges")
    eDeg.select(col("src").as("node"))
      .union(eDeg.select(col("dst").as("node")))
      .distinct()
      .write.mode("overwrite").parquet(s"$dir/nodes")
    spark.range(1).select(lit(undirected).as("undirected"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Persist an ALREADY-prepared graph — write-only (no distinct/degree
    * re-derivation): the path for a session that derived the graph
    * in-memory for its own superstep runs and wants the artifact durable
    * for later sessions too. `load(dir)` of the result is
    * indistinguishable from a [[build]] over the same raw edges
    * (spec-pinned).
    */
  def persist(g: Graphs.PreparedGraph, dir: String): Unit = {
    clearCompletionMarker(g.eDeg.sparkSession, dir)
    g.eDeg.select(col("src"), col("dst"), col("deg"))
      .write.mode("overwrite").parquet(s"$dir/edges")
    g.nodes.select(col("node"))
      .write.mode("overwrite").parquet(s"$dir/nodes")
    g.eDeg.sparkSession.range(1).select(lit(g.undirected).as("undirected"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** A [[Graphs.PreparedGraph]] over the persisted relations — feed it to
    * [[Graphs.pageRank]]/[[Graphs.personalizedPageRank]]/
    * [[Graphs.degreeDistribution]] exactly like an in-memory prepare.
    *
    * `pin = true` re-materializes the loaded relations as DISK_ONLY
    * executor-local blocks before returning — the shape ITERATIVE
    * analyses want: a superstep loop that joins the edge relation every
    * iteration pays parquet decode + file listing PER SUPERSTEP on the
    * raw load (measured: q_pagerank 4.9 -> 9.4 s at sf1cd, ~2x), while
    * the pin costs one read-through and the loop then runs on compact
    * row blocks — the exact layout the in-memory prepare produces,
    * WITHOUT re-running its distinct+degree shuffle. Leave `pin = false`
    * (default) for one-pass analyses (degree histograms, exports): they
    * read the parquet once either way and take no checkpoint at all.
    * Pinned graphs hold blocks — release them with
    * [[Graphs.PreparedGraph.unpersist]] when done.
    */
  def load(spark: SparkSession, dir: String,
      pin: Boolean = false): Graphs.PreparedGraph = {
    val undirected = spark.read.parquet(s"$dir/meta")
      .head().getBoolean(0)
    Graphs.fromPersisted(
      spark.read.parquet(s"$dir/edges"),
      spark.read.parquet(s"$dir/nodes"),
      undirected, pin)
  }
}
