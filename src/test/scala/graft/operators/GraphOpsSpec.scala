package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Graphs (over a PreparedGraph), Changelog.compactLatest, Ranking.tfidfTopTerms. */
class GraphOpsSpec extends AnyFunSuite with SparkSpec {

  /** Runs `f` over the prepared graph of `edges(src, dst)`, then releases it. */
  private def onGraph[T](edges: DataFrame, undirected: Boolean = false)(
      f: Graphs.PreparedGraph => T): T = {
    val g = Graphs.prepareGraph(edges, "src", "dst", undirected)
    try f(g) finally g.unpersist()
  }

  private def asMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def ranksOf(edges: Seq[(Long, Long)], iters: Int,
      dampingPpm: Long = 850000L, undirected: Boolean = false): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    onGraph(edges.toDF("src", "dst"), undirected)(g => asMap(Graphs.pageRank(g, iters, dampingPpm)))
  }

  test("pagerank: symmetric 2-cycle keeps ranks equal and mass conserved") {
    val r = ranksOf(Seq((1L, 2L), (2L, 1L)), iters = 5)
    assert(r.keySet == Set(1L, 2L))
    assert(r(1L) == r(2L))
    // mass loss only from integer truncation: a few ppb per division
    assert(math.abs(r.values.sum - 1000000000L) < 100L)
  }

  test("pagerank: star center outranks leaves; leaves tie exactly") {
    // undirected star 0-1, 0-2, 0-3, 0-4
    val r = ranksOf((1L to 4L).map(i => (0L, i)), iters = 5, undirected = true)
    assert(r(0L) > r(1L))
    assert((1L to 4L).map(r).distinct.size == 1)
  }

  test("pagerank: damping 0 gives the uniform base rank whatever the graph") {
    val r = ranksOf(Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)), iters = 3,
      dampingPpm = 0L)
    assert(r.values.toSet == Set(1000000000L / 3))
  }

  test("pagerank: dangling sink absorbs but never emits (mass drops, no nulls)") {
    // 1 -> 2, 2 has no out-edges: 2's mass is dropped each round
    val r = ranksOf(Seq((1L, 2L)), iters = 4)
    assert(r.keySet == Set(1L, 2L))
    assert(r.values.forall(_ > 0L))
    assert(r.values.sum < 1000000000L) // dangling loss is real and expected
    assert(r(2L) > r(1L)) // 2 receives 1's damped mass on top of base
  }

  test("reliable checkpointDir: pagerank + ppr + unpersist equal the local-checkpoint path") {
    val s = spark
    import s.implicits._
    val edges = (for (i <- 0L until 60L) yield (i, (i * 11 + 5) % 60)).toDF("src", "dst")
    val seeds = Seq(3L, 7L).toDF("node")
    val ckDir = java.nio.file.Files.createTempDirectory("graft_reliable_ck_")
    val local = Graphs.prepareGraph(edges, "src", "dst", undirected = true)
    val rel = Graphs.prepareGraph(edges, "src", "dst", undirected = true,
      checkpointDir = Some(ckDir.toString))
    assert(rel.reliable && !local.reliable)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    // integer arithmetic end to end, so the two paths must agree EXACTLY —
    // pagerank (even iterations: interval-2 cuts) and ppr (seeded base)
    assert(rows(Graphs.pageRank(rel, 4, 850000L, onConvergence = None, 0L)) ==
           rows(Graphs.pageRank(local, 4, 850000L, onConvergence = None, 0L)))
    assert(rows(Graphs.personalizedPageRank(rel, seeds, "node", 3, 850000L,
             onConvergence = None, 0L)) ==
           rows(Graphs.personalizedPageRank(local, seeds, "node", 3, 850000L,
             onConvergence = None, 0L)))
    // the runs' checkpoint files exist under the caller's dir...
    def fileCount: Int = {
      val walk = java.nio.file.Files.walk(ckDir)
      try walk.filter(java.nio.file.Files.isRegularFile(_)).count().toInt
      finally walk.close()
    }
    assert(fileCount > 0, "reliable mode wrote no checkpoint files")
    // ...and unpersist() deletes the graph's own files eagerly (result
    // frames already collected above; their stale cuts were deleted by
    // the loop as it advanced)
    rel.unpersist()
    local.unpersist()
    org.apache.commons.io.FileUtils.deleteDirectory(ckDir.toFile)
  }

  test("pagerank: partition-count invariant (pure integer arithmetic)") {
    val s = spark
    import s.implicits._
    val edges = (for (i <- 0L until 40L) yield (i, (i * 7 + 3) % 40)).toDF("src", "dst")
    def run(df: DataFrame) = onGraph(df, undirected = true)(g => Graphs.pageRank(g, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
    assert(run(edges.repartition(1)) == run(edges.repartition(7)))
  }

  test("pagerank: convergence telemetry — delta shrinks with iterations, opt-in only") {
    val s = spark
    import s.implicits._
    val edges = (for (i <- 0L until 30L) yield (i, (i * 11 + 3) % 30)).toDF("src", "dst")
    val reported = scala.collection.mutable.ArrayBuffer.empty[Graphs.PageRankStats]
    onGraph(edges, undirected = true) { g =>
      Graphs.pageRank(g, 2).collect(): Unit
      assert(reported.isEmpty) // no callback, no stats
      Graphs.pageRank(g, 2, onConvergence = Some(reported += _)).collect(): Unit
      Graphs.pageRank(g, 12, onConvergence = Some(reported += _)).collect(): Unit
    }
    val stats = reported.toSeq
    assert(stats.map(_.iterations) == Seq(2, 12))
    assert(stats.forall(_.nodes == 30L))
    // more iterations -> smaller final step (power iteration converges)
    assert(stats(1).finalDeltaPpb < stats(0).finalDeltaPpb,
      stats.toString)
  }

  test("pagerank: tolerance early stop equals the fixed run at convergence") {
    val s = spark
    import s.implicits._
    // directed 3-cycle: integer truncation walks ranks down ~1 ppb/node
    // per step to an exact fixpoint (delta 0) well inside 50 iterations
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    onGraph(edges) { g =>
      val fixed = asMap(Graphs.pageRank(g, 50))
      var reported: Graphs.PageRankStats = null
      val early = asMap(Graphs.pageRank(g, 50,
        onConvergence = Some(reported = _), tolerancePpb = 1L))
      assert(early == fixed, s"early-stop diverged: $early vs $fixed")
      val st = reported
      assert(st.iterations < 50, s"never stopped early: $st")
      assert(st.finalDeltaPpb <= 1L && st.nodes == 3L, st.toString)
      // a fixed-iteration run shorter than the stop point differs (the
      // tolerance is doing the work, not the cap)
      assert(asMap(Graphs.pageRank(g, 1)) != fixed)
    }
  }

  test("pagerank: empty edge set returns empty, no NPE with tracking on") {
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    onGraph(empty) { g =>
      var st: Graphs.PageRankStats = null
      val out = Graphs.pageRank(g, 3, onConvergence = Some(st = _))
      assert(out.count() == 0L)
      assert(st != null, "no stats reported")
      assert(st.nodes == 0L && st.finalDeltaPpb == 0L, st.toString)
      // tolerance mode on an empty graph stops without a crash too
      assert(Graphs.pageRank(g, 3, tolerancePpb = 5L).count() == 0L)
    }
  }

  test("pagerank: multi-edges collapse to the simple graph") {
    val once = ranksOf(Seq((1L, 2L), (2L, 1L)), iters = 3)
    val dup = ranksOf(Seq((1L, 2L), (1L, 2L), (2L, 1L)), iters = 3)
    assert(once == dup)
  }

  test("personalized pagerank: teleport mass stays in the seed neighborhood") {
    val s = spark
    import s.implicits._
    // two disconnected 2-cycles; seeds in the first component only
    val edges = Seq((1L, 2L), (2L, 1L), (10L, 11L), (11L, 10L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    onGraph(edges) { g =>
      val r = asMap(Graphs.personalizedPageRank(g, seeds, "node", iterations = 4))
      // unreached component has exactly zero rank; seed component holds ~all
      assert(r(10L) == 0L && r(11L) == 0L)
      assert(r(1L) > 0L && r(2L) > 0L)
      assert(math.abs(r(1L) + r(2L) - 1000000000L) < 100L)
      // seeds outside the graph are ignored
      val r2 = asMap(Graphs.personalizedPageRank(g, Seq(1L, 999L).toDF("node"), "node",
        iterations = 2))
      assert(r2(1L) > 0L && r2(10L) == 0L)
    }
  }

  test("resample: aligned grid, forward fill, nulls before first obs and past tolerance") {
    val s = spark
    import s.implicits._
    val obs = Seq(
      (1L, 1500L, 10.0), (1L, 3200L, 20.0), (1L, 9100L, 30.0),
      (2L, 2000L, 5.0)
    ).map { case (k, us, v) => (k, us, v) }
      .toDF("k", "us", "v")
      .select(col("k"), expr("timestamp_micros(us)").as("ts"), col("v"))
    val out = Events.resample(obs, "k", "ts", "v", stepUs = 1000L)
      .select(col("k"), expr("unix_micros(grid_ts)").as("us"), col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2)))
    val k1 = out.filter(_._1 == 1L).sortBy(_._2)
    // grid starts at floor(1500/1000)*1000 = 1000 and runs through 9100
    assert(k1.map(_._2).toSeq == (1000L to 9000L by 1000L).toSeq)
    assert(k1.head._3 == null) // before first observation
    assert(k1.find(_._2 == 2000L).get._3 == 10.0)
    assert(k1.find(_._2 == 4000L).get._3 == 20.0)
    assert(k1.find(_._2 == 9000L).get._3 == 20.0) // 9100 obs not yet visible
    // an observation exactly AT a grid point is visible (inclusive)
    val k2 = out.filter(_._1 == 2L).sortBy(_._2)
    assert(k2.map(_._2).toSeq == Seq(2000L))
    assert(k2.head._3 == 5.0)
    // tolerance cuts stale carries back to null
    val tol = Events.resample(obs, "k", "ts", "v", stepUs = 1000L,
        toleranceUs = Some(1500L))
      .select(col("k"), expr("unix_micros(grid_ts)").as("us"), col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2)))
    assert(tol.find(t => t._1 == 1L && t._2 == 6000L).get._3 == null)
    assert(tol.find(t => t._1 == 1L && t._2 == 4000L).get._3 == 20.0)
  }

  test("prepared graph: degree distribution equals the raw-edge histogram") {
    val s = spark
    import s.implicits._
    // asymmetric graph with a multi-edge and a dangling node (4)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (1L, 3L), (3L, 4L))
      .toDF("src", "dst")
    for (und <- Seq(false, true)) {
      // the reference: node degree, then degree histogram, straight off
      // the distinct (optionally mirrored) edges
      val mirrored = if (und) edges.union(edges.select(col("dst"), col("src"))) else edges
      val ddRaw = mirrored.distinct()
        .groupBy(col("src")).agg(count(lit(1)).cast("long").as("degree"))
        .groupBy("degree").agg(count(lit(1)).cast("long").as("nodes"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val ddPrep = onGraph(edges, und)(g => Graphs.degreeDistribution(g)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
      assert(ddPrep == ddRaw, s"degree distribution undirected=$und")
    }
  }

  test("degree distribution: histogram exact, undirected doubles endpoints, multi-edges collapse") {
    val s = spark
    import s.implicits._
    // star 0-{1,2,3}: undirected degrees 3,1,1,1; directed out-degrees 3
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 3L)).toDF("src", "dst")
    val und = onGraph(edges, undirected = true)(g => asMap(Graphs.degreeDistribution(g)))
    assert(und == Map(3L -> 1L, 1L -> 3L), und.toString)
    val dir = onGraph(edges)(g => asMap(Graphs.degreeDistribution(g)))
    assert(dir == Map(3L -> 1L), dir.toString) // only node 0 has out-edges
  }

  test("quantileBins: near-equal buckets, monotone thresholds, boundary to upper bucket") {
    val s = spark
    import s.implicits._
    val df = (0 until 100).map(i => (i.toLong, i + 0.5)).toDF("id", "v")
    val out = Profile.quantileBins(df, "v", nbins = 100, lo = 0.0, hi = 100.0, k = 4)
      .collect().map(r => (r.getDouble(1), r.getInt(2)))
    val byBucket = out.groupBy(_._2).view.mapValues(_.map(_._1).sorted).toMap
    assert(byBucket.keySet == Set(0, 1, 2, 3))
    assert(byBucket.values.forall(_.size == 25), byBucket.view.mapValues(_.size).toMap.toString)
    // buckets are contiguous value ranges in order
    assert(byBucket(0).max < byBucket(1).min && byBucket(1).max < byBucket(2).min
      && byBucket(2).max < byBucket(3).min)
    // thresholds land at 25/50/75 (uniform unit bins): 25.5 goes UP
    assert(byBucket(1).min == 25.5)
  }

  private def changes = {
    val s = spark
    import s.implicits._
    Seq(
      // key 1: insert, update — latest wins
      (1L, 10L, "a", 100.0, false),
      (1L, 20L, "b", 200.0, false),
      // key 2: insert then tombstone — key disappears
      (2L, 10L, "a", 300.0, false),
      (2L, 30L, "x", 0.0, true),
      // key 3: tombstone then LATER re-insert — key survives
      (3L, 10L, "x", 0.0, true),
      (3L, 40L, "c", 400.0, false),
      // key 4: single insert
      (4L, 5L, "d", 500.0, false)
    ).toDF("k", "seq", "tag", "v", "del")
  }

  test("compactLatest: latest wins, tombstones drop keys, later upserts revive") {
    val out = Changelog.compactLatest(changes, Seq("k"), Seq("seq"), col("del"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    assert(out == Seq((1L, 20L, "b", 200.0), (3L, 40L, "c", 400.0),
      (4L, 5L, "d", 500.0)))
  }

  test("compactLatest equals the window row_number replay") {
    val s = spark
    import s.implicits._
    // 5k-change stream over 97 keys with interleaved tombstones
    val big = (0 until 5000).map { i =>
      val k = (i * 31 + 7) % 97
      (k.toLong, i.toLong, s"t$i", i * 0.5, (i * 13 + k) % 11 == 0)
    }.toDF("k", "seq", "tag", "v", "del")
    val got = Changelog.compactLatest(big, Seq("k"), Seq("seq"), col("del"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("k").orderBy(col("seq").desc)
    val want = big.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1 && !col("del")).drop("rn")
    assert(got.select("k", "seq", "tag", "v").except(
      want.select("k", "seq", "tag", "v")).isEmpty)
    assert(want.select("k", "seq", "tag", "v").except(
      got.select("k", "seq", "tag", "v")).isEmpty)
    assert(got.count() == want.count())
  }

  test("coOccurrenceEdges: weights exact, pairs once, caps fail-soft, minWeight prunes") {
    val s = spark
    import s.implicits._
    // groups: {1,2,3}, {1,2}, {2,3}, {9} (singleton: no pairs)
    val df = Seq((10L, 1L), (10L, 2L), (10L, 3L), (10L, 3L), // dup item row
      (20L, 1L), (20L, 2L), (30L, 2L), (30L, 3L), (40L, 9L))
      .toDF("g", "i")
    val out = Graphs.coOccurrenceEdges(df, "g", "i")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(out == Map((1L, 2L) -> 2L, (1L, 3L) -> 1L, (2L, 3L) -> 2L), out.toString)
    // minWeight prunes the singleton pair
    val pruned = Graphs.coOccurrenceEdges(df, "g", "i", minWeight = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned == Set((1L, 2L), (2L, 3L)))
    // a group above the cap contributes nothing (fail-soft, not quadratic)
    val capped = Graphs.coOccurrenceEdges(df, "g", "i", maxGroupSize = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(capped == Map((1L, 2L) -> 1L, (2L, 3L) -> 1L), capped.toString)
    // feeds prepareGraph directly
    val pr = onGraph(Graphs.coOccurrenceEdges(df, "g", "i"), undirected = true)(g =>
      Graphs.pageRank(g, 2).count())
    assert(pr == 3L)
  }

  test("applyChanges: snapshot + slice == full-history compaction") {
    val s = spark
    import s.implicits._
    val all = (0 until 3000).map { i =>
      val k = (i * 17 + 5) % 61
      (k.toLong, i.toLong, s"t$i", i * 0.25, (i * 7 + k) % 9 == 0)
    }.toDF("k", "seq", "tag", "v", "del")
    val h1 = all.where(col("seq") < 1500)
    val h2 = all.where(col("seq") >= 1500)
    val snap = Changelog.compactLatest(h1, Seq("k"), Seq("seq"), col("del"))
    val inc = Changelog.applyChanges(snap, h2, Seq("k"), Seq("seq"), col("del"))
    val full = Changelog.compactLatest(all, Seq("k"), Seq("seq"), col("del"))
    assert(inc.count() == full.count())
    assert(inc.except(full).isEmpty && full.except(inc).isEmpty)
    // schema mismatch refuses
    intercept[IllegalArgumentException] {
      Changelog.applyChanges(snap.drop("tag"), h2, Seq("k"), Seq("seq"), col("del")): Unit
    }
  }

  test("compactLatest: partial-aggregates before the key exchange, no Window") {
    val plan = Changelog.compactLatest(changes, Seq("k"), Seq("seq"), col("del"))
      .queryExecution.executedPlan.toString
    info(plan)
    // struct-max is a declarative aggregate over a struct buffer →
    // SortAggregate, but still in partial+final mode: the exchange ships
    // ≤ one candidate row per (input partition, key), never the history
    assert(plan.contains("partial_max") || plan.contains("partial max")
      || plan.contains("Partial"))
    assert(!plan.contains("Window"))
  }

  private def docs = {
    val s = spark
    import s.implicits._
    Seq(
      (0L, "alpha beta beta common common"),
      (1L, "gamma beta common common common"),
      (2L, "common common delta delta delta")
    ).toDF("doc_id", "text")
  }

  test("tfidf: corpus-wide terms score zero, rare terms rank first") {
    val out = Ranking.tfidfTopTerms(docs, "text", "doc_id", topN = 2,
        minTokenLen = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val byDoc = out.groupBy(_._1)
    // 'common' is in all 3 docs: ln(4/4) = 0
    assert(out.filter(_._3 == "common").forall(_._6 == 0L))
    // doc 2's top term is delta (tf 3, df 1): 3 * ln(4/2) * 1e6
    val (_, rnk, tok, tf, df, score) = byDoc(2L).minBy(_._2)
    assert((rnk, tok, tf, df) == (1, "delta", 3L, 1L))
    assert(score == math.round(3.0 * math.log(2.0) * 1e6))
    // doc 0: alpha (df 1) outranks beta (df 2)
    assert(byDoc(0L).sortBy(_._2).map(_._3).toSeq == Seq("alpha", "beta"))
  }

  test("tfidf: topN caps per-doc rows; ties break on token ascending") {
    val s = spark
    import s.implicits._
    val d = Seq((0L, "aa bb"), (1L, "zz")).toDF("doc_id", "text")
    val out = Ranking.tfidfTopTerms(d, "text", "doc_id", topN = 5, minTokenLen = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    // doc 0: aa and bb have identical (tf, df) — order by token asc
    assert(out.filter(_._1 == 0L).sortBy(_._2).map(_._3).toSeq == Seq("aa", "bb"))
    val capped = Ranking.tfidfTopTerms(docs, "text", "doc_id", topN = 1,
      minTokenLen = 1)
    assert(capped.groupBy("doc_id").count().collect().forall(_.getLong(1) == 1L))
  }

  test("tfidf: minTokenLen filters short tokens") {
    val s = spark
    import s.implicits._
    val d = Seq((0L, "a bb ccc dddd")).toDF("doc_id", "text")
    val toks = Ranking.tfidfTopTerms(d, "text", "doc_id", topN = 10,
      minTokenLen = 3).collect().map(_.getString(2)).toSet
    assert(toks == Set("ccc", "dddd"))
  }
}
