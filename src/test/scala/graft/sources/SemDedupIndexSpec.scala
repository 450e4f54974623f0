package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.operators.Embeddings

class SemDedupIndexSpec extends AnyFunSuite with SparkSpec {

  private val dir = Files.createTempDirectory("graft-semdedupindex").toString

  private def emb: DataFrame = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
    .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))

  private def rows(df: DataFrame): Seq[(Long, Long, Boolean)] =
    df.select(col("vec_id"), col("cid"), col("keep"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sorted.toSeq

  test("refit, frozen-centroids param, and persisted index agree row for row") {
    val e = emb.persist()
    val oldE = e.where(col("vec_id") % 10 =!= 0)
    val newE = e.where(col("vec_id") % 10 === 0)
    val k = 32; val thr = 0.35

    val refit = rows(Embeddings.incrementalSemanticDeduplicate(
      newE, oldE, "vec", "vec_id", k, thr, iterations = 1))

    // frozen fit passed in — the archive is never re-fit on this path
    val cents = Embeddings.kmeansCentroids(oldE, "vec", "vec_id", k, iterations = 1)
    val frozen = rows(Embeddings.incrementalSemanticDeduplicate(
      newE, oldE, "vec", "vec_id", k, thr, centroids = Some(cents)))
    assert(refit.nonEmpty && refit == frozen, "frozen-centroids path drifted from refit")

    // persisted index — fit AND archive assignment come from files
    SemDedupIndex.build(oldE, "vec", "vec_id", s"$dir/idx", k, iterations = 1)
    val fromIndex = rows(SemDedupIndex.refresh(
      spark, s"$dir/idx", newE, "vec", "vec_id", thr))
    assert(refit == fromIndex, "persisted-index refresh drifted from refit")

    // and the fail-soft cap keeps its combined-cluster-size contract
    val cappedMem = rows(Embeddings.incrementalSemanticDeduplicate(
      newE, oldE, "vec", "vec_id", k, thr, maxClusterSize = 3))
    val cappedIdx = rows(SemDedupIndex.refresh(
      spark, s"$dir/idx", newE, "vec", "vec_id", thr, maxClusterSize = 3))
    assert(cappedMem == cappedIdx)
    e.unpersist()
  }

  test("refresh prunes member partitions to the cells the slice touches") {
    val sps = spark; import sps.implicits._
    // four well-separated directions; seeds (ids 1-4) are the directions
    // themselves, so the Lloyd fit keeps one cluster per direction
    val oldE = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)), (2L, Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, Seq(0.0, 0.0, 1.0, 0.0)), (4L, Seq(0.0, 0.0, 0.0, 1.0)),
      (5L, Seq(0.9, 0.1, 0.0, 0.0)), (6L, Seq(0.1, 0.9, 0.0, 0.0)),
      (7L, Seq(0.0, 0.1, 0.9, 0.0)), (8L, Seq(0.0, 0.0, 0.1, 0.9))
    ).toDF("vec_id", "vec")
    // the refresh slice lands entirely in direction-1's cluster
    val newE = Seq((11L, Seq(0.99, 0.01, 0.0, 0.0))).toDF("vec_id", "vec")
    SemDedupIndex.build(oldE, "vec", "vec_id", s"$dir/prune", k = 4)
    val cellDirs = new java.io.File(s"$dir/prune/members").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cid=")).map(_.getName)
    assert(cellDirs.length == 4, cellDirs.mkString(","))

    val out = SemDedupIndex.refresh(spark, s"$dir/prune", newE,
      "vec", "vec_id", threshold = 0.95)
    // dup of old members 1/5 -> drops
    assert(rows(out).map(t => (t._1, t._3)) == Seq((11L, false)))
    // the members scan carries a cid partition filter: directory pruning
    // at planning time, not a post-scan filter over the whole archive
    val planStr = out.queryExecution.executedPlan.toString
    val partFilter = "PartitionFilters: \\[[^\\]]*cid[^\\]]*\\]".r
    assert(partFilter.findFirstIn(planStr).isDefined, planStr.take(2000))
    // and the slice touches a strict subset of the cells (here: 1 of 4)
    val centSeq = Embeddings.collectCentroidFrame(
      spark.read.parquet(s"$dir/prune/centroids"))
    val touched = Embeddings.kmeansAssign(newE, "vec", centSeq)
      .select("cid").distinct().count()
    assert(touched == 1L)
  }

  test("append folds a slice into the archive; next refresh == frozen-fit in-memory") {
    val e = emb.persist()
    val oldE = e.where(col("vec_id") % 10 =!= 0)
    val slice1 = e.where(col("vec_id") % 10 === 0 && col("vec_id") % 20 === 0)
    val slice2 = e.where(col("vec_id") % 10 === 0 && col("vec_id") % 20 =!= 0)
    val k = 16; val thr = 0.35
    SemDedupIndex.build(oldE, "vec", "vec_id", s"$dir/inc", k)
    val filesBefore = new java.io.File(s"$dir/inc/members").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles()).map(_.getName).toSet
    SemDedupIndex.append(spark, s"$dir/inc", slice1, "vec", "vec_id")
    // append-only: every pre-existing member file is still there untouched
    val filesAfter = new java.io.File(s"$dir/inc/members").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles()).map(_.getName).toSet
    assert(filesBefore.subsetOf(filesAfter) && filesAfter.size > filesBefore.size)

    val fromIndex = rows(SemDedupIndex.refresh(
      spark, s"$dir/inc", slice2, "vec", "vec_id", thr))
    // the in-memory equivalent: archive = old ∪ slice1, fit FROZEN at the
    // original build (NOT re-fit over the union — that is the contract)
    val cents = Embeddings.kmeansCentroids(oldE, "vec", "vec_id", k, iterations = 1)
    val inMem = rows(Embeddings.incrementalSemanticDeduplicate(
      slice2, oldE.unionByName(slice1), "vec", "vec_id", k, thr,
      centroids = Some(cents)))
    assert(fromIndex.nonEmpty && fromIndex == inMem, "append drifted from frozen-fit rebuild")
    e.unpersist()
  }
}
