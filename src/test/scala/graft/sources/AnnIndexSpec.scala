package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.operators.Embeddings

class AnnIndexSpec extends AnyFunSuite with SparkSpec {

  private val dir = Files.createTempDirectory("graft-annindex").toString

  test("persisted index query equals in-memory ivfTopK and prunes cell partitions") {
    val sps = spark; import sps.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
      .persist()
    val queries = emb.where($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"vec".as("qvec"))
    val nlist = 16; val nprobe = 4; val k = 5

    AnnIndex.build(emb, "vec", "vec_id", s"$dir/idx", nlist)
    // nlist cid directories on disk
    val cellDirs = new java.io.File(s"$dir/idx/cells").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cid=")).map(_.getName)
    assert(cellDirs.length == nlist)

    val fromIndex = AnnIndex.query(spark, s"$dir/idx", queries, "qvec", "qid", k, nprobe)
    // identical to the in-memory path with the same (seed) centroids
    val inMemory = Embeddings.ivfTopK(emb, "vec", "vec_id", queries, "qvec", "qid",
      k, nlist, nprobe)
    val a = fromIndex.select("query_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    val b = inMemory.select("query_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    assert(a.nonEmpty && a.sameElements(b))

    // the cells scan carries a cid partition filter: directory pruning at
    // planning time, not a post-scan filter over the whole corpus
    val planStr = fromIndex.queryExecution.executedPlan.toString
    val partFilter = "PartitionFilters: \\[[^\\]]*cid[^\\]]*\\]".r
    assert(partFilter.findFirstIn(planStr).isDefined, planStr.take(2000))
    // and the probed cid set is a strict subset of the index (queries
    // cluster into <= nprobe * |queries| of the nlist cells)
    val probedCells = fromIndex.join(
        spark.read.parquet(s"$dir/idx/cells").select($"id".as("neighbor_id"), $"cid"),
        "neighbor_id")
      .select("cid").distinct().count()
    assert(probedCells < nlist)
  }

  test("append routes new vectors through frozen centroids; query == fresh rebuild") {
    val sps = spark; import sps.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
      .persist()
    val old = emb.where($"vec_id" % 5 =!= 0L)
    val fresh = emb.where($"vec_id" % 5 === 0L && $"vec_id" >= 5L)
    val queries = emb.where($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"vec".as("qvec"))
    val nlist = 8; val k = 5
    // seed centroids must come from the SAME relation for both indexes —
    // the incremental contract freezes them at first build
    val cents = Embeddings.seedCentroids(old, "vec", "vec_id", nlist)
    AnnIndex.build(old, "vec", "vec_id", s"$dir/inc", nlist, Some(cents))
    val filesBefore = new java.io.File(s"$dir/inc/cells").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles()).map(_.getName).toSet
    AnnIndex.append(fresh, "vec", "vec_id", s"$dir/inc")
    // append-only: every pre-existing cell file is still there untouched
    val filesAfter = new java.io.File(s"$dir/inc/cells").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles()).map(_.getName).toSet
    assert(filesBefore.subsetOf(filesAfter))
    AnnIndex.build(emb.where($"vec_id" >= 5L || $"vec_id" % 5 =!= 0L),
      "vec", "vec_id", s"$dir/full", nlist, Some(cents))
    def res(p: String) = AnnIndex.query(spark, p, queries, "qvec", "qid", k, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(res(s"$dir/inc") == res(s"$dir/full"), "append drifted from rebuild")
    assert(res(s"$dir/inc").nonEmpty)
  }
}
