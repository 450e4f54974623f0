package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class LayoutReportSpec extends AnyFunSuite with SparkSpec {

  test("fileReport counts files (incl. partition dirs), flags small ones, sizes compaction") {
    val sps = spark; import sps.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_layout_").toString
    (1 to 1000).map(i => (i.toLong, i % 4, s"payload_$i")).toDF("id", "p", "s")
      .repartition(8).write.partitionBy("p").mode("overwrite").parquet(dir)
    val actual = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).count(_.getName.endsWith(".parquet"))
    val r = LayoutReport.fileReport(spark, dir, targetFileBytes = 1024 * 1024).head()
    assert(r.getLong(0) == actual.toLong, s"files ${r.getLong(0)} != listed $actual")
    assert(r.getLong(1) > 0 && r.getLong(3) >= r.getLong(5) && r.getLong(5) >= r.getLong(4))
    // every file here is far under half a MiB target -> all flagged small;
    // total < 1 target file -> recommend exactly 1
    assert(r.getLong(2) == r.getLong(0))
    assert(r.getLong(6) == 1L)
    // a tight target recommends ceil(total/target)
    val tight = LayoutReport.fileReport(spark, dir, targetFileBytes = 1024).head()
    assert(tight.getLong(6) == (tight.getLong(1) + 1023) / 1024)
    // empty dir: zeros
    val empty = java.nio.file.Files.createTempDirectory("graft_layout_empty_").toString
    val e = LayoutReport.fileReport(spark, empty).head()
    assert(e.getLong(0) == 0L && e.getLong(6) == 0L)
  }

  test("compact rewrites the small-file tail only, row-identical, big files untouched") {
    val sps = spark; import sps.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_").toString
    // 12 tiny files of ~85 rows each
    (1 to 1000).map(i => (i.toLong, s"payload_$i")).toDF("id", "s")
      .repartition(12).write.mode("overwrite").parquet(dir)
    val before = spark.read.parquet(dir).collect().map(_.toSeq).toSet
    val beforeReport = LayoutReport.fileReport(spark, dir, targetFileBytes = 1024 * 1024).head()
    assert(beforeReport.getLong(0) == 12L && beforeReport.getLong(6) == 1L)
    // target 1 MiB: all 12 are tail -> coalesce to the recommended 1 file
    val after = LayoutReport.compact(spark, dir, targetFileBytes = 1024 * 1024).head()
    assert(after.getLong(0) == 1L, s"files after compact: ${after.getLong(0)}")
    assert(spark.read.parquet(dir).collect().map(_.toSeq).toSet == before,
      "compaction changed the data")
    // add one BIG file (relative to a tiny target) + tiny files: only the
    // tail rewrites; the big file's name survives untouched
    val dir2 = java.nio.file.Files.createTempDirectory("graft_compact2_").toString
    (1 to 5000).map(i => (i.toLong, ("x" * 50) + i)).toDF("id", "s")
      .coalesce(1).write.mode("overwrite").parquet(dir2)
    val bigName = new java.io.File(dir2).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getName
    val bigLen = new java.io.File(dir2, bigName).length()
    (5001 to 5300).map(i => (i.toLong, s"tail_$i")).toDF("id", "s")
      .repartition(6).write.mode("append").parquet(dir2)
    val all2 = spark.read.parquet(dir2).collect().map(_.toSeq).toSet
    // target = bigLen: the big file is >= target/2, the 6 appended are under
    val rep2 = LayoutReport.compact(spark, dir2, targetFileBytes = bigLen).head()
    assert(new java.io.File(dir2, bigName).exists(), "big file was rewritten")
    assert(rep2.getLong(0) == 2L, s"want big + 1 compacted, got ${rep2.getLong(0)}")
    assert(spark.read.parquet(dir2).collect().map(_.toSeq).toSet == all2)
    // idempotent: nothing small left -> no-op
    assert(LayoutReport.compact(spark, dir2, targetFileBytes = bigLen).head()
      .getLong(0) == 2L)
    // zorder-preserving rewrite: rows inside the compacted file arrive
    // sorted by the Morton key of (id, id)
    val dir3 = java.nio.file.Files.createTempDirectory("graft_compact3_").toString
    (1 to 400).map(i => (i.toLong % 64, (i * 7 % 64).toLong)).toDF("x", "y")
      .repartition(8).write.mode("overwrite").parquet(dir3)
    LayoutReport.compact(spark, dir3, targetFileBytes = 1024 * 1024,
      zorderBits = 6, zorderDims = Seq("x", "y")): Unit
    val rows = spark.read.parquet(dir3)
      .select(DataLayout.zorderKey(6, col("x"), col("y")).as("z")).collect().map(_.getLong(0))
    assert(rows.sameElements(rows.sorted), "z-order not preserved in the rewrite")
  }
}
