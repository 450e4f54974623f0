package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.streaming.FileStreams

class DataLayoutSpec extends AnyFunSuite with SparkSpec {

  /** Reference Morton interleave for the oracle side of the tests. */
  private def morton(bits: Int, vals: Long*): Long = {
    var z = 0L
    for (i <- vals.indices; j <- 0 until bits)
      z |= ((vals(i) >>> j) & 1L) << (j * vals.size + i)
    z
  }

  test("zorder_key known vectors") {
    val rows = spark.sql(
      """SELECT zorder_key(2, 3, 1) AS a, zorder_key(8, 255, 0) AS b,
                zorder_key(8, 0, 255) AS c, zorder_key(1, 1, 1, 1) AS d,
                zorder_key(21, 2097151, 1048575, 0) AS e""").collect().head
    assert(rows.getLong(0) == 7)      // x=11b -> bits 0,2; y=01b -> bit 1
    assert(rows.getLong(1) == 0x5555L) // alternating even bits
    assert(rows.getLong(2) == 0xAAAAL) // alternating odd bits
    assert(rows.getLong(3) == 7)
    assert(rows.getLong(4) == morton(21, 2097151L, 1048575L, 0L))
  }

  test("zorder_key matches the reference interleave on random values") {
    val s = spark
    import s.implicits._
    // fail (don't fall back) if the generated code doesn't compile
    FileStreams.withSessionConf(spark, Map("spark.sql.codegen.fallback" -> "false")) {
      val rnd = new scala.util.Random(42)
      val data = Seq.fill(1000)((rnd.nextInt(1 << 10).toLong, rnd.nextInt(1 << 10).toLong))
      val got = data.toDF("x", "y")
        .selectExpr("x", "y", "zorder_key(10, x, y) AS z").collect()
      got.foreach { r =>
        assert(r.getLong(2) == morton(10, r.getLong(0), r.getLong(1)))
      }
    }
  }

  test("zorder_key null and error semantics") {
    assert(spark.sql("SELECT zorder_key(4, CAST(NULL AS BIGINT), 1) AS z")
      .collect().head.isNullAt(0))
    val e = intercept[Exception] {
      spark.sql("SELECT zorder_key(32, 1, 2, 3)").collect() // 96 bits > 63
    }
    assert(e.getMessage.contains("63"))
    val e2 = intercept[Exception] {
      spark.sql("SELECT zorder_key(4, 'abc')").collect()
    }
    assert(e2.getMessage.toLowerCase.contains("integral"))
  }

  test("clusterByZOrder keeps content and bounds per-partition areas") {
    val s = spark
    import s.implicits._
    val grid = (for (x <- 0 until 64; y <- 0 until 64) yield (x.toLong, y.toLong))
    val df = scala.util.Random.shuffle(grid).toDF("x", "y")
    val clustered = DataLayout.clusterByZOrder(df, 6, Seq(col("x"), col("y")), 16)

    // content identical, only order changed
    assert(clustered.columns.toSeq == Seq("x", "y"))
    assert(clustered.count() == 4096)
    assert(clustered.except(df).isEmpty && df.except(clustered).isEmpty)

    // each output partition covers a small bounding box in BOTH dims: a
    // contiguous z-range of length L fits in area <= ~3L, far below the
    // full 64x64 plane an x-sort would leave for y
    val areas = clustered
      .withColumn("pid", spark_partition_id())
      .groupBy("pid")
      .agg((max("x") - min("x") + 1) * (max("y") - min("y") + 1) as "area",
        count(lit(1)).as("rows"))
      .collect()
    assert(areas.length == 16)
    areas.foreach { r =>
      assert(r.getLong(1) <= 3 * r.getLong(2),
        s"partition ${r.getInt(0)}: area ${r.getLong(1)} for ${r.getLong(2)} rows")
    }
  }

  test("clusterByZOrderEquiDepth localizes a skewed distribution") {
    val s = spark
    import s.implicits._
    // exponential-ish skew: raw interleave would collapse most rows into
    // the low buckets of dim x
    val rnd = new scala.util.Random(11)
    val data = Seq.fill(4096)((math.pow(rnd.nextDouble(), 4) * 1e6, rnd.nextDouble() * 100))
    val df = data.toDF("x", "y")
    val clustered = DataLayout.clusterByZOrderEquiDepth(df, 5, Seq(col("x"), col("y")), 16)
    assert(clustered.count() == 4096)
    assert(clustered.except(df).isEmpty && df.except(clustered).isEmpty)
    // every partition carries a balanced share (range partition on an
    // equi-depth key cannot starve or flood partitions by more than ~3x)
    val sizes = clustered.withColumn("pid", spark_partition_id())
      .groupBy("pid").count().collect().map(_.getLong(1))
    assert(sizes.length == 16)
    assert(sizes.max <= 3 * (4096 / 16), s"balanced partitions: ${sizes.toSeq}")
    val areas = DataLayout.clusterByZOrderEquiDepth(df, 5, Seq(col("x"), col("y")), 16)
      .withColumn("pid", spark_partition_id())
      .groupBy("pid")
      .agg((max("x") - min("x")).as("xr"), (max("y") - min("y")).as("yr"))
      .collect()
    // no partition spans BOTH full ranges (the x span shrinks in rank
    // space; y stays tight in value space since y is uniform)
    assert(areas.forall(r => r.getDouble(2) < 100.0 * 0.6 || r.getDouble(1) < 1e6 * 0.6))
  }

  test("clusterByZOrder rejects a __zkey input column") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, 2L)).toDF("x", "__zkey")
    val e = intercept[IllegalArgumentException] {
      DataLayout.clusterByZOrder(df, 4, Seq(col("x")), 2)
    }
    assert(e.getMessage.contains("__zkey"))
  }
}
