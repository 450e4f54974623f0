package graft.tools

/** Robustness smoke (not a gate): single-group filter builds at 50M keys —
  * the shape that stresses the ObjectHashAggregate buffer and its
  * sort-based fallback. Run: sbt "runMain graft.tools.BigGroupSmoke [n]"
  */
object BigGroupSmoke {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(50_000_000L)
    val spark = graft.LocalSpark.session(defaultCpus = 32)
    def t(name: String)(q: String): Unit = {
      val t0 = System.nanoTime()
      val row = spark.sql(q).collect()(0)
      println(f"[smoke] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  -> $row")
    }
    t(s"fuse16 build n=$n")(
      s"SELECT octet_length(binary_fuse16_filter(bitfilters_duckdb_hash('v1.5.1', id))) FROM range($n)")
    // giant bloom: build with the sparse-until-dense aggregate, then probe
    // through a BROADCAST blob column — a literal this size would be
    // re-deserialized per task from the task binary (the OOM this smoke
    // originally caught)
    locally {
      val t0 = System.nanoTime()
      val blob = spark.sql(
        s"""SELECT bitfilters_duckdb_bloom_filter_create('v1.5.1', 67108864,
            bitfilters_duckdb_hash('v1.5.1', id)) FROM range($n)""").collect()(0).getAs[Array[Byte]](0)
      val tBuild = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      import org.apache.spark.sql.functions._
      val hits = spark.range(n).where(call_function("bitfilters_duckdb_bloom_filter_probe",
          lit("v1.5.1"), graft.sources.FilterStore.broadcastBlobColumn(spark, blob), col("id")))
        .count()
      println(f"[smoke] bloom 2^26 build n=$n%-10d $tBuild%8.2f s  blob=${blob.length}")
      println(f"[smoke] bloom bcast probe n=$n%-9d ${(System.nanoTime() - t1) / 1e9}%8.2f s  -> hits=$hits (expect $n)")
      assert(hits == n, "no false negatives")
    }
    t(s"xor8 semijoin n=$n/10")(
      s"""SELECT COUNT(*) FROM range($n) WHERE xor8_filter_contains(
         (SELECT xor8_filter(bitfilters_duckdb_hash('v1.5.1', id)) FROM range(${n / 10})),
         bitfilters_duckdb_hash('v1.5.1', id))""")
    // skew: one hot group with n/2 keys next to 1M singleton groups — drives
    // ObjectHashAggregate past its group-count fallback into the sort-based
    // path with sparse buffers in flight
    t(s"skewed bloom groups n=$n/2+1M")(
      s"""SELECT COUNT(*), SUM(octet_length(f)) FROM (
            SELECT CASE WHEN id < ${n / 2} THEN 0 ELSE id END AS g,
                   bitfilters_duckdb_bloom_filter_create('v1.5.1', 4096,
                     bitfilters_duckdb_hash('v1.5.1', id)) AS f
            FROM range(${n / 2} + 1000000) GROUP BY 1)""")
    graft.LocalSpark.stop(spark)
  }
}
