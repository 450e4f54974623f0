package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class FilterStoreSpec extends AnyFunSuite with SparkSpec {

  private val dir = Files.createTempDirectory("graft-filterstore").toString

  test("write/read/probe a filter catalog roundtrip") {
    val sps = spark; import sps.implicits._
    val keys = spark.range(1, 20001).toDF("id")
      .withColumn("grp", col("id") % 4)
      .selectExpr("grp", "id", "bitfilters_duckdb_hash('v1.5.1', id) AS h")
    val path = s"$dir/cat1"
    FilterStore.write(keys, "grp", "h", "binary_fuse16_filter(h)",
      "binary_fuse16", "{}", path)

    val cat = FilterStore.read(spark, path)
    assert(cat.count() == 4)
    assert(cat.columns.toSet ==
      Set("key", "family", "params", "built_at", "n_keys", "filter"))
    assert(cat.select(sum("n_keys")).head.getLong(0) == 20000L)

    // per-key literal probe: every member of group 2 must hit
    val blob = FilterStore.loadBlob(spark, path, "2")
    val members = keys.where(col("grp") === 2)
      .where(call_function("binary_fuse16_filter_contains", lit(blob), col("h")))
    assert(members.count() == keys.where(col("grp") === 2).count())

    // broadcast-join probe across all groups: no false negatives
    val probed = FilterStore.probeJoin(keys, "grp", "h", cat, "binary_fuse16_filter_contains")
    assert(probed.count() == 20000L)

    // missing key fails loudly
    assertThrows[IllegalArgumentException](FilterStore.loadBlob(spark, path, "99"))
  }

  test("catalog-map probe equals the join probe, drops uncataloged keys, no join in plan") {
    val keys = spark.range(1, 20001).toDF("id")
      .withColumn("grp", col("id") % 4)
      .selectExpr("grp", "id", "bitfilters_duckdb_hash('v1.5.1', id) AS h")
    val path = s"$dir/cat2"
    FilterStore.write(keys, "grp", "h", "xor16_filter(h)", "xor16", "{}", path)
    val cat = FilterStore.read(spark, path)

    val viaJoin = FilterStore.probeJoin(keys, "grp", "h", cat, "xor16_filter_contains")
    val viaMap = FilterStore.probeCatalog(keys, "grp", "h", cat, "xor16_filter_contains")
    assert(viaMap.count() == 20000L)
    assert(viaMap.count() == viaJoin.count())
    assert(viaMap.select(sum("id")).head.getLong(0) ==
      viaJoin.select(sum("id")).head.getLong(0))

    // rows whose group has no catalog entry vanish (NULL-propagating probe)
    val widened = keys.withColumn("grp", col("grp") + 100)
    assert(FilterStore.probeCatalog(widened, "grp", "h", cat,
      "xor16_filter_contains").count() == 0L)

    // the whole probe is one scan: no BroadcastHashJoin / SortMergeJoin
    val plan = viaMap.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"catalog-map probe should not join:\n$plan")

    // an oversized catalog refuses BEFORE collecting (clear message, not a
    // driver OOM) and points callers at probeJoin
    val guard = intercept[IllegalArgumentException] {
      FilterStore.probeCatalog(keys, "grp", "h", cat, "xor16_filter_contains",
        maxCatalogBytes = 16L)
    }
    assert(guard.getMessage.contains("probeJoin"), guard.getMessage)
  }
}
