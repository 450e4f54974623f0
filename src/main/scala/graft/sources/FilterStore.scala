package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistence for built filters — the cross-job / cross-system workflow
  * the reference documents (build once, store the BLOB in a table, probe
  * from other queries or ship to a remote engine for bloom-join pushdown;
  * docs/README.md:174,463): build filters over a corpus, save them as a
  * parquet "filter catalog" keyed by group, reload them later (possibly on
  * a different cluster) and probe.
  *
  * Layout: one parquet table per catalog with columns
  * `(key STRING, family STRING, params STRING, built_at TIMESTAMP,
  * n_keys BIGINT, filter BINARY)`. Parquet is the right carrier: splittable,
  * column-pruned (a probe-side load reads only `key, filter`), and the
  * blobs stay byte-exact (wire formats are engine-portable by design).
  */
object FilterStore {

  /** Build one filter per group over `hashCol` and write the catalog.
    * `buildExpr` is any filter-create SQL expression over `hashCol`, e.g.
    * `"binary_fuse16_filter(h)"` or `"quotient_filter(20, 8, h)"`.
    */
  def write(df: DataFrame, groupCol: String, hashCol: String,
      buildExpr: String, family: String, params: String, path: String): Unit =
    df.groupBy(col(groupCol).cast("string").as("key"))
      .agg(expr(buildExpr).as("filter"), count(lit(1)).as("n_keys"))
      .select(col("key"), lit(family).as("family"), lit(params).as("params"),
        current_timestamp().as("built_at"), col("n_keys"), col("filter"))
      .write.mode("overwrite").parquet(path)

  /** Load a catalog (column-pruned to what the caller selects). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Load ONE filter blob to the driver — for inlining as a literal into a
    * probe predicate (`lit(blob)`), the pattern that keeps the probe side a
    * single codegen'd scan with no join. The collect is exactly one row.
    */
  def loadBlob(spark: SparkSession, path: String, key: String): Array[Byte] = {
    val rows = read(spark, path)
      .where(col("key") === key).select("filter").limit(2).collect()
    require(rows.length == 1, s"expected exactly one filter for key '$key' in $path, found ${rows.length}")
    rows.head.getAs[Array[Byte]](0)
  }

  /** A driver-held blob as a BROADCAST column: one copy of the bytes per
    * executor (block manager), shared by all tasks. Inlining a big blob as
    * a literal instead puts it in the task binary, which EVERY task
    * deserializes — 32 concurrent tasks x 512 MB = an executor OOM
    * (observed in graft.tools.BigGroupSmoke). Prefer this over `lit(blob)`
    * once blobs exceed a few MB.
    */
  def broadcastBlobColumn(spark: SparkSession, blob: Array[Byte]): org.apache.spark.sql.Column = {
    require(blob != null, "broadcastBlobColumn: blob must not be null")
    graft.operators.ColumnBridge.column(
      graft.functions.BroadcastBlob(spark.sparkContext.broadcast(blob)))
  }

  /** Convenience: `containsFn(broadcast_blob, hash)` for the 2-argument
    * contains functions (quotient/xor/fuse/classic-bloom).
    */
  def broadcastProbe(spark: SparkSession, blob: Array[Byte], containsFn: String,
      hash: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    call_function(containsFn, broadcastBlobColumn(spark, blob), hash)

  /** Probe a big table against a stored catalog: per-row key lookup via a
    * broadcast join on the (small) catalog, then the contains predicate.
    * For a SINGLE key prefer `loadBlob` + a literal probe (no join at all,
    * small blobs) or `broadcastProbe` (big blobs).
    *
    * PREFER [[probeCatalog]] when the blobs are more than a few KB: the
    * joined `filter` column makes every contains probe re-copy the blob
    * out of the row (blob size grows with the group's key count, so the
    * copy bill is |rows| × |blob| — measured 197×/decade on the sf10
    * sweep); the catalog-map path probes the broadcast bytes in place.
    */
  def probeJoin(big: DataFrame, keyCol: String, hashCol: String,
      catalog: DataFrame, containsFn: String): DataFrame =
    big.join(broadcast(catalog.select(col("key"), col("filter"))),
        big(keyCol).cast("string") === col("key"))
      .where(call_function(containsFn, col("filter"), col(hashCol)))
      .drop("key", "filter")

  /** Probe a big table against a stored catalog with NO join: the catalog
    * (one blob per group — small by construction) is collected once,
    * broadcast as a map, and each row's probe looks its group's blob up by
    * reference inside one codegen'd scan. Rows whose key has no catalog
    * entry are dropped (the lookup yields NULL and the contains predicate
    * propagates it), matching [[probeJoin]]'s inner-join semantics.
    */
  def probeCatalog(big: DataFrame, keyCol: String, hashCol: String,
      catalog: DataFrame, containsFn: String,
      maxCatalogBytes: Long = 1L << 30): DataFrame = {
    // cheap pre-collect guard: an oversized catalog fails with a clear
    // message instead of OOMing the driver mid-collect (sum of blob sizes
    // is one tiny agg over the catalog relation)
    val projected = catalog.select(col("key"), col("filter"))
    val stats = projected
      .agg(count(lit(1)).cast("long"), sum(length(col("filter"))).cast("long"))
      .head()
    val totalBytes = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    require(totalBytes <= maxCatalogBytes,
      s"probeCatalog would collect ${stats.getLong(0)} blobs / $totalBytes bytes " +
        s"to the driver (max $maxCatalogBytes); this catalog is too big for the " +
        "broadcast-map path — use probeJoin, or raise maxCatalogBytes deliberately")
    val blobs = projected.collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    val bc = big.sparkSession.sparkContext.broadcast(blobs)
    val blobCol = graft.operators.ColumnBridge.column(
      graft.functions.BroadcastBlobMap(bc,
        graft.operators.ColumnBridge.expression(col(keyCol).cast("string"))))
    big.where(call_function(containsFn, blobCol, col(hashCol)))
  }
}
