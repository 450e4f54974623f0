package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit

import graft.operators.ColumnBridge

/** Typed DataFrame/Column API over the graft filter functions — no SQL
  * strings, no session registration required.
  *
  * {{{
  *   import graft.functions.filters._
  *   val flt = dim.agg(xor8Filter(duckdbHash($"key")).as("f"))
  *   facts.join(broadcast(flt))
  *        .where(xor8FilterContains($"f", duckdbHash($"fact_key")))
  * }}}
  */
object filters {

  private def c(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    ColumnBridge.column(e)
  private def e(col: Column) = ColumnBridge.expression(col)

  val DefaultVersion = "v1.5.1"

  /** Bit-exact DuckDB-internal hash of one or more columns. */
  def duckdbHash(cols: Column*): Column =
    duckdbHashVersion(DefaultVersion, cols: _*)
  def duckdbHashVersion(version: String, cols: Column*): Column =
    c(DuckDbHashExpr(e(lit(version)) +: cols.map(e)))

  // aggregates -------------------------------------------------------------
  def quotientFilter(q: Int, r: Int, hash: Column, strict: Boolean = false): Column =
    c(QuotientFilterAgg(e(lit(q)), e(lit(r)), e(hash), strict).toAggregateExpression())
  def xor8Filter(hash: Column): Column = c(XorFilterAgg(e(hash), 8).toAggregateExpression())
  def xor16Filter(hash: Column): Column = c(XorFilterAgg(e(hash), 16).toAggregateExpression())
  def binaryFuse8Filter(hash: Column): Column = c(BinaryFuseFilterAgg(e(hash), 8).toAggregateExpression())
  def binaryFuse16Filter(hash: Column): Column = c(BinaryFuseFilterAgg(e(hash), 16).toAggregateExpression())
  def duckdbBloomFilter(numSectors: Int, hash: Column, version: String = DefaultVersion): Column =
    c(DuckDbBloomFilterCreateAgg(e(lit(version)), e(lit(numSectors)), e(hash)).toAggregateExpression())
  def bloomFilter(capacity: Long, fpr: Double, value: Column): Column =
    c(ClassicBloomFilterAgg(e(lit(capacity)), e(lit(fpr)), e(value)).toAggregateExpression())

  // probes -----------------------------------------------------------------
  def quotientFilterContains(filter: Column, hash: Column): Column =
    c(BlobProbe(e(filter), e(hash), ProbeFamily.Quotient))
  def xor8FilterContains(filter: Column, hash: Column): Column =
    c(BlobProbe(e(filter), e(hash), ProbeFamily.Xor(8)))
  def xor16FilterContains(filter: Column, hash: Column): Column =
    c(BlobProbe(e(filter), e(hash), ProbeFamily.Xor(16)))
  def binaryFuse8FilterContains(filter: Column, hash: Column): Column =
    c(BlobProbe(e(filter), e(hash), ProbeFamily.Fuse(8)))
  def binaryFuse16FilterContains(filter: Column, hash: Column): Column =
    c(BlobProbe(e(filter), e(hash), ProbeFamily.Fuse(16)))
  def duckdbBloomFilterProbe(filter: Column, values: Column*): Column =
    duckdbBloomFilterProbeVersion(DefaultVersion, filter, values: _*)
  def duckdbBloomFilterProbeVersion(version: String, filter: Column, values: Column*): Column =
    c(DuckDbBloomFilterProbe(e(lit(version)) +: e(filter) +: values.map(e)))
  def bloomFilterContains(filter: Column, value: Column): Column =
    c(ClassicBloomContains(e(filter), e(value)))

  // sketches ---------------------------------------------------------------
  def minHash(hash: Column, numHashes: Int = 128): Column =
    c(graft.operators.MinHashAgg(e(hash), numHashes).toAggregateExpression())
  def simHash(hash: Column): Column =
    c(graft.operators.SimHashAgg(e(hash)).toAggregateExpression())
}
