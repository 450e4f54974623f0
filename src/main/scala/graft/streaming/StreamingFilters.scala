package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.DuckDbBloomFilter

/** Structured Streaming integration for the filter aggregates.
  *
  * The reference is batch-only ("Don't rebuild filters frequently for dynamic
  * data", docs/README.md:463); this is a Spark-native extension: because
  * every filter aggregate implements merge() as a commutative/associative
  * state combine, they work unchanged under streaming `groupBy().agg()` in
  * update/complete mode — each micro-batch folds new keys into the running
  * filter state. Watermarked windowed variants bound state size.
  */
object StreamingFilters {

  /** Windowed distinct-ish cardinality guard: per event-time window, build a
    * bloom filter of seen keys (for downstream dedup probes) plus a count.
    * Watermark bounds state: windows older than `watermark` are finalized
    * and dropped.
    */
  def windowedKeyFilters(events: DataFrame, tsCol: String, hashCol: String,
      windowexpr: String = "1 hour", watermark: String = "2 hours",
      numSectors: Int = 4096): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowexpr))
      .agg(
        expr(s"bitfilters_duckdb_bloom_filter_create('v1.5.1', $numSectors, $hashCol)").as("filter"),
        count(lit(1)).as("events"))

  /** A document routed through the streaming dedup: `shard` is the state
    * partition (hash-derived; controls state granularity and parallelism),
    * `fingerprint` the 64-bit content hash.
    */
  case class ShardedDoc(shard: Long, docId: Long, fingerprint: Long)

  /** Streaming approximate dedup with BOUNDED state: per shard, a DuckDB
    * bloom filter of every fingerprint seen so far lives in the state
    * store; a document is emitted only if its fingerprint was not possibly
    * seen, then folded in. Custom state via `flatMapGroupsWithState` —
    * unlike `dropDuplicates` (exact, state grows with distinct keys), the
    * state here is a FIXED 8*(numSectors+1) bytes per shard forever, the
    * only viable shape for an unbounded 100 TB stream; the cost is
    * one-sided error (a few false "duplicate" drops at the configured FPR,
    * never a duplicate emitted... modulo same-batch ordering).
    */
  def approximateDedupStream(docs: Dataset[ShardedDoc],
      numSectors: Int = 1 << 16): Dataset[ShardedDoc] = {
    implicit val docEnc: Encoder[ShardedDoc] = Encoders.product[ShardedDoc]
    implicit val blobEnc: Encoder[Array[Byte]] = Encoders.BINARY
    implicit val longEnc: Encoder[Long] = Encoders.scalaLong
    docs.groupByKey(_.shard)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[ShardedDoc], state: GroupState[Array[Byte]]) =>
          val filter = state.getOption
            .map(DuckDbBloomFilter.deserialize)
            .getOrElse(DuckDbBloomFilter.create(numSectors))
          // materialize before state.update: the returned iterator is
          // consumed after this function returns
          val fresh = rows.filter { d =>
            val dup = filter.mightContain(d.fingerprint)
            if (!dup) filter.insert(d.fingerprint)
            !dup
          }.toVector
          state.update(filter.serialize())
          fresh.iterator
      }
  }
}
