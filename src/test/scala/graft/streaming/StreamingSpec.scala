package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class StreamingSpec extends AnyFunSuite with SparkSpec {

  test("streaming bloom filter aggregate folds state across micro-batches") {
    val sps = spark; import sps.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val keyed = input.toDF().toDF("grp", "key")
      .selectExpr("grp", "bitfilters_duckdb_hash('v1.5.1', key) AS h")
    val filters = keyed.groupBy(col("grp"))
      .agg(expr("bitfilters_duckdb_bloom_filter_create('v1.5.1', 1024, h)").as("filter"))
    val query = filters.writeStream.format("memory").queryName("bf_stream")
      .outputMode("complete").start()
    try {
      input.addData((0L, 1L), (0L, 2L), (1L, 100L))
      query.processAllAvailable()
      input.addData((0L, 3L), (1L, 101L))
      query.processAllAvailable()
      val out = spark.table("bf_stream").collect()
        .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
      // probe the streamed filters: all keys from both batches must be present
      def probe(g: Long, k: Long) =
        graft.core.DuckDbBloomFilter.probeBlob(out(g), graft.core.DuckDbHash.hashLong(k))
      assert(Seq(1L, 2L, 3L).forall(probe(0L, _)))
      assert(Seq(100L, 101L).forall(probe(1L, _)))
    } finally query.stop()
  }

  test("streaming histogram sketch folds state across micro-batches") {
    val sps = spark; import sps.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    val hists = input.toDF().toDF("grp", "x")
      .groupBy($"grp")
      .agg(org.apache.spark.sql.functions.expr("hist_sketch(4, 0.0D, 8.0D, x)").as("h"))
    val query = hists.writeStream.format("memory").queryName("hist_stream")
      .outputMode("complete").start()
    try {
      input.addData((0L, 1.0), (0L, 3.0), (1L, 7.0))
      query.processAllAvailable()
      input.addData((0L, 1.5), (0L, 100.0), (1L, -1.0))
      query.processAllAvailable()
      val out = spark.table("hist_stream").collect()
        .map(r => r.getLong(0) -> graft.core.HistogramSketch.deserialize(
          r.getAs[Array[Byte]](1))).toMap
      // group 0: 1.0, 1.5 in bin 0; 3.0 in bin 1; 100.0 above
      assert(out(0L).counts.toSeq == Seq(2L, 1L, 0L, 0L) && out(0L).above == 1)
      // group 1: 7.0 in bin 3; -1.0 below
      assert(out(1L).counts.toSeq == Seq(0L, 0L, 0L, 1L) && out(1L).below == 1)
    } finally query.stop()
  }

  test("streaming topk_agg folds the bounded heap across micro-batches") {
    val sps = spark; import sps.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long)]
    val tk = input.toDF().toDF("grp", "v", "id")
      .groupBy($"grp")
      .agg(org.apache.spark.sql.functions.expr("topk_agg(2, v, id)").as("tk"))
    val query = tk.writeStream.format("memory").queryName("tk_stream")
      .outputMode("complete").start()
    try {
      input.addData((0L, 10L, 1L), (0L, 5L, 2L), (0L, 8L, 3L))
      query.processAllAvailable()
      input.addData((0L, 20L, 4L), (0L, 1L, 5L))
      query.processAllAvailable()
      val rows = spark.sql(
        "SELECT e.ord, e.payload FROM tk_stream LATERAL VIEW explode(tk) t AS e WHERE grp = 0")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows == Seq((20L, 4L), (10L, 1L))) // top-2 across both batches
    } finally query.stop()
  }

  test("watermarked windowed filter aggregation") {
    val sps = spark; import sps.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val events = input.toDF().toDF("ts", "key")
      .selectExpr("ts", "bitfilters_duckdb_hash('v1.5.1', key) AS h")
    val windowed = StreamingFilters.windowedKeyFilters(events, "ts", "h", "1 hour", "2 hours", 256)
    val query = windowed.writeStream.format("memory").queryName("win_stream")
      .outputMode("complete").start()
    try {
      val t0 = Timestamp.valueOf("2024-01-01 10:15:00")
      val t1 = Timestamp.valueOf("2024-01-01 11:30:00")
      input.addData((t0, 1L), (t0, 2L), (t1, 3L))
      query.processAllAvailable()
      val rows = spark.table("win_stream").collect()
      assert(rows.length == 2) // two hourly windows
      assert(rows.map(_.getLong(2)).sum == 3)
      rows.foreach(r => assert(r.getAs[Array[Byte]](1) != null))
    } finally query.stop()
  }

  test("streaming sessionization: gap split, cross-batch merge, watermark close") {
    val sps = spark; import sps.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val sessions = StreamingSessions.streamingSessionStats(
      input.toDF().toDF("user_id", "ts"), "user_id", "ts", gap = "10 minutes", watermark = "0 seconds")
    val query = sessions.writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      // user 1: two events 5 min apart (one session), then a 30-min gap
      input.addData((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:05:00")))
      query.processAllAvailable()
      input.addData((1L, ts("2024-01-01 10:35:00")), (2L, ts("2024-01-01 10:36:00")))
      query.processAllAvailable()
      // advance the watermark far past all session ends to close everything
      input.addData((9L, ts("2024-01-01 12:00:00")))
      query.processAllAvailable()
      val out = spark.table("sess_stream")
        .select("user_id", "n_events").as[(Long, Long)].collect().sorted
      // user 1: one 2-event session + one 1-event session; user 2: one
      assert(out.toSeq == Seq((1L, 1L), (1L, 2L), (2L, 1L)), out.mkString(","))
    } finally query.stop()
  }

  test("session_window on a batch frame agrees with the window-function sessionizer") {
    val sps = spark; import sps.implicits._
    val events = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L),
      (1L, Timestamp.valueOf("2024-01-01 10:05:00"), 2L),
      (1L, Timestamp.valueOf("2024-01-01 11:00:00"), 3L),
      (2L, Timestamp.valueOf("2024-01-01 09:00:00"), 4L)
    ).toDF("user_id", "ts", "event_id")
    // same definition runs on a batch frame (no watermark needed)
    val viaSessionWindow = events
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select("user_id", "n_events").as[(Long, Long)].collect().sorted.toSeq
    val viaWindowFn = graft.operators.Events.sessionStats(
        graft.operators.Events.sessionize(events, "user_id", "ts", gapSeconds = 1800), "user_id")
      .select(col("user_id"), col("n_events")).as[(Long, Long)].collect().sorted.toSeq
    assert(viaSessionWindow == viaWindowFn && viaSessionWindow == Seq((1L, 1L), (1L, 2L), (2L, 1L)))
  }

  test("approximate dedup stream: bounded state, no duplicate emitted across batches") {
    val sps = spark; import sps.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingFilters.ShardedDoc
    val input = MemoryStream[ShardedDoc]
    val deduped = StreamingFilters.approximateDedupStream(input.toDS(), numSectors = 1024)
    val query = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      def fp(id: Long) = graft.core.DuckDbHash.hashLong(id)
      input.addData(ShardedDoc(0, 1, fp(1)), ShardedDoc(0, 2, fp(2)), ShardedDoc(1, 1, fp(1)))
      query.processAllAvailable()
      // batch 2 repeats fingerprints from batch 1 (cross-batch state) plus
      // an in-batch duplicate and one genuinely new doc
      input.addData(ShardedDoc(0, 3, fp(1)), ShardedDoc(0, 4, fp(4)),
        ShardedDoc(0, 5, fp(4)), ShardedDoc(1, 2, fp(1)))
      query.processAllAvailable()
      val out = spark.table("dedup_stream").as[ShardedDoc].collect()
      val byShard = out.groupBy(_.shard).view.mapValues(_.map(_.docId).toSet).toMap
      assert(byShard(0L) == Set(1L, 2L, 4L), s"shard 0 got ${byShard(0L)}")
      assert(byShard(1L) == Set(1L), s"shard 1 got ${byShard(1L)}")
    } finally query.stop()
  }

  test("streaming curation composition: quality gate + cross-batch dedup match batch") {
    val sps = spark; import sps.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    import StreamingFilters.ShardedDoc
    val good = "the quick brown fox jumps over the lazy dog and that is fine for a test of quality"
    val junk = "!!!???!!!"
    val batch1 = Seq((1L, good + " one"), (2L, junk), (3L, good + " three"))
    val batch2 = Seq((4L, good + " one"), (5L, good + " five"), (6L, junk))
    val input = MemoryStream[(Long, String)]
    // the SAME operators as batch: metric projection + quality filter ride
    // the stream; content fingerprints feed the stateful dedup
    val gated = TextAnalysis.withQualityMetrics(
        input.toDF().toDF("doc_id", "text"), "text")
      .where(col("quality_score") >= 0.5)
      .select(lit(0L).as("shard"), col("doc_id").as("docId"),
        expr("bitfilters_duckdb_hash('v1.5.1', text)").as("fingerprint"))
      .as[ShardedDoc]
    val deduped = StreamingFilters.approximateDedupStream(gated, numSectors = 4096)
    val query = deduped.writeStream.format("memory").queryName("curation_stream")
      .outputMode("append").start()
    try {
      input.addData(batch1: _*); query.processAllAvailable()
      input.addData(batch2: _*); query.processAllAvailable()
      val streamIds = spark.table("curation_stream").as[ShardedDoc]
        .collect().map(_.docId).toSet
      // batch replay with the batch operators: quality gate then
      // keep-first exact dedup — doc 4 duplicates doc 1 across batches
      val batchDocs = (batch1 ++ batch2).toDF("doc_id", "text")
      val expected = graft.operators.Dedup.dropExactDuplicates(
          TextAnalysis.withQualityMetrics(batchDocs, "text")
            .where(col("quality_score") >= 0.5).select("doc_id", "text"),
          "text", "doc_id")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(streamIds == expected, s"stream=$streamIds batch=$expected")
      assert(streamIds == Set(1L, 3L, 5L), streamIds.toString)
    } finally query.stop()
  }

  test("incremental near-dup works stream-static and matches the batch pair set") {
    val sps = spark; import sps.implicits._
    implicit val sqlCtx = spark.sqlContext
    val olds = ((1L to 20L).map(i =>
        (i, s"tok${i % 7} tok${i % 5} tok${i % 3} tok${i % 11} filler$i tail")) ++ Seq(
        (101L, "alpha beta gamma delta epsilon zeta eta"),
        (102L, "one two three four five six seven eight"))).toDF("doc_id", "text")
    val newBatch1 = Seq(
      (201L, "alpha beta gamma delta epsilon zeta eta"), // dup of 101
      (202L, "totally novel content nothing shared here"))
    val newBatch2 = Seq(
      (201L, "alpha beta gamma delta epsilon zeta eta"), // re-arrival: state dedup
      (203L, "one two three four five six seven eight")) // dup of 102
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val pairs = graft.operators.Dedup.incrementalNearDuplicates(
      stream, olds, "text", "doc_id", threshold = 0.5, portable = true)
    val query = pairs.writeStream.format("memory").queryName("inc_dedup_stream")
      .outputMode("append").start()
    try {
      input.addData(newBatch1: _*)
      query.processAllAvailable()
      input.addData(newBatch2: _*)
      query.processAllAvailable()
      val got = spark.table("inc_dedup_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // the re-arrived (201, 101) pair must NOT emit twice
      assert(got.length == got.distinct.length, s"duplicate emissions: ${got.toSeq}")
      val batch = graft.operators.Dedup.incrementalNearDuplicates(
          (newBatch1 ++ newBatch2).distinct.toDF("doc_id", "text"), olds,
          "text", "doc_id", threshold = 0.5, portable = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(got.toSet == batch.toSet, s"stream=${got.toSet} batch=${batch.toSet}")
      assert(got.toSet.map((p: (Long, Long, Double)) => (p._1, p._2))
        .intersect(Set((201L, 101L), (203L, 102L))) == Set((201L, 101L), (203L, 102L)))
    } finally query.stop()
  }

  test("bucketed range join works stream-static: streaming points against static intervals") {
    val sps = spark; import sps.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = new Timestamp(s * 1000)
    // static interval table: two 10-minute windows, one far-away window
    val intervals = Seq(
      (10L, ts(1000), ts(1600)),
      (20L, ts(1500), ts(2100)),
      (30L, ts(90000), ts(90600))).toDF("iid", "s", "e")
    val input = MemoryStream[(Long, Timestamp)]
    val points = input.toDF().toDF("pid", "pts")
    // the same operator, unchanged: bin explode on the static side, per-row
    // bin on the stream side, stream-static equi-join + residual
    val joined = graft.operators.Events.rangeJoin(points, intervals,
      "pts", "s", "e", binWidthUs = 300L * 1000000L)
    val query = joined.select("pid", "iid").writeStream.format("memory")
      .queryName("range_stream").outputMode("append").start()
    try {
      input.addData((1L, ts(1200)), (2L, ts(1550)), (3L, ts(5000)))
      query.processAllAvailable()
      input.addData((4L, ts(2100)), (5L, ts(90000)))
      query.processAllAvailable()
      val got = spark.table("range_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // 1 -> [1000,1600] only; 2 -> both overlapping windows; 3 -> none;
      // 4 -> inclusive end of [1500,2100]; 5 -> inclusive start of window 30
      assert(got == Set((1L, 10L), (2L, 10L), (2L, 20L), (4L, 20L), (5L, 30L)), s"got $got")
    } finally query.stop()
  }
}
