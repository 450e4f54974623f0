package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Pins the determinism contract the `q_stream_*` CORRECTNESS gates rely
  * on (FileStreams scaladoc): after an AvailableNow drain, the emitted set
  * of an append-mode watermarked aggregation equals the batch result
  * restricted to windows with `end_us <= (floor(max_us/1000) - delay_ms) *
  * 1000`, for ANY micro-batch split; eviction fires at `end == watermark`
  * (inclusive); `session_window` merges events exactly `gap` apart (the
  * same `diff > gap` break rule as the batch sessionizer).
  */
class FileStreamsSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
  }

  private def batchEvents(): DataFrame =
    FileStreams.normalizeTimestamps(
      spark.read.parquet(s"$dir/events.parquet"), Seq("ts"))

  /** The contract cutoff: final watermark in micros, ms-floored. */
  private def watermarkUs(ev: DataFrame, delayMs: Long): Long =
    (ev.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0) / 1000 - delayMs) * 1000

  test("windowed counts: emitted set == batch result under the ms-floored cutoff") {
    val ev = FileStreams.tableStream(spark, dir, "events", Seq("ts"))
    val out = FileStreams.runAvailableNow(
      FileStreams.windowedEventCounts(ev, "ts", "event_type", "1 day", "1 hour"))
    val batch = batchEvents()
    val wm = watermarkUs(batch, 3600000L)
    val expected = batch
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"))
      .select(unix_micros(col("window.start")).as("w_us"), col("event_type"), col("n"))
      .filter(col("w_us") + 86400000000L <= wm)
    assert(out.collect().map(_.toSeq).toSet == expected.collect().map(_.toSeq).toSet)
    assert(out.count() > 0)
  }

  test("windowed top-k: chained stateful aggs == batch counts + rank under the cutoff") {
    val ev = FileStreams.tableStream(spark, dir, "events", Seq("ts"))
    val out = FileStreams.runAvailableNow(
      FileStreams.windowedTopK(ev, "ts", "user_id", k = 5, "1 day", "1 hour"))
    val batch = batchEvents()
    val wm = watermarkUs(batch, 3600000L)
    val counts = batch
      .groupBy(window(col("ts"), "1 day"), col("user_id"))
      .agg(count(lit(1)).cast("long").as("n"))
      .select(unix_micros(col("window.start")).as("w_us"), col("user_id"), col("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("w_us").orderBy(col("n").desc, col("user_id"))
    val expected = counts
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= 5 && col("w_us") + 86400000000L <= wm)
      .select(col("w_us"), col("rank"), col("user_id").cast("long"), col("n"))
    assert(out.collect().map(_.toSeq).toSet == expected.collect().map(_.toSeq).toSet)
    assert(out.count() > 0)
    // each closed window emits its top-k exactly once, ranks dense 1..k
    val ranks = out.groupBy("w_us").agg(collect_list("rank").as("rs"))
      .collect().map(_.getSeq[Int](1).sorted)
    assert(ranks.forall(rs => rs == (1 to rs.size)), ranks.mkString(";"))
  }

  test("windowed histogram: emitted bins == batch sketch under the cutoff, zeros absent") {
    val ev = FileStreams.tableStream(spark, dir, "events", Seq("ts"))
      .withColumn("x", round(col("value") * 100).cast("long").cast("double"))
    val out = FileStreams.runAvailableNow(
      FileStreams.windowedHistogram(ev, "ts", "x", 50, 0.0, 50000.0, "1 day", "1 hour"))
    val batch = batchEvents()
      .withColumn("x", round(col("value") * 100).cast("long").cast("double"))
    val wm = watermarkUs(batch, 3600000L)
    val expected = batch
      .select(unix_micros(date_trunc("DAY", col("ts"))).as("w_us"),
        when(col("x") < 0.0, 0)
          .when(col("x") >= 50000.0, 51)
          .otherwise(lit(1) + least(lit(49), floor(col("x") / 1000.0).cast("int")))
          .as("slot"))
      .groupBy("w_us", "slot").agg(count(lit(1)).as("n"))
      .where(col("w_us") + 86400000000L <= wm)
    assert(out.collect().map(_.toSeq).toSet == expected.collect().map(_.toSeq).toSet)
    assert(out.count() > 0 && out.where(col("n") <= 0).count() == 0)
  }

  test("stream-static enrichment: emitted set == batch join+rollup under the cutoff") {
    val ev = FileStreams.tableStream(spark, dir, "events", Seq("ts"))
    val dim = spark.read.parquet(s"$dir/customer.parquet")
    val out = FileStreams.runAvailableNow(
      FileStreams.enrichedWindowedStats(ev, "ts", "value", "user_id",
        dim, "c_custkey", "c_mktsegment"))
    val batch = batchEvents()
    val wm = watermarkUs(batch, 3600000L)
    val expected = batch
      .join(dim.select(col("c_custkey").cast("long").as("user_id"),
        col("c_mktsegment").as("segment")), Seq("user_id"))
      .groupBy(window(col("ts"), "1 day"), col("segment"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(round(col("value") * 100).cast("long")).cast("long").as("value_e2"))
      .select(unix_micros(col("window.start")).as("w_us"), col("segment"),
        col("n"), col("value_e2"))
      .filter(col("w_us") + 86400000000L <= wm)
    assert(out.collect().map(_.toSeq).toSet == expected.collect().map(_.toSeq).toSet)
    assert(out.count() > 0)
  }

  test("stream-stream interval join: emitted pairs == batch interval join") {
    val ev = FileStreams.tableStream(spark, dir, "events", Seq("ts"))
    val out = FileStreams.runAvailableNow(
      FileStreams.streamIntervalJoin(ev, "ts", "event_type", "user_id",
        "view", "purchase", 3600000000L))
    val batch = batchEvents()
    val a = batch.where(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("lts"))
    val b = batch.where(col("event_type") === "purchase")
      .select(col("user_id").as("rk"), col("ts").as("rts"))
    val expected = a.join(b, col("user_id") === col("rk") &&
        col("rts") >= col("lts") &&
        unix_micros(col("rts")) <= unix_micros(col("lts")) + 3600000000L)
      .select(col("user_id"), unix_micros(col("lts")).as("l_us"),
        unix_micros(col("rts")).as("r_us"),
        (unix_micros(col("rts")) - unix_micros(col("lts"))).as("dt_us"))
    assert(out.collect().map(_.toSeq).toSet == expected.collect().map(_.toSeq).toSet)
    assert(out.count() > 0)
  }

  test("emitted set is identical under an event-time-ordered one-file-per-trigger split") {
    val batch = batchEvents()
    // re-stage the table as 3 event-time-ranged files (the production
    // landing shape: files arrive in rough event-time order) and drain one
    // file per micro-batch: three data batches, three intermediate
    // watermarks, same final emitted set
    val staged = java.nio.file.Files.createTempDirectory("graft_split_")
    batch.repartitionByRange(3, col("ts")).write.mode("overwrite").parquet(staged.toString)
    // FileStreamSource orders by modification time — make arrival order
    // explicit: part-00000 (earliest ts range) lands first
    val parts = staged.toFile.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(1000000000000L + i * 60000L): Unit }
    val src = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false").parquet(staged.toString)
    val out = FileStreams.runAvailableNow(
      FileStreams.windowedEventCounts(src, "ts", "event_type", "1 day", "1 hour"))
    val single = FileStreams.runAvailableNow(
      FileStreams.windowedEventCounts(
        FileStreams.tableStream(spark, dir, "events", Seq("ts")),
        "ts", "event_type", "1 day", "1 hour"))
    assert(out.collect().map(_.toSeq).toSet == single.collect().map(_.toSeq).toSet)
  }

  test("left-outer interval join: matches == batch inner, nulls == expired unmatched") {
    val ev = FileStreams.tableStream(spark, dir, "events", Seq("ts"))
    val win = 1800000000L
    val out = FileStreams.runAvailableNow(
      FileStreams.streamIntervalJoinOuter(
        ev, "ts", "event_type", "user_id", "view", "click", win))
    val batch = batchEvents()
    val l = batch.where(col("event_type") === "view")
      .select(col("user_id").as("k"), unix_micros(col("ts")).as("lus"))
    val r = batch.where(col("event_type") === "click")
      .select(col("user_id").as("rk"), unix_micros(col("ts")).as("rus"))
    // the GLOBAL watermark is the min over the two per-side watermark
    // nodes (each sees only its filtered stream, ms-floored)
    val wm = math.min(
      watermarkUs(batch.where(col("event_type") === "view"), 3600000L),
      watermarkUs(batch.where(col("event_type") === "click"), 3600000L))
    val matched = l.join(r, col("k") === col("rk") &&
        col("rus") >= col("lus") && col("rus") <= col("lus") + win)
      .select(col("k"), col("lus"), col("rus"))
      .collect().map(_.toSeq).toSet
    val gotMatched = out.where(col("r_us").isNotNull)
      .select(col("user_id"), col("l_us"), col("r_us"))
      .collect().map(_.toSeq).toSet
    assert(gotMatched == matched, "matched pairs != batch inner join")
    // NULL-extended rows: unmatched left events whose window expired
    // strictly before the final watermark
    val unmatched = l.join(r, col("k") === col("rk") &&
        col("rus") >= col("lus") && col("rus") <= col("lus") + win, "left_anti")
      .where(col("lus") + win < wm)
      .select(col("k"), col("lus"))
      .collect().map(_.toSeq).toSet
    val gotNulls = out.where(col("r_us").isNull)
      .select(col("user_id"), col("l_us"))
      .collect().map(_.toSeq).toSet
    assert(gotNulls == unmatched,
      s"null-extension cutoff drifted: missing ${unmatched -- gotNulls}, extra ${gotNulls -- unmatched}")
    assert(gotNulls.nonEmpty && gotMatched.nonEmpty)
  }

  test("outer join watermark is the MIN of the per-side nodes (ms-floored each)") {
    val sps = spark; import sps.implicits._
    // views at 0..120 min (5-min steps), one click at 200 min; win 30 min,
    // delay 10 min. Overall-max watermark (190 min) would evict every
    // view; the VIEW side's own watermark is 120 − 10 = 110 min, so only
    // views with lts + 30 < 110, i.e. lts <= 75 min, may emit nulls.
    val base = 1700000000000000L
    val minUs = 60000000L
    val rows = (0 to 24).map(i => (i.toLong, "view", base + i * 5 * minUs)) :+
      (999L, "click", base + 200 * minUs)
    val df = rows.toDF("user_id", "event_type", "us")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val staged = java.nio.file.Files.createTempDirectory("graft_minwm_")
    df.coalesce(1).write.mode("overwrite").parquet(staged.toString)
    val src = spark.readStream.schema(
      spark.read.parquet(staged.toString).schema).parquet(staged.toString)
    val out = FileStreams.runAvailableNow(
      FileStreams.streamIntervalJoinOuter(
        src, "ts", "event_type", "user_id", "view", "click", 30 * minUs,
        watermark = "10 minutes"))
    val emitted = out.where(col("r_us").isNull).select("user_id")
      .collect().map(_.getLong(0)).toSet
    assert(emitted == (0L to 15L).toSet,
      s"min-watermark eviction drifted: got ${emitted.toSeq.sorted}")
  }

  // The three restart specs run their two resumed drains under BOTH
  // state-store providers, named through Spark's own key: the HDFS-backed
  // default and RocksDB (state off-heap). Restart-resume is the behavior
  // most sensitive to a provider swap (state survives through provider
  // snapshot/changelog files), and each spec's final union == single-drain
  // assertion compares the named provider against a DEFAULT-provider single
  // drain — so it is also a cross-provider equality check.
  private val ProviderConf = org.apache.spark.sql.internal.SQLConf.STATE_STORE_PROVIDER_CLASS.key
  private val providerClass = Map(
    "hdfs" -> "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    "rocksdb" -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** `drain` under `provider`, set on the session around it only. */
  private def underProvider[T](provider: String)(drain: => T): T =
    FileStreams.withSessionConf(spark, Map(ProviderConf -> providerClass(provider)))(drain)

  /** The named provider wrote `ck`'s state: the HDFS-backed store leaves
    * `.delta` files, RocksDB leaves none but its own `.zip`/`.changelog`.
    */
  private def assertStateWrittenBy(provider: String, ck: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val names = java.nio.file.Files.walk(ck.resolve("state")).iterator().asScala
      .map(_.getFileName.toString).toSet
    val deltas = names.count(_.endsWith(".delta"))
    if (provider == "hdfs") assert(deltas > 0, names)
    else assert(deltas == 0 && names.exists(n => n.endsWith(".zip") || n.endsWith(".changelog")),
      names)
  }

  for (provider <- Seq("hdfs", "rocksdb"))
  test(s"two drains with a checkpoint restart: union of emissions == single drain [$provider]") {
    val batch = batchEvents()
    // production landing shape: batch 1 lands, the query drains and STOPS;
    // batch 2 (later event times) lands after a restart from the same
    // checkpoint — the emitted union must equal one big drain
    val staged = java.nio.file.Files.createTempDirectory("graft_twodrain_stage_")
    batch.repartitionByRange(2, col("ts")).write.mode("overwrite").parquet(staged.toString)
    val parts = staged.toFile.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(parts.length == 2)
    val landing = java.nio.file.Files.createTempDirectory("graft_twodrain_landing_")
    val sink = java.nio.file.Files.createTempDirectory("graft_twodrain_sink_")
    val ck = java.nio.file.Files.createTempDirectory("graft_twodrain_ck_")
    def drain(): DataFrame = underProvider(provider)(FileStreams.runAvailableNow(
      FileStreams.windowedEventCounts(
        spark.readStream.schema(batch.schema).parquet(landing.toString),
        "ts", "event_type", "1 day", "1 hour"),
      sinkDir = Some(sink), checkpointDir = Some(ck)))
    // drain 1: only the earlier event-time file is staged
    java.nio.file.Files.createSymbolicLink(
      landing.resolve("part_00000.parquet"), parts(0).toPath): Unit
    val first = drain().collect().map(_.toSeq).toSet
    // drain 2: the later file arrives; restart resumes offsets + state
    java.nio.file.Files.createSymbolicLink(
      landing.resolve("part_00001.parquet"), parts(1).toPath): Unit
    val union = drain().collect().map(_.toSeq).toSet
    assertStateWrittenBy(provider, ck)
    assert(first.subsetOf(union), "a drain-1 emission vanished from the sink")
    assert(union.size > first.size, "drain 2 emitted nothing — restart did not resume")
    val single = FileStreams.runAvailableNow(
      FileStreams.windowedEventCounts(
        FileStreams.tableStream(spark, dir, "events", Seq("ts")),
        "ts", "event_type", "1 day", "1 hour"))
      .collect().map(_.toSeq).toSet
    assert(union == single,
      s"two-drain union != single drain: missing ${single -- union}, extra ${union -- single}")
  }

  for (provider <- Seq("hdfs", "rocksdb"))
  test(s"windowed top-k restart: two drains finalize the same windows as one [$provider]") {
    // the chained stateful aggs (count state + rank state) must carry
    // cross-batch: windows whose events SPAN the restart may only close —
    // and emit their top-k exactly once — after the second drain's
    // watermark passes them
    val batch = batchEvents()
    val staged = java.nio.file.Files.createTempDirectory("graft_topk_stage_")
    batch.repartitionByRange(2, col("ts")).write.mode("overwrite").parquet(staged.toString)
    val parts = staged.toFile.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(parts.length == 2)
    val landing = java.nio.file.Files.createTempDirectory("graft_topk_landing_")
    val sink = java.nio.file.Files.createTempDirectory("graft_topk_sink_")
    val ck = java.nio.file.Files.createTempDirectory("graft_topk_ck_")
    def drain(): DataFrame = underProvider(provider)(FileStreams.runAvailableNow(
      FileStreams.windowedTopK(
        spark.readStream.schema(batch.schema).parquet(landing.toString),
        "ts", "user_id", k = 5, "1 day", "1 hour"),
      sinkDir = Some(sink), checkpointDir = Some(ck)))
    java.nio.file.Files.createSymbolicLink(
      landing.resolve("part_00000.parquet"), parts(0).toPath): Unit
    val first = drain().collect().map(_.toSeq).toSet
    java.nio.file.Files.createSymbolicLink(
      landing.resolve("part_00001.parquet"), parts(1).toPath): Unit
    val unionDf = drain()
    assertStateWrittenBy(provider, ck)
    val union = unionDf.collect().map(_.toSeq).toSet
    // no window's top-k emitted twice (set size == row count)
    assert(unionDf.count() == union.size, "a closed window re-emitted after restart")
    assert(first.subsetOf(union) && union.size > first.size)
    val single = FileStreams.runAvailableNow(
      FileStreams.windowedTopK(
        FileStreams.tableStream(spark, dir, "events", Seq("ts")),
        "ts", "user_id", k = 5, "1 day", "1 hour"))
      .collect().map(_.toSeq).toSet
    assert(union == single,
      s"top-k two-drain union != single drain: missing ${single -- union}, extra ${union -- single}")
  }

  for (provider <- Seq("hdfs", "rocksdb"))
  test(s"outer interval join restart: expired-unmatched state finalizes across drains [$provider]") {
    // cross-batch join-state eviction: a view whose 30-min window is still
    // open at drain 1's watermark is STATE (no output); drain 2 must
    // either match it or finalize it NULL-extended — and never twice. The
    // two-drain union must equal the single drain row for row.
    val batch = batchEvents()
    val staged = java.nio.file.Files.createTempDirectory("graft_oj_stage_")
    batch.repartitionByRange(2, col("ts")).write.mode("overwrite").parquet(staged.toString)
    val parts = staged.toFile.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val landing = java.nio.file.Files.createTempDirectory("graft_oj_landing_")
    val sink = java.nio.file.Files.createTempDirectory("graft_oj_sink_")
    val ck = java.nio.file.Files.createTempDirectory("graft_oj_ck_")
    def drain(): DataFrame = underProvider(provider)(FileStreams.runAvailableNow(
      FileStreams.streamIntervalJoinOuter(
        spark.readStream.schema(batch.schema).parquet(landing.toString),
        "ts", "event_type", "user_id", "view", "click", 1800000000L),
      sinkDir = Some(sink), checkpointDir = Some(ck)))
    java.nio.file.Files.createSymbolicLink(
      landing.resolve("part_00000.parquet"), parts(0).toPath): Unit
    val firstDf = drain()
    val first = firstDf.collect().map(_.toSeq)
    java.nio.file.Files.createSymbolicLink(
      landing.resolve("part_00001.parquet"), parts(1).toPath): Unit
    val unionRows = drain().collect().map(_.toSeq)
    assertStateWrittenBy(provider, ck)
    val union = unionRows.toSet
    assert(unionRows.length == union.size, "a join row re-emitted after restart")
    assert(first.toSet.subsetOf(union) && union.size > first.length)
    val singleRows = FileStreams.runAvailableNow(
      FileStreams.streamIntervalJoinOuter(
        FileStreams.tableStream(spark, dir, "events", Seq("ts")),
        "ts", "event_type", "user_id", "view", "click", 1800000000L))
      .collect().map(_.toSeq)
    val single = singleRows.toSet
    assert(union == single,
      s"outer-join two-drain union != single drain: missing ${(single -- union).take(3)}, " +
        s"extra ${(union -- single).take(3)}")
    // both paths emitted real NULL-extended rows (the eviction under test)
    assert(union.exists(r => r(2) == null), "no expired-unmatched rows — eviction untested")
  }

  test("out-of-order file arrival drops late windows (watermark semantics, not a bug)") {
    val batch = batchEvents()
    // randomly split files span the whole time range: after the first
    // micro-batch the watermark jumps to near-max, so most events in later
    // files are late and dropped — the emitted counts are a strict subset
    val staged = java.nio.file.Files.createTempDirectory("graft_ooo_")
    batch.repartition(3).write.mode("overwrite").parquet(staged.toString)
    val src = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "1").parquet(staged.toString)
    val out = FileStreams.runAvailableNow(
      FileStreams.windowedEventCounts(src, "ts", "event_type", "1 day", "1 hour"))
    val single = FileStreams.runAvailableNow(
      FileStreams.windowedEventCounts(
        FileStreams.tableStream(spark, dir, "events", Seq("ts")),
        "ts", "event_type", "1 day", "1 hour"))
    val outTotal = out.agg(sum("n")).collect()(0).getLong(0)
    val singleTotal = single.agg(sum("n")).collect()(0).getLong(0)
    assert(outTotal < singleTotal, s"$outTotal vs $singleTotal")
  }

  test("session rollup: emitted sessions == batch session_window under the cutoff") {
    val ev = FileStreams.tableStream(spark, dir, "events", Seq("ts"))
    val out = FileStreams.runAvailableNow(
      StreamingSessions.streamingSessionStats(
        ev, "user_id", "ts", gap = "30 minutes", watermark = "1 hour"))
      .select(col("user_id"), unix_micros(col("session_start")).as("s_us"),
        unix_micros(col("session_end")).as("e_us"), col("n_events"))
    val batch = batchEvents()
    val wm = watermarkUs(batch, 3600000L)
    val expected = batch
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_micros(col("session_window.start")).as("s_us"),
        unix_micros(col("session_window.end")).as("e_us"), col("n_events"))
      .filter(col("e_us") <= wm)
    assert(out.collect().map(_.toSeq).toSet == expected.collect().map(_.toSeq).toSet)
    // and batch session_window agrees with the window-function sessionizer
    // on session count (ends differ by +gap by construction)
    val viaFn = graft.operators.Events.sessionStats(
      graft.operators.Events.sessionize(batch, "user_id", "ts", gapSeconds = 1800),
      "user_id")
    assert(expected.count() <= viaFn.count())
  }

  test("eviction is inclusive: a window ending exactly at the watermark is emitted") {
    val sps = spark; import sps.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[java.sql.Timestamp]
    val agg = input.toDF().toDF("ts")
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("string").as("w"), col("n"))
    val q = agg.writeStream.format("memory").queryName("tie_stream")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(java.sql.Timestamp.valueOf("2024-01-01 10:30:00"))
      q.processAllAvailable()
      // watermark is now exactly 11:00:00.000 == end of window [10:00, 11:00)
      input.addData(java.sql.Timestamp.valueOf("2024-01-01 11:00:00"))
      q.processAllAvailable()
      val emitted = spark.table("tie_stream").collect().map(_.getString(0)).toSet
      assert(emitted.contains("2024-01-01 10:00:00"), emitted.toString)
    } finally q.stop()
  }

  test("session_window merges events exactly gap apart (diff > gap breaks)") {
    val sps = spark; import sps.implicits._
    val twoAtGap = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:30:00"))).toDF("user_id", "ts")
    assert(twoAtGap.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1))).count() == 1L)
    val pastGap = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:30:00.000001"))).toDF("user_id", "ts")
    assert(pastGap.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1))).count() == 2L)
  }

  test("watermarked dedup: drop within horizon, re-emit after it, bounded state") {
    val sps = spark; import sps.implicits._
    val base = 1700000000000000L
    val hour = 3600000000L
    // drain 1: key A at t0 twice (dup within horizon -> one emit), key B;
    // a late "pusher" row advances the watermark past A's expiry (delay 1h)
    val schema = Seq((0L, "x", base)).toDF("k", "tag", "us")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us").schema
    def stage(landing: java.nio.file.Path, name: String, rows: Seq[(Long, String, Long)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_wmdedup_stage_")
      rows.toDF("k", "tag", "us")
        .withColumn("ts", timestamp_micros(col("us"))).drop("us")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.createSymbolicLink(landing.resolve(name), part.toPath): Unit
    }
    val landing = java.nio.file.Files.createTempDirectory("graft_wmdedup_")
    val sink = java.nio.file.Files.createTempDirectory("graft_wmdedup_sink_")
    val ck = java.nio.file.Files.createTempDirectory("graft_wmdedup_ck_")
    def drain(): DataFrame = FileStreams.runAvailableNow(
      FileStreams.distinctKeysWithinWatermark(
        spark.readStream.schema(schema).parquet(landing.toString),
        "ts", Seq("k"), "1 hour"),
      sinkDir = Some(sink), checkpointDir = Some(ck))
    stage(landing, "b1.parquet", Seq(
      (1L, "a1", base), (1L, "a2", base + 60000000L), // dup 1 min apart
      (2L, "b", base + 30 * 60000000L),
      (99L, "push", base + 10 * hour)))               // watermark -> base + 9h
    val first = drain().select("k").collect().map(_.getLong(0)).toSeq.sorted
    assert(first == Seq(1L, 2L, 99L), s"drain 1 emitted $first")
    // drain 2: key 1 again AFTER its state expired (wm 9h > t0 + 1h) ->
    // re-emits; key 99 within ITS horizon? 99's expiry = 10h + 1h = 11h >
    // wm 9h -> state alive -> duplicate dropped
    stage(landing, "b2.parquet", Seq(
      (1L, "a3", base + 9 * hour + 30 * 60000000L),
      (99L, "push2", base + 10 * hour + 60000000L)))
    val union = drain().select("k").collect().map(_.getLong(0)).toSeq.sorted
    assert(union == Seq(1L, 1L, 2L, 99L),
      s"horizon semantics drifted: $union (want key 1 re-emitted, 99 deduped)")
  }

  test("streaming ewma == batch recursion; restart continues from carried state") {
    val sps = spark; import sps.implicits._
    val batch = batchEvents().where(col("event_type") === "view" && col("user_id") < 20)
    def toPoints(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id").as("k"), unix_micros(col("ts")).as("us"),
        round(col("value").cast("double") * lit(1e6)).cast("long").as("vE6"))
    val want = graft.operators.Events.ewmaSmooth(batch, "user_id", "ts", "value", 400000L)
      .select(col("user_id").as("k"), col("us"), col("ewma_e6"), col("dev_e6"))
      .collect().map(_.toSeq).toSet
    // single drain over the whole fixture == the batch fold
    val staged = java.nio.file.Files.createTempDirectory("graft_sewma_")
    batch.coalesce(1).write.mode("overwrite").parquet(staged.toString)
    def src() = toPoints(spark.readStream.schema(batch.schema).parquet(staged.toString)
      .where(col("event_type") === "view" && col("user_id") < 20))
      .as[StreamingEwma.KeyedPoint]
    val one = FileStreams.runAvailableNow(
        StreamingEwma.ewmaStream(src(), 400000L).toDF())
      .select(col("k"), col("us"), col("ewmaE6"), col("devE6"))
      .collect().map(_.toSeq).toSet
    assert(one == want, "single drain diverged from the batch recursion")
    // two drains with a restart: the 16-byte state carries the recursion
    val landing = java.nio.file.Files.createTempDirectory("graft_sewma_land_")
    val sink = java.nio.file.Files.createTempDirectory("graft_sewma_sink_")
    val ck = java.nio.file.Files.createTempDirectory("graft_sewma_ck_")
    val halves = batch.repartitionByRange(2, col("ts"))
    halves.write.mode("overwrite").parquet(s"$landing/stage")
    val parts = new java.io.File(s"$landing/stage").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val live = java.nio.file.Files.createTempDirectory("graft_sewma_live_")
    def drain(): org.apache.spark.sql.DataFrame = FileStreams.runAvailableNow(
      StreamingEwma.ewmaStream(
        toPoints(spark.readStream.schema(batch.schema).parquet(live.toString)
          .where(col("event_type") === "view" && col("user_id") < 20))
          .as[StreamingEwma.KeyedPoint], 400000L).toDF(),
      sinkDir = Some(sink), checkpointDir = Some(ck))
    java.nio.file.Files.createSymbolicLink(
      live.resolve("a.parquet"), parts(0).toPath): Unit
    drain(): Unit
    java.nio.file.Files.createSymbolicLink(
      live.resolve("b.parquet"), parts(1).toPath): Unit
    val union = drain()
      .select(col("k"), col("us"), col("ewmaE6"), col("devE6"))
      .collect().map(_.toSeq).toSet
    assert(union == want,
      "two-drain union diverged: state did not carry the recursion across the restart")
  }

  test("streaming ewma out-of-order telemetry counts cross-batch regressions") {
    val sps = spark; import sps.implicits._
    val live = java.nio.file.Files.createTempDirectory("graft_sewma_ooo_")
    val sink = java.nio.file.Files.createTempDirectory("graft_sewma_ooo_sink_")
    val ck = java.nio.file.Files.createTempDirectory("graft_sewma_ooo_ck_")
    val acc = StreamingEwma.outOfOrderCounter(spark)
    val schema = Seq((0L, 0L, 0L)).toDF("k", "us", "vE6").schema
    def drain() = FileStreams.runAvailableNow(
      StreamingEwma.ewmaStream(
        spark.readStream.schema(schema).parquet(live.toString)
          .as[StreamingEwma.KeyedPoint],
        500000L, outOfOrder = Some(acc)).toDF(),
      sinkDir = Some(sink), checkpointDir = Some(ck))
    def stage(name: String, rows: Seq[(Long, Long, Long)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_sewma_ooo_stage_")
      rows.toDF("k", "us", "vE6")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.createSymbolicLink(live.resolve(name), part.toPath): Unit
    }
    // drain 1: within-batch disorder is SORTED before folding -> no count
    stage("a.parquet", Seq((1L, 200L, 1000000L), (1L, 100L, 2000000L)))
    drain(): Unit
    assert(acc.value == 0L, "within-batch disorder must not count (it is sorted away)")
    // drain 2: us=150 < the state's lastUs=200 -> batch parity degraded
    // for that point, counted; us=300 is in order -> not counted
    stage("b.parquet", Seq((1L, 150L, 3000000L), (1L, 300L, 500000L)))
    val out = drain()
    assert(acc.value == 1L, s"out-of-order count ${acc.value}, want 1")
    assert(out.count() == 4L)
  }

  test("streaming distinct keys == batch distinct") {
    val docs = FileStreams.tableStream(spark, dir, "documents")
      .select(col("source"), md5(col("text")).as("fp"))
    val out = FileStreams.runAvailableNow(
      FileStreams.distinctKeys(docs, Seq("source", "fp")))
    val expected = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"), md5(col("text")).as("fp")).distinct()
    assert(out.collect().map(_.toSeq).toSet == expected.collect().map(_.toSeq).toSet)
  }

  test("temp dirs: deleteTree empties and removes a landing dir, symlink targets stay") {
    val target = java.nio.file.Files.createTempFile("graft-link-target", ".parquet")
    val targetDir = java.nio.file.Files.createTempDirectory("graft-link-target-dir")
    val inner = java.nio.file.Files.createFile(targetDir.resolve("keep.parquet"))
    try {
      val landing = FileStreams.stageLanding(Seq(target))
      assert(FileStreams.createdDirs.contains(landing), "landing not registered for exit")
      assert(java.nio.file.Files.isSymbolicLink(landing.resolve("part_00000.parquet")))
      // a directory link and a real subdirectory: neither may be followed out
      java.nio.file.Files.createSymbolicLink(landing.resolve("dirlink"), targetDir): Unit
      java.nio.file.Files.createDirectories(landing.resolve("sub/deeper"))
      java.nio.file.Files.createFile(landing.resolve("sub/deeper/f")): Unit
      FileStreams.deleteTree(landing)
      assert(!java.nio.file.Files.exists(landing, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      assert(java.nio.file.Files.exists(target) && java.nio.file.Files.exists(inner))
      FileStreams.deleteTree(landing) // already gone: no-op
    } finally {
      java.nio.file.Files.deleteIfExists(target)
      java.nio.file.Files.deleteIfExists(inner)
      java.nio.file.Files.deleteIfExists(targetDir)
    }
  }

  private def windowCounts(checkpointDir: Option[java.nio.file.Path] = None): Set[Seq[Any]] =
    FileStreams.runAvailableNow(
      FileStreams.windowedEventCounts(
        FileStreams.tableStream(spark, dir, "events", Seq("ts")),
        "ts", "event_type", "1 day", "1 hour"),
      checkpointDir = checkpointDir).collect().map(_.toSeq).toSet

  test("checkpoint manager: FileSystem-based by default, a session-set class is kept") {
    import FileStreams.CheckpointManagerConf
    assert(!FileStreams.isSet(spark, CheckpointManagerConf))
    assert(FileStreams.drainConf(spark).get(CheckpointManagerConf) == Some(
      classOf[org.apache.spark.sql.execution.streaming.checkpointing
        .FileSystemBasedCheckpointFileManager].getName))
    val viaDefault = windowCounts()
    val counting = classOf[CountingCheckpointFileManager].getName
    FileStreams.withSessionConf(spark, Map(CheckpointManagerConf -> counting)) {
      assert(!FileStreams.drainConf(spark).contains(CheckpointManagerConf))
      val before = CountingCheckpointFileManager.constructed.get
      assert(windowCounts() == viaDefault)
      assert(CountingCheckpointFileManager.constructed.get > before,
        "the session's checkpoint manager was not used")
      assert(spark.conf.get(CheckpointManagerConf) == counting)
    }
    // the local filesystem the same way: the fork-free one, uncached, by
    // default; a session-set `fs.file.impl` is kept and the cache left on
    import FileStreams.{FileCacheOffConf, FileImplConf}
    assert(!FileStreams.isSet(spark, FileImplConf))
    val overrides = FileStreams.drainConf(spark)
    assert(overrides.get(FileImplConf) == Some(classOf[NioLocalFileSystem].getName))
    assert(overrides.get(FileCacheOffConf) == Some("true"))
    def localFs() = new org.apache.hadoop.fs.Path("file:///")
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!localFs().isInstanceOf[NioLocalFileSystem])
    assert(FileStreams.withSessionConf(spark, overrides)(localFs()).isInstanceOf[NioLocalFileSystem])
    val hadoopLocal = classOf[org.apache.hadoop.fs.LocalFileSystem].getName
    FileStreams.withSessionConf(spark, Map(FileImplConf -> hadoopLocal)) {
      val kept = FileStreams.drainConf(spark)
      assert(!kept.contains(FileImplConf) && !kept.contains(FileCacheOffConf))
      assert(windowCounts() == viaDefault)
      assert(spark.conf.get(FileImplConf) == hadoopLocal)
      assert(!FileStreams.isSet(spark, FileCacheOffConf))
    }
    // the state setup: 4 state partitions whatever the session's shuffle
    // parallelism, and the session's own provider, both fixed in offsets/0
    assert(!FileStreams.drainConf(spark).contains(ProviderConf))
    val ck = FileStreams.createTempDir("graft_state_setup_ck_")
    val rocksdb = providerClass("rocksdb")
    FileStreams.withSessionConf(spark,
        Map(FileStreams.ShufflePartitionsConf -> "7", ProviderConf -> rocksdb)) {
      assert(!FileStreams.drainConf(spark).contains(ProviderConf))
      assert(windowCounts(Some(ck)) == viaDefault)
    }
    val meta = java.nio.file.Files.readAllLines(ck.resolve("offsets/0")).get(1)
    assert(meta.contains(s""""${FileStreams.ShufflePartitionsConf}":"4""""), meta)
    assert(meta.contains(s""""$ProviderConf":"$rocksdb""""), meta)
  }

  test("a drain whose query fails restores every overridden session key exactly") {
    import FileStreams.{CheckpointManagerConf, FileCacheOffConf, FileImplConf,
      ShufflePartitionsConf}
    val shuffle = spark.conf.get(ShufflePartitionsConf)
    // a drain never sets the provider key, so it stays unset too
    val unsetKeys = Seq(ProviderConf, CheckpointManagerConf, FileImplConf, FileCacheOffConf)
    unsetKeys.foreach(k => assert(!FileStreams.isSet(spark, k), k))
    val boom = udf((x: Long) => { if (x >= 0) throw new IllegalStateException("boom"); x })
    val failing = FileStreams.tableStream(spark, dir, "events", Seq("ts"))
      .select(boom(col("user_id").cast("long")).as("x"))
    assert(FileStreams.drainConf(spark).keySet ==
      Set(ShufflePartitionsConf, CheckpointManagerConf, FileImplConf, FileCacheOffConf))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      FileStreams.runAvailableNow(failing))
    assert(spark.conf.get(ShufflePartitionsConf) == shuffle)
    unsetKeys.foreach(k => assert(!FileStreams.isSet(spark, k), k))
    // the helper alone, body throwing: a set key gets its old value, an
    // unset key is unset again
    intercept[IllegalStateException](FileStreams.withSessionConf(spark,
      Map(ShufflePartitionsConf -> "3", CheckpointManagerConf -> "x",
        FileImplConf -> "y", FileCacheOffConf -> "true")) {
      assert(spark.conf.get(ShufflePartitionsConf) == "3")
      throw new IllegalStateException("body")
    })
    assert(spark.conf.get(ShufflePartitionsConf) == shuffle)
    unsetKeys.foreach(k => assert(!FileStreams.isSet(spark, k), k))
  }

  test("tableStream schema == an inferred read's: every sf0.01 table, nanosAsLong on and off") {
    val sf = new java.io.File(new java.io.File(dir).getParentFile, "sf0.01").getPath
    val tables = new java.io.File(sf).list().filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted.toSeq
    assert(tables.size == 10, tables.mkString(", "))
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    for (nanos <- Seq("true", "false"))
      FileStreams.withSessionConf(spark, Map(nanosKey -> nanos))(tables.foreach { t =>
        val path = s"$sf/$t.parquet"
        val inferred = spark.read.parquet(path).schema
        assert(FileStreams.parquetSchema(spark, java.nio.file.Paths.get(path)) == inferred,
          s"$t, nanosAsLong=$nanos")
        // no nanosCols: normalizeTimestamps only casts NTZ columns, on both sides
        assert(FileStreams.tableStream(spark, sf, t).schema ==
          FileStreams.normalizeTimestamps(spark.read.parquet(path), Nil).schema,
          s"$t, nanosAsLong=$nanos")
      })
    // SparkEntry.prepare's views: an inferred read's schema and rows, and
    // no schema-inference job. A new session keeps prepare's conf and
    // optimizer rules off this suite's session.
    val prepared = spark.newSession()
    val (_, jobs) = jobStages(graft.SparkEntry.prepare(prepared, sf))
    assert(!jobs.exists(_.startsWith("parquet at")), jobs.mkString("; "))
    for (t <- tables) {
      val inferred = FileStreams.normalizeTimestamps(prepared.read.parquet(s"$sf/$t.parquet"),
        graft.SparkEntry.nanoTimestampCols.getOrElse(t, Nil))
      assert(prepared.table(t).schema == inferred.schema, t)
      assert(prepared.table(t).count() == inferred.count(), t)
    }
  }

  test("tableStream schema == an inferred read's for a multi-part directory Spark wrote") {
    val sf = java.nio.file.Files.createTempDirectory("graft_schema_sf_")
    try {
      // Spark stores its own schema in the footer: `id` is non-nullable
      // there, and both reads make it nullable
      spark.range(0, 300).selectExpr("id", "CAST(id % 7 AS STRING) AS k",
          "array(id, id + 1) AS xs", "named_struct('a', id, 'b', CAST(id AS DOUBLE)) AS st",
          "timestamp_micros(id * 1000000) AS ts", "CAST(id AS DECIMAL(12, 2)) AS d")
        .repartition(3).write.parquet(s"$sf/multi.parquet")
      val parts = new java.io.File(s"$sf/multi.parquet").list().filter(_.endsWith(".parquet"))
      assert(parts.length == 3, parts.mkString(", "))
      val inferred = spark.read.parquet(s"$sf/multi.parquet").schema
      assert(inferred("id").nullable)
      assert(FileStreams.tableStream(spark, sf.toString, "multi").schema == inferred)
    } finally FileStreams.deleteTree(sf)
  }

  /** `body`'s result and the stage names of every Spark job it starts. */
  private def jobStages[T](body: => T): (T, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageInfos.foreach(st => stages.add(st.name): Unit)
    }
    val sc = spark.sparkContext
    val marker = "graft-listener-marker"
    sc.addSparkListener(listener)
    val out = try {
      val r = body
      // the bus delivers events in order: once the marker job is seen, every
      // job `body` started has been seen too
      sc.setCallSite(marker)
      try sc.parallelize(Seq(1), 1).count(): Unit finally sc.clearCallSite()
      val deadline = System.nanoTime() + 30000000000L
      while (!stages.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(stages.contains(marker), "listener never saw the marker job")
      r
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    (out, stages.asScala.toSeq.filterNot(_ == marker))
  }

  test("a drain returns its sink's inferred schema and rows and starts no parquet job here") {
    val sink = FileStreams.createTempDir("graft_readback_sink_")
    val (out, names) = jobStages(FileStreams.runAvailableNow(
      FileStreams.distinctKeysWithinWatermark(
        FileStreams.tableStream(spark, dir, "events", Seq("ts")),
        "ts", Seq("user_id", "event_type"), "1 hour"),
      sinkDir = Some(sink)))
    assert(names.nonEmpty, "the drain ran no job")
    assert(!names.exists(_.startsWith("parquet at FileStreams")),
      names.filter(_.startsWith("parquet at")).mkString("; "))
    val inferred = spark.read.parquet(sink.toString)
    assert(out.schema == inferred.schema)
    assert(out.count() > 0)
    assert(out.exceptAll(inferred).isEmpty && inferred.exceptAll(out).isEmpty)
  }

  test("NIO setPermission leaves chmod's mode; a sticky-bit mode takes Hadoop's path") {
    import org.apache.hadoop.fs.{Path => HPath, RawLocalFileSystem}
    import org.apache.hadoop.fs.permission.FsPermission
    val conf = new org.apache.hadoop.conf.Configuration()
    val hadoop = new RawLocalFileSystem
    hadoop.initialize(java.net.URI.create("file:///"), conf)
    val nio = new NioRawLocalFileSystem
    nio.initialize(java.net.URI.create("file:///"), conf)
    val root = java.nio.file.Files.createTempDirectory("graft_perm_")
    def mode(p: java.nio.file.Path): Int =
      java.nio.file.Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
    def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)
    try {
      for (octal <- Seq("600", "644", "700", "755")) {
        val viaHadoop = java.nio.file.Files.createFile(root.resolve(s"hadoop_$octal"))
        val viaNio = java.nio.file.Files.createFile(root.resolve(s"nio_$octal"))
        hadoop.setPermission(new HPath(viaHadoop.toUri), perm(octal))
        nio.setPermission(new HPath(viaNio.toUri), perm(octal))
        assert(java.nio.file.Files.getPosixFilePermissions(viaNio) ==
          java.nio.file.Files.getPosixFilePermissions(viaHadoop), octal)
        assert(mode(viaNio) == Integer.parseInt(octal, 8), octal)
      }
      // NIO cannot set the sticky bit: a mode with it comes from Hadoop
      val sticky = java.nio.file.Files.createDirectory(root.resolve("sticky"))
      nio.setPermission(new HPath(sticky.toUri), perm("1755"))
      assert(mode(sticky) == Integer.parseInt("1755", 8))
      intercept[java.io.IOException](
        nio.setPermission(new HPath(root.resolve("gone").toUri), perm("644")))
    } finally FileStreams.deleteTree(root)
  }
}

/** Spark's FileSystem-based checkpoint manager, counting its constructions
  * so a spec can tell which manager a drain used.
  */
class CountingCheckpointFileManager(path: org.apache.hadoop.fs.Path,
    conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.spark.sql.execution.streaming.checkpointing
      .FileSystemBasedCheckpointFileManager(path, conf) {
  CountingCheckpointFileManager.constructed.incrementAndGet(): Unit
}

object CountingCheckpointFileManager {
  val constructed = new java.util.concurrent.atomic.AtomicInteger
}
