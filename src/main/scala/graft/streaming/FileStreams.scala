package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** File-source Structured Streaming runs of the batch operators.
  *
  * The reference engine is batch-only (docs/README.md:463 advises against
  * rebuilding filters per-batch); this module is the Spark-native extension
  * that runs the SAME declarative pipelines incrementally: a parquet landing
  * directory is the source (`readStream`), watermarks bound state, and
  * `Trigger.AvailableNow` drains everything currently staged and stops —
  * which doubles as a deterministic batch-replay harness for the oracle
  * gates (CORRECTNESS `q_stream_*`).
  *
  * Determinism contract used by the gates: for an append-mode watermarked
  * aggregation drained from a SINGLE staged file (one data batch plus the
  * final no-data flush batch), the emitted set is exactly the batch result
  * restricted to groups whose event-time window END is at or before the
  * final watermark. Spark tracks the watermark in floored MILLISECONDS
  * (`EventTimeStatsAccum`), so the cutoff is
  * `end_us <= (floor(max_us / 1000) - delay_ms) * 1000`, and eviction is
  * inclusive (`end == watermark` emits). The same holds for any multi-file
  * split whose files arrive in event-time order (the production landing
  * shape); files arriving OUT of event-time order make earlier-window
  * events late, and the watermark drops them — correct streaming
  * semantics, pinned by FileStreamsSpec's out-of-order test. The contract
  * extends across QUERY RESTARTS: drains separated by a stop/start from
  * the same checkpoint (offsets + state + watermark restored) emit, in
  * union, exactly the single-drain set for in-event-time-order arrivals —
  * a window still open at an earlier drain's final watermark waits in the
  * restored state store and finalizes later with its full cross-drain
  * count (pinned by the two-drain restart spec).
  *
  * Scale shape: the landing directory pattern is the production shape — a
  * 1000-executor cluster streams new files incrementally, state in the
  * state store is bounded by the watermark horizon (not stream length), and
  * the parquet sink is just a distributed write per micro-batch. Nothing
  * below collects to the driver.
  *
  * State setup: every drain runs with [[MinStatePartitions]] state
  * partitions and the state-store provider the session names in Spark's own
  * `spark.sql.streaming.stateStore.providerClass` (the on-heap HDFS-backed
  * store unless set). Nothing is sized from an estimate of the state: the
  * gates' state is bounded by the watermark or by a small key set. A
  * pipeline whose state nears the heap sets that key to RocksDB;
  * `graft.tools.StateStoreScaleProbe` measures where the on-heap store stops
  * fitting.
  *
  * Checkpoint writes: every drain runs under Spark's
  * `FileSystemBasedCheckpointFileManager` unless the session already names
  * a `spark.sql.streaming.checkpointFileManagerClass`. Spark's default,
  * `FileContextBasedCheckpointFileManager`, renames through Hadoop's
  * `FileContext`, whose local-filesystem rename asks for link status; with
  * no `libhadoop` on the classpath (the Spark distribution ships none)
  * Hadoop forks a `readlink` per call, on every offset-log, commit-log,
  * state-delta and sink-log write: 208 forks per `q_stream_dedup_wm` drain,
  * most of the per-batch state commit time. Spark prefers `FileContext`
  * only because HDFS renames are atomic through it; the checkpoint and sink
  * here are always local paths, where a POSIX rename within one filesystem
  * is atomic too. Hadoop's `.crc` side files and Spark's state-file
  * checksums are still written and verified.
  *
  * File modes: Hadoop's local filesystem sets the mode of every file and
  * directory it creates, and without `libhadoop` it forks `chmod` for each:
  * 75 forks per `q_stream_dedup_wm` drain, 60 in the checkpoint and 15 in
  * the sink. A drain therefore runs with `fs.file.impl` set to
  * [[NioLocalFileSystem]], the same checksummed local filesystem whose
  * `setPermission` goes through `java.nio` (only a sticky-bit mode still
  * takes Hadoop's path), unless the session already names an
  * `fs.file.impl`. Hadoop caches one `file:` filesystem per JVM whatever its
  * class, so the drain also sets `fs.file.impl.disable.cache`.
  *
  * A drain runs only query work: no Spark job infers a parquet schema.
  * [[tableStream]] reads its source schema from a footer on the driver, and
  * [[runAvailableNow]] reads the sink back with the schema it was written
  * with. File sources make every field nullable either way, and the sink's
  * `_spark_metadata` log still decides which files are read.
  *
  * Directories this object creates (landing, sink, checkpoint) are deleted,
  * recursively and without following symlinks, by one JVM-exit hook: a
  * returned frame reads its sink lazily, so nothing can go sooner.
  */
object FileStreams {

  /** Harness-vs-operator cost split for the bench: a streaming gate's wall
    * time conflates landing-dir staging, schema footer reads, query
    * startup/checkpoint bootstrap and sink read-back (harness) with the
    * micro-batch execution itself (operator). [[runAvailableNow]] adds each
    * drain's summed `triggerExecution` duration (the engine's own per-batch
    * clock) here; `graft.Bench` snapshots the counter around every gate and
    * reports the operator share separately, so a regression in the actual
    * streaming operators is visible under the fixed ~per-gate harness cost.
    */
  private val operatorMsAcc = new java.util.concurrent.atomic.AtomicLong()
  def operatorMsSnapshot: Long = operatorMsAcc.get

  /** Normalize driver-generated parquet timestamp columns to session-zone
    * TIMESTAMP: `nanosCols` that arrived as raw nanos-since-epoch longs
    * (spark.sql.legacy.parquet.nanosAsLong=true) become microsecond
    * timestamps; any TIMESTAMP_NTZ column is cast in place (all sessions
    * here run UTC, so the cast is value-preserving). Shared by
    * [[graft.SparkEntry]]'s batch `prepare` and the streaming readers so
    * both sides see identical event time.
    */
  def normalizeTimestamps(df: DataFrame, nanosCols: Seq[String]): DataFrame = {
    val fixed = nanosCols.foldLeft(df) { (d, c) =>
      if (d.schema.fieldNames.contains(c) && d.schema(c).dataType == LongType)
        // integer division: `/` on longs is DOUBLE division in Spark SQL,
        // and ~1.7e18 ns exceeds double's 53-bit mantissa
        d.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
      else d
    }
    fixed.schema.fields.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }.foldLeft(fixed)((d, c) => d.withColumn(c, col(c).cast(TimestampType)))
  }

  /** Stage files into a fresh landing directory (symlinks — no copy).
    * `FileStreamSource` lists plain files in a directory — it neither
    * accepts a bare file path nor recurses into a symlinked table
    * DIRECTORY — so each entry is resolved to its part files first (the
    * driver's tables arrive as single files at small SFs and as parquet
    * directories from distributed writes). A landing directory is the
    * production ingestion shape anyway.
    */
  def stageLanding(files: Seq[Path]): Path = {
    val landing = createTempDir("graft_landing_")
    val parts = files.flatMap(f => if (Files.isDirectory(f)) partFiles(f) else Seq(f))
    parts.zipWithIndex.foreach { case (f, i) =>
      Files.createSymbolicLink(landing.resolve(f"part_$i%05d.parquet"), f): Unit
    }
    landing
  }

  /** The `.parquet` files directly under `dir`, in name order. */
  private def partFiles(dir: Path): Seq[Path] =
    dir.toFile.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).map(_.toPath)

  /** Directories created by [[createTempDir]], deleted at JVM exit. */
  private[graft] val createdDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
  private lazy val exitHook: Unit = sys.addShutdownHook {
    createdDirs.forEach { d =>
      try deleteTree(d)
      catch { case _: java.io.IOException => () } // best effort at exit
    }
  }: Unit

  /** A fresh temp directory that [[deleteTree]] removes at JVM exit.
    * `File.deleteOnExit` cannot do it: it skips non-empty directories.
    */
  private[graft] def createTempDir(prefix: String): Path = {
    exitHook
    val d = Files.createTempDirectory(prefix)
    createdDirs.add(d): Unit
    d
  }

  /** Delete `root` and everything under it. The walk does not follow
    * symlinks: a landing directory's links are removed and the tables they
    * point at stay. In-JVM `java.nio` only; Spark's
    * `JavaUtils.deleteRecursively` forks `rm -rf`.
    */
  private[graft] def deleteTree(root: Path): Unit = {
    import java.nio.file.{FileVisitResult, NoSuchFileException, SimpleFileVisitor}
    import java.nio.file.attribute.BasicFileAttributes
    // a path already gone (the root included) is skipped, not an error
    Files.walkFileTree(root, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        Files.deleteIfExists(f): Unit
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: java.io.IOException): FileVisitResult =
        e match {
          case _: NoSuchFileException => FileVisitResult.CONTINUE
          case _ => throw e
        }
      override def postVisitDirectory(d: Path, e: java.io.IOException): FileVisitResult = {
        if (e != null && !e.isInstanceOf[NoSuchFileException]) throw e
        Files.deleteIfExists(d): Unit
        FileVisitResult.CONTINUE
      }
    }): Unit
  }

  /** Stream one driver table (`$sfDir/$table.parquet`) as a parquet file
    * stream with normalized event time. File streams need an explicit
    * schema; [[parquetSchema]] reads it from a footer on the driver.
    */
  def tableStream(spark: SparkSession, sfDir: String, table: String,
      nanosCols: Seq[String] = Nil): DataFrame = {
    val path = Paths.get(s"$sfDir/$table.parquet")
    val schema = parquetSchema(spark, path)
    val landing = stageLanding(Seq(path))
    normalizeTimestamps(
      spark.readStream.schema(schema).parquet(landing.toString), nanosCols)
  }

  /** State partitions of every drain. A stateful query fixes its state
    * partition count in its first checkpoint (`offsets/0` records
    * `spark.sql.shuffle.partitions`, and a resume keeps it whatever the
    * session says), and every micro-batch commits each stateful operator's
    * store once per partition: a stream-stream join commits four stores per
    * partition per batch, and the no-data finalize batch pays again. So the
    * count sets a per-batch cost floor, not a parallelism. The round-15 A/B
    * at sf0.1, on the watermark-bounded state of the `q_stream_*` gates,
    * measured 2 ≈ 4 < 8 < 16; 4 keeps the per-batch state work off a single
    * task.
    */
  private[graft] val MinStatePartitions = 4

  /** The Spark schema of a parquet file, or of a directory's first part file
    * in [[stageLanding]]'s order, from its footer read on the driver through
    * Spark's `ParquetFileFormat.readSchema`. Batch schema inference converts
    * a footer with the same session settings (nanos, INT96, NTZ) and the
    * same preference for a Spark-written footer's stored schema, but reads
    * the footer in a Spark job. Fields keep the footer's nullability; a
    * file read, batch or streaming, makes them all nullable.
    */
  private[graft] def parquetSchema(spark: SparkSession, path: Path): StructType = {
    import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val file =
      if (!Files.isDirectory(path)) path
      else partFiles(path).headOption.getOrElse(
        throw new IllegalArgumentException(s"parquetSchema: no parquet file under $path"))
    val p = new org.apache.hadoop.fs.Path(file.toUri)
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, spark.sessionState.newHadoopConf()))
    val footer = try r.getFooter finally r.close()
    ParquetSchemaJ.readSchema(Seq(new Footer(p, footer)), spark).get
  }

  private[graft] val ShufflePartitionsConf = "spark.sql.shuffle.partitions"
  private[graft] val CheckpointManagerConf = "spark.sql.streaming.checkpointFileManagerClass"
  /** Spark's own manager: renames through `FileSystem`, forking nothing on
    * a local path (see the object scaladoc).
    */
  private[graft] val FileSystemCheckpointManager =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
  private[graft] val FileImplConf = "fs.file.impl"
  private[graft] val FileCacheOffConf = "fs.file.impl.disable.cache"

  /** Session-conf overrides for one [[runAvailableNow]] drain.
    *
    * State partitions: [[MinStatePartitions]], whatever the session's batch
    * shuffle parallelism. The state-store provider is the session's own
    * `spark.sql.streaming.stateStore.providerClass`, which a drain leaves
    * alone: RocksDB is chosen by setting that key (`spark.conf.set`, or
    * `-Dspark.sql.streaming.stateStore.providerClass=…` at JVM start). Both
    * are recorded in a query's first checkpoint, and a resumed drain keeps
    * the recorded ones.
    *
    * Checkpoint manager: [[FileSystemCheckpointManager]], unless the
    * session already sets [[CheckpointManagerConf]].
    *
    * Local filesystem: [[NioLocalFileSystem]] with Hadoop's `file:` cache
    * off ([[FileCacheOffConf]]; see the object scaladoc), unless the
    * session already sets [[FileImplConf]].
    *
    * CONCURRENCY CAVEAT: the overrides are session-global keys, set for
    * the drain and restored after it — a streaming query STARTED
    * concurrently on the same SparkSession during the drain would capture
    * the temporary values and freeze them into its own checkpoint. This
    * helper assumes the session starts one streaming query at a time
    * (Spark offers no per-query option for these keys).
    */
  private[graft] def drainConf(spark: SparkSession): Map[String, String] = {
    val manager =
      if (isSet(spark, CheckpointManagerConf)) None
      else Some(CheckpointManagerConf -> FileSystemCheckpointManager)
    val localFs =
      if (isSet(spark, FileImplConf)) Nil
      else Seq(FileImplConf -> classOf[NioLocalFileSystem].getName, FileCacheOffConf -> "true")
    (Seq(ShufflePartitionsConf -> MinStatePartitions.toString) ++ manager ++ localFs).toMap
  }

  /** Whether the session sets `key` itself; a registered key's default does
    * not count.
    */
  private[graft] def isSet(spark: SparkSession, key: String): Boolean =
    spark.sessionState.conf.contains(key)

  /** Run `body` with `overrides` set on the session, then restore each key
    * exactly — a key that was unset is unset again, a set key gets its old
    * value back — also when `body` throws.
    */
  private[graft] def withSessionConf[T](spark: SparkSession,
      overrides: Map[String, String])(body: => T): T = {
    val saved = overrides.keys.map(k =>
      k -> (if (isSet(spark, k)) Some(spark.conf.get(k)) else None))
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Run a streaming frame to a parquet sink under AvailableNow, block
    * until drained, and hand back the sink contents as a batch frame. By
    * default every call gets its own sink + checkpoint (reruns replay
    * from scratch); pass explicit `sinkDir`/`checkpointDir` to RESUME a
    * stopped query — the second drain restarts from the checkpointed
    * offsets + state (watermark included) and processes only files staged
    * since, appending to the same sink. For in-event-time-order arrivals
    * the union of emissions across drains equals the single-drain result
    * (spec-pinned, "two drains" case): a window still open at drain 1's
    * final watermark survives in the restored state store and finalizes
    * in drain 2 with its full cross-drain count. The state setup is
    * [[drainConf]]'s; a resumed drain keeps the one its checkpoint records.
    */
  def runAvailableNow(stream: DataFrame,
      mode: OutputMode = OutputMode.Append,
      sinkDir: Option[Path] = None,
      checkpointDir: Option[Path] = None): DataFrame = {
    val spark = stream.sparkSession
    val overrides = drainConf(spark)
    // a caller's persistent sink/checkpoint location is theirs, not ours to
    // delete: only directories this call creates go at JVM exit
    val out = sinkDir.getOrElse(createTempDir("graft_sink_"))
    val ck = checkpointDir.getOrElse(createTempDir("graft_ck_"))
    val q = withSessionConf(spark, overrides) {
      val started = stream.writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ck.toString)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
      started.awaitTermination()
      started
    }
    // operator-cost meter: the engine's own per-batch triggerExecution
    // clock, summed over this drain (AvailableNow drains stay far under the
    // recentProgress retention cap)
    operatorMsAcc.addAndGet(q.recentProgress.iterator.map { p =>
      Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    }.sum): Unit
    // the sink holds what the query wrote, so its schema is the stream's;
    // naming it skips the schema-inference job a bare read would start
    spark.read.schema(stream.schema).parquet(out.toString)
  }

  /** Daily event counts per type, finalized by the watermark — the
    * streaming twin of the batch `window()` aggregation. Emits
    * `(w_us, event_type, n)` with the window start as epoch micros.
    */
  def windowedEventCounts(events: DataFrame, tsCol: String, typeCol: String,
      windowExpr: String = "1 day", watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowExpr), col(typeCol))
      .agg(count(lit(1)).cast("long").as("n"))
      .select(unix_micros(col("window.start")).as("w_us"), col(typeCol), col("n"))

  /** Per-window top-k heavy hitters — CHAINED stateful aggregations in
    * one append-mode query (the Spark 3.5+ multiple-stateful-operator
    * shape): the first watermarked aggregation counts per (event-time
    * window, key); the second, grouped on `window(window)` (the
    * window-of-window pattern), folds those finalized counts through the
    * bounded-heap [[graft.functions.TopKAgg.rank]] stage — so the
    * per-window state the SECOND operator holds is ≤ k entries, not the
    * key universe, and no per-window sort ever runs. Emission inherits the
    * [[windowedEventCounts]] contract: a window's top-k appears exactly
    * once, when the watermark closes it.
    *
    * The streaming face of the batch `topk_agg` gate: identical ranking
    * semantics (ord = count descending, ties to the smaller key), so the
    * oracle replays counts + `row_number` per closed window.
    *
    * @return (w_us, rank, key, n)
    */
  def windowedTopK(events: DataFrame, tsCol: String, keyCol: String, k: Int,
      windowExpr: String = "1 day", watermark: String = "1 hour"): DataFrame = {
    // fail fast on non-integral keys: a string key would cast to NULL
    // silently and vanish from every ranking
    events.schema(keyCol).dataType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => ()
      case other => throw new IllegalArgumentException(
        s"windowedTopK key column $keyCol must be integral (topk_agg payload is BIGINT), got $other")
    }
    val counts = events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowExpr), col(keyCol))
      .agg(count(lit(1)).cast("long").as("n"))
    graft.functions.TopKAgg.rank(counts, Seq(window(col("window"), windowExpr).as("w2")), k,
        col("n"), col(keyCol).cast("long"))
      .select(unix_micros(col("w2.start")).as("w_us"), col("rank"),
        col("payload").as(keyCol), col("ord").as("n"))
  }

  /** Per-window value histogram — the streaming drift monitor: each
    * event-time window folds its values through the mergeable
    * [[graft.functions.HistSketchAgg]] (per-window state = nbins+2
    * longs, never rows) and emits its non-empty (slot, n) bins when the
    * watermark closes it. Feed consecutive windows to
    * [[graft.operators.Profile.histDrift]]-style PSI/TVD comparison for
    * ingest drift alarms. Slot layout is the sketch's: 0 = underflow,
    * 1..nbins in-range, nbins+1 = overflow. Emission inherits the
    * [[windowedEventCounts]] contract.
    *
    * @return (w_us, slot, n) — zero bins omitted
    */
  def windowedHistogram(events: DataFrame, tsCol: String, valueCol: String,
      nbins: Int, lo: Double, hi: Double,
      windowExpr: String = "1 day", watermark: String = "1 hour"): DataFrame = {
    // fail fast at plan construction (the sibling windowedTopK
    // discipline) — not as a wrapped SparkException inside a micro-batch
    require(nbins >= 1, s"nbins must be >= 1, got $nbins")
    require(lo < hi, s"need lo < hi, got [$lo, $hi)")
    import graft.operators.ColumnBridge
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowExpr))
      .agg(ColumnBridge.column(graft.functions.HistCounts(ColumnBridge.expression(
        ColumnBridge.column(graft.functions.HistSketchAgg(
          ColumnBridge.expression(lit(nbins)), ColumnBridge.expression(lit(lo)),
          ColumnBridge.expression(lit(hi)),
          ColumnBridge.expression(col(valueCol).cast("double"))).toAggregateExpression()))))
        .as("__c"))
      .select(unix_micros(col("window.start")).as("w_us"),
        posexplode(col("__c")).as(Seq("slot", "n")))
      .where(col("n") > 0)
  }

  /** Stream-static enrichment + windowed rollup: each micro-batch joins
    * the event stream against a STATIC dimension (broadcast — the classic
    * "enrich the firehose with reference data" pattern; Spark re-reads the
    * static side per batch, so slowly-updated dimension tables are picked
    * up without restarting the query), then aggregates per (event-time
    * window, dimension attribute) under the watermark. Value sums are
    * micro-rounded per row BEFORE summing, so emitted integers replay
    * exactly in any engine. Same emission contract as
    * [[windowedEventCounts]] (append mode, ms-floored watermark,
    * inclusive eviction).
    */
  def enrichedWindowedStats(events: DataFrame, tsCol: String, valueCol: String,
      keyCol: String, dim: DataFrame, dimKeyCol: String, dimAttrCol: String,
      windowExpr: String = "1 day", watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .join(broadcast(dim.select(col(dimKeyCol).cast("long").as(keyCol),
        col(dimAttrCol).as("segment"))), Seq(keyCol))
      .groupBy(window(col(tsCol), windowExpr), col("segment"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(round(col(valueCol) * 100).cast("long")).cast("long").as("value_e2"))
      .select(unix_micros(col("window.start")).as("w_us"), col("segment"),
        col("n"), col("value_e2"))

  /** Stream-stream interval self-join: pair each left-type event with the
    * same user's right-type events inside `[t, t + windowUs]` — the
    * attribution/conversion-pairing pattern as a REAL watermarked
    * stream-stream inner join (both sides carry watermarks so Spark can
    * bound the join state; the range condition gives the state its
    * eviction horizon). Under a single AvailableNow drain the emitted set
    * is exactly the batch interval join — inner-join rows emit as soon as
    * both sides are present, with no watermark cutoff on OUTPUT (unlike
    * the aggregation gates) — which is the emission contract the gate's
    * oracle replays.
    *
    * @return (user key, left ts, right ts, dt_us) per matched pair
    */
  def streamIntervalJoin(events: DataFrame, tsCol: String, typeCol: String,
      keyCol: String, leftType: String, rightType: String, windowUs: Long,
      watermark: String = "1 hour"): DataFrame =
    intervalJoin(events, tsCol, typeCol, keyCol, leftType, rightType, windowUs, watermark, "inner")

  /** LEFT-OUTER variant of [[streamIntervalJoin]]: every left-type event
    * emits — matched pairs as they meet, and a NULL-extended row for a
    * left event whose match window expires unmatched (the "view with no
    * conversion" attribution row, produced INSIDE the stream instead of
    * by a daily batch anti-join).
    *
    * Emission contract under a single AvailableNow drain (spec-pinned):
    * matched pairs equal the batch inner join (no cutoff); NULL-extended
    * rows are exactly the unmatched left events whose state expired at
    * the final GLOBAL watermark. Each `withWatermark` node tracks its OWN
    * filtered stream, and the query's watermark is their MIN — so with
    * per-side maxima maxL/maxR the cutoff is `l_us + windowUs <
    * (min(floor(maxL_us/1000), floor(maxR_us/1000)) − delay_ms) · 1000`
    * (strict; ms-floored per side). In particular a left side whose
    * events run PAST the right side's last event does not advance
    * eviction beyond the right side's horizon. Unmatched left events
    * still inside the horizon emit NOTHING yet — they are open state, not
    * output; a later drain from the same checkpoint finalizes them.
    *
    * @return (user key, l_us, r_us NULL for expired-unmatched, dt_us NULL
    *         likewise)
    */
  def streamIntervalJoinOuter(events: DataFrame, tsCol: String, typeCol: String,
      keyCol: String, leftType: String, rightType: String, windowUs: Long,
      watermark: String = "1 hour"): DataFrame =
    intervalJoin(events, tsCol, typeCol, keyCol, leftType, rightType, windowUs, watermark,
      "left_outer")

  /** The one body of both interval joins, which differ only in `joinType`. */
  private def intervalJoin(events: DataFrame, tsCol: String, typeCol: String,
      keyCol: String, leftType: String, rightType: String, windowUs: Long,
      watermark: String, joinType: String): DataFrame = {
    val l = events.where(col(typeCol) === leftType)
      .select(col(keyCol).as("__k"), col(tsCol).as("__lts"))
      .withWatermark("__lts", watermark)
    val r = events.where(col(typeCol) === rightType)
      .select(col(keyCol).as("__rk"), col(tsCol).as("__rts"))
      .withWatermark("__rts", watermark)
    // the range must be expressed as event-time bounds on the timestamp
    // columns themselves so Spark derives the join-state eviction horizon
    l.join(r, col("__k") === col("__rk") &&
        expr(s"__rts >= __lts AND __rts <= __lts + INTERVAL $windowUs MICROSECOND"), joinType)
      .select(col("__k").as(keyCol),
        unix_micros(col("__lts")).as("l_us"),
        unix_micros(col("__rts")).as("r_us"),
        (unix_micros(col("__rts")) - unix_micros(col("__lts"))).as("dt_us"))
  }

  /** Streaming exact dedup: first sighting of each (source, fingerprint)
    * passes, later ones are dropped by the state store — `dropDuplicates`
    * state is the exact-dedup twin of
    * [[StreamingFilters.approximateDedupStream]]'s bounded-bloom state.
    * The emitted SET is deterministic (which duplicate row wins a race is
    * not, so callers that need determinism project the key columns only).
    */
  def distinctKeys(rows: DataFrame, keyCols: Seq[String]): DataFrame =
    rows.select(keyCols.map(col): _*).dropDuplicates(keyCols)

  /** Watermark-BOUNDED streaming dedup — the production variant of
    * [[distinctKeys]], whose `dropDuplicates` state grows with the
    * all-time distinct-key count. Here a key's state entry is dropped
    * once the event-time watermark passes it
    * (`dropDuplicatesWithinWatermark`): duplicates arriving within the
    * watermark delay of the first sighting are removed, a re-occurrence
    * AFTER the horizon passes again — the right trade for endless streams
    * (dedup "the same event delivered twice this hour", not "ever").
    * State is watermark-horizon-sized, not stream-lifetime-sized.
    *
    * Emitted set under one drain, in-event-time-order arrivals, for keys
    * whose duplicates all fall within `delay` of the first sighting:
    * exactly the batch first-sighting set (spec-pinned); only duplicates
    * separated by more than the watermark horizon re-emit. As with
    * [[distinctKeys]], the emitted KEY set is deterministic but WHICH
    * duplicate row's `tsCol` survives a within-batch race is not —
    * determinism-sensitive callers project the key columns only.
    */
  def distinctKeysWithinWatermark(rows: DataFrame, tsCol: String,
      keyCols: Seq[String], delay: String): DataFrame =
    rows.select((keyCols.map(col) :+ col(tsCol)): _*)
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)
}
