package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Changelog, Classify, Dedup, EditDistance, Embeddings, Events, Graphs, Joins, Multimodal, Packing, Pca, PcaPinnedModels, Profile, Ranking, Sampling, TextAnalysis, UrlOps, Vocab}

/** Driver contract — the complete operator surface exposed as named queries
  * with DuckDB oracle SQL where the semantics are plain-SQL-expressible.
  *
  * Oracle notes:
  *  - DuckDB's integer `hash()` is bit-identical to our v1.5.1
  *    implementation (stable since long before 1.0), so per-row hash queries
  *    get LIVE oracles. String/multi-arg hashes changed across DuckDB
  *    versions, so those check against the certified vectors from the
  *    reference's generated goldens (test/generate/hash_values_v1.5.1.json).
  *  - Filter membership queries probe only known members: the no-false-
  *    negative contract makes counts exactly equal to plain semi-join counts.
  *  - Golden FP-count queries pin the reference's published deterministic
  *    values (test/sql/bitfilters.test:45-117) as literal oracles.
  *  - Aggregates over DOUBLE columns go through ROUND(x*10^k) -> BIGINT so
  *    both engines sum exact integers (no float-summation-order flakiness).
  */
object SparkEntry {

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** TIMESTAMP(NANOS) parquet columns (Spark has no nanos timestamp type:
    * they are read as nanos-since-epoch longs and rebuilt as microsecond
    * timestamps, matching what DuckDB sees).
    */
  private val nanoTimestampCols: Map[String, Seq[String]] = Map(
    "orders" -> Seq("o_orderdate"),
    "lineitem" -> Seq("l_shipdate"),
    "events" -> Seq("ts"))

  // the LAST-prepared dir per session — not a (session, dir) set: the temp
  // views are named per TABLE, so preparing dir B replaces dir A's views,
  // and a later call for dir A must re-register rather than early-return
  // with B's views still bound (a set keyed on (session, dir) did exactly
  // that — found when Bench's cross-SF warmup pass silently left the timed
  // pass reading the warmup fixture's tables)
  private val prepared = scala.collection.mutable.Map[SparkSession, String]()

  private val jaccardPairsCache =
    scala.collection.mutable.Map[(SparkSession, String), DataFrame]()

  private lazy val sharedRelDir: java.io.File =
    java.nio.file.Files.createTempDirectory("graft_shared_rel_").toFile

  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Materialize a SMALL gate result (aggregates / limits — config-bounded
    * row counts) as a local-relation frame so the gate's staging temp dirs
    * can be deleted BEFORE it returns. A lazily returned plan pins its
    * staged files: every run of a staging gate then leaks a full table
    * copy (11 GB per q_skipping_index run at sf100cd — a double-pass probe
    * filled the disk, r14). The collect is bounded by the gate's own
    * output contract (1-row checksums, per-group rollups, top-k).
    */
  private def localResult(s: SparkSession, df: DataFrame): DataFrame = {
    val rows = df.collect()
    s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  private def deleteDirs(dirs: String*): Unit =
    dirs.foreach(d => deleteRecursively(new java.io.File(d)))

  /** Exact 3-shingle Jaccard/containment pair relation over `documents`,
    * shared by the `q_ngram_jaccard` and `q_containment` gates. Built once
    * per (session, dir) and MATERIALIZED TO PARQUET (not `.persist`):
    * Bench clears the Spark cache between queries, and a real pipeline
    * checkpoints an expensive pair relation the same way — the second
    * consumer reads the checkpoint instead of re-running the
    * shingle-groupBy pipeline (the containment columns are free on the
    * jaccard pair stream, SURVEY §2c).
    *
    * Only rows satisfying the UNION of the two consumers' thresholds are
    * written (`jaccard >= 0.2 OR max containment >= 0.6`): the raw pair
    * relation is near-quadratic in the replica-shared fixture (writing it
    * all at sf1 cost more than recomputing it — measured 188 s vs 137 s),
    * while the near-dup survivors are a tiny fraction. Each gate applies
    * its own, strictly tighter, filter on top, so results are unchanged.
    * Long-lived embedders should call [[clearSharedRelations]] to drop
    * the checkpoint files.
    */
  private def sharedJaccardPairs(s: SparkSession, dir: String): DataFrame =
    synchronized {
      jaccardPairsCache.getOrElseUpdate((s, dir), {
        val path = new java.io.File(sharedRelDir,
          "jaccard_" + java.security.MessageDigest.getInstance("MD5")
            .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString)
          .getAbsolutePath
        Dedup.exactJaccardPairs(
            Dedup.shingleHashes(s.table("documents"), "text", "doc_id", 3))
          .where(col("jaccard") >= 0.2 ||
            greatest(col("containment1"), col("containment2")) >= 0.6)
          .write.mode("overwrite").parquet(path)
        s.read.parquet(path)
      })
    }

  private val purchaseEdgesCache =
    scala.collection.mutable.Map[(SparkSession, String), DataFrame]()

  private val minhashPairsCache =
    scala.collection.mutable.Map[(SparkSession, String), DataFrame]()

  /** FIXED filesystem location of the staged portable-minhash pair list —
    * the one shared relation the DuckDB oracles read back directly
    * (`read_parquet`), so unlike every other checkpoint it cannot live
    * under the per-run temp [[sharedRelDir]]: the oracle replay runs in a
    * separate process AFTER Verify exits, against the same path embedded
    * in the oracle SQL. Each Verify/Bench run overwrites it for its own
    * fixture before its own oracle replay (the driver runs them
    * sequentially); replaying an oracle against a stage written for a
    * DIFFERENT fixture hash-mismatches loudly rather than passing.
    *
    * `SPARK_GRAFT_STAGE_DIR` overrides the parent directory (round 16):
    * the /tmp default is a LOCAL-MODE assumption — on a real cluster the
    * stage must sit on shared storage every executor can write and the
    * oracle process can read. The env is read once (the oracle SQL
    * embeds the same interpolated path, so engine and replay always
    * agree within a process).
    */
  private val minhashPairsStagePath =
    sys.env.getOrElse("SPARK_GRAFT_STAGE_DIR", "/tmp/graft_stage") +
      "/minhash_pairs"

  /** Portable MinHash-LSH near-dup pair relation over `documents`
    * (threshold 0.2, 128 hashes / 32 bands / 3-shingles), built once per
    * (session, dir), STAGED at [[minhashPairsStagePath]] and shared by
    * `q_minhash_near_dup`, `q_minhash_fast` and `q_leakage_split_near` —
    * the suite's most expensive recomputed relation (the split gate alone
    * re-ran the whole signature pipeline, ~5 s at sf0.1).
    *
    * Verification chain: `q_minhash_near_dup`'s oracle replays the ENTIRE
    * portable pipeline independently in DuckDB and anti-joins the staged
    * file both ways — any missing/extra/mis-estimated pair turns that gate
    * red — so the downstream consumers replay over a pair list the oracle
    * has verified PAIR BY PAIR (stronger than the old count-only check),
    * and the split oracle no longer re-runs an O(corpus) minhash chain in
    * single-node DuckDB (the sf1cd replay-timeout class, SCALE.md r14).
    */
  private def sharedMinhashPairs(s: SparkSession, dir: String): DataFrame =
    synchronized {
      minhashPairsCache.getOrElseUpdate((s, dir), {
        new java.io.File(minhashPairsStagePath).getParentFile.mkdirs()
        // pairs derive from the staged SIGNATURE relation (round 15): the
        // signature kernel runs once per (session, fixture) in
        // [[sharedMinhashSigs]] and both this pair derivation and
        // q_incremental_dedup read it back, instead of each re-running
        // the kernel over the corpus
        Dedup.lshNearDuplicatePairs(sharedMinhashSigs(s, dir),
            bands = 32, numHashes = 128)
          .where(col("jaccard_est") >= 0.2)
          .select(col("id1"), col("id2"),
            round(col("jaccard_est") * lit(1e6)).cast("long").as("je_e6"))
          .write.mode("overwrite").parquet(minhashPairsStagePath)
        s.read.parquet(minhashPairsStagePath)
      })
    }

  private val minhashSigsCache =
    scala.collection.mutable.Map[(SparkSession, String), DataFrame]()

  /** Portable per-document MinHash SIGNATURES over `documents` (128
    * hashes / 3-shingles — the config every portable minhash gate pins),
    * materialized once per (session, dir) under [[sharedRelDir]]: the
    * persisted-corpus-metadata shape of a real refresh pipeline. The
    * kernel pass over the corpus runs ONCE; [[sharedMinhashPairs]] (and
    * through it q_minhash_near_dup / q_minhash_fast /
    * q_leakage_split_near) and q_incremental_dedup all consume the
    * parquet. Engine-internal: the ORACLE contract stays the pair
    * artifact, which q_minhash_near_dup's oracle verifies pair by pair
    * against its own full DuckDB replay of the portable pipeline — a
    * signature-kernel bug still turns that gate red.
    */
  private def sharedMinhashSigs(s: SparkSession, dir: String): DataFrame =
    synchronized {
      minhashSigsCache.getOrElseUpdate((s, dir), {
        val path = new java.io.File(sharedRelDir,
          "msigs_" + java.security.MessageDigest.getInstance("MD5")
            .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString)
          .getAbsolutePath
        Dedup.minHashSignaturesFused(s.table("documents"), "text", "doc_id",
            numHashes = 128, shingleSize = 3, portable = true)
          .write.mode("overwrite").parquet(path)
        s.read.parquet(path)
      })
    }

  /** Distinct customer↔supplier purchase edges (parity-encoded node ids),
    * shared by the `q_pagerank` and `q_ppr` gates — the same
    * checkpoint-the-expensive-relation pattern as [[sharedJaccardPairs]]:
    * a real pipeline derives the link graph once and runs every graph
    * analysis against the materialized edge table.
    */
  private[graft] def sharedPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    synchronized {
      purchaseEdgesCache.getOrElseUpdate((s, dir), {
        val path = new java.io.File(sharedRelDir,
          "edges_" + java.security.MessageDigest.getInstance("MD5")
            .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString)
          .getAbsolutePath
        s.sql("""
          SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
          FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey""")
          .write.mode("overwrite").parquet(path)
        s.read.parquet(path)
      })
    }

  private val preparedGraphCache =
    scala.collection.mutable.Map[(SparkSession, String), Graphs.PreparedGraph]()

  /** The purchase graph PREPARED for iterative analytics (simple edges +
    * out-degree as DISK_ONLY blocks), shared by `q_pagerank`, `q_ppr` AND
    * `q_graph_stats`: the superstep loops want the relation as compact
    * local row blocks (parquet-backed supersteps measured ~2x slower at
    * sf1cd — SCALE.md round-13).
    *
    * Round-15 optimization (guide §2.4 — remove shuffles outright): ONE
    * fused derivation instead of the stage-parquet → build → load(pin)
    * chain. [[Graphs.prepareGraph]] runs straight off the raw
    * orders⋈lineitem join (no DISTINCT staging write — the one-exchange
    * window derivation dedups inside its single src exchange), its
    * DISK_ONLY checkpoint already advertises HashPartitioning(src) +
    * (src, dst) ordering (the pinned superstep shape), and the durable
    * artifact is then written FROM those blocks
    * ([[sources.GraphIndex.persist]] — available to any
    * [[sources.GraphIndex.load]] consumer for the run's lifetime; it
    * lives under the per-run [[sharedRelDir]], so
    * [[clearSharedRelations]] deletes it with everything else — NOT a
    * cross-session artifact) instead of being re-derived. Net
    * vs the shipped chain: −1 edge-table parquet write, −2 edge-table
    * reads, −1 exchange, −1 sort per (session, fixture); A/B at sf0.1
    * 5.2–5.7 s → 3.9–4.2 s with identical pagerank output
    * (tools/GraphFusedAB). A degree-only session that wants no
    * checkpoint still has the [[sources.GraphIndex.build]] API.
    */
  private def sharedPreparedGraph(s: SparkSession, dir: String): Graphs.PreparedGraph =
    synchronized {
      preparedGraphCache.getOrElseUpdate((s, dir), {
        // raw join, NOT distinct: the prepare's window dedup collapses
        // multi-edges inside its one src exchange, so a pre-distinct
        // would only add an (src, dst) exchange of its own (A/B'd equal
        // at sf0.1, fewer total shuffled rows at the fixture's
        // duplication ratio; a heavily multi-edged input would flip the
        // trade — pre-distinct then)
        val raw = s.sql("""
          SELECT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
          FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey""")
        val g = Graphs.prepareGraph(raw, "src", "dst", undirected = true)
        val path = new java.io.File(sharedRelDir,
          "graph_" + java.security.MessageDigest.getInstance("MD5")
            .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString)
          .getAbsolutePath
        sources.GraphIndex.persist(g, path)
        g
      })
    }

  private val bpeMergesCache =
    scala.collection.mutable.Map[(SparkSession, String), DataFrame]()

  /** Learned BPE merge table (6 merges over `documents`), shared by the
    * `q_bpe` and `q_bpe_encode` gates — the same checkpoint-the-expensive-
    * relation pattern as [[sharedJaccardPairs]]: training drives ~2 jobs
    * per merge step (pair-count argmax + vocab re-materialization), and a
    * real pipeline trains its tokenizer once and ships the merge table to
    * every consumer. The table itself is tiny (one row per merge); what
    * the checkpoint saves is re-RUNNING the training loop per consumer.
    */
  private def sharedBpeMerges(s: SparkSession, dir: String): DataFrame =
    synchronized {
      bpeMergesCache.getOrElseUpdate((s, dir), {
        val path = new java.io.File(sharedRelDir,
          "bpe_" + java.security.MessageDigest.getInstance("MD5")
            .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString)
          .getAbsolutePath
        Vocab.bpeMerges(s.table("documents"), "text", numMerges = 6)
          .write.mode("overwrite").parquet(path)
        s.read.parquet(path)
      })
    }

  /** Drop every shared gate checkpoint (see [[sharedJaccardPairs]]).
    *
    * HAZARD — results still held across a clear: gates whose returned
    * frame is a LIVE plan over a shared relation (e.g. `q_graph_stats`
    * aggregates the cached PreparedGraph's `eDeg` directly, unlike
    * `q_pagerank`/`q_ppr` whose results root at their own final rank
    * checkpoint) become unexecutable after the clear — local checkpoints
    * have no lineage to recompute from, and the parquet-backed shared
    * relations are deleted from disk. Execute (collect/write) every held
    * gate result BEFORE clearing; Bench/Verify and the probes all do.
    */
  def clearSharedRelations(): Unit = synchronized {
    jaccardPairsCache.clear()
    purchaseEdgesCache.clear()
    // cache only — the staged FILES stay: the DuckDB oracle replay reads
    // them after this process exits (see minhashPairsStagePath)
    minhashPairsCache.clear()
    minhashSigsCache.clear()
    // shared loop graphs hold local checkpoint blocks (the in-memory
    // prepareGraph this session, or a pinned GraphIndex load in a later
    // one): release them eagerly (ContextCleaner would wait for a driver
    // GC); the parquet artifact itself lives under sharedRelDir, deleted
    // below
    preparedGraphCache.values.foreach(_.unpersist())
    preparedGraphCache.clear()
    bpeMergesCache.clear()
    deleteRecursively(sharedRelDir)
    sharedRelDir.mkdirs(): Unit
  }

  /** Register graft functions + parquet views for `dir` on this session
    * (memoized: repeated queries in one session skip re-registration).
    */
  def prepare(spark: SparkSession, dir: String): SparkSession = synchronized {
    if (prepared.get(spark).contains(dir)) return spark
    prepared(spark) = dir
    GraftFunctions.registerAll(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tables.foreach { t =>
      // nanos-as-long rebuild + TIMESTAMP_NTZ cast (generated parquet has
      // flipped between isAdjustedToUTC=true/false across rounds; all
      // sessions here run UTC, so the cast is value-preserving) — shared
      // with the streaming readers so batch and stream see identical time
      graft.streaming.FileStreams.normalizeTimestamps(
          spark.read.parquet(s"$dir/$t.parquet"),
          nanoTimestampCols.getOrElse(t, Nil))
        .createOrReplaceTempView(t)
    }
    spark
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  /** Recall-floor QUALITY check shared by the `q_recall_floor_*` gates:
    * compute the [[Embeddings.recallReport]] rollup for a pinned ANN
    * config, attach the pinned floor, and HARD-FAIL the gate when the
    * floor is breached — so a recall regression turns the CORRECTNESS row
    * red (gate error, no output written) instead of shipping silently,
    * even if the oracle SQL were updated alongside the engine. Floors sit
    * under the minimum measured across sf0.01 / sf0.1 / sf1cd (SCALE.md
    * round-12 table).
    */
  private def recallFloor(approx: DataFrame, exact: DataFrame,
      floorPpm: Long, config: String): DataFrame = {
    val rep = Embeddings.recallReport(approx, exact)
      .withColumn("floor_ppm", lit(floorPpm))
    // materialize the 1-row report ONCE: the floor check is an eager
    // head() and the gate's returned frame executes again downstream —
    // uncached that re-ran the whole approx + exact-brute-force pipeline
    // per gate (guide §1.2; halves every q_recall_floor_* gate)
    val local = localResult(approx.sparkSession, rep)
    val mean = local.head().getLong(1)
    require(mean >= floorPpm,
      s"ANN recall regression: $config mean recall $mean ppm < floor $floorPpm ppm")
    local
  }

  def entry(spark: SparkSession): DataFrame = {
    prepare(spark, "/root/testdata/sf0.001")
    spark.sql(Sql.q1Agg)
  }

  private object Sql {
    val q1Agg: String = """
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_e2,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_e2,
             CAST(SUM(CAST(ROUND(l_discount * 10000) AS BIGINT)) AS BIGINT) AS sum_disc_e4,
             CAST(COUNT(*) AS BIGINT) AS count_order
      FROM lineitem
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""

    val q2JoinAgg: String = """
      SELECT o_orderpriority,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_e2,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""

    val qTopSuppliers: String = """
      SELECT s_nationkey,
             CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS active_suppliers,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS volume_e2
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_nationkey
      ORDER BY s_nationkey"""
  }

  /** One entry per implemented operator from SURVEY.md par.2 (+ pipeline ops). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    def q(sql: String)(s: SparkSession, dir: String): DataFrame = {
      prepare(s, dir); s.sql(sql)
    }
    Map(
      // --- relational / delegated-to-Spark operators --------------------
      "q1_agg" -> q(Sql.q1Agg) _,
      "q2_join_agg" -> q(Sql.q2JoinAgg) _,
      "q3_supplier_join" -> q(Sql.qTopSuppliers) _,
      "q_events_window" -> q("""
        SELECT date_trunc('hour', ts) AS hour, event_type,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS val_e2
        FROM events GROUP BY 1, 2 ORDER BY 1, 2""") _,

      // sliding event-time windows (1-day window, 6-hour slide): every
      // event contributes to exactly 4 overlapping windows — the Spark
      // window() multi-assignment semantics, replayed in the oracle by
      // enumerating the 4 aligned starts per event
      "q_events_sliding" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        s.table("events")
          .groupBy(window(col("ts"), "1 day", "6 hours"), col("event_type"))
          .agg(count(lit(1)).cast("long").as("cnt"),
            sum(round(col("value") * 100).cast("long")).cast("long").as("val_e2"))
          .select(unix_micros(col("window.start")).as("w_us"), col("event_type"),
            col("cnt"), col("val_e2"))
          .orderBy("w_us", "event_type")
      }),

      // 5-way star join: Catalyst broadcasts the three small dims and
      // plans the two big joins on their shuffle keys (TPC-H Q5 shape)
      "q5_regional_revenue" -> q("""
        SELECT r_name,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_e2
        FROM region JOIN nation ON n_regionkey = r_regionkey
          JOIN customer ON c_nationkey = n_nationkey
          JOIN orders ON o_custkey = c_custkey
          JOIN lineitem ON l_orderkey = o_orderkey
        GROUP BY r_name ORDER BY r_name""") _,

      // semi-structured props: JSON path extraction inside codegen
      "q_events_props" -> q("""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(CAST(get_json_object(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
        FROM events GROUP BY event_type ORDER BY event_type""") _,

      // exact interpolated percentiles: quarter fractions on integer-scaled
      // values keep every interpolation step exactly representable, so the
      // doubles are bit-equal across engines (type-7 positioning both)
      "q_event_percentiles" -> q("""
        SELECT event_type,
               percentile(v, 0.25) AS p25, percentile(v, 0.5) AS p50, percentile(v, 0.75) AS p75,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v FROM events)
        GROUP BY event_type ORDER BY event_type""") _,

      // gap-based sessionization: one shuffle on user_id, running-sum
      // session index, co-partitioned per-session rollup
      "q_sessionize" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        Events.sessionStats(
            Events.sessionize(s.table("events"), "user_id", "ts", gapSeconds = 1800), "user_id")
          .agg(count(lit(1)).cast("long").as("sessions"),
            sum("n_events").cast("long").as("events"),
            sum("duration_us").cast("long").as("dur_us"),
            max("n_events").cast("long").as("max_events"))
      }),

      // funnel analysis: earliest view->click->purchase chain within 3
      // days; greedy earliest-step choice is optimal (the minimal t_i
      // admits the most candidates for t_{i+1}), microsecond-exact
      "q_funnel" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        Events.funnel(s.table("events"), "user_id", "ts", "event_type",
            Seq("view", "click", "purchase"), maxSpanUs = 259200000000L)
          .agg(count(lit(1)).cast("long").as("completed"),
            sum(col("t2") - col("t0")).cast("long").as("span_us_sum"),
            sum("user").cast("long").as("user_sum"))
      }),

      // cohort retention matrix over full event dates (exact distinct
      // users per cohort x day-offset)
      "q_retention" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        Events.retentionCohorts(s.table("events"), "user_id", "ts", maxDays = 30)
          .agg(count(lit(1)).cast("long").as("cells"),
            sum("users").cast("long").as("user_days"),
            sum(col("day_offset") * col("users")).cast("long").as("weighted_offsets"))
      }),

      // inverted index: build token -> postings, answer a 3-term AND
      // without touching the corpus; result is the exact doc_id list
      "q_inverted_index" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val idx = graft.sources.InvertedIndex.build(
          s.table("documents"), "text", "doc_id")
        graft.sources.InvertedIndex.search(idx, Seq("hash", "join", "vector"))
          .orderBy("doc_id")
      }),

      // unigram-LM surprisal (perplexity-filter lite): per-token micro-
      // unit logprobs integer-summed per doc, rolled up per source so
      // every token's probability is on the hash path
      "q_unigram_lp" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val scored = Ranking.unigramLogProb(s.table("documents"), "text", "doc_id")
        scored.join(s.table("documents").select(col("doc_id"), col("source")), "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).cast("long").as("docs"),
            sum("tokens").cast("long").as("tokens"),
            sum("lp_e6").cast("long").as("lp_e6_sum"))
          .orderBy("source")
      }),

      // soft data-quality expectations: one agg pass, a row per check
      // with violation counts (the hard plan-side variant is spec-tested
      // — a gate cannot assert a job failure)
      "q_expect" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        Profile.expectReport(s.table("documents"), Seq(
            "chars_match" -> (length(col("text")) === col("n_chars")),
            "id_positive" -> (col("doc_id") >= 0),
            "known_lang" -> col("lang").isin("en", "de", "fr", "es", "zh"),
            "long_text" -> (col("n_chars") >= 100)))
          .orderBy("check")
      }),

      // in-engine quality classifier: 10 full-batch GD rounds of logistic
      // regression (predict the document-length class from text-metric
      // ratios — a learnable target on this corpus; 489/500 train
      // accuracy from 256/500 base rate); the micro-unit final weights
      // and the training accuracy pin every per-row sigmoid/gradient
      // across all rounds
      // classifier operating-point sweep with FIXED weights (the trained
      // model's eval twin, oracle-compact): one agg pass, 3 thresholds,
      // integer ppm precision/recall/F1
      "q_classifier_eval" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val (docs, score, y) = qualityScorer(s)
        Classify.evalReport(docs, score, y, Seq(0.3, 0.5, 0.7))
          .orderBy("threshold_e6")
      }),
      // calibration / reliability diagram of the same quality scorer:
      // equal-width bins, integer mean-score/rate/ECE-contribution per
      // bin — is a 0.9 score actually right 90% of the time?
      "q_calibration" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val (docs, score, y) = qualityScorer(s)
        Classify.calibrationReport(docs, score, y, bins = 10).orderBy("bin")
      }),
      "q_logistic" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val docs = s.table("documents").withColumn("__m", expr("text_metrics(text)"))
        val fSw = col("__m.sw_hits").cast("double") / col("__m.toks").cast("double")
        val fToks = col("__m.toks").cast("double") / lit(100.0)
        val fLen = col("__m.chars").cast("double") / col("__m.words").cast("double") / lit(10.0)
        val feats = Seq(fSw, fToks, fLen)
        val y = when(col("n_chars") >= 300, 1.0).otherwise(0.0)
        val w = Classify.logisticTrain(docs, feats, y, iterations = 10, lr = 5.0)
        val pred = when(Classify.logisticScore(w, feats) >= 0.5, 1.0).otherwise(0.0)
        def e6(d: Double): Long = // ties away from zero, like SQL round()
          (if (d >= 0) math.floor(d * 1e6 + 0.5) else math.ceil(d * 1e6 - 0.5)).toLong
        docs.agg(count(lit(1)).cast("long").as("n"),
            sum(when(pred === y, 1L).otherwise(0L)).cast("long").as("correct"))
          .withColumn("w0_e6", lit(e6(w(0)))).withColumn("w1_e6", lit(e6(w(1))))
          .withColumn("w2_e6", lit(e6(w(2)))).withColumn("w3_e6", lit(e6(w(3))))
      }),

      // BPE merge learning: 6 rounds of pair-count -> argmax -> merge
      // over the corpus vocabulary; the returned merge table pins the
      // whole iterative training run (counts, tie-breaks, merge order)
      "q_bpe" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        sharedBpeMerges(s, dir).orderBy("step")
      }),
      // the inference side of the tokenizer: corpus token frequencies
      // after applying the learned merge table (the vocab report shipped
      // with a tokenizer), computed on the distinct-word vocab relation
      // and reweighted by corpus counts (identical to exploding
      // bpeTokenize over every document, at vocab-sized cost); the oracle
      // replays training AND the per-word merge walk
      "q_bpe_encode" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val merges = sharedBpeMerges(s, dir)
        Vocab.bpeTokenCounts(s.table("documents"), "text", merges)
          .orderBy(col("cnt").desc, col("tok")).limit(20)
      }),

      // bigram-LM surprisal: token TRANSITIONS scored under Jelinek-
      // Mercer interpolation, first tokens under the unigram marginal;
      // micro-unit integer sums keep every transition on the hash path
      "q_bigram_lp" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val scored = Ranking.bigramLogProb(s.table("documents"), "text", "doc_id")
        scored.join(s.table("documents").select(col("doc_id"), col("source")), "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).cast("long").as("docs"),
            sum("tokens").cast("long").as("tokens"),
            sum("lp_e6").cast("long").as("lp_e6_sum"))
          .orderBy("source")
      }),

      // corpus-level exact span dedup: 8-token windows occurring >= 2
      // times anywhere are removed (first occurrence kept); the rebuilt
      // texts ride the hash path via md5-prefix checksums
      "q_span_dedup" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        Dedup.dropDuplicateSpans(s.table("documents"), "text", "doc_id",
            spanTokens = 8, minCount = 2, keepFirst = true)
          .agg(count(lit(1)).cast("long").as("docs"),
            sum("spans").cast("long").as("spans"),
            sum("removed").cast("long").as("removed"),
            sum(length(col("text_deduped"))).cast("long").as("chars"),
            sum(conv(substring(md5(col("text_deduped")), 1, 15), 16, 10)
              .cast("long") % 1000000000L).cast("long").as("checksum"))
      }),

      // spherical k-means, one full Lloyd round (seed-assign -> exact
      // micro-unit centroid update -> reassign); per-cluster membership
      // and id-checksums put every assignment on the hash path
      "q_kmeans" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val emb = s.table("embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
        Embeddings.kmeansLloyd(emb, "vec", "vec_id", k = 8, iterations = 1)
          .groupBy("cid")
          .agg(count(lit(1)).cast("long").as("members"),
            sum("vec_id").cast("long").as("id_sum"))
          .orderBy("cid")
      }),

      // kNN label consistency: do the 5 nearest neighbors of each of the
      // first 200 vectors share its label? Per-label exact-integer rollup
      "q_knn_eval" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val emb = s.table("embeddings")
          .select(col("vec_id"), col("label"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
        val queries = emb.where(col("vec_id") < 200)
          .select(col("vec_id").as("qid"), col("vec").as("qvec"),
            col("label").as("qlabel"))
        Embeddings.knnLabelConsistency(emb, "vec", "vec_id", "label",
            queries, "qvec", "qid", "qlabel", k = 5)
          .orderBy("label")
      }),

      // per-cluster embedding outliers: the 5 members farthest from their
      // Lloyd-fit centroid (micro-rounded cosine, id tiebreak) — the
      // oracle extends the q_kmeans replay chain with the similarity rank
      "q_outliers" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val emb = s.table("embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
        Embeddings.centroidOutliers(emb, "vec", "vec_id", k = 8,
            iterations = 1, m = 5)
          .orderBy("cid", "rnk")
      }),

      // feature-hashed text vectors (hashing trick): md5-bucket tf counts,
      // L2-normalized — the in-engine text vectorizer. nnz + micro-rounded
      // element sums checksum every vector for the first 20 docs.
      "q_text_vectors" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        Embeddings.featureHashVectors(s.table("documents"), "text", "doc_id", dim = 32)
          .select(col("doc_id"),
            expr("aggregate(vec, 0L, (a, x) -> a + IF(x != CAST(0.0 AS DOUBLE), 1L, 0L))").as("nnz"),
            expr("aggregate(vec, 0L, (a, x) -> a + CAST(round(x * 1e6) AS LONG))").as("sum_e6"))
          .orderBy("doc_id").limit(20)
      }),

      // SemDeDup: spherical k-means clusters, then per-cluster cosine
      // pruning — keep the smallest-id member of every semantic-duplicate
      // ball. Assignment argmax and the drop threshold are micro-rounded
      // on both sides, so the cross-engine compare is integer-robust.
      // k = 0 exercises the CORPUS-DERIVED default (clamp(ceil(n/1000),
      // 32, 65536)) — a fixed k measured 23.9x/decade at sf100cd because
      // occupancy n/k grew linearly and within-cell pairing quadratically;
      // the derived rule pins occupancy, and the oracle replays it from
      // COUNT(*).
      "q_semdedup" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val emb = s.table("embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
        Embeddings.semanticDeduplicate(emb, "vec", "vec_id", k = 0, threshold = 0.35)
          .groupBy("cid")
          .agg(count(lit(1)).cast("long").as("members"),
            sum(when(col("keep"), 1L).otherwise(0L)).cast("long").as("kept"),
            sum(when(col("keep"), col("vec_id"))).cast("long").as("kept_id_sum"))
          .orderBy("cid")
      }),

      // incremental SemDeDup: the refresh slice (vec_id % 10 = 0) is
      // assigned into the cluster space fit on the REST (frozen — the old
      // corpus is not re-clustered); a new vector drops on a >=-threshold
      // OLD neighbor or a smaller-id NEW neighbor. Old-vs-old, the
      // unchanged quadratic bulk, is never paired. The fit is computed
      // ONCE and passed through the frozen-centroids parameter — the
      // refresh path the operator advertises (the operator never re-fits).
      // k = 0: the fit derives k from the OLD slice's count (the
      // occupancy-pinned SemDeDup sizing rule), replayed by the oracle.
      "q_incremental_semdedup" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val emb = s.table("embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
        val oldE = emb.where(col("vec_id") % 10 =!= 0)
        val cents = Embeddings.kmeansCentroids(oldE, "vec", "vec_id",
          k = 0, iterations = 1)
        Embeddings.incrementalSemanticDeduplicate(
            emb.where(col("vec_id") % 10 === 0), oldE,
            "vec", "vec_id", k = 0, threshold = 0.35, centroids = Some(cents))
          .groupBy("cid")
          .agg(count(lit(1)).cast("long").as("members"),
            sum(when(col("keep"), 1L).otherwise(0L)).cast("long").as("kept"),
            sum(when(col("keep"), col("vec_id"))).cast("long").as("kept_id_sum"))
          .orderBy("cid")
      }),

      // persisted SemDeDup model (build-once / refresh-many): the archive
      // fit + assignment are written to disk (centroids + cid-partitioned
      // members) and the refresh answers from the FILES, reading only the
      // cells the slice touches — zero re-fit, zero archive re-assignment.
      // Identical drop rule and fit, so it replays in the SAME DuckDB
      // oracle as q_incremental_semdedup.
      "q_semdedup_index" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val emb = s.table("embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
        val idx = java.nio.file.Files.createTempDirectory("graft_semdedup_idx_").toString
        graft.sources.SemDedupIndex.build(
          emb.where(col("vec_id") % 10 =!= 0), "vec", "vec_id", idx, k = 0)
        val res = graft.sources.SemDedupIndex.refresh(s, idx,
            emb.where(col("vec_id") % 10 === 0), "vec", "vec_id", threshold = 0.35)
          .groupBy("cid")
          .agg(count(lit(1)).cast("long").as("members"),
            sum(when(col("keep"), 1L).otherwise(0L)).cast("long").as("kept"),
            sum(when(col("keep"), col("vec_id"))).cast("long").as("kept_id_sum"))
          .orderBy("cid")
        val out = localResult(s, res) // <= k rows; frees the staged index
        deleteDirs(idx)
        out
      }),

      // BM25 corpus search: top-20 docs for a 3-term query. Scores are
      // micro-unit-rounded and the ordering is on the ROUNDED score (then
      // doc_id), so the cross-engine compare never rests on a double tie.
      "q_bm25" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        Ranking.bm25(s.table("documents"), "text", "doc_id",
            Seq("hash", "join", "vector"))
          .select(col("doc_id"), col("dl"),
            round(col("bm25") * lit(1e6)).cast("long").as("bm25_e6"))
          .orderBy(col("bm25_e6").desc, col("doc_id"))
          .limit(20)
      }),

      // hybrid retrieval: BM25 recall (full corpus, no doc-keyed shuffle)
      // -> bounded-candidate cosine rerank against vec_id 0's embedding ->
      // reciprocal-rank fusion. Ranks are small exact integers, so the
      // fused ordering replays exactly; the cosine rank inherits the ANN
      // gates' ordering contract.
      "q_hybrid_search" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val qv = s.table("embeddings").where(col("vec_id") === 0L)
          .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
          .head().getSeq[Double](0)
        val emb = s.table("embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
        Ranking.hybridSearch(s.table("documents"), "text", "doc_id",
            Seq("hash", "join", "vector"), emb, "vec", "vec_id", qv,
            candidates = 100, k = 10)
          .select(col("doc_id"), col("rank").cast("int").as("rank"),
            col("rank_bm25").cast("int").as("rank_bm25"),
            col("rank_cosine").cast("int").as("rank_cosine"),
            round(col("rrf") * lit(1e6)).cast("long").as("rrf_e6"))
          .orderBy(col("rank"))
      }),

      // as-of join: attach each purchase's most recent preceding click
      // (same user, click ts <= purchase ts). The right side is unique on
      // (user_id, ts) in this corpus, so DuckDB's native ASOF LEFT JOIN
      // replays it exactly; aggregate to matched/unmatched counts plus
      // exact id/lag checksums so every per-row match is on the hash path.
      // forward as-of: each purchase takes its EARLIEST click at-or-after
      // (ties to the largest click_id — the documented rightOrderCols
      // policy); same single-shuffle plan with the time axis reversed
      "q_asof_forward" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val ev = s.table("events")
        val purchases = ev.where(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = ev.where(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
        Events.asofJoin(purchases, clicks, Seq("user_id"), "ts", "ts",
            Seq("click_id"), rightOrderCols = Seq("click_id"),
            direction = "forward")
          .agg(count(lit(1)).cast("long").as("purchases"),
            count(col("click_id")).cast("long").as("matched"),
            sum(col("click_id")).cast("long").as("click_id_sum"),
            sum(when(col("click_id").isNotNull,
              col("event_id") * col("click_id") % lit(1000003L)))
              .cast("long").as("pair_checksum"))
      }),
      // STREAMING per-key EWMA: flatMapGroupsWithState carries one 16-byte
      // (lastUs, lastEwma) state per key; one AvailableNow drain emits the
      // batch recursion row for row (same oracle as q_ewma)
      "q_stream_ewma" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        import s.implicits._
        val ev = graft.streaming.FileStreams.tableStream(s, dir, "events", Seq("ts"))
          .where(col("event_type") === "view" && col("user_id") % 7 === 0)
          .select(col("user_id").as("k"), unix_micros(col("ts")).as("us"),
            round(col("value").cast("double") * lit(1e6)).cast("long").as("vE6"))
          .as[graft.streaming.StreamingEwma.KeyedPoint]
        graft.streaming.FileStreams.runAvailableNow(
            graft.streaming.StreamingEwma.ewmaStream(ev, alphaPpm = 300000L).toDF(),
            mode = org.apache.spark.sql.streaming.OutputMode.Append(),
            // state partitions DERIVED from a state-key estimate across
            // ALL q_stream_* gates (round 16; round 15 hardcoded 4 at
            // every site): FileStreams.derivedStatePartitions sizes the
            // store count from projected state VOLUME — floor 4 (the
            // round-15 A/B: 2 ~= 4 < 8 < 16 on watermark-bounded state;
            // the per-batch floor is the per-store-instance commit
            // fsync), one store per ~64 MB of projected state past the
            // knee. The estimate is the staged table's FOOTER row count
            // (metadata-only, the catalog statistic): state keys never
            // exceed staged rows, and the floor absorbs the
            // over-estimate at bench scale while an unbounded-state
            // pipeline at 100 TB derives a real fan-out instead of a
            // copy-pasted literal.
            expectedStateKeys =
              graft.streaming.FileStreams.tableRowCount(s, dir, "events"))
          .agg(count(lit(1)).cast("long").as("points"),
            countDistinct(col("k")).cast("long").as("keys"),
            sum("ewmaE6").cast("long").as("ewma_sum"),
            sum(abs(col("devE6"))).cast("long").as("abs_dev_sum"),
            max(abs(col("devE6"))).cast("long").as("max_abs_dev"))
      }),
      // per-key EWMA: exact integer recursion (alpha 0.3), rolled up so
      // the full per-row fold is pinned without a 15k-row output; the
      // DuckDB oracle replays the recursion with a recursive CTE and
      // toward-zero division
      "q_ewma" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        Events.ewmaSmooth(
            s.table("events").where(col("event_type") === "view" &&
              col("user_id") % 7 === 0),
            "user_id", "ts", "value", alphaPpm = 300000L)
          .agg(count(lit(1)).cast("long").as("points"),
            countDistinct(col("user_id")).cast("long").as("keys"),
            sum("ewma_e6").cast("long").as("ewma_sum"),
            sum(abs(col("dev_e6"))).cast("long").as("abs_dev_sum"),
            max(abs(col("dev_e6"))).cast("long").as("max_abs_dev"))
      }),
      "q_asof_join" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val ev = s.table("events")
        val purchases = ev.where(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = ev.where(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
        Events.asofJoin(purchases, clicks, Seq("user_id"), "ts", "ts",
            Seq("click_id"))
          .agg(count(lit(1)).cast("long").as("purchases"),
            count(col("click_id")).cast("long").as("matched"),
            sum(col("click_id")).cast("long").as("click_id_sum"),
            sum(when(col("click_id").isNotNull,
              col("event_id") * col("click_id") % lit(1000003L)))
              .cast("long").as("pair_checksum"))
      }),

      // bucketed range join: for each purchase, count the events (any
      // user) inside the hour after it. The binned equi-join must equal
      // the nested-loop BETWEEN join DuckDB runs — per-anchor counts and
      // id checksums ride the hash path. Bin width (15 min) is deliberately
      // SMALLER than the window so intervals span several bins and the
      // explode/residual path is actually exercised.
      "q_range_join" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val ev = s.table("events")
        val anchors = ev.where(col("event_type") === "purchase")
          .select(col("event_id").as("anchor_id"), col("ts").as("w_start"),
            timestamp_micros(unix_micros(col("ts")) + 3600L * 1000000L).as("w_end"))
        Events.rangeJoin(ev.select(col("event_id"), col("ts")), anchors,
            "ts", "w_start", "w_end", binWidthUs = 900L * 1000000L)
          .groupBy(col("anchor_id"))
          .agg(count(lit(1)).cast("long").as("hits"),
            (sum(col("event_id")) % 1000003L).cast("long").as("hit_checksum"))
          .orderBy(col("anchor_id"))
      }),

      // interval-overlap join (ownership-bin dedup): purchase windows that
      // overlap each other, counted once per unordered pair
      "q_interval_overlap" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val ev = s.table("events")
        def windows(idName: String, sName: String, eName: String) =
          ev.where(col("event_type") === "purchase")
            .select(col("event_id").as(idName), col("ts").as(sName),
              timestamp_micros(unix_micros(col("ts")) + 3600L * 1000000L).as(eName))
        Events.intervalOverlapJoin(
            windows("id1", "s1", "e1"), windows("id2", "s2", "e2"),
            "s1", "e1", "s2", "e2", binWidthUs = 900L * 1000000L)
          .where(col("id1") < col("id2"))
          .agg(count(lit(1)).cast("long").as("pairs"),
            (sum(col("id1") * col("id2") % 1000003L) % 1000003L)
              .cast("long").as("pair_checksum"))
      }),

      // skew-salted join: orders x lineitem through Joins.saltedJoin in
      // AUTO-threshold mode — the hot cutoff is the p80 of the per-key
      // count distribution (derived per run, so it stays selective at
      // every SF with zero tuning; the sf10 sweep showed constants rot).
      // On the TPC-H 1..7-lineitems-per-order shape p80 lands on 6, so the
      // max-size orders (~1/7 of keys) take the salted fan-out path and
      // the rest join plain — BOTH paths carry real rows. The result is
      // row-identical to the plain join by construction — the oracle
      // replays the plain join + aggregate.
      // edit-distance similarity self-join (PassJoin segment pigeonhole +
      // bounded-levenshtein verify) over the part-name DICTIONARY — the
      // right altitude for fuzzy matching: dedupe to distinct names first
      // (the replicated fixture would otherwise make the pair OUTPUT
      // quadratic in corpus size), match the dictionary, broadcast the
      // resolution back. Oracle replays the brute-force quadratic join.
      "q_editdist_join" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val dict = s.table("part").groupBy(col("p_name").as("name"))
          .agg(min("p_partkey").cast("long").as("id"))
        EditDistance.selfJoin(dict, "id", "name", maxDist = 1)
          .orderBy("id_a", "id_b")
      }),
      // the shared-prefix worst case ("Customer#000000...") via SymSpell
      // deletion neighborhoods: segment keys would put every name in one
      // cell (quadratic fan-in); hashed <=1-deletion variants stay nearly
      // unique, so candidates scale with true matches. Dictionary
      // altitude (distinct names, min key as the representative) — the
      // replicated fixture would otherwise multiply every variant cell by
      // the replica count and candidates by its square
      "q_editdist_names" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        EditDistance.selfJoin(
            s.table("customer").groupBy(col("c_name").as("name"))
              .agg(min("c_custkey").cast("long").as("id")),
            "id", "name", maxDist = 1, method = "deletion")
          .groupBy("dist")
          .agg(count(lit(1)).cast("long").as("pairs"),
            sum(col("id_a") + col("id_b")).cast("long").as("id_sum"),
            (sum(col("id_a") * col("id_b") % lit(1000003L)) % lit(1000003L))
              .cast("long").as("pair_checksum"))
          .orderBy("dist")
      }),

      // per-file data-skipping index: build min/max + fuse16 filters per
      // physical file of a range-clustered copy, then answer a key-set
      // lookup by reading ONLY candidate files (no false negatives; the
      // exact semi-join removes filter FPs). Row-identical to the
      // full-scan semi-join, which is what the oracle replays. The
      // range-cluster file count derives from VOLUME (~750k rows/file,
      // floor 8, cap 2048) — the production contract: file SIZE stays
      // bounded while the count grows linearly, so the staging write's
      // parallelism scales with the data instead of funnelling 600M rows
      // through 8 tasks (a fixed count was the same corpus-independent-
      // literal trap as the LSH width/semdedup k), and the per-file index
      // stays over right-sized files, never an exploding tiny-file
      // inventory (the anti-pattern regime; SCALE.md r14).
      "q_skipping_index" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val tmpData = java.nio.file.Files.createTempDirectory("graft_skip_data_").toString
        val tmpIdx = java.nio.file.Files.createTempDirectory("graft_skip_idx_").toString
        val rows = s.table("lineitem").count()
        val parts = math.min(2048L, math.max(8L, (rows + 749999L) / 750000L)).toInt
        // guide §2.3 (project before the exchange): the gate's lookup only
        // ever reads (l_orderkey, l_extendedprice), so the range-clustered
        // staging copy carries just those two columns — the range shuffle,
        // the staged write, the index-build scan and the pruned read all
        // move ~5x fewer bytes than staging all 11 lineitem columns, and
        // the result (an aggregate over exactly these columns) is unchanged
        s.table("lineitem").select(col("l_orderkey"), col("l_extendedprice"))
          .repartitionByRange(parts, col("l_orderkey"))
          .write.mode("overwrite").parquet(tmpData)
        graft.sources.SkippingIndex.build(s, tmpData, "l_orderkey", tmpIdx)
        val keys = s.table("orders").where(col("o_orderkey") % 97 === 0)
          .select(col("o_orderkey").cast("long"))
        val res = graft.sources.SkippingIndex
          .prunedRead(s, tmpData, tmpIdx, "l_orderkey", keys)
          .agg(count(lit(1)).cast("long").as("n_rows"),
            sum("l_orderkey").cast("long").as("key_sum"),
            sum(round(col("l_extendedprice") * 100).cast("long")).cast("long").as("price_e2"))
        // materialize the 1-row result so the staged copy can be DELETED
        // before returning — a lazily returned frame would pin the temp
        // dirs, and each gate run leaks a full lineitem copy (11 GB at
        // sf100cd; a TimeGates double-pass filled the disk, r14)
        val out = localResult(s, res)
        deleteDirs(tmpData, tmpIdx)
        out
      }),

      "q_salted_join" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val li = s.table("lineitem").select(
          col("l_orderkey").as("orderkey"), col("l_extendedprice"), col("l_discount"))
        val ord = s.table("orders").select(
          col("o_orderkey").as("orderkey"), col("o_orderpriority"))
        Joins.saltedJoin(li, ord, Seq("orderkey"),
            saltFactor = 4, hotKeyQuantile = 0.8)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).cast("long").as("cnt"),
            sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
              .cast("long")).cast("long").as("revenue_e2"),
            (sum(col("orderkey") % lit(1000003L)) % lit(1000003L))
              .cast("long").as("key_checksum"))
          .orderBy(col("o_orderpriority"))
      }),

      // co-located join from BUCKETED tables: both sides hash-bucketed on
      // the join key at write time, so the join itself plans with zero
      // Exchange (spec-asserted in BucketedTablesSpec) — the write-once /
      // join-many layout. Results are identical to the plain join, which
      // is what the oracle replays.
      "q_bucketed_join" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val base = java.nio.file.Files.createTempDirectory("graft_bucketed_").toString
        graft.sources.BucketedTables.saveBucketed(
          s.table("lineitem").select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
          "graft_b_lineitem", "l_orderkey", 8, sortCols = Seq("l_orderkey"),
          path = Some(s"$base/lineitem"))
        graft.sources.BucketedTables.saveBucketed(
          s.table("orders").select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority")),
          "graft_b_orders", "l_orderkey", 8, sortCols = Seq("l_orderkey"),
          path = Some(s"$base/orders"))
        val res = graft.sources.BucketedTables.bucketedJoin(s,
            "graft_b_lineitem", "graft_b_orders", Seq("l_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).cast("long").as("cnt"),
            sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
              .cast("long")).cast("long").as("revenue_e2"),
            (sum(col("l_orderkey") % lit(1000003L)) % lit(1000003L))
              .cast("long").as("key_checksum"))
          .orderBy(col("o_orderpriority"))
        val out = localResult(s, res) // per-priority rollup; frees the copies
        // drop the catalog entries BEFORE their external locations vanish:
        // leaving graft_b_* registered at deleted paths makes any catalog
        // or table access between gate runs hit a missing-path error
        s.sql("DROP TABLE IF EXISTS graft_b_lineitem")
        s.sql("DROP TABLE IF EXISTS graft_b_orders")
        deleteDirs(base)
        out
      }),

      // distribution drift: view-event values vs purchase-event values
      // histogrammed over the same range; per-slot counts, micro-unit
      // occupancy fractions, and the integer L1 drift number
      // unknown-domain quantiles: min/max pass + [min,max) hist fit with
      // the virtual max bin; both passes replayed exactly in SQL
      "q_quantiles_auto" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        Profile.autoQuantiles(s.table("events"), "value", nbins = 400,
            qs = Seq(0.0, 0.5, 0.9, 0.99, 1.0))
          .orderBy("q_ppm")
      }),
      "q_drift" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val ev = s.table("events")
        Profile.histDrift(
            ev.where(col("event_type") === "view").select(col("value")),
            ev.where(col("event_type") === "purchase").select(col("value")),
            "value", 20, 0.0, 500.0)
          .select(col("slot").cast("int").as("slot"),
            col("old_cnt").cast("long").as("old_cnt"),
            col("new_cnt").cast("long").as("new_cnt"),
            col("old_frac_e6"), col("new_frac_e6"), col("l1_e6"), col("psi_e6"))
          .orderBy("slot")
      }),

      // bounded-heap per-group top-k: the k highest-balance customers per
      // nation WITHOUT sorting any group (k pairs per partition cross the
      // shuffle). Deterministic (ord DESC, payload ASC) order makes the
      // window-function replay exact.
      "q_topk" -> q("""
        SELECT c_nationkey, CAST(pos AS INT) AS rank,
               e.ord AS bal_e2, e.payload AS custkey
        FROM (SELECT c_nationkey,
                     topk_agg(5, CAST(ROUND(c_acctbal * 100) AS BIGINT), c_custkey) AS tk
              FROM customer GROUP BY c_nationkey)
        LATERAL VIEW posexplode(tk) t AS pos, e
        ORDER BY c_nationkey, rank""") _,

      // histogram sketch: per-type fixed-range histograms over integer-exact
      // scaled values. Every occupied bin count rides the hash path (explode),
      // and the interpolated median/p90 are micro-rounded doubles whose
      // arithmetic (rank walk + within-bin interpolation) DuckDB replays from
      // its own bin counts with a window cumsum.
      "q_histogram" -> q("""
        WITH sk AS (
          SELECT event_type,
                 hist_sketch(50, 0.0D, 50000.0D,
                   CAST(CAST(ROUND(value * 100) AS BIGINT) AS DOUBLE)) AS h
          FROM events GROUP BY event_type),
        qv AS (
          SELECT event_type, h,
                 CAST(ROUND(hist_quantile(h, 0.5D) * 1000000) AS BIGINT) AS med_e6,
                 CAST(ROUND(hist_quantile(h, 0.9D) * 1000000) AS BIGINT) AS p90_e6
          FROM sk)
        SELECT event_type, CAST(pos AS INT) AS slot, CAST(cnt AS BIGINT) AS cnt,
               med_e6, p90_e6
        FROM qv LATERAL VIEW posexplode(hist_counts(h)) t AS pos, cnt
        WHERE cnt > 0
        ORDER BY event_type, slot""") _,

      // z-order clustering key: Morton interleave of two bucketed part/supp
      // dimensions. Per-bucket integer checksums over the full key
      // distribution pin every bit position; DuckDB rebuilds the interleave
      // from shift/mask arithmetic generated from the same (bits, dims).
      "q_zorder" -> q("""
        SELECT CAST(zkey >> 10 AS BIGINT) AS zbucket,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(zkey) AS BIGINT) AS zsum,
               CAST(MIN(zkey) AS BIGINT) AS zmin,
               CAST(MAX(zkey) AS BIGINT) AS zmax
        FROM (SELECT zorder_key(8, l_partkey % 256, l_suppkey % 256) AS zkey
              FROM lineitem)
        GROUP BY zbucket ORDER BY zbucket""") _,

      // filter-pruned join: the reference's bloom-join pushdown story run
      // Spark-side — a fuse16 filter over the selective orders subset is
      // folded to a scalar subquery and prunes the lineitem scan BEFORE the
      // join shuffle; the real join then removes the bounded false
      // positives, so the result is row-identical to the plain join.
      "q_filter_join" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val ord = s.table("orders").where(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey").as("orderkey"))
        val li = s.table("lineitem").select(
          col("l_orderkey").as("orderkey"), col("l_extendedprice"), col("l_discount"))
        Joins.filterPrunedJoin(li, ord, Seq("orderkey"))
          .agg(count(lit(1)).cast("long").as("cnt"),
            sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
              .cast("long")).cast("long").as("revenue_e2"),
            (sum(col("orderkey") % lit(1000003L)) % lit(1000003L))
              .cast("long").as("key_checksum"))
      }),

      // --- duckdb hash surface ------------------------------------------
      "q_duckdb_hash" -> q("""
        SELECT o_orderkey, conv(hex(bitfilters_duckdb_hash('v1.5.1', o_orderkey)), 16, 10) AS h
        FROM orders ORDER BY o_orderkey""") _,
      // DuckDB UBIGINT parquet columns surface as DECIMAL(20,0) in Spark;
      // the dispatch hashes the exact integer's low 64 bits. Keys are
      // shifted above 2^63 so the two's-complement wrap is exercised
      "q_duckdb_hash_u64" -> q("""
        SELECT o_orderkey,
               conv(hex(bitfilters_duckdb_hash('v1.5.1',
                 CAST(CAST(o_orderkey AS DECIMAL(20,0))
                      + CAST(9223372036854775000 AS DECIMAL(20,0)) AS DECIMAL(20,0)))), 16, 10) AS h
        FROM orders ORDER BY o_orderkey""") _,
      "q_duckdb_hash_vectors" -> q(HashVectors.sparkSql) _,

      // --- duckdb bloom filter family -----------------------------------
      "q_bloom_semijoin" -> q("""
        WITH flt AS (
          SELECT c_nationkey,
                 bitfilters_duckdb_bloom_filter_create('v1.5.1', 4096,
                   bitfilters_duckdb_hash('v1.5.1', c_custkey)) AS f
          FROM customer GROUP BY c_nationkey)
        SELECT c.c_nationkey, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM customer c JOIN flt ON c.c_nationkey = flt.c_nationkey
        WHERE bitfilters_duckdb_bloom_filter_probe('v1.5.1', f, c_custkey)
        GROUP BY c.c_nationkey ORDER BY c.c_nationkey""") _,
      "q_bloom_orders_lineitem" -> q("""
        SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem
        WHERE bitfilters_duckdb_bloom_filter_probe('v1.5.1',
          (SELECT bitfilters_duckdb_bloom_filter_create('v1.5.1', 16384,
             bitfilters_duckdb_hash('v1.5.1', o_orderkey)) FROM orders),
          l_orderkey)""") _,

      // --- classic bloom family (disabled in the reference, shipped here) -
      "q_bloomfilter_classic" -> q("""
        SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM orders
        WHERE bloom_filter_contains(
          (SELECT bloomfilter(200000, CAST(0.01 AS DOUBLE), o_custkey) FROM orders),
          o_custkey)""") _,

      // --- quotient filter family ---------------------------------------
      // scalar-subquery (foldable-filter) form: the filter blob is evaluated
      // once and inlined, so probes run inside whole-stage codegen with no
      // blob-carrying join — the pattern that scales
      "q_quotient_golden" -> q("""
        SELECT 0 AS filter_rem, CAST(COUNT(*) AS BIGINT) AS fp
        FROM range(1, 100001) WHERE id % 2 = 1 AND quotient_filter_contains(
          (SELECT quotient_filter(16, 4, bitfilters_duckdb_hash('v1.5.1', id)) FROM range(1, 100001) WHERE id % 2 = 0),
          bitfilters_duckdb_hash('v1.5.1', id))
        UNION ALL
        SELECT 1 AS filter_rem, CAST(COUNT(*) AS BIGINT) AS fp
        FROM range(1, 100001) WHERE id % 2 = 0 AND quotient_filter_contains(
          (SELECT quotient_filter(16, 4, bitfilters_duckdb_hash('v1.5.1', id)) FROM range(1, 100001) WHERE id % 2 = 1),
          bitfilters_duckdb_hash('v1.5.1', id))
        ORDER BY filter_rem""") _,
      // A quotient filter has a hard 2^q capacity: above ~0.6 load,
      // inserts degrade to O(cluster) shifting (load->1 turned this gate
      // quadratic at sf1, then pinned a single merge task for 15+ min at
      // sf10) and merge silently drops keys (replicated reference
      // overflow behavior). Capacity is a BUILD parameter the caller
      // must size to the keyset, exactly as in the reference — so this
      // gate derives q from the actual key count (metadata-cheap count;
      // load <= 0.5 at every sf; minQ=19 keeps the small-sf blobs
      // byte-identical to the fixed-19 era).
      "q_quotient_merge" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val qq = graft.core.QuotientFilter.qForKeys(
          s.table("customer").count(), maxLoad = 0.5, minQ = 19)
        s.sql(s"""
        WITH per AS (
          SELECT c_mktsegment, quotient_filter($qq, 4, bitfilters_duckdb_hash('v1.5.1', c_custkey)) AS f
          FROM customer GROUP BY c_mktsegment),
        m AS (SELECT quotient_filter($qq, 4, f) AS f FROM per)
        SELECT CAST(COUNT(*) AS BIGINT) AS cnt
        FROM customer, m
        WHERE quotient_filter_contains(f, bitfilters_duckdb_hash('v1.5.1', c_custkey))""")
      }),

      // --- binary fuse filter family ------------------------------------
      // four scalar subqueries that Spark's MergeScalarSubqueries fuses into
      // ONE build pass per parity; the probes hit the merged subquery's
      // struct fields, which the contains-expressions evaluate once per task
      // (never per row — see graft.functions.OncePerTaskBlob)
      "q_fuse_golden" -> q("""
        SELECT 0 AS filter_rem,
               CAST(COUNT(CASE WHEN binary_fuse16_filter_contains(
                 (SELECT binary_fuse16_filter(bitfilters_duckdb_hash('v1.5.1', id)) FROM range(1, 100001) WHERE id % 2 = 0),
                 bitfilters_duckdb_hash('v1.5.1', id)) THEN 1 END) AS BIGINT) AS fp16,
               CAST(COUNT(CASE WHEN binary_fuse8_filter_contains(
                 (SELECT binary_fuse8_filter(bitfilters_duckdb_hash('v1.5.1', id)) FROM range(1, 100001) WHERE id % 2 = 0),
                 bitfilters_duckdb_hash('v1.5.1', id)) THEN 1 END) AS BIGINT) AS fp8
        FROM range(1, 100001) WHERE id % 2 = 1
        UNION ALL
        SELECT 1 AS filter_rem,
               CAST(COUNT(CASE WHEN binary_fuse16_filter_contains(
                 (SELECT binary_fuse16_filter(bitfilters_duckdb_hash('v1.5.1', id)) FROM range(1, 100001) WHERE id % 2 = 1),
                 bitfilters_duckdb_hash('v1.5.1', id)) THEN 1 END) AS BIGINT) AS fp16,
               CAST(COUNT(CASE WHEN binary_fuse8_filter_contains(
                 (SELECT binary_fuse8_filter(bitfilters_duckdb_hash('v1.5.1', id)) FROM range(1, 100001) WHERE id % 2 = 1),
                 bitfilters_duckdb_hash('v1.5.1', id)) THEN 1 END) AS BIGINT) AS fp8
        FROM range(1, 100001) WHERE id % 2 = 0
        ORDER BY filter_rem""") _,
      "q_fuse_semijoin" -> q("""
        SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem
        WHERE binary_fuse16_filter_contains(
          (SELECT binary_fuse16_filter(bitfilters_duckdb_hash('v1.5.1', p_partkey)) FROM part),
          bitfilters_duckdb_hash('v1.5.1', l_partkey))""") _,

      // --- xor filter family --------------------------------------------
      // same merged-subquery shape as q_fuse_golden; members probe their own
      // parity's filter (no-false-negative contract => counts are exact)
      "q_xor_members" -> q("""
        SELECT 0 AS filter_rem,
               CAST(COUNT(CASE WHEN xor16_filter_contains(
                 (SELECT xor16_filter(bitfilters_duckdb_hash('v1.5.1', id)) FROM range(1, 100001) WHERE id % 2 = 0),
                 bitfilters_duckdb_hash('v1.5.1', id)) THEN 1 END) AS BIGINT) AS m16,
               CAST(COUNT(CASE WHEN xor8_filter_contains(
                 (SELECT xor8_filter(bitfilters_duckdb_hash('v1.5.1', id)) FROM range(1, 100001) WHERE id % 2 = 0),
                 bitfilters_duckdb_hash('v1.5.1', id)) THEN 1 END) AS BIGINT) AS m8
        FROM range(1, 100001) WHERE id % 2 = 0
        UNION ALL
        SELECT 1 AS filter_rem,
               CAST(COUNT(CASE WHEN xor16_filter_contains(
                 (SELECT xor16_filter(bitfilters_duckdb_hash('v1.5.1', id)) FROM range(1, 100001) WHERE id % 2 = 1),
                 bitfilters_duckdb_hash('v1.5.1', id)) THEN 1 END) AS BIGINT) AS m16,
               CAST(COUNT(CASE WHEN xor8_filter_contains(
                 (SELECT xor8_filter(bitfilters_duckdb_hash('v1.5.1', id)) FROM range(1, 100001) WHERE id % 2 = 1),
                 bitfilters_duckdb_hash('v1.5.1', id)) THEN 1 END) AS BIGINT) AS m8
        FROM range(1, 100001) WHERE id % 2 = 1
        ORDER BY filter_rem""") _,
      "q_xor_semijoin" -> q("""
        SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem
        WHERE xor8_filter_contains(
          (SELECT xor8_filter(bitfilters_duckdb_hash('v1.5.1', s_suppkey)) FROM supplier),
          bitfilters_duckdb_hash('v1.5.1', l_suppkey))""") _,

      // --- filter catalog (build once, store, probe later) ---------------
      // per-nation xor16 filters persisted as a parquet catalog, reloaded
      // and probed via a broadcast join — the reference's documented
      // store-the-blob workflow (docs/README.md:174,463). Every probe key
      // is a member of its own nation's filter, so the no-false-negative
      // contract makes the counts exact — the oracle is the plain
      // per-nation aggregate.
      "q_filter_store" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val path = java.nio.file.Files.createTempDirectory("graft_fstore_").toString + "/catalog"
        val cust = s.table("customer").select(col("c_nationkey"), col("c_custkey"),
          expr("bitfilters_duckdb_hash('v1.5.1', c_custkey)").as("h"))
        graft.sources.FilterStore.write(cust, "c_nationkey", "h",
          "xor16_filter(h)", "xor16", "", path)
        // catalog-map probe (no join, blob read in place): the joined-blob
        // path re-copies each nation's filter per row — 197x/decade on the
        // sf10 sweep; this path is the 100 TB shape
        val res = graft.sources.FilterStore.probeCatalog(cust, "c_nationkey", "h",
            graft.sources.FilterStore.read(s, path), "xor16_filter_contains")
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).cast("long").as("cnt"),
            sum("c_custkey").cast("long").as("key_sum"))
          .orderBy("c_nationkey")
        val out = localResult(s, res) // per-nation rollup; frees the catalog
        deleteDirs(path)
        out
      }),

      // --- dedup operators ----------------------------------------------
      "q_dedup_exact" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        Dedup.exactDuplicateStats(s.table("documents"), "text")
          .selectExpr("CAST(docs AS BIGINT) AS docs",
            "CAST(distinct_docs AS BIGINT) AS distinct_docs",
            "CAST(duplicate_docs AS BIGINT) AS duplicate_docs")
      }),
      // portable=true => md5-prefix hashes + affine mod-2^61-1 permutations,
      // so the DuckDB oracle recomputes the identical signatures/fingerprints.
      // The gate is the PRODUCER + verifier of the staged pair list
      // (sharedMinhashPairs): its Spark side stages and summarizes the
      // relation; its oracle replays the whole pipeline independently and
      // anti-joins the staged file both ways, so stage_missing/stage_extra
      // are genuinely computed on the DuckDB side (trivially 0 here — the
      // stage IS this pipeline's output) and any staging corruption turns
      // the hash compare red before a downstream consumer trusts the file.
      "q_minhash_near_dup" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        sharedMinhashPairs(s, dir)
          .agg(count(lit(1)).cast("long").as("pairs"),
            sum(col("id1") * lit(3L) + col("id2")).cast("long").as("pair_sum"),
            sum(col("je_e6")).cast("long").as("est_e6_sum"),
            lit(0L).as("stage_missing"), lit(0L).as("stage_extra"))
      }),
      // refresh-time near-dup: a 10% "new" slice banded against the other
      // 90% — only new-vs-old collisions are examined, never old-vs-old.
      // Checksums pin every (new, old) pair and its micro-unit estimate.
      "q_incremental_dedup" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        // round 15: the refresh consumes the SHARED persisted signature
        // relation (slice-filtered) instead of re-running the portable
        // signature kernel over both corpus slices — the refresh-pipeline
        // shape (signatures are persisted corpus metadata), one corpus
        // kernel pass per suite pass instead of two. Signatures are a
        // pure function of the text, so the pair set is identical
        // (oracle: cross-slice subset of the pair-by-pair-verified
        // staged artifact).
        val sigs = sharedMinhashSigs(s, dir)
        Dedup.incrementalNearDuplicatesFromSignatures(
            sigs.where(col("doc_id") % 10 === 0),
            sigs.where(col("doc_id") % 10 =!= 0),
            numHashes = 128, bands = 32, threshold = 0.2)
          .agg(count(lit(1)).cast("long").as("pairs"),
            sum(col("new_id") * lit(3L) + col("old_id")).cast("long").as("pair_sum"),
            sum(round(col("jaccard_est") * lit(1e6)).cast("long")).cast("long").as("est_e6_sum"))
      }),
      // production mode of the same pipeline: xxhash64 shingles + splitmix
      // permutations (~2x cheaper than the md5-based portable mode above,
      // which exists to be replayable in SQL). The oracle is CROSS-MODE
      // planted-pair recall: a pair of docs with identical text has
      // identical shingle multisets, hence identical signatures in EITHER
      // hash mode, hence collides in every band and survives the estimate
      // filter at 1.0 — so BOTH pipelines must recover every exact-dup
      // pair among shingle-eligible docs (>= shingleSize tokens). DuckDB
      // counts those pairs independently from the corpus and asserts both
      // miss counts are zero; a fast-mode hash/permutation/banding bug
      // that loses pairs now hash-mismatches instead of passing rows-only.
      "q_minhash_fast" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val docs = s.table("documents")
        val eligible = docs
          .where(size(split(lower(col("text")), "\\s+")) >= 3)
          .select(col("doc_id"), md5(col("text")).as("ch"))
        val planted = eligible.as("a").join(eligible.as("b"),
            col("a.ch") === col("b.ch") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
        val fastPairs = Dedup.minHashNearDuplicates(docs, "text", "doc_id",
            numHashes = 128, bands = 32, shingleSize = 3, threshold = 0.2,
            portable = false)
          .select(col("id1"), col("id2"))
        // the portable side comes from the staged shared relation — same
        // config, already oracle-verified pair-by-pair (q_minhash_near_dup)
        val portablePairs = sharedMinhashPairs(s, dir).select(col("id1"), col("id2"))
        planted
          .join(fastPairs.withColumn("__f", lit(1)), Seq("id1", "id2"), "left")
          .join(portablePairs.withColumn("__p", lit(1)), Seq("id1", "id2"), "left")
          .agg(count(lit(1)).cast("long").as("planted_pairs"),
            coalesce(sum(when(col("__f").isNull, 1L).otherwise(0L)), lit(0L))
              .cast("long").as("fast_missing"),
            coalesce(sum(when(col("__p").isNull, 1L).otherwise(0L)), lit(0L))
              .cast("long").as("portable_missing"))
      }),
      // clustering (keep-one-per-cluster) over the exact-duplicate pair
      // graph: md5-equality pairs keep the gate cheap while exercising the
      // same component-labelling path as minhash/simhash pair graphs
      "q_dedup_clusters" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val d = s.table("documents").select(col("doc_id"), md5(col("text")).as("h"))
        val pairs = d.as("a").join(d.as("b"),
            col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
        Dedup.nearDuplicateClusters(pairs)
          .agg(count(lit(1)).cast("long").as("nodes"),
            countDistinct("label").cast("long").as("clusters"),
            sum("label").cast("long").as("label_sum"))
      }),

      // keep-best near-dup resolution: docs sharing a 2-token prefix pair
      // up, components form, and the longest member (n_chars, ties to the
      // smaller doc_id) survives each cluster. The integer score makes the
      // cross-engine argmax exact.
      "q_keep_best" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val d = s.table("documents")
        val keyed = d.select(col("doc_id"),
          md5(concat_ws(" ",
            slice(filter(split(lower(col("text")), "\\s+"), t => t =!= ""), 1, 2))).as("pk"))
        val pairs = keyed.as("a").join(keyed.as("b"),
            col("a.pk") === col("b.pk") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
        Dedup.resolveNearDuplicates(
            d.select(col("doc_id"), col("n_chars")), "doc_id", "n_chars", pairs)
          .agg(count(lit(1)).cast("long").as("docs"),
            countDistinct("cluster").cast("long").as("clusters"),
            sum(when(col("keep"), 1L).otherwise(0L)).cast("long").as("kept"),
            sum(when(col("keep"), col("doc_id"))).cast("long").as("kept_id_sum"),
            sum(when(!col("keep"), col("doc_id"))).cast("long").as("dropped_id_sum"))
      }),
      "q_simhash_near_dup" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        Dedup.simHashNearDuplicates(s.table("documents"), "text", "doc_id",
            maxHamming = 3, portable = true)
          .agg(count(lit(1)).cast("long").as("pairs"))
      }),
      // train/held-out decontamination: fuse-filter prune + exact verify
      // (held-out stand-in = the 'de' slice); results exact, live oracle
      "q_decontaminate" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val docs = s.table("documents")
        Dedup.flagContaminated(docs, docs.where(col("lang") === "de"), "text", "doc_id")
          .agg(count(lit(1)).cast("long").as("flagged"),
            sum("doc_id").cast("long").as("id_sum"))
      }),
      "q_ngram_jaccard" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        sharedJaccardPairs(s, dir)
          .where(col("jaccard") >= 0.2)
          .agg(count(lit(1)).cast("long").as("pairs"))
      }),

      // asymmetric containment pairs (|A∩B|/|A|): subset/quote detection —
      // a short doc embedded in a long one scores near 1 where jaccard is
      // near 0. Same integer-ratio arithmetic both engines, sums
      // micro-rounded.
      "q_containment" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        sharedJaccardPairs(s, dir)
          .where(greatest(col("containment1"), col("containment2")) >= 0.6)
          .agg(count(lit(1)).cast("long").as("pairs"),
            sum(col("id1") * 3 + col("id2")).cast("long").as("pair_sum"),
            sum(round(col("containment1") * lit(1e6)).cast("long") +
              round(col("containment2") * lit(1e6)).cast("long")).cast("long").as("cont_e6_sum"))
      }),

      // graded contamination: per-doc fraction of distinct 3-shingles
      // found in the held-out slice (doc_id % 17 = 0); one broadcast
      // exact-set match per shingle, every count replayable.
      "q_contamination" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val docs = s.table("documents")
        Dedup.contaminationScore(
            docs.where(col("doc_id") % 17 =!= 0), docs.where(col("doc_id") % 17 === 0),
            "text", "doc_id", shingleSize = 3, portable = true)
          .select(col("doc_id"), col("shingles").cast("long").as("shingles"),
            col("contaminated").cast("long").as("contaminated"),
            round(col("contaminated_frac") * lit(1e6)).cast("long").as("frac_e6"))
          .orderBy(col("frac_e6").desc, col("doc_id"))
          .limit(20)
      }),

      // --- similarity search --------------------------------------------
      "q_ann_topk" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val emb = s.table("embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
        val queries = emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("vec").as("qvec"))
        Embeddings.bruteForceTopK(emb, "vec", "vec_id", queries, "qvec", "qid", 5)
          .select(col("query_id"), col("rank"), col("neighbor_id"))
          .orderBy("query_id", "rank")
      }),
      "q_ann_lsh" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val emb = s.table("embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
        val queries = emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("vec").as("qvec"))
        Embeddings.lshTopK(emb, "vec", "vec_id", queries, "qvec", "qid", 5, prefixBits = 4)
          .select(col("query_id"), col("rank"), col("neighbor_id"))
          .orderBy("query_id", "rank")
      }),

      // IVF-flat with deterministic seed centroids: assignment, probing and
      // ranking are all exactly replayable in DuckDB (real oracle), unlike
      // the hyperplane-LSH path, whose planes are ALSO live since r10
      // (counter-based splitmix64 replays in SQL)
      "q_ann_ivf" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val emb = s.table("embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
        val queries = emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("vec").as("qvec"))
        Embeddings.ivfTopK(emb, "vec", "vec_id", queries, "qvec", "qid", 5, nlist = 16, nprobe = 4)
          .select(col("query_id"), col("rank"), col("neighbor_id"))
          .orderBy("query_id", "rank")
      }),
      // persisted IVF index (build-once / probe-many): write centroids +
      // cid-partitioned cells to disk, then answer from the FILES — the
      // probe reads only nprobe/nlist of the corpus directories. Routing
      // and ranking reuse the exact ivfTopK kernels, so the stored-index
      // answer replays in the SAME DuckDB oracle as q_ann_ivf
      "q_ann_index" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val emb = s.table("embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
        val queries = emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("vec").as("qvec"))
        val idx = java.nio.file.Files.createTempDirectory("graft_ann_idx_").toString
        graft.sources.AnnIndex.build(emb, "vec", "vec_id", idx, nlist = 16)
        val res = graft.sources.AnnIndex
          .query(s, idx, queries, "qvec", "qid", k = 5, nprobe = 4)
          .select(col("query_id"), col("rank"), col("neighbor_id"))
          .orderBy("query_id", "rank")
        val out = localResult(s, res) // 10 queries x k rows; frees the index
        deleteDirs(idx)
        out
      }),
      // product quantization: deterministic seed codebooks (16 lowest-id
      // vectors, 8 subspaces of dim 8), e6-integer encode + ADC scoring —
      // the DuckDB oracle rebuilds codebooks, codes and distances exactly
      "q_ann_pq" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val emb = s.table("embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
        val queries = emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("vec").as("qvec"))
        Embeddings.pqTopK(emb, "vec", "vec_id", queries, "qvec", "qid",
            k = 5, m = 8, ksub = 16)
          .orderBy("query_id", "rank")
      }),
      // Lloyd-TRAINED PQ codebooks (1 iteration): assignment is the
      // integer encode kernel, the update is an e6-integer mean — both
      // pure SQL transforms, so the oracle replays seed -> update ->
      // re-encode -> ADC entirely live (no golden pin)
      "q_ann_pq_trained" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val emb = s.table("embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
        val queries = emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("vec").as("qvec"))
        val cb = Embeddings.pqCodebooksTrained(emb, "vec", "vec_id",
          m = 8, ksub = 16, iterations = 1)
        Embeddings.pqTopK(emb, "vec", "vec_id", queries, "qvec", "qid",
            k = 5, m = 8, ksub = 16, codebooks = Some(cb))
          .orderBy("query_id", "rank")
      }),
      // IVF + PQ composed (the billion-scale ANN shape): nprobe cells
      // bound the candidates, global-codebook PQ codes bound the scan;
      // the oracle composes the two existing replays
      "q_ann_ivfpq" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val emb = s.table("embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
        val queries = emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("vec").as("qvec"))
        Embeddings.ivfPqTopK(emb, "vec", "vec_id", queries, "qvec", "qid",
            k = 5, nlist = 16, nprobe = 4, m = 8, ksub = 16)
          .orderBy("query_id", "rank")
      }),
      // residual IVFPQ (the textbook encoding): codes quantize v − cell
      // centroid instead of v, queries rank in residual space — LIVE
      // oracle since r11: the residual subtraction is one list_transform
      // layered over the q_ann_ivfpq replay (codebooks seed from the
      // residual frame, so the whole encode/ADC pipeline shifts with it)
      "q_ann_ivfpq_residual" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val emb = s.table("embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
        val queries = emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("vec").as("qvec"))
        Embeddings.ivfPqTopK(emb, "vec", "vec_id", queries, "qvec", "qid",
            k = 5, nlist = 16, nprobe = 4, m = 8, ksub = 16, residual = true)
          .orderBy("query_id", "rank")
      }),
      // multi-probe LSH recall curve vs the exact baseline: Hamming-ball
      // query-side probing recovers the recall a single coarse bucket
      // loses (12% -> 44% -> 84% at prefixBits=4) — LIVE oracle since
      // r10: the counter-based splitmix planes replay in SQL
      "q_ann_lsh_probe" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val emb = s.table("embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
        val queries = emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("vec").as("qvec"))
        val exact = Embeddings.bruteForceTopK(emb, "vec", "vec_id",
          queries, "qvec", "qid", 5)
        (0 to 2).map { p =>
          Embeddings.recallReport(
              Embeddings.lshTopK(emb, "vec", "vec_id", queries, "qvec", "qid",
                5, prefixBits = 4, multiProbe = p), exact)
            .withColumn("probe", lit(p))
        }.reduce(_.unionByName(_))
          .select(col("probe"), col("queries"), col("mean_recall_ppm"),
            col("min_recall_ppm"), col("perfect_queries"))
          .orderBy("probe")
      }),
      // recall@5 of the IVF path vs the exact baseline — the eval that
      // justifies an ANN configuration; every stage deterministic, both
      // pipelines + the overlap count replayed live
      "q_ann_recall" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val emb = s.table("embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
        val queries = emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("vec").as("qvec"))
        Embeddings.recallReport(
          Embeddings.ivfTopK(emb, "vec", "vec_id", queries, "qvec", "qid", 5,
            nlist = 16, nprobe = 4),
          Embeddings.bruteForceTopK(emb, "vec", "vec_id", queries, "qvec", "qid", 5))
      }),

      // ---- recall-FLOOR quality gates: unlike the parity gates above,
      // these assert the QUALITY claim itself — the gate hard-fails
      // (recallFloor's require) when a config's recall drops below its
      // pinned floor, so an ANN regression goes red in CORRECTNESS even
      // though every individual stage would still replay "correctly".
      // LSH multi-probe at its pinned config (prefixBits=4, probe radius
      // 2): floor 0.80 under the 0.84/0.90/0.92 measured across SFs.
      "q_recall_floor_lsh" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val emb = s.table("embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
        val queries = emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("vec").as("qvec"))
        recallFloor(
          Embeddings.lshTopK(emb, "vec", "vec_id", queries, "qvec", "qid",
            5, prefixBits = 4, multiProbe = 2),
          Embeddings.bruteForceTopK(emb, "vec", "vec_id", queries, "qvec", "qid", 5),
          floorPpm = 800000L, config = "lsh prefixBits=4 multiProbe=2")
      }),
      // IVF at its pinned config (nlist=16, nprobe=4): floor 0.90 under
      // the 0.92/1.00/1.00 measured across SFs.
      "q_recall_floor_ivf" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val emb = s.table("embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
        val queries = emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("vec").as("qvec"))
        recallFloor(
          Embeddings.ivfTopK(emb, "vec", "vec_id", queries, "qvec", "qid", 5,
            nlist = 16, nprobe = 4),
          Embeddings.bruteForceTopK(emb, "vec", "vec_id", queries, "qvec", "qid", 5),
          floorPpm = 900000L, config = "ivf nlist=16 nprobe=4")
      }),
      // Hamming prescreen with a CORPUS-SCALED candidate budget
      // (max(20, n/1000)): a fixed budget decays toward zero recall as
      // the corpus grows (0.50/0.30/0.20 measured at 20 across SFs, 0.04
      // at sf10cd — the saturation the telemetry warns about), which is
      // exactly the production guidance this gate should encode: size
      // the prescreen WITH the corpus. The floor stays a backstop, not a
      // tight bar; the tight bars live on the lsh/ivf/pq gates.
      "q_recall_floor_hamming" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val emb = s.table("embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
        val queries = emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("vec").as("qvec"))
        val budget = math.max(20L, emb.count() / 1000L).toInt
        recallFloor(
          Embeddings.hammingTopK(emb, "vec", "vec_id", queries, "qvec", "qid",
            k = 5, candidates = budget),
          Embeddings.bruteForceTopK(emb, "vec", "vec_id", queries, "qvec", "qid", 5),
          // backstop re-based 0.15 -> 0.12 in r13: the rotation fixture
          // (distribution-matched replicas, SCALE.md) measures 0.14 at
          // sf1cd — one 20000-ppm hit under the old floor — while the
          // catastrophic fixed-budget decay this gate exists to catch
          // measured 0.04; the floor stays under every fixture's min
          // (0.50 / 0.30 / 0.14 / 0.16+ across sf0.01/sf0.1/sf1cd/sf10cd)
          floorPpm = 120000L, config = s"hamming k=5 candidates=$budget (n/1000)")
      }),
      // PQ training quality: the hard invariant is Lloyd's guarantee —
      // the trained codebooks' total quantization distortion must not
      // exceed the seed codebooks' (deterministic at every corpus size;
      // slack = rows·m e6-units covers the e6 integer rounding). The
      // recall-lift form of the same claim is 20 000-ppm-granular at 10
      // queries and flips on 2-hit noise (measured: spread queries at
      // sf0.1 show seed 80 000 > trained 40 000 ppm on a REAL fixture,
      // and replica-0 head queries at a cd fixture mismatch a mixture-
      // trained codebook — SCALE.md round-12), so recall is reported as
      // oracle-certified telemetry rather than gated. Two rows out
      // (seed, trained) with exact recall AND exact distortion — a
      // regression in either chain flips the DuckDB hash red.
      "q_recall_floor_pq" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val emb = s.table("embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
        val queries = emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("vec").as("qvec"))
        val exact = Embeddings.bruteForceTopK(emb, "vec", "vec_id",
          queries, "qvec", "qid", 5)
        val cb0 = Embeddings.pqCodebooks(emb, "vec", "vec_id", m = 8, ksub = 16)
        val seed = Embeddings.recallReport(
          Embeddings.pqTopK(emb, "vec", "vec_id", queries, "qvec", "qid",
            5, m = 8, ksub = 16, codebooks = Some(cb0)), exact)
        val cb = Embeddings.pqCodebooksTrained(emb, "vec", "vec_id",
          m = 8, ksub = 16, iterations = 1, seed = Some(cb0))
        val trained = Embeddings.recallReport(
          Embeddings.pqTopK(emb, "vec", "vec_id", queries, "qvec", "qid",
            5, m = 8, ksub = 16, codebooks = Some(cb)), exact)
        // one fused pass for both distortions + the slack denominator
        // (was three full corpus scans — guide §1.2)
        val (Seq(d0, d1), nRows) =
          Embeddings.pqDistortionsE6(emb, "vec", Seq(cb0, cb))
        val slackE6 = nRows * 8L
        require(d1 <= d0 + slackE6,
          s"Lloyd training INCREASED PQ distortion: trained $d1 e6 > " +
            s"seed $d0 e6 + rounding slack $slackE6 — the update is broken")
        val out = seed.withColumn("config", lit("pq_seed"))
          .withColumn("distortion_e6", lit(d0))
          .unionByName(trained.withColumn("config", lit("pq_trained"))
            .withColumn("distortion_e6", lit(d1)))
          .select(col("config"), col("queries"), col("mean_recall_ppm"),
            col("min_recall_ppm"), col("perfect_queries"), col("distortion_e6"))
        out.orderBy("config")
      }),
      // 1-bit sign quantization: the packed word + its popcount per vector
      // certify the exact bit layout (LSB-first within word) against a
      // DuckDB rebuild from embedding[j] > 0 tests
      "q_embed_binary" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        s.table("embeddings")
          .select(col("vec_id"),
            Embeddings.quantizeBinary(col("embedding")).as("__sig"))
          .select(col("vec_id"), element_at(col("__sig"), 1).as("w0"),
            bit_count(element_at(col("__sig"), 1)).cast("int").as("popcnt"))
          .orderBy("vec_id")
      }),
      // two-stage binary ANN: Hamming prescreen (top-20 by packed-signature
      // popcount) then exact cosine rerank to top-5 — both stages replayed
      // verbatim by the oracle from float sign tests
      "q_ann_hamming" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val emb = s.table("embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
        val queries = emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("vec").as("qvec"))
        Embeddings.hammingTopK(emb, "vec", "vec_id", queries, "qvec", "qid",
            k = 5, candidates = 20)
          .select(col("query_id"), col("rank"), col("neighbor_id"))
          .orderBy("query_id", "rank")
      }),
      // MMR diversity rerank over the exact-cosine top-20 candidates:
      // integer e6/ppm greedy (pure function of the data), replayed step
      // for step by a DuckDB recursive CTE
      "q_mmr_rerank" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val emb = s.table("embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
        val queries = emb.where(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("vec").as("qvec"))
        val cand = Embeddings.bruteForceTopK(emb, "vec", "vec_id", queries, "qvec", "qid", 20)
          .join(emb.select(col("vec_id").as("neighbor_id"), col("vec")), "neighbor_id")
        Embeddings.mmrRerank(cand, "query_id", "neighbor_id", "sim", "vec", k = 5)
          .orderBy("query_id", "mmr_rank")
      }),
      // PCA's distributed phase: one-pass Gram accumulation in replay mode
      // (per-row products micro-rounded to e6 integers, summed as BIGINT —
      // exact in any engine/order); first-8-dims slice keeps the oracle at
      // 36 pair sums
      "q_pca_cov" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val emb8 = s.table("embeddings").select(slice(col("embedding"), 1, 8).as("v8"))
        Pca.gramMatrix(emb8, "v8", roundE6 = true)
          .orderBy("i", "j")
      }),
      // PCA projection, LIVE at every scale factor: BOTH sides project the
      // same pinned model (PcaPinnedModels.sf001K4 — the deterministic
      // exactReplay fit of the sf0.01 fixture; tools.PinPcaModel
      // regenerates, PcaSpec asserts the re-fit still equals the pin) and
      // the oracle replays every per-row projection dot product against
      // the parquet vectors in DuckDB — both engines fold the dot
      // left-to-right, so e6-rounded projections match exactly. A live
      // RE-fit here would bind the gate to the fixture the oracle literals
      // were fitted on (mismatch at any other SF); fit correctness rides
      // q_pca_cov (live gram) + the Jacobi/fit specs + the pin-equality
      // spec instead
      "q_pca_project" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val emb = s.table("embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
        Pca.project(emb, "vec", PcaPinnedModels.sf001K4, "pca")
          .select(col("vec_id"), posexplode(col("pca")).as(Seq("component", "x")))
          .select(col("vec_id"), col("component"),
            expr("CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)").as("x_e6"))
          .orderBy("vec_id", "component")
      }),
      // the O(n^2) baseline requires the explicit opt-in flag — this gate
      // IS the baseline measurement, so it opts in
      "q_cosine_pairs" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val emb = s.table("embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
        Embeddings.cosineNearDuplicatesExact(emb, "vec", "vec_id", 0.5,
            allowBruteForce = true)
          .agg(count(lit(1)).cast("long").as("pairs"))
      }),
      // LSH-bucketed scale path for the same detector: deterministic
      // (fixed splitmix hyperplane seed); since r13 the prefix width is
      // CORPUS-DERIVED (smallest p in [4,16] with avg bucket <= 500 —
      // the oracle replays the same integer rule), because a fixed
      // width's in-bucket verify grows quadratically with the corpus
      // (measured >21x/decade at sf100cd under prefixBits=4; the derived
      // width bounds verify work at ~250·n pairs, linear)
      "q_cosine_lsh" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val emb = s.table("embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
        Embeddings.cosineNearDuplicates(emb, "vec", "vec_id", 0.3)
          .agg(count(lit(1)).cast("long").as("pairs"),
            sum("id1").cast("long").as("id1_sum"),
            sum("id2").cast("long").as("id2_sum"))
      }),
      "q_dedup_drop" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        Dedup.dropExactDuplicates(s.table("documents"), "text", "doc_id")
          .agg(count(lit(1)).cast("long").as("kept"),
            sum("doc_id").cast("long").as("id_sum"))
      }),

      // corpus snapshot diff: two derived versions of the documents table
      // (old drops doc_id%10==9, new drops %10==0 and edits %7==0) — the
      // incremental-refresh primitive. Status assignment replays as the
      // same md5 full-outer join in DuckDB.
      "q_corpus_diff" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val docs = s.table("documents")
        val oldV = docs.where(col("doc_id") % 10 < 9).select(col("doc_id"), col("text"))
        val newV = docs.where(col("doc_id") % 10 > 0)
          .select(col("doc_id"),
            when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text"))
        Dedup.corpusDiff(oldV, newV, "text", "doc_id")
          .groupBy("status")
          .agg(count(lit(1)).cast("long").as("ids"),
            sum("doc_id").cast("long").as("id_sum"))
          .orderBy("status")
      }),

      // --- text analysis ------------------------------------------------
      "q_text_stats" -> q("""
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs,
               CAST(SUM(length(text)) AS BIGINT) AS total_chars,
               CAST(SUM(size(split(text, ' '))) AS BIGINT) AS total_words
        FROM documents GROUP BY lang ORDER BY lang""") _,
      "q_token_count" -> q("""
        SELECT CAST(SUM(token_count(text)) AS BIGINT) AS tokens,
               CAST(COUNT(*) AS BIGINT) AS docs
        FROM documents""") _,
      "q_lang_id" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        s.table("documents")
          .select(TextAnalysis.langId(col("text")).as("lang_detected"))
          .groupBy("lang_detected").agg(count(lit(1)).cast("long").as("docs"))
          .orderBy("lang_detected")
      }),
      "q_lang_id_ngram" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        s.table("documents")
          .select(TextAnalysis.langIdNgram(col("text")).as("lang_detected"))
          .groupBy("lang_detected").agg(count(lit(1)).cast("long").as("docs"))
          .orderBy("lang_detected")
      }),
      "q_quality_score" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        TextAnalysis.withQualityMetrics(s.table("documents"), "text")
          .agg(count(lit(1)).cast("long").as("docs"),
            sum(round(col("punct_ratio") * 1e6).cast("long")).as("punct_e6"),
            sum(round(col("mean_word_len") * 1e6).cast("long")).as("mwl_e6"),
            sum(round(col("quality_score") * 1e6).cast("long")).as("quality_e6"))
      }),
      // within-doc repeated-line strip: per-row HOF only (no shuffle);
      // per-doc md5-prefix checksums make the oracle sensitive to every
      // kept/dropped/reordered byte
      "q_doc_line_dedup" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val out = TextAnalysis.dropRepeatedLinesInDoc(s.table("documents"), "text")
        out.agg(
          count(lit(1)).cast("long").as("docs"),
          sum(when(col("text_dedup") =!= col("text"), 1L).otherwise(0L)).cast("long").as("changed"),
          sum(size(split(col("text"), "\n"))).cast("long").as("lines_before"),
          sum(size(split(col("text_dedup"), "\n"))).cast("long").as("lines_after"),
          sum(pmod(call_function("md5_prefix64", col("text_dedup")), lit(1000000007L))).cast("long").as("fp_sum"))
      }),
      // --- Structured Streaming gates: file-source streaming runs of the
      // batch operators, drained by Trigger.AvailableNow into a parquet
      // sink. Determinism contract (FileStreams scaladoc, pinned by
      // FileStreamsSpec): draining one staged file (one data batch + the
      // no-data flush batch), the emitted set of an append-mode
      // watermarked aggregation is the batch result restricted to windows
      // with end_us <= (floor(max_us/1000) - delay_ms) * 1000 — Spark
      // tracks the watermark in floored milliseconds, eviction inclusive.
      "q_stream_window" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val ev = graft.streaming.FileStreams.tableStream(s, dir, "events", Seq("ts"))
        graft.streaming.FileStreams.runAvailableNow(
            graft.streaming.FileStreams.windowedEventCounts(
              ev, "ts", "event_type", "1 day", "1 hour"),
            // derived from the staged table's footer row count (see q_stream_ewma)
            expectedStateKeys =
              graft.streaming.FileStreams.tableRowCount(s, dir, "events"))
          .orderBy("w_us", "event_type")
      }),
      // per-window value histogram (streaming drift monitor): mergeable
      // hist_sketch state per window (nbins+2 longs), bins emitted at
      // window close; pre-rounding and slot arithmetic replay exactly
      "q_stream_histogram" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val ev = graft.streaming.FileStreams.tableStream(s, dir, "events", Seq("ts"))
          .withColumn("x", round(col("value") * 100).cast("long").cast("double"))
        graft.streaming.FileStreams.runAvailableNow(
            graft.streaming.FileStreams.windowedHistogram(
              ev, "ts", "x", 50, 0.0, 50000.0, "1 day", "1 hour"),
            // derived from the staged table's footer row count (see q_stream_ewma)
            expectedStateKeys =
              graft.streaming.FileStreams.tableRowCount(s, dir, "events"))
          .orderBy("w_us", "slot")
      }),
      // per-window top-k heavy hitters as CHAINED stateful aggregations
      // (count per (window,key) -> window-of-window topk_agg): the second
      // operator's state is <= k entries per window, never the key
      // universe; emission inherits the q_stream_window cutoff
      "q_stream_topk" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val ev = graft.streaming.FileStreams.tableStream(s, dir, "events", Seq("ts"))
        graft.streaming.FileStreams.runAvailableNow(
            graft.streaming.FileStreams.windowedTopK(
              ev, "ts", "user_id", 5, "1 day", "1 hour"),
            // derived from the staged table's footer row count (see q_stream_ewma)
            expectedStateKeys =
              graft.streaming.FileStreams.tableRowCount(s, dir, "events"))
          .orderBy("w_us", "rank")
      }),
      // stream-static enrichment: the events stream broadcast-joins the
      // static customer dimension each micro-batch, then rolls up per
      // (day, mktsegment) under the watermark — same emission contract as
      // q_stream_window; per-row micro-rounded value sums replay exactly
      "q_stream_enrich" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val ev = graft.streaming.FileStreams.tableStream(s, dir, "events", Seq("ts"))
        graft.streaming.FileStreams.runAvailableNow(
            graft.streaming.FileStreams.enrichedWindowedStats(
              ev, "ts", "value", "user_id",
              s.table("customer"), "c_custkey", "c_mktsegment"),
            // derived from the staged table's footer row count (see q_stream_ewma)
            expectedStateKeys =
              graft.streaming.FileStreams.tableRowCount(s, dir, "events"))
          .orderBy("w_us", "segment")
      }),
      // stream-stream interval self-join: view->click attribution pairs
      // within 30 min per user as a REAL watermarked join; under one
      // AvailableNow drain the emitted set is exactly the batch interval
      // join (inner-join rows have no output watermark cutoff)
      "q_stream_join" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val ev = graft.streaming.FileStreams.tableStream(s, dir, "events", Seq("ts"))
        graft.streaming.FileStreams.runAvailableNow(
            graft.streaming.FileStreams.streamIntervalJoin(
              ev, "ts", "event_type", "user_id", "view", "click", 1800000000L),
            // derived from the staged table's footer row count (see q_stream_ewma)
            expectedStateKeys =
              graft.streaming.FileStreams.tableRowCount(s, dir, "events"))
          .agg(count(lit(1)).cast("long").as("pairs"),
            countDistinct(col("user_id")).cast("long").as("users"),
            sum("dt_us").cast("long").as("dt_sum"))
      }),
      // left-outer stream-stream interval join: matched pairs emit as the
      // batch inner join; a view whose 30-min conversion window expires
      // unmatched before the final watermark emits a NULL-extended row
      // from the state store (strict cutoff l_us + win < wm, spec-pinned)
      "q_stream_outer_join" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val ev = graft.streaming.FileStreams.tableStream(s, dir, "events", Seq("ts"))
        graft.streaming.FileStreams.runAvailableNow(
            graft.streaming.FileStreams.streamIntervalJoinOuter(
              ev, "ts", "event_type", "user_id", "view", "click", 1800000000L),
            // derived from the staged table's footer row count (see q_stream_ewma)
            expectedStateKeys =
              graft.streaming.FileStreams.tableRowCount(s, dir, "events"))
          .agg(sum(when(col("r_us").isNotNull, 1L).otherwise(0L)).cast("long").as("pairs"),
            sum(when(col("r_us").isNull, 1L).otherwise(0L)).cast("long").as("expired_unmatched"),
            countDistinct(col("user_id")).cast("long").as("users"),
            sum("dt_us").cast("long").as("dt_sum"))
      }),

      // streaming gap-sessionization (session_window + watermark): rollup
      // over the sessions finalized by the final watermark; session end is
      // last event + gap, events exactly gap apart merge (same break rule
      // as the batch sessionizer)
      "q_stream_sessions" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val ev = graft.streaming.FileStreams.tableStream(s, dir, "events", Seq("ts"))
        graft.streaming.FileStreams.runAvailableNow(
            graft.streaming.StreamingSessions.streamingSessionStats(
              ev, "user_id", "ts", gap = "30 minutes", watermark = "1 hour"),
            // derived from the staged table's footer row count (see q_stream_ewma)
            expectedStateKeys =
              graft.streaming.FileStreams.tableRowCount(s, dir, "events"))
          .agg(count(lit(1)).cast("long").as("sessions"),
            sum("n_events").cast("long").as("events"),
            sum(unix_micros(col("session_end")) - unix_micros(col("session_start")))
              .cast("long").as("dur_us"),
            max("n_events").cast("long").as("max_events"))
      }),
      // streaming exact dedup: dropDuplicates state keeps the first
      // sighting of each (source, md5) — the emitted KEY SET is
      // deterministic, so the gate projects keys only and counts per source
      "q_stream_dedup" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val docs = graft.streaming.FileStreams.tableStream(s, dir, "documents")
          .select(col("source"), md5(col("text")).as("fp"))
        graft.streaming.FileStreams.runAvailableNow(
            graft.streaming.FileStreams.distinctKeys(docs, Seq("source", "fp")),
            // derived from the staged table's footer row count (see q_stream_ewma)
            expectedStateKeys =
              graft.streaming.FileStreams.tableRowCount(s, dir, "documents"))
          .groupBy("source").agg(count(lit(1)).cast("long").as("n_unique"))
          .orderBy("source")
      }),
      // watermark-BOUNDED streaming dedup: state evicts at the event-time
      // horizon instead of growing with the all-time key count. One
      // in-order drain emits exactly the first-sighting set (batch
      // distinct replay); cross-horizon re-emission is spec-pinned
      "q_stream_dedup_wm" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val ev = graft.streaming.FileStreams.tableStream(s, dir, "events", Seq("ts"))
        graft.streaming.FileStreams.runAvailableNow(
            graft.streaming.FileStreams.distinctKeysWithinWatermark(
              ev, "ts", Seq("user_id", "event_type"), "1 day"),
            // derived from the staged table's footer row count (see q_stream_ewma)
            expectedStateKeys =
              graft.streaming.FileStreams.tableRowCount(s, dir, "events"))
          .groupBy("event_type").agg(count(lit(1)).cast("long").as("n_keys"))
          .orderBy("event_type")
      }),
      // streaming sketch maintenance: per-day bloom filters over user-id
      // hashes, finalized by the watermark; the gate then probes every
      // distinct key of each emitted day against that day's blob — the
      // no-false-negative contract makes misses exactly 0, so counts are
      // fully oracle-replayable
      "q_stream_filters" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val ev = graft.streaming.FileStreams.tableStream(s, dir, "events", Seq("ts"))
          .selectExpr("ts", "bitfilters_duckdb_hash('v1.5.1', user_id) AS h")
        val filters = graft.streaming.FileStreams.runAvailableNow(
            graft.streaming.StreamingFilters.windowedKeyFilters(
              ev, "ts", "h", "1 day", "1 hour", numSectors = 1024),
            // derived from the staged table's footer row count (see q_stream_ewma)
            expectedStateKeys =
              graft.streaming.FileStreams.tableRowCount(s, dir, "events"))
          .select(unix_micros(col("window.start")).as("w_us"),
            col("filter"), col("events").cast("long").as("events"))
        val keys = s.table("events")
          .select(unix_micros(date_trunc("day", col("ts"))).as("w_us"), col("user_id"))
          .distinct()
        filters.join(keys, "w_us")
          .groupBy(col("w_us"), col("events"))
          .agg(count(lit(1)).cast("long").as("keys"),
            // probe takes the RAW value (hashes internally); create took
            // the pre-hashed column — the same asymmetry as the reference
            sum(when(call_function("bitfilters_duckdb_bloom_filter_probe",
                lit("v1.5.1"), col("filter"), col("user_id")), 0L).otherwise(1L))
              .cast("long").as("misses"))
          .select("w_us", "events", "keys", "misses")
          .orderBy("w_us")
      }),

      // per-source adaptive quality trim: drop each source's worst 25% by
      // its OWN histogram quantile; thresholds + filter + rollup all
      // replayed (integer bin counts -> interpolated quantile -> >= cut)
      "q_adaptive_filter" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        TextAnalysis.adaptiveQualityFilter(s.table("documents"), "text", "source", 0.25)
          .groupBy(col("source"))
          .agg(count(lit(1)).cast("long").as("kept"),
            sum(round(col("quality_score") * 1e6).cast("long")).as("quality_e6"),
            min(round(col("quality_score") * 1e6).cast("long")).as("min_q_e6"))
          .orderBy("source")
      }),
      // two portable fingerprints: md5 of whitespace-normalized text and the
      // rolling_hash native expression — both independently recomputable in
      // DuckDB, giving this gate a real per-row oracle (the duckdb-hash-based
      // TextAnalysis.fingerprint stays covered by the certified hash vectors)
      "q_fingerprint" -> q("""
        SELECT doc_id,
               substring(md5(collapse_ws(lower(text))), 1, 16) AS fp_md5,
               rolling_hash(text) AS fp_roll
        FROM documents ORDER BY doc_id""") _,

      // --- deterministic sampling (content-hash driven, rerun-stable) ---
      "q_sample_det" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        Sampling.deterministicSample(s.table("documents"), "text", 0.25)
          .agg(count(lit(1)).cast("long").as("kept"),
            sum("doc_id").cast("long").as("id_sum"))
      }),
      // deterministic train/val/test assignment: content-hash thresholds,
      // append-stable, salt-decorrelated from the sampling decisions
      "q_split" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        Sampling.assignSplits(s.table("documents"), "text")
          .groupBy("split")
          .agg(count(lit(1)).cast("long").as("docs"),
            sum("doc_id").cast("long").as("id_sum"))
          .orderBy("split")
      }),
      // LEAKAGE-SAFE split (r13): exact-duplicate clusters land wholly in
      // one split — split decision hashes the group label, singletons
      // their own id. The gate hard-fails if ANY group spans two splits
      // (the eval-contamination invariant, checked live), then rolls up
      // per split; the oracle replays clusters (recursive CTE), the
      // grouped hash split, and the rollup.
      "q_leakage_split" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val d = s.table("documents").select(col("doc_id"), md5(col("text")).as("h"))
        val pairs = d.as("a").join(d.as("b"),
            col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
        val clusters = Dedup.nearDuplicateClusters(pairs)
        // persisted: the zero-leak audit below AND the returned rollup both
        // execute this relation — uncached, the documents⋈labels split join
        // ran twice per gate (guide §5: reuse beats recompute; lineage kept
        // so a post-clearCache re-execution still works)
        val out = Sampling.assignSplitsByGroup(s.table("documents"), "doc_id",
            clusters, "id", "label")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val leaked = out
          .join(clusters.withColumnRenamed("id", "doc_id"), Seq("doc_id"))
          .groupBy("label").agg(countDistinct(col("split")).as("ns"))
          .where(col("ns") > 1).count()
        require(leaked == 0,
          s"leakage-safe split LEAKED $leaked groups across splits")
        // materialize the <=3-row rollup from the still-cached split and
        // UNPERSIST before returning (round 16, advisor item): a returned
        // live plan left the corpus-sized cached relation pinned for any
        // non-harness caller — Bench's per-gate clearCache merely masked it
        val rollup = localResult(s, out.groupBy("split")
          .agg(count(lit(1)).cast("long").as("docs"),
            sum("doc_id").cast("long").as("id_sum"))
          .orderBy("split"))
        out.unpersist()
        rollup
      }),
      // LEAKAGE-SAFE split over NEAR-duplicate clusters (r14): the leak
      // that motivates group-aware splitting is near-copies crossing
      // splits, so the groups here come from the REAL pipeline — portable
      // MinHash-LSH pairs -> connected components -> grouped hash split.
      // Same hard zero-leakage require as q_leakage_split; the oracle
      // replays components + split hash + rollup over the STAGED pair
      // artifact (verified pair-by-pair by q_minhash_near_dup's oracle).
      "q_leakage_split_near" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        // pairs from the STAGED shared relation (verified pair-by-pair by
        // q_minhash_near_dup's oracle): both engines read the same parquet,
        // so the DuckDB replay runs components+split over the artifact
        // instead of recomputing an O(corpus) minhash chain single-node —
        // the sf1cd oracle-timeout class (SCALE.md r14) and ~5 s of
        // per-gate recompute at sf0.1 both gone
        val pairs = sharedMinhashPairs(s, dir).select(col("id1"), col("id2"))
        val clusters = Dedup.nearDuplicateClusters(pairs)
        // persisted for the audit + rollup double execution (see
        // q_leakage_split)
        val out = Sampling.assignSplitsByGroup(s.table("documents"), "doc_id",
            clusters, "id", "label")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val leaked = out
          .join(clusters.withColumnRenamed("id", "doc_id"), Seq("doc_id"))
          .groupBy("label").agg(countDistinct(col("split")).as("ns"))
          .where(col("ns") > 1).count()
        require(leaked == 0,
          s"near-dup leakage-safe split LEAKED $leaked clusters across splits")
        // <=3-row rollup collected + unpersist, as in q_leakage_split
        val rollup = localResult(s, out.groupBy("split")
          .agg(count(lit(1)).cast("long").as("docs"),
            sum("doc_id").cast("long").as("id_sum"))
          .orderBy("split"))
        out.unpersist()
        rollup
      }),
      // target-mixture rebalance: integer-ppm quota arithmetic, binding
      // stratum fixes the scale, per-stratum content-hash prefix keeps
      // the mix exact without upsampling
      // temperature-flattened mixture weights (sampling-alpha 0.6):
      // p_i ~ n_i^alpha with integer e6 weights and quotas
      "q_temperature_mix" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        Sampling.temperatureWeights(s.table("documents"), "source",
            alpha = 0.6, budget = 1000000L)
          .orderBy("source")
      }),
      "q_domain_mix" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        Sampling.rebalanceMix(s.table("documents"), "source", "text", "doc_id",
            Seq("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1))
          .groupBy("source")
          .agg(count(lit(1)).cast("long").as("docs"),
            sum("doc_id").cast("long").as("id_sum"))
          .orderBy("source")
      }),
      // contiguous block packing into 512-token sequences per source:
      // the assignment checksum (doc_id * (seq+1)) pins every block id,
      // seq_pos sums pin the in-block offsets
      "q_pack" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        Packing.packSequences(s.table("documents"), "source",
            expr("token_count(text)"), "text", "doc_id", budget = 512L)
          .groupBy("source")
          .agg(countDistinct("seq_id").cast("long").as("seqs"),
            count(lit(1)).cast("long").as("docs"),
            sum(expr("token_count(text)")).cast("long").as("tokens"),
            sum(col("doc_id") * (col("seq_id") + lit(1L))).cast("long").as("assign_sum"),
            sum("seq_pos").cast("long").as("pos_sum"))
          .orderBy("source")
      }),
      // corpus-level repeated-line removal (boilerplate pass) over a
      // derived multi-line view (the synthetic corpus is single-line, so
      // both engines split it on a frequent token first); rebuilt texts
      // ride the hash path via md5-prefix checksums
      "q_line_dedup" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val docs = s.table("documents").select(col("doc_id"),
          expr("replace(text, ' table ', '\n')").as("text"))
        Dedup.dropDuplicateLines(docs, "text", "doc_id", minCount = 3)
          .agg(count(lit(1)).cast("long").as("docs"),
            sum("lines").cast("long").as("lines"),
            sum("removed").cast("long").as("removed"),
            sum(length(col("text_deduped"))).cast("long").as("chars"),
            sum(conv(substring(md5(col("text_deduped")), 1, 15), 16, 10)
              .cast("long") % 1000000000L).cast("long").as("checksum"))
      }),
      // end-to-end curation pipeline: quality gate -> language filter ->
      // exact dedup -> deterministic split assignment, composed from the
      // SAME operators the per-component gates verify. The oracle chains
      // the per-component SQL replays, so every intermediate row set (not
      // just the final counts) must agree for the hashes to match.
      "q_curation" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val docs = s.table("documents")
        val scored = TextAnalysis.withQualityMetrics(docs, "text")
          .where(col("quality_score") >= 0.5)
        val en = scored.where(TextAnalysis.langId(col("text")) === "en")
        val deduped = Dedup.dropExactDuplicates(
          en.select("doc_id", "text"), "text", "doc_id")
        Sampling.assignSplits(deduped, "text")
          .groupBy("split")
          .agg(count(lit(1)).cast("long").as("docs"),
            sum("doc_id").cast("long").as("id_sum"),
            sum(expr("token_count(text)")).cast("long").as("tokens"))
          .orderBy("split")
      }),
      "q_sample_strat" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        Sampling.stratifiedTake(s.table("documents"), "lang", "text", 50, "doc_id")
          .groupBy("lang")
          .agg(count(lit(1)).cast("long").as("docs"),
            sum("doc_id").cast("long").as("id_sum"))
          .orderBy("lang")
      }),
      // weighted (Efraimidis-Spirakis) variant, weight = document length;
      // the -ln(u)/w ranking keys are doubles in both engines, with random
      // 60-bit uniforms the min pairwise key gap is ~12 orders of magnitude
      // above ulp, and exact-duplicate texts (equal keys) fall through to
      // the doc_id tiebreak — deterministic either way
      "q_sample_weighted" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val docs = s.table("documents").withColumn("wt", length(col("text")).cast("double"))
        Sampling.weightedStratifiedTake(docs, "lang", "text", "wt", 50, "doc_id")
          .groupBy("lang")
          .agg(count(lit(1)).cast("long").as("docs"),
            sum("doc_id").cast("long").as("id_sum"))
          .orderBy("lang")
      }),

      // --- corpus cleaning ----------------------------------------------
      "q_redact" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        s.table("documents")
          .select(TextAnalysis.redactPii(col("text")).as("clean"), col("text"))
          .agg(count(lit(1)).cast("long").as("docs"),
            sum(length(col("clean"))).cast("long").as("clean_chars"),
            sum(when(col("clean") =!= col("text"), 1L).otherwise(0L)).cast("long").as("changed"),
            sum(conv(substring(md5(col("clean")), 1, 15), 16, 10).cast("long") % 1000000000L)
              .cast("long").as("hash_sum"))
      }),

      // canonical text normalization (NFC + lowercase + whitespace collapse
      // + trim, plus the accent-folded variant): per-document md5 of both
      // canonical forms rides the hash path against DuckDB's native
      // nfc_normalize/strip_accents; `changed` proves non-triviality
      "q_normalize" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        s.table("documents")
          .select(col("doc_id"),
            md5(TextAnalysis.normalizeText(col("text"))).as("nh"),
            md5(TextAnalysis.normalizeText(col("text"), accentFold = true)).as("ah"),
            when(TextAnalysis.normalizeText(col("text")) =!= col("text"), 1L)
              .otherwise(0L).as("changed"))
          .orderBy(col("doc_id"))
      }),

      // document chunking (64-token chunks, 8-token overlap): count, token
      // total, and a content-hash sum so chunk boundaries and text both
      // replay exactly
      "q_chunks" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        TextAnalysis.chunkDocuments(s.table("documents"), "text", "doc_id", 64, 8)
          .agg(count(lit(1)).cast("long").as("chunks"),
            sum("n_tokens").cast("long").as("tok_sum"),
            sum(conv(substring(md5(col("chunk_text")), 1, 15), 16, 10).cast("long") % 1000000000L)
              .cast("long").as("hash_sum"),
            max("chunk_idx").cast("long").as("max_idx"))
      }),

      // per-column curation profile (exact mode for the oracle; the
      // default HLL mode is the Expand-free 100 TB path, spec-bounded)
      "q_profile" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        graft.operators.Profile.profile(s.table("events"),
            Seq("event_id", "user_id", "event_type", "value"), exact = true)
          .orderBy(col("column"))
      }),

      // --- vocabulary / heavy hitters -----------------------------------
      "q_top_tokens" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        TextAnalysis.topTokens(s.table("documents"), "text", 20)
          .selectExpr("token", "CAST(cnt AS BIGINT) AS cnt")
      }),
      // per-source curation report: docs / dup rate / volume per source,
      // the table a pipeline reads to set per-source sampling weights
      // URL canonicalization + registered-domain rollup: URLs synthesized
      // deterministically from doc_id (the multimodal pattern — both
      // engines build the identical strings), exercising every contract
      // clause: case, fragments, default/nondefault ports, tracking
      // params, param sort, trailing slash, co.uk registered domains
      "q_url_canon" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val urls = s.table("documents").select(expr(
          """concat(
               CASE WHEN doc_id % 3 = 0 THEN 'HTTP://' ELSE 'https://' END,
               CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END,
               'Site', CAST(doc_id % 50 AS STRING), '.',
               CASE WHEN doc_id % 5 = 0 THEN 'co.uk' ELSE 'com' END,
               CASE WHEN doc_id % 7 = 0 THEN ':443'
                    WHEN doc_id % 7 = 1 THEN ':8080' ELSE '' END,
               '/Page/', CAST(doc_id % 100 AS STRING),
               CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END,
               CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x&z=1&a=2'
                    WHEN doc_id % 3 = 1 THEN '?a=2&z=1' ELSE '' END,
               CASE WHEN doc_id % 11 = 0 THEN '#frag' ELSE '' END)""").as("url"))
        UrlOps.domainReport(urls, "url").orderBy("domain")
      }),
      // consistent pseudonymization: every distinct email -> a stable
      // user_<md5-8>@redacted.invalid token, longest-first replace fold;
      // every 11th doc carries the substring-hazard pair (a@b.co inside
      // xa@b.co) so the ordering is exercised live
      "q_pseudonymize" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val docs = s.table("documents").select(col("doc_id"), col("source"),
          concat(col("text"),
            lit(" contact admin"), (col("doc_id") % 5).cast("string"),
            lit("@example.com"),
            when(col("doc_id") % 11 === 0, lit(" a@b.co xa@b.co"))
              .otherwise(lit(""))).as("text"))
        docs.select(col("source"),
            TextAnalysis.pseudonymizeEmails(col("text")).as("t2"))
          .groupBy("source")
          .agg(count(lit(1)).cast("long").as("docs"),
            sum(length(col("t2"))).cast("long").as("chars"),
            countDistinct(md5(col("t2"))).cast("long").as("distinct_texts"),
            sum(((length(col("t2")) -
              length(replace(col("t2"), lit("@redacted.invalid"), lit(""))))
              / lit(17)).cast("long")).cast("long").as("pseudo_hits"))
          .orderBy("source")
      }),
      // exact-size deterministic sample: the 500 smallest content-hash
      // keys — TakeOrdered plan (bounded heap/partition), no global sort
      "q_sample_take" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        Sampling.deterministicTake(s.table("documents"), "text", 500, "doc_id")
          .select(col("doc_id"), col("source"))
          .orderBy("doc_id")
      }),
      // per-source token-budget curation: greedy-prefix admission in
      // (toks DESC, doc_id) priority order under a 2000-token budget per
      // source; ONE stratum-keyed window cumsum
      "q_token_budget" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val docs = s.table("documents").select(col("doc_id"), col("source"),
          size(filter(split(lower(col("text")), "\\s+"), t => t =!= lit("")))
            .cast("long").as("toks"))
        Sampling.tokenBudgetTake(docs, "source", "toks", 2000L,
            Seq(col("toks").desc, col("doc_id")))
          .groupBy("source")
          .agg(count(lit(1)).cast("long").as("kept_docs"),
            sum("toks").cast("long").as("kept_tokens"))
          .orderBy("source")
      }),
      // encoding-damage (mojibake) screen: cp1252 artifacts injected into
      // every 7th doc with identical string synthesis in both engines;
      // hits counted by pure replace/length arithmetic (no regex dialect)
      "q_mojibake" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val docs = s.table("documents").select(col("doc_id"),
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit("\u0020caf\u00c3\u00a9 don" +
              "\u00e2\u20ac\u2122t\u00c2\u00a0end")))
            .otherwise(col("text")).as("text"))
        TextAnalysis.mojibakeReport(docs, "text", "doc_id")
          .join(s.table("documents").select("doc_id", "source"), "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).cast("long").as("docs"),
            sum(when(col("mojibake_hits") > 0, 1L).otherwise(0L))
              .cast("long").as("damaged_docs"),
            sum(col("mojibake_hits")).cast("long").as("hits"),
            max(col("mojibake_ppm")).cast("long").as("max_ppm"))
          .orderBy("source")
      }),
      // dataset-card corpus summary: one (metric, value) block
      "q_corpus_report" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        TextAnalysis.corpusReport(s.table("documents"), "text", "doc_id",
            "lang", "source")
          .orderBy("metric")
      }),
      // dense global ids ordered by (source, doc_id): range partition +
      // zipWithIndex; oracle replays row_number() - 1
      "q_dense_ids" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        graft.operators.Ids.assignSequential(
            s.table("documents").select("doc_id", "source"),
            Seq("source", "doc_id"))
          .select(col("doc_id"), col("source"), col("seq_id"))
          .orderBy("seq_id")
      }),
      // JSONL quarantine ingest: hand-built JSON lines (identical string
      // construction in both engines), every 17th truncated-corrupt;
      // PERMISSIVE parse splits good rows from quarantined raw lines
      "q_jsonl_ingest" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val lines = s.table("documents")
          .select(concat(lit("{\"doc_id\": "), col("doc_id").cast("string"),
            lit(", \"source\": \""), col("source"), lit("\", \"n_chars\": "),
            col("n_chars").cast("string"), lit("}")).as("l"),
            col("doc_id"))
          .select(when(col("doc_id") % 17 === 0,
            col("l").substr(lit(1), length(col("l")) - lit(5)))
            .otherwise(col("l")).as("line"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_jsonl_").toString
        lines.coalesce(4).write.mode("overwrite").text(tmp)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("source",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_chars",
            org.apache.spark.sql.types.LongType)))
        val (good, bad) = graft.sources.JsonlIngest.ingest(s, tmp, schema)
        val res = good.agg(count(lit(1)).cast("long").as("good_rows"),
            sum("doc_id").cast("long").as("id_sum"),
            countDistinct("source").cast("long").as("sources"))
          .crossJoin(bad.agg(count(lit(1)).cast("long").as("quarantined"),
            sum(length(col("raw_line"))).cast("long").as("quarantine_chars")))
        val out = localResult(s, res) // 1-row checksum; frees the staged text
        deleteDirs(tmp)
        out
      }),
      // strict PII scrub on deterministically injected payloads: the
      // engine must pass the valid card, keep the Luhn-failed one, catch
      // both phone shapes and leave bare digit runs alone
      "q_redact_strict" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val withPii = s.table("documents").select(col("doc_id"), concat(col("text"), expr(
          """CASE CAST(doc_id % 5 AS INT)
               WHEN 0 THEN ' card 4532 0151 1283 0366 end'
               WHEN 1 THEN ' bogus 4532015112830367 end'
               WHEN 2 THEN ' call +1 415 555 0123 end'
               WHEN 3 THEN ' dial 555-867-5309 end'
               ELSE concat(' mail u', CAST(doc_id AS STRING), '@ex.com end')
             END""")).as("t"))
        withPii.select(col("doc_id"),
            substring(md5(TextAnalysis.redactPiiStrict(col("t"))), 1, 16).as("redacted_md5"))
          .orderBy("doc_id")
      }),
      // CSV quarantine ingest: strict-arity parse — every 13th line is
      // written SHORT (two fields) and must land verbatim in quarantine
      "q_csv_ingest" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val lines = s.table("documents")
          .select(when(col("doc_id") % 13 === 0,
              concat(col("doc_id").cast("string"), lit(","), col("source")))
            .otherwise(concat(col("doc_id").cast("string"), lit(","), col("source"),
              lit(","), col("n_chars").cast("string"))).as("line"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_csv_").toString
        lines.coalesce(4).write.mode("overwrite").text(tmp)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("source",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_chars",
            org.apache.spark.sql.types.LongType)))
        val (good, bad) = graft.sources.JsonlIngest.ingestCsv(s, tmp, schema)
        val res = good.agg(count(lit(1)).cast("long").as("good_rows"),
            sum("doc_id").cast("long").as("id_sum"),
            sum("n_chars").cast("long").as("chars_sum"))
          .crossJoin(bad.agg(count(lit(1)).cast("long").as("quarantined"),
            sum(length(col("raw_line"))).cast("long").as("quarantine_chars")))
        val out = localResult(s, res) // 1-row checksum; frees the staged text
        deleteDirs(tmp)
        out
      }),
      // readability: Flesch reading ease with heuristic vowel-group
      // syllables, per-doc integers + e3 score replayed exactly
      "q_readability" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        TextAnalysis.readability(s.table("documents"), "text", "doc_id")
          .orderBy("doc_id")
      }),
      // HTML -> text extraction on synthesized pages (script/style with
      // embedded '<', entities incl. double-escapes, block breaks);
      // per-doc md5 + length of the extraction, replayed byte for byte
      "q_html_extract" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val pages = s.table("documents").select(col("doc_id"), expr(
          """concat('<html><head><title>', source, '</title>',
                    '<style type="text/css">body{margin:0}</style>',
                    '<script>if(1<2){track()}</script></head>',
                    '<body><h1>Doc ', CAST(doc_id AS STRING), '</h1><p>', text,
                    '</p><ul><li>Tag &amp;amp; entity &lt;test&gt;</li></ul>',
                    '<br/>&nbsp;end</body></html>')""").as("html"))
        pages.select(col("doc_id"),
            TextAnalysis.extractHtmlText(col("html")).as("t"))
          .select(col("doc_id"), length(col("t")).cast("long").as("chars"),
            substring(md5(col("t")), 1, 16).as("extract_md5"))
          .orderBy("doc_id")
      }),
      "q_source_report" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        TextAnalysis.sourceReport(s.table("documents"), "text", "source")
          .selectExpr("source", "CAST(docs AS BIGINT) AS docs",
            "CAST(distinct_docs AS BIGINT) AS distinct_docs",
            "CAST(duplicate_docs AS BIGINT) AS duplicate_docs",
            "CAST(chars_sum AS BIGINT) AS chars_sum",
            "CAST(words_sum AS BIGINT) AS words_sum",
            "CAST(tokens_sum AS BIGINT) AS tokens_sum")
          .orderBy("source")
      }),
      // Gopher-style repetition quality filters. The gate sums only
      // INTEGER per-doc quantities (counts, char coverages, a modular
      // bigram hash) — no per-doc float rounding to go cross-engine-flaky;
      // the fraction columns the API exposes are these integers divided.
      "q_repetition" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        TextAnalysis.repetitionMetrics(s.table("documents"), "text", "doc_id")
          .agg(count(lit(1)).cast("long").as("docs"),
            sum("words").cast("long").as("words_sum"),
            sum("dup_words").cast("long").as("dup_words_sum"),
            sum("lines").cast("long").as("lines_sum"),
            sum("dup_lines").cast("long").as("dup_lines_sum"),
            coalesce(sum("top_bigram_count"), lit(0L)).cast("long").as("tb_cnt_sum"),
            coalesce(sum(col("top_bigram_count") * length(col("top_bigram"))), lit(0L))
              .cast("long").as("tb_chars_sum"),
            coalesce(sum(conv(substring(md5(col("top_bigram")), 1, 15), 16, 10)
              .cast("long") % 1000000000L), lit(0L)).cast("long").as("tb_hash_sum"))
      }),

      // --- embedding storage transforms ---------------------------------
      // int8 quantization of raw and unit-normalized vectors; every step
      // (abs-max, sequential-fold norm, floor(x*scale+0.5)) is exact IEEE
      // arithmetic replayed verbatim by the DuckDB oracle
      "q_embed_quant" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val emb = s.table("embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
        val staged = Embeddings.withInt8Quantized(
          Embeddings.withInt8Quantized(
            Embeddings.withNormalized(emb, "vec", "vn"), "vec", "q", "s1"),
          "vn", "qn", "s2")
        staged.agg(count(lit(1)).cast("long").as("n_vecs"),
          sum(aggregate(col("q"), lit(0L), (a, x) => a + x)).cast("long").as("q_sum"),
          sum(aggregate(col("qn"), lit(0L), (a, x) => a + x)).cast("long").as("qn_sum"))
      }),

      // --- multimodal plumbing (stub codec, real Spark plumbing) --------
      // frame sampling over REAL decoded GIF durations (per-frame delay
      // metadata read back from the GraphicControlExtension blocks)
      "q_multimodal_frames" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val payloads = Multimodal.synthesizeGifPayloads(s.table("documents"), "doc_id")
        val decoded = Multimodal.decodeAndFeaturize(payloads, "media_id", "payload", "video", 8)
        Multimodal.sampleFrames(decoded, 2.0)
          .agg(count(lit(1)).cast("long").as("frames"),
            countDistinct(col("media_id")).cast("long").as("medias"),
            sum("frame_ts_ms").cast("long").as("ts_ms_sum"))
      }),
      // REAL byte-level resize: PNG decode -> nearest-neighbor resample
      // -> PNG re-encode -> decode again; NN index arithmetic is integer,
      // so DuckDB replays every resized pixel from the source formula
      "q_multimodal_resize" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val png = Multimodal.synthesizePngPayloads(s.table("documents"), "doc_id")
        val small = Multimodal.resizePayloads(png, "media_id", "payload", maxSide = 6)
        Multimodal.decodeAndFeaturize(small, "media_id", "payload", "image", 4)
          .agg(count(lit(1)).cast("long").as("medias"),
            sum(col("meta.width")).cast("long").as("sum_w"),
            sum(col("meta.height")).cast("long").as("sum_h"),
            sum(element_at(col("features"), 1).cast("long")).cast("long").as("px_sum"),
            sum(element_at(col("features"), 2).cast("long")).cast("long").as("r_sum"))
      }),
      // REAL video codec round-trip: genuine animated GIFs (javax.imageio
      // multi-frame encoder) decoded back frame by frame; the lossless
      // gray palette lets DuckDB recompute every decoded-pixel statistic
      // analytically from the frame formula
      "q_multimodal_video" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val payloads = Multimodal.synthesizeGifPayloads(s.table("documents"), "doc_id")
        val decoded = Multimodal.decodeAndFeaturize(payloads, "media_id", "payload", "video", 8)
        decoded.agg(count(lit(1)).cast("long").as("medias"),
          sum(col("meta.width")).cast("long").as("sum_w"),
          sum(col("meta.height")).cast("long").as("sum_h"),
          sum(col("meta.channels")).cast("long").as("sum_c"),
          sum(col("meta.duration_ms")).cast("long").as("sum_ms"),
          sum(element_at(col("features"), 1).cast("long")).cast("long").as("px_sum"),
          sum(element_at(col("features"), 2).cast("long")).cast("long").as("first_sum"),
          sum(element_at(col("features"), 3).cast("long")).cast("long").as("last_sum"))
      }),
      // REAL codec round-trip: synthesize one genuine PNG per document
      // (javax.imageio encoder), decode it back (javax.imageio decoder),
      // and aggregate pixel statistics of the DECODED rasters. PNG is
      // lossless, so the DuckDB oracle recomputes every statistic
      // analytically from the pixel formula — any encoder/decoder/feature
      // bug breaks the hash match. Resize planning runs on the real dims.
      "q_multimodal_decode" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val payloads = Multimodal.synthesizePngPayloads(s.table("documents"), "doc_id")
        val decoded = Multimodal.decodeAndFeaturize(payloads, "media_id", "payload", "image", 4)
        Multimodal.withResizePlan(decoded, 12)
          .agg(count(lit(1)).cast("long").as("medias"),
            sum(col("meta.width").cast("long")).as("sum_w"),
            sum(col("meta.height").cast("long")).as("sum_h"),
            sum(col("meta.channels").cast("long")).as("sum_c"),
            sum(element_at(col("features"), 1).cast("long")).as("px_sum"),
            sum(element_at(col("features"), 2).cast("long")).as("r_sum"),
            sum(col("target_width").cast("long")).as("sum_tw"))
      }),

      // image dedup by perceptual hash: payloads synthesized once per
      // distinct pattern (doc_id mod 500 — planted duplicate structure),
      // dHash'd through the REAL PNG decode, fanned back to documents by
      // a broadcast join, grouped by hash. DuckDB recomputes every hash
      // analytically from the pixel formula (nearest-sample grid + integer
      // luma + sign-bit two's complement).
      "q_image_dedup" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val docs = s.table("documents")
        val pats = docs.select((col("doc_id") % 500).as("pat")).distinct()
        val hashed = Multimodal.dHash64(
          Multimodal.synthesizePngPayloads(pats, "pat"), "media_id", "payload")
        docs.select(col("doc_id"), (col("doc_id") % 500).as("media_id"))
          .join(broadcast(hashed), Seq("media_id"))
          .groupBy("dhash")
          .agg(count(lit(1)).cast("long").as("members"),
            min("doc_id").cast("long").as("min_doc"))
          .orderBy(col("members").desc, col("dhash"))
          .limit(20)
      }),

      // video frame-hash dedup: per-frame dHash through the REAL animated-
      // GIF decode (patterns doc_id mod 200), shot-matching groups on the
      // frame hash; analytic replay of every frame hash
      "q_video_dedup" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val docs = s.table("documents")
        val pats = docs.select((col("doc_id") % 200).as("pat")).distinct()
        val fh = Multimodal.frameDHashes(
          Multimodal.synthesizeGifPayloads(pats, "pat"), "media_id", "payload")
        docs.select(col("doc_id"), (col("doc_id") % 200).as("media_id"))
          .join(broadcast(fh), Seq("media_id"))
          .groupBy("fhash")
          .agg(count(lit(1)).cast("long").as("members"),
            min(col("doc_id") * 1000 + col("frame_idx")).cast("long").as("min_slot"))
          .orderBy(col("members").desc, col("fhash"))
          .limit(20)
      }),

      // video scene-cut detection: consecutive-frame dHash Hamming
      // distance over the real GIF decode; a cut = distance above
      // threshold. Composed from frameDHashes + a frame-ordered window
      // per clip + bit_count(xor) — every hash and distance replays
      // analytically.
      "q_scene_cuts" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val docs = s.table("documents")
        val pats = docs.select((col("doc_id") % 200).as("pat")).distinct()
        val fh = Multimodal.frameDHashes(
          Multimodal.synthesizeGifPayloads(pats, "pat"), "media_id", "payload")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("media_id").orderBy("frame_idx")
        fh.withColumn("prev", lag(col("fhash"), 1).over(w))
          .withColumn("dist",
            when(col("prev").isNotNull,
              bit_count(col("fhash").bitwiseXOR(col("prev"))).cast("long")))
          .groupBy(col("media_id").as("pat"))
          .agg(count(lit(1)).cast("long").as("frames"),
            sum(when(col("dist") >= 12, 1L).otherwise(0L)).cast("long").as("cuts"),
            sum(coalesce(col("dist"), lit(0L))).cast("long").as("dist_sum"))
          .orderBy("pat")
          .limit(40)
      }),

      // audio dedup by waveform fingerprint: the image gate's audio twin —
      // patterns doc_id mod 300, REAL WAV decode, 65-probe sign signature,
      // analytic DuckDB replay of every fingerprint
      "q_audio_dedup" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val docs = s.table("documents")
        val pats = docs.select((col("doc_id") % 300).as("pat")).distinct()
        val fps = Multimodal.audioFingerprint64(
          Multimodal.synthesizeWavPayloads(pats, "pat"), "media_id", "payload")
        docs.select(col("doc_id"), (col("doc_id") % 300).as("media_id"))
          .join(broadcast(fps), Seq("media_id"))
          .groupBy("afp")
          .agg(count(lit(1)).cast("long").as("members"),
            min("doc_id").cast("long").as("min_doc"))
          .orderBy(col("members").desc, col("afp"))
          .limit(20)
      }),

      // real-WAV round-trip: pixels' audio sibling. Samples route through
      // actual RIFF/WAVE PCM-16 encode -> bytes -> decode -> feature
      // extraction; PCM is lossless, so DuckDB recomputes sample sums,
      // abs-sums, and zero crossings analytically from the sample formula.
      // Capped at 2000 clips so the oracle's generated-series replay stays
      // tractable at every sf.
      "q_multimodal_audio" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val ids = s.table("documents").where(col("doc_id") < 2000)
        val payloads = Multimodal.synthesizeWavPayloads(ids, "doc_id")
        val decoded = Multimodal.decodeAndFeaturize(payloads, "media_id", "payload", "audio", 4)
        decoded.agg(count(lit(1)).cast("long").as("clips"),
          sum(col("meta.width").cast("long")).as("frames_sum"),
          sum(col("meta.channels").cast("long")).as("ch_sum"),
          sum(col("meta.duration_ms")).cast("long").as("dur_sum"),
          sum(element_at(col("features"), 1).cast("long")).as("s_sum"),
          sum(element_at(col("features"), 2).cast("long")).as("abs_sum"),
          sum(element_at(col("features"), 3).cast("long")).as("zx_sum"))
      }),

      // --- cardinality / frequency / set sketches ------------------------
      // HLL per group over the engine hash. The gate pins the REGISTER
      // CONTENT with integer checksums (zeros, sum, position-weighted sum,
      // 2^-register harmonic numerator mod p) — the estimate is a pure
      // function of the registers — plus the centi-rounded estimate itself.
      // DuckDB recomputes every register from hash bit arithmetic
      // (bucket = top-12 bits, rho = 53 - bitlength(low 52 bits)).
      "q_hll" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        s.sql("""
          WITH sk0 AS (
            SELECT l_returnflag AS flag,
                   hll_sketch(12, bitfilters_duckdb_hash('v1.5.1', CAST(l_orderkey AS BIGINT))) AS s
            FROM lineitem GROUP BY l_returnflag),
          -- exact_cnt in its OWN aggregation, joined on the 3-row result:
          -- mixing COUNT(DISTINCT) with the sketch aggregate makes Spark
          -- Expand-duplicate every scan row through both agg paths (2.3x
          -- slower, measured); two independent scans + a tiny join avoid it
          ex AS (
            SELECT l_returnflag AS flag, COUNT(DISTINCT l_orderkey) AS exact_cnt
            FROM lineitem GROUP BY l_returnflag),
          sk AS (
            SELECT sk0.flag, s, exact_cnt FROM sk0 JOIN ex ON sk0.flag = ex.flag),
          -- est computed below the explode (once per group), not per
          -- register row: the projection under Generate is not collapsed
          -- into the per-row output, so hll_estimate runs 3x, not 12288x
          r AS (
            SELECT flag, exact_cnt, est, pos, reg
            FROM (SELECT flag, exact_cnt, s, hll_estimate(s) AS est FROM sk) sk2
            LATERAL VIEW posexplode(hll_registers(s)) t AS pos, reg)
          SELECT flag,
                 CAST(MAX(exact_cnt) AS BIGINT) AS exact_cnt,
                 CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zeros,
                 CAST(SUM(reg) AS BIGINT) AS reg_sum,
                 CAST(SUM(CAST(pos + 1 AS BIGINT) * reg) AS BIGINT) AS pos_sum,
                 CAST(SUM(CAST(pow(2.0, 53 - reg) AS BIGINT) % 1000000007) % 1000000007 AS BIGINT) AS pow_mod,
                 CAST(MAX(CAST(round(est * 100) AS BIGINT)) AS BIGINT) AS est_e2
          FROM r GROUP BY flag ORDER BY flag""")
      }),

      // Count-Min heavy hitters: one corpus-wide sketch, probed at the
      // exact top-10 keys. Counters and estimates are integers, so the
      // cross-engine compare is tolerance-free; DuckDB rebuilds each
      // probed cell as COUNT(*) over rows hashing there (row hash =
      // engine-hash of the XOR-perturbed key).
      "q_cms" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        s.sql("""
          WITH sk AS (
            SELECT cms_sketch(4, 14, bitfilters_duckdb_hash('v1.5.1', CAST(l_suppkey AS BIGINT))) AS s
            FROM lineitem),
          top AS (
            SELECT CAST(l_suppkey AS BIGINT) AS suppkey, CAST(COUNT(*) AS BIGINT) AS exact_cnt
            FROM lineitem GROUP BY 1 ORDER BY exact_cnt DESC, suppkey LIMIT 10)
          SELECT t.suppkey, t.exact_cnt,
                 cms_estimate(sk.s, bitfilters_duckdb_hash('v1.5.1', t.suppkey)) AS est_cnt
          FROM top t CROSS JOIN sk
          ORDER BY suppkey""")
      }),

      // KMV audience overlap: per-priority bottom-256 customer sketches;
      // per-pair shared-minima count (the exact-integer Jaccard numerator)
      // plus centi-rounded distinct estimates. DuckDB replays bottom-k
      // DISTINCT in native unsigned hash order.
      "q_kmv" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        s.sql("""
          WITH sk AS (
            SELECT o_orderpriority AS prio,
                   kmv_sketch(256, bitfilters_duckdb_hash('v1.5.1', CAST(o_custkey AS BIGINT))) AS s,
                   CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_cnt
            FROM orders GROUP BY o_orderpriority)
          SELECT a.prio AS p1, b.prio AS p2,
                 a.exact_cnt AS exact1, b.exact_cnt AS exact2,
                 CAST(round(kmv_estimate(a.s) * 100) AS BIGINT) AS est1_e2,
                 CAST(round(kmv_estimate(b.s) * 100) AS BIGINT) AS est2_e2,
                 CAST(kmv_intersect_count(a.s, b.s) AS BIGINT) AS shared
          FROM sk a JOIN sk b ON a.prio < b.prio
          ORDER BY p1, p2""")
      }),

      // PMI collocations: top-20 adjacent pairs by count with micro-
      // rounded pointwise mutual information
      "q_collocations" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        TextAnalysis.collocations(s.table("documents"), "text",
          minCount = 10L, topK = 20)
      }),

      // per-doc lexical diversity: type-token ratio + integer entropy
      // numerator (c·ln c micro-rounded per type, summed)
      "q_lexdiv" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        TextAnalysis.lexicalDiversity(s.table("documents"), "text", "doc_id")
          .where(col("doc_id") < 50)
          .orderBy("doc_id")
      }),

      // token-distribution drift per source: KL(source || corpus) over the
      // corpus top-200 tokens, add-one smoothed, nano-rounded per-token
      // contributions summed as integers
      "q_token_drift" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        TextAnalysis.tokenDrift(s.table("documents"), "text", "source", topK = 200)
          .orderBy("source")
      }),

      // equal-frequency quartile binning: thresholds from one sketch pass,
      // per-bucket rollup — near-equal counts, exact integer sums
      "q_qbin" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        Profile.quantileBins(s.table("events"), "value", nbins = 1000,
            lo = 0.0, hi = 500.0, k = 4)
          .groupBy("bucket")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(round(col("value") * 100).cast("long")).cast("long").as("v_e2"),
            min(round(col("value") * 100).cast("long")).cast("long").as("min_e2"),
            max(round(col("value") * 100).cast("long")).cast("long").as("max_e2"))
          .orderBy("bucket")
      }),

      // winsorization at hist-sketch quantiles: p05/p95 thresholds from
      // one sketch pass, heavy tail clipped; interpolated thresholds and
      // per-row micro-rounded sums replay exactly
      "q_winsorize" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        Profile.winsorize(s.table("events"), "value", nbins = 1000,
            lo = 0.0, hi = 500.0, pLo = 0.05, pHi = 0.95)
          .agg(count(lit(1)).cast("long").as("n_rows"),
            sum(round(col("winsorized") * 100).cast("long")).cast("long").as("w_e2"),
            sum(when(col("clipped_low"), 1L).otherwise(0L)).cast("long").as("clipped_low"),
            sum(when(col("clipped_high"), 1L).otherwise(0L)).cast("long").as("clipped_high"),
            round(max(col("t_lo")) * 1e6).cast("long").as("t_lo_e6"),
            round(max(col("t_hi")) * 1e6).cast("long").as("t_hi_e6"))
      }),

      // any-alignment repeated-span detection: sliding 6-token windows at
      // every offset, cross-corpus hot windows merged to maximal ranges;
      // full md5 replay with the same range-merge walk
      "q_span_ranges" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val r = Dedup.repeatedSpanRanges(s.table("documents"), "text", "doc_id",
          spanTokens = 6, minCount = 2, portable = true)
        r.agg(count(lit(1)).cast("long").as("ranges"),
            countDistinct(col("doc_id")).cast("long").as("docs"),
            sum(col("end_token") - col("start_token")).cast("long").as("masked_tokens"),
            sum("windows").cast("long").as("windows"),
            max(col("end_token") - col("start_token")).cast("long").as("max_range"))
      }),

      // vocab coverage: OOV occurrence rate per source against the
      // corpus's own top-500 token vocab — exact integer ppm
      "q_vocab_coverage" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val docs = s.table("documents")
        Vocab.coverageReport(docs, "text", "source",
            TextAnalysis.topTokens(docs, "text", 500), "token")
          .orderBy("source")
      }),

      // event-stream resampling: 6-hour grid per user, forward-filled
      // (LOCF) — the oracle replays the fill with DuckDB's native ASOF
      // LEFT JOIN ((user, ts) unique per key, so the carry is total-ordered)
      "q_resample" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        Events.resample(s.table("events").where(col("user_id") < 5),
            "user_id", "ts", "value", stepUs = 21600000000L)
          .select(col("user_id"), unix_micros(col("grid_ts")).as("ts_us"),
            round(col("value") * 100).cast("long").as("value_e2"))
          .orderBy("user_id", "ts_us")
      }),

      // deterministic contrastive negative sampling: 4 hash-drawn corpus
      // negatives per anchor over the dense vec_id space; the draw is a
      // pure function of the data (engine-portable integer hash), so the
      // oracle replays every pick
      "q_neg_sample" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val emb = s.table("embeddings")
        Sampling.contrastiveNegatives(
            emb.where(col("vec_id") < 20), emb, "vec_id", k = 4)
          .select(col("vec_id"), col("j"), col("neg_vec_id"), col("neg_label"))
          .orderBy("vec_id", "j")
      }),

      // CMS join-cardinality estimation: per-event-type user_id sketches,
      // cms_inner_product bounds each cross-type self-join size WITHOUT
      // running the join — the planner-side primitive. Exact pair counts
      // computed from per-(user, type) counts (no pair blowup); estimates
      // are integers, DuckDB rebuilds every counter cell exactly.
      "q_join_card" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        s.sql("""
          WITH sk AS (
            SELECT event_type,
                   cms_sketch(4, 14, bitfilters_duckdb_hash('v1.5.1', CAST(user_id AS BIGINT))) AS s
            FROM events GROUP BY event_type),
          cnt AS (
            SELECT user_id, event_type, COUNT(*) AS c FROM events GROUP BY 1, 2),
          ex AS (
            SELECT a.event_type AS t1, b.event_type AS t2,
                   CAST(SUM(a.c * b.c) AS BIGINT) AS exact_pairs
            FROM cnt a JOIN cnt b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
            GROUP BY 1, 2)
          SELECT ex.t1, ex.t2, ex.exact_pairs,
                 cms_inner_product(sa.s, sb.s) AS est_pairs
          FROM ex JOIN sk sa ON sa.event_type = ex.t1
                  JOIN sk sb ON sb.event_type = ex.t2
          ORDER BY t1, t2""")
      }),

      // PageRank centrality over the customer↔supplier purchase graph
      // (undirected bipartite; node ids disambiguated by parity). Five
      // power iterations in pure ppb integer arithmetic — the oracle
      // replays every iteration exactly via an unrolled CTE chain.
      "q_pagerank" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        Graphs.pageRank(sharedPreparedGraph(s, dir), iterations = 5,
            dampingPpm = 850000L, onConvergence = None, tolerancePpb = 0L)
          .orderBy(col("rank_ppb").desc, col("node")).limit(25)
      }),

      // co-purchase graph construction: suppliers sharing an order become
      // weighted edges (pairs emitted row-locally per order); top 20
      "q_copurchase" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        Graphs.coOccurrenceEdges(
            s.table("lineitem").select(col("l_orderkey"), col("l_suppkey")),
            "l_orderkey", "l_suppkey", minWeight = 2L)
          .orderBy(col("weight").desc, col("src"), col("dst"))
          .limit(20)
      }),

      // out-degree distribution of the purchase graph: two chained
      // partial aggregates; top-25 degrees by node count
      "q_graph_stats" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        // degree histogram straight off the shared pinned blocks (which
        // also persist the durable GraphIndex artifact as a by-product):
        // re-loading the just-written parquet cost one extra edge-table
        // read per pass for bytes already sitting in local blocks. A
        // LATER session reads the artifact via sources.GraphIndex.load —
        // spec-pinned identical. NOTE the result roots at shared blocks:
        // execute it before clearSharedRelations (see the hazard note
        // there); Bench/Verify do.
        Graphs.degreeDistribution(sharedPreparedGraph(s, dir))
          .orderBy(col("nodes").desc, col("degree")).limit(25)
      }),

      // personalized PageRank: teleport mass restricted to nation-0
      // suppliers — random-walk proximity ranks the "more like these"
      // neighborhood; 3 unrolled iterations, same ppb integer contract
      "q_ppr" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val seeds = s.sql(
          "SELECT s_suppkey * 2 + 1 AS node FROM supplier WHERE s_nationkey = 0")
        Graphs.personalizedPageRank(sharedPreparedGraph(s, dir), seeds, "node",
            iterations = 3, dampingPpm = 850000L, onConvergence = None,
            tolerancePpb = 0L)
          .where(col("rank_ppb") > 0)
          .orderBy(col("rank_ppb").desc, col("node")).limit(25)
      }),

      // Changelog compaction (CDC upsert): latest event per user wins,
      // 'error' as the tombstone type — a key whose newest change is a
      // tombstone drops out; older tombstones are overridden. One
      // partial-aggregated struct-argmax, replayed by the oracle's
      // window row_number form.
      "q_upsert" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        Changelog.compactLatest(s.table("events"), Seq("user_id"),
            Seq("ts", "event_id"), col("event_type") === "error")
          .select(col("user_id"), col("event_type").as("last_type"),
            round(col("value") * 100).cast("long").as("value_e2"),
            unix_micros(col("ts")).as("ts_us"), col("event_id"))
          .orderBy("user_id")
      }),

      // incremental MERGE: compact the first half-month into a snapshot,
      // apply the second half as a change slice — equals (and is oracle-
      // checked against) the full-history compaction
      "q_upsert_incr" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        val ev = s.table("events")
        val cut = lit("2024-01-16 00:00:00").cast("timestamp")
        val snap = Changelog.compactLatest(ev.where(col("ts") < cut),
          Seq("user_id"), Seq("ts", "event_id"), col("event_type") === "error")
        Changelog.applyChanges(snap, ev.where(col("ts") >= cut),
            Seq("user_id"), Seq("ts", "event_id"), col("event_type") === "error")
          .select(col("user_id"), col("event_type").as("last_type"),
            round(col("value") * 100).cast("long").as("value_e2"),
            unix_micros(col("ts")).as("ts_us"), col("event_id"))
          .orderBy("user_id")
      }),

      // TF-IDF keywords: top-3 terms per document (tokens >= 3 chars),
      // micro-rounded scores; df/N computed on the FULL corpus, output
      // restricted to doc_id < 40 to bound the compare.
      "q_tfidf" -> ((s: SparkSession, dir: String) => {
        prepare(s, dir)
        Ranking.tfidfTopTerms(s.table("documents"), "text", "doc_id",
            topN = 3, minTokenLen = 3)
          .where(col("doc_id") < 40)
          .orderBy(col("doc_id"), col("rnk"))
      }),
    )
  }

  /** Shared oracle CTE chain producing the portable MinHash-LSH candidate
    * pairs with their signature-match estimate (`est(id1, id2, je)`); used
    * by both the pair-count and the clustering oracle. Constants come from
    * the SAME MinHashPerm.params the Spark aggregate uses.
    */
  private lazy val minhashPairCtes: String = {
    val (a, b) = graft.operators.MinHashPerm.params(128)
    s"""toks AS (
        SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM documents),
      sh AS (
        SELECT DISTINCT doc_id,
               CAST(('0x' || substring(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15)) AS BIGINT) AS h
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
              FROM toks WHERE len(t) >= 3)),
      prm AS (
        SELECT unnest(generate_series(1, 128)) AS j,
               unnest(${a.mkString("[", ", ", "]")}) AS a,
               unnest(${b.mkString("[", ", ", "]")}) AS b),
      sigv AS (
        SELECT sh.doc_id, prm.j,
               MIN(CAST((CAST(prm.a AS HUGEINT) * sh.h + prm.b) % 2305843009213693951 AS BIGINT)) AS m
        FROM sh, prm GROUP BY sh.doc_id, prm.j),
      sig AS (SELECT doc_id, list(m ORDER BY j) AS sig FROM sigv GROUP BY doc_id),
      banded AS (
        SELECT doc_id, bnd, list_slice(sig, bnd * 4 + 1, bnd * 4 + 4) AS slc
        FROM sig, (SELECT unnest(generate_series(0, 31)) AS bnd)),
      cand AS (
        SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
        FROM banded x JOIN banded y
          ON x.bnd = y.bnd AND x.slc = y.slc AND x.doc_id < y.doc_id),
      est AS (
        SELECT id1, id2,
               len(list_filter(generate_series(1, 128), i -> s1.sig[i] = s2.sig[i])) / 128.0 AS je
        FROM cand JOIN sig s1 ON cand.id1 = s1.doc_id JOIN sig s2 ON cand.id2 = s2.doc_id)"""
  }

  /** Generated DuckDB replay of `numMerges` BPE training rounds: each
    * round re-derives the pair stats, the (count DESC, p1, p2) argmax,
    * and the left-to-right non-overlapping merge walk — the walk is a
    * recursive CTE carrying (acc, pend) fold state per word, exactly the
    * aggregate() fold the Spark side runs.
    */
  /** The shared CTE chain replaying `numMerges` BPE training rounds:
    * `w$k` is the (word, cnt, syms) vocab after merge k, `b$k` the round-k
    * winning pair. Consumed by both the training oracle (merge table) and
    * the encode oracle (post-merge token frequencies).
    */
  private def bpeChainSql(numMerges: Int): String = {
    val sb = new StringBuilder
    sb.append("""WITH RECURSIVE w0 AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt,
               list_transform(generate_series(1, length(w)), i -> substring(w, i, 1)) AS syms
        FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS w
              FROM documents)
        GROUP BY w)""")
    // every CTE a later round re-references is MATERIALIZED: without the
    // hint DuckDB inlines the chain, and each of the 6 rounds re-expands
    // its whole ancestry (exponential re-planning of the recursions)
    for (k <- 1 to numMerges) sb.append(s""",
      p$k AS MATERIALIZED (
        SELECT syms[i] AS s1, syms[i + 1] AS s2, SUM(cnt) AS c
        FROM (SELECT cnt, syms, unnest(generate_series(1, len(syms) - 1)) AS i
              FROM w${k - 1} WHERE len(syms) >= 2)
        GROUP BY 1, 2),
      b$k AS MATERIALIZED (SELECT s1, s2, c FROM p$k ORDER BY c DESC, s1, s2 LIMIT 1),
      r$k AS (
        SELECT w, cnt, syms, 1 AS pos, CAST([] AS VARCHAR[]) AS acc, CAST(NULL AS VARCHAR) AS pend
        FROM w${k - 1}
        UNION ALL
        SELECT r.w, r.cnt, r.syms, r.pos + 1,
               CASE WHEN r.pend IS NULL THEN r.acc
                    WHEN r.pend = b.s1 AND r.syms[r.pos] = b.s2 THEN list_append(r.acc, b.s1 || b.s2)
                    ELSE list_append(r.acc, r.pend) END,
               CASE WHEN r.pend IS NULL THEN r.syms[r.pos]
                    WHEN r.pend = b.s1 AND r.syms[r.pos] = b.s2 THEN CAST(NULL AS VARCHAR)
                    ELSE r.syms[r.pos] END
        FROM r$k r, b$k b WHERE r.pos <= len(r.syms)),
      w$k AS MATERIALIZED (
        SELECT w, cnt,
               CASE WHEN pend IS NULL THEN acc ELSE list_append(acc, pend) END AS syms
        FROM r$k WHERE pos = len(syms) + 1)""")
    sb.toString
  }

  private def bpeOracleSql(numMerges: Int): String =
    bpeChainSql(numMerges) +
      "\n      SELECT * FROM (\n        " +
      (1 to numMerges).map(k =>
        s"SELECT CAST($k AS BIGINT) AS step, s1 AS p1, s2 AS p2, CAST(c AS BIGINT) AS pair_count FROM b$k")
        .mkString("\n        UNION ALL\n        ") +
      "\n      ) ORDER BY step"

  /** Encode-side replay: corpus token frequencies after the learned
    * merges — per-word symbol lists weighted by corpus word counts.
    */
  private def bpeEncodeOracleSql(numMerges: Int, topK: Int): String =
    bpeChainSql(numMerges) + s"""
      SELECT t.s AS tok, CAST(SUM(w.cnt) AS BIGINT) AS cnt
      FROM w$numMerges w, LATERAL (SELECT unnest(w.syms) AS s) t
      GROUP BY t.s ORDER BY cnt DESC, tok LIMIT $topK"""

  /** Generated DuckDB replay of the logistic-regression training run:
    * per-round gradients are micro-rounded integer sums over MATERIALIZED
    * feature rows; the weight-update arithmetic mirrors the driver's
    * operation order literally.
    */
  private def logisticOracleSql(iterations: Int, lr: Double): String = {
    val enList = graft.operators.LangId.stopwords("en").map(w => s"'$w'").mkString("[", ", ", "]")
    val z = (w: Int => String) =>
      s"${w(0)} + ${w(1)} * f1 + ${w(2)} * f2 + ${w(3)} * f3"
    val sb = new StringBuilder
    sb.append(s"""WITH m AS MATERIALIZED (
        SELECT CASE WHEN n_chars >= 300 THEN 1.0 ELSE 0.0 END AS y,
               CAST(sw_hits AS DOUBLE) / CAST(toks AS DOUBLE) AS f1,
               CAST(toks AS DOUBLE) / 100.0 AS f2,
               CAST(chars AS DOUBLE) / CAST(words AS DOUBLE) / 10.0 AS f3
        FROM (SELECT n_chars, length(text) AS chars,
                     len(string_split(text, ' ')) AS words,
                     len(list_filter(string_split_regex(lower(text), '\\s+'),
                                     x -> list_contains($enList, x))) AS sw_hits,
                     len(string_split_regex(lower(text), '\\s+')) AS toks
              FROM documents)),
      nn AS (SELECT COUNT(*) AS n FROM m),
      i0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)""")
    for (k <- 1 to iterations) {
      val w = (j: Int) => s"w$j"
      sb.append(s""",
      g$k AS MATERIALIZED (
        SELECT SUM(CAST(round((s - y) * 1e6) AS BIGINT)) AS g0,
               SUM(CAST(round((s - y) * f1 * 1e6) AS BIGINT)) AS g1,
               SUM(CAST(round((s - y) * f2 * 1e6) AS BIGINT)) AS g2,
               SUM(CAST(round((s - y) * f3 * 1e6) AS BIGINT)) AS g3
        FROM (SELECT y, f1, f2, f3,
                     1.0 / (1.0 + exp(-(${z(w)}))) AS s
              FROM m, i${k - 1})),
      i$k AS (
        SELECT ${(0 to 3).map(j =>
          s"w$j - $lr * (CAST(g$j AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6)) AS w$j").mkString(",\n               ")}
        FROM i${k - 1}, g$k, nn)""")
    }
    sb.append(s"""
      SELECT CAST(nn.n AS BIGINT) AS n,
             (SELECT CAST(SUM(CASE WHEN (CASE WHEN 1.0 / (1.0 + exp(-(${z(j => s"w$j")}))) >= 0.5
                                          THEN 1.0 ELSE 0.0 END) = y THEN 1 ELSE 0 END) AS BIGINT)
              FROM m, i$iterations) AS correct,
             ${(0 to 3).map(j => s"CAST(round(w$j * 1e6) AS BIGINT) AS w${j}_e6").mkString(",\n             ")}
      FROM i$iterations, nn""")
    sb.toString
  }

  /** DuckDB-runnable oracle SQL per query (same column names + ordering). */
  /** ONE definition of the demo quality scorer shared by
    * q_classifier_eval / q_calibration (and mirrored by
    * [[classifierScoreCte]] on the oracle side): text_metrics features,
    * fixed logistic weights, n_chars >= 300 label. A scorer change edits
    * exactly two places (this and the CTE), not four gates.
    */
  private def qualityScorer(s: SparkSession)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.Column,
         org.apache.spark.sql.Column) = {
    val docs = s.table("documents").withColumn("__m", expr("text_metrics(text)"))
    val fSw = col("__m.sw_hits").cast("double") / col("__m.toks").cast("double")
    val fToks = col("__m.toks").cast("double") / lit(100.0)
    val fLen = col("__m.chars").cast("double") / col("__m.words").cast("double") / lit(10.0)
    val score = Classify.logisticScore(Array(-2.0, 1.5, 0.8, -0.5),
      Seq(fSw, fToks, fLen))
    val y = when(col("n_chars") >= 300, 1.0).otherwise(0.0)
    (docs, score, y)
  }

  /** The oracle-side twin of [[qualityScorer]]: the `m(y, s)` scoring CTE
    * both classifier-gate oracles share.
    */
  private def classifierScoreCte: String = {
    val enList = graft.operators.LangId.stopwords("en").map(w => s"'$w'").mkString("[", ", ", "]")
    s"""m AS (
        SELECT CASE WHEN n_chars >= 300 THEN 1.0 ELSE 0.0 END AS y,
               1.0 / (1.0 + exp(-(-2.0
                 + 1.5 * (CAST(sw_hits AS DOUBLE) / CAST(toks AS DOUBLE))
                 + 0.8 * (CAST(toks AS DOUBLE) / 100.0)
                 + -0.5 * (CAST(chars AS DOUBLE) / CAST(words AS DOUBLE) / 10.0)))) AS s
        FROM (SELECT n_chars, length(text) AS chars,
                     len(string_split(text, ' ')) AS words,
                     len(list_filter(string_split_regex(lower(text), '\\s+'),
                                     x -> list_contains($enList, x))) AS sw_hits,
                     len(string_split_regex(lower(text), '\\s+')) AS toks
              FROM documents))"""
  }

  /** Shared DuckDB CTE fragment replaying the splitmix64 hyperplane LSH
    * bucketing LIVE (assumes a CTE `e(vec_id, v DOUBLE[])` is already in
    * scope): plane value k of the counter-based splitmix64 stream is a
    * PURE FUNCTION of k (`mix(seed + k·golden)` — no sequential state),
    * so the first `prefixBits`·dim plane draws, the sequential
    * dot-product folds, and the sign-prefix bucket all replay exactly.
    * The mod-2^64 multiplies decompose into 32x64-bit pieces
    * (`(lo·c + ((hi·c) mod 2^32)·2^32) mod 2^64`) because a full 64x64
    * product overflows DuckDB's signed INT128. Produces
    * `bkt(vec_id, b BIGINT)` — the exact `shiftrightunsigned(sig,
    * 64 − prefixBits)` bucket (bit 63−j of the signature is plane j, so
    * the bucket needs only planes j < prefixBits). Replaces the former
    * golden pins for the LSH gates.
    */
  /** [[lshBucketCte]] with the prefix width DERIVED from the corpus the
    * way [[Embeddings.derivedPrefixBits]] does (smallest p in [4,16]
    * with ceil(n/2^p) <= targetBucket, pure integer arithmetic): planes
    * are generated for the full 16-bit budget and filtered to j < p, so
    * the counter-based plane stream stays identical to the static form
    * for the first p planes.
    */
  private def lshBucketCteDerived(targetBucket: Int = 500, seed: Long = 42L): String = s"""
      nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e),
      pb AS (SELECT COALESCE(MIN(p), 16) AS p
             FROM (SELECT unnest(range(4, 17)) AS p) ps, nn
             WHERE (nn.n + (1::BIGINT << p) - 1) // (1::BIGINT << p) <= $targetBucket),
      d AS (SELECT len(v) AS dim FROM e LIMIT 1),
      idx AS (SELECT j.j, i.i, (j.j * d.dim + i.i + 1) AS k
              FROM d, (SELECT unnest(range(16)) AS j) j,
                   (SELECT unnest(range((SELECT dim FROM d))) AS i) i
              WHERE j.j < (SELECT p FROM pb)),
      st AS (SELECT j, i,
        CAST((($seed::HUGEINT + k::HUGEINT * 11400714819323198485::HUGEINT)
              % 18446744073709551616::HUGEINT) AS UBIGINT) AS s FROM idx),
      sm1 AS (SELECT j, i, CAST(xor(s, s >> 30) AS HUGEINT) AS z FROM st),
      sm2 AS (SELECT j, i, CAST(
          ((z % 4294967296::HUGEINT) * 13787848793156543929::HUGEINT
           + (((z // 4294967296::HUGEINT) * 13787848793156543929::HUGEINT)
              % 4294967296::HUGEINT) * 4294967296::HUGEINT)
          % 18446744073709551616::HUGEINT AS UBIGINT) AS z FROM sm1),
      sm3 AS (SELECT j, i, CAST(xor(z, z >> 27) AS HUGEINT) AS z FROM sm2),
      sm4 AS (SELECT j, i, CAST(
          ((z % 4294967296::HUGEINT) * 10723151780598845931::HUGEINT
           + (((z // 4294967296::HUGEINT) * 10723151780598845931::HUGEINT)
              % 4294967296::HUGEINT) * 4294967296::HUGEINT)
          % 18446744073709551616::HUGEINT AS UBIGINT) AS z FROM sm3),
      sm5 AS (SELECT j, i, xor(z, z >> 31) AS z FROM sm4),
      pl AS (SELECT j, list(CAST(z >> 11 AS DOUBLE) / 9007199254740992.0 * 2.0 - 1.0
                            ORDER BY i) AS pv
             FROM sm5 GROUP BY j),
      hdots AS (SELECT e.vec_id, pl.j,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range((SELECT dim FROM d)), x -> e.v[x + 1] * pl.pv[x + 1])),
          (a, b) -> a + b) AS dot
        FROM e, pl),
      bkt AS (SELECT vec_id,
                     CAST(SUM(CASE WHEN dot > 0
                              THEN 1 << ((SELECT p FROM pb) - 1 - j) ELSE 0 END) AS BIGINT) AS b
              FROM hdots GROUP BY vec_id)"""

  private def lshBucketCte(prefixBits: Int, seed: Long = 42L): String = s"""
      d AS (SELECT len(v) AS dim FROM e LIMIT 1),
      idx AS (SELECT j.j, i.i, (j.j * d.dim + i.i + 1) AS k
              FROM d, (SELECT unnest(range($prefixBits)) AS j) j,
                   (SELECT unnest(range((SELECT dim FROM d))) AS i) i),
      st AS (SELECT j, i,
        CAST((($seed::HUGEINT + k::HUGEINT * 11400714819323198485::HUGEINT)
              % 18446744073709551616::HUGEINT) AS UBIGINT) AS s FROM idx),
      sm1 AS (SELECT j, i, CAST(xor(s, s >> 30) AS HUGEINT) AS z FROM st),
      sm2 AS (SELECT j, i, CAST(
          ((z % 4294967296::HUGEINT) * 13787848793156543929::HUGEINT
           + (((z // 4294967296::HUGEINT) * 13787848793156543929::HUGEINT)
              % 4294967296::HUGEINT) * 4294967296::HUGEINT)
          % 18446744073709551616::HUGEINT AS UBIGINT) AS z FROM sm1),
      sm3 AS (SELECT j, i, CAST(xor(z, z >> 27) AS HUGEINT) AS z FROM sm2),
      sm4 AS (SELECT j, i, CAST(
          ((z % 4294967296::HUGEINT) * 10723151780598845931::HUGEINT
           + (((z // 4294967296::HUGEINT) * 10723151780598845931::HUGEINT)
              % 4294967296::HUGEINT) * 4294967296::HUGEINT)
          % 18446744073709551616::HUGEINT AS UBIGINT) AS z FROM sm3),
      sm5 AS (SELECT j, i, xor(z, z >> 31) AS z FROM sm4),
      pl AS (SELECT j, list(CAST(z >> 11 AS DOUBLE) / 9007199254740992.0 * 2.0 - 1.0
                            ORDER BY i) AS pv
             FROM sm5 GROUP BY j),
      hdots AS (SELECT e.vec_id, pl.j,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range((SELECT dim FROM d)), x -> e.v[x + 1] * pl.pv[x + 1])),
          (a, b) -> a + b) AS dot
        FROM e, pl),
      bkt AS (SELECT vec_id,
                     CAST(SUM(CASE WHEN dot > 0
                              THEN 1 << (${prefixBits - 1} - j) ELSE 0 END) AS BIGINT) AS b
              FROM hdots GROUP BY vec_id)"""

  def oracleSql: Map[String, String] = Map(
    "q_bpe" -> bpeOracleSql(6),
    "q_bpe_encode" -> bpeEncodeOracleSql(6, 20),
    "q_logistic" -> logisticOracleSql(10, 5.0),
    // calibration replay: the shared scoring CTE, bucketed into 10
    // equal-width bins with the same integer mean/rate/ECE math
    "q_calibration" -> s"""
      WITH $classifierScoreCte,
      b0 AS (SELECT least(CAST(1.0 AS DOUBLE), greatest(CAST(0.0 AS DOUBLE), s)) AS sc, y
             FROM m WHERE s IS NOT NULL AND y IS NOT NULL),
      b AS (SELECT CAST(least(9, floor(sc * 10)) AS INT) AS bin,
                   CAST(round(sc * 1e6) AS BIGINT) AS s_e6,
                   CASE WHEN y = 1.0 THEN 1 ELSE 0 END AS pos
            FROM b0),
      g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(s_e6) // COUNT(*) AS BIGINT) AS mean_score_e6,
                   CAST(SUM(pos) AS BIGINT) AS positives
            FROM b GROUP BY bin)
      SELECT bin, n, mean_score_e6, positives,
             CAST(positives * 1000000 // n AS BIGINT) AS rate_ppm,
             CAST(abs(positives * 1000000 // n - mean_score_e6) * n AS BIGINT)
               AS ece_contrib_e6
      FROM g ORDER BY bin""",
    "q_classifier_eval" -> s"""
      WITH $classifierScoreCte,
      t AS (SELECT unnest([0.3, 0.5, 0.7]) AS th),
      c AS (SELECT CAST(round(th * 1e6) AS BIGINT) AS threshold_e6,
                   CAST(SUM(CASE WHEN s >= th AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                   CAST(SUM(CASE WHEN s >= th AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                   CAST(SUM(CASE WHEN s < th AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                   CAST(SUM(CASE WHEN s < th AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
                   CAST(SUM(CASE WHEN s IS NULL OR y IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_rows
            FROM m, t GROUP BY th)
      SELECT threshold_e6, tp, fp, fn, tn, null_rows,
             CASE WHEN tp + fp = 0 THEN 0 ELSE tp * 1000000 // (tp + fp) END AS precision_ppm,
             CASE WHEN tp + fn = 0 THEN 0 ELSE tp * 1000000 // (tp + fn) END AS recall_ppm,
             CASE WHEN 2 * tp + fp + fn = 0 THEN 0
                  ELSE 2 * tp * 1000000 // (2 * tp + fp + fn) END AS f1_ppm
      FROM c ORDER BY threshold_e6""",
    "q_expect" -> """
      WITH a AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS total,
               CAST(SUM(CASE WHEN NOT coalesce(length(text) = n_chars, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v0,
               CAST(SUM(CASE WHEN NOT coalesce(doc_id >= 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v1,
               CAST(SUM(CASE WHEN NOT coalesce(lang IN ('en', 'de', 'fr', 'es', 'zh'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v2,
               CAST(SUM(CASE WHEN NOT coalesce(n_chars >= 100, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v3
        FROM documents)
      SELECT 'chars_match' AS "check", v0 AS violations, total FROM a
      UNION ALL SELECT 'id_positive', v1, total FROM a
      UNION ALL SELECT 'known_lang', v2, total FROM a
      UNION ALL SELECT 'long_text', v3, total FROM a
      ORDER BY 1""",
    "q1_agg" -> """
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_e2,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_e2,
             CAST(SUM(CAST(ROUND(l_discount * 10000) AS BIGINT)) AS BIGINT) AS sum_disc_e4,
             CAST(COUNT(*) AS BIGINT) AS count_order
      FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "q2_join_agg" -> """
      SELECT o_orderpriority,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_e2,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q3_supplier_join" -> """
      SELECT s_nationkey,
             CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS active_suppliers,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS volume_e2
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_nationkey ORDER BY s_nationkey""",
    "q_events_window" -> """
      SELECT date_trunc('hour', ts) AS hour, event_type,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS val_e2
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q5_regional_revenue" -> """
      SELECT r_name,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_e2
      FROM region JOIN nation ON n_regionkey = r_regionkey
        JOIN customer ON c_nationkey = n_nationkey
        JOIN orders ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY r_name ORDER BY r_name""",
    "q_events_props" -> """
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
      FROM events GROUP BY event_type ORDER BY event_type""",
    "q_event_percentiles" -> """
      SELECT event_type,
             quantile_cont(v, 0.25) AS p25, quantile_cont(v, 0.5) AS p50, quantile_cont(v, 0.75) AS p75,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v FROM events)
      GROUP BY event_type ORDER BY event_type""",
    "q_sessionize" -> """
      WITH x AS (
        SELECT user_id, ts, event_id, epoch_us(ts) AS us,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess AS (
        SELECT user_id, us,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM x),
      g AS (
        SELECT user_id, sid, COUNT(*) AS n, MAX(us) - MIN(us) AS dur
        FROM sess GROUP BY user_id, sid)
      SELECT CAST(COUNT(*) AS BIGINT) AS sessions, CAST(SUM(n) AS BIGINT) AS events,
             CAST(SUM(dur) AS BIGINT) AS dur_us, CAST(MAX(n) AS BIGINT) AS max_events
      FROM g""",
    "q_funnel" -> """
      WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
      s0 AS (SELECT user_id, MIN(us) AS t0 FROM e WHERE event_type = 'view' GROUP BY user_id),
      s1 AS (SELECT e.user_id, MIN(t0) AS t0, MIN(us) AS t1
             FROM e JOIN s0 USING (user_id)
             WHERE event_type = 'click' AND us >= t0 GROUP BY e.user_id),
      s2 AS (SELECT e.user_id, MIN(t0) AS t0, MIN(t1) AS t1, MIN(us) AS t2
             FROM e JOIN s1 USING (user_id)
             WHERE event_type = 'purchase' AND us >= t1 GROUP BY e.user_id)
      SELECT CAST(COUNT(*) AS BIGINT) AS completed,
             CAST(SUM(t2 - t0) AS BIGINT) AS span_us_sum,
             CAST(SUM(user_id) AS BIGINT) AS user_sum
      FROM s2 WHERE t2 - t0 <= 259200000000""",
    "q_retention" -> """
      WITH base AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events),
      cohorts AS (SELECT u, MIN(d) AS cohort FROM base GROUP BY u),
      m AS (
        SELECT cohort, date_diff('day', cohort, d) AS day_offset, COUNT(DISTINCT u) AS users
        FROM base JOIN cohorts USING (u)
        WHERE date_diff('day', cohort, d) <= 30
        GROUP BY 1, 2)
      SELECT CAST(COUNT(*) AS BIGINT) AS cells,
             CAST(SUM(users) AS BIGINT) AS user_days,
             CAST(SUM(day_offset * users) AS BIGINT) AS weighted_offsets
      FROM m""",
    // docs containing all three tokens, replayed straight off the text
    "q_inverted_index" -> """
      WITH tok AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> '')) AS t
        FROM documents)
      SELECT doc_id FROM tok
      WHERE t IN ('hash', 'join', 'vector')
      GROUP BY doc_id HAVING COUNT(DISTINCT t) = 3
      ORDER BY doc_id""",
    // unigram surprisal replay: identical tokenization, identical
    // micro-unit per-token rounding, integer per-doc/per-source sums
    "q_unigram_lp" -> """
      WITH tok AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> '')) AS t
        FROM documents),
      f AS (SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t),
      tot AS (SELECT SUM(cnt) AS total FROM f),
      lp AS (SELECT t, CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
                                  * 1e6) AS BIGINT) AS lp_e6
             FROM f, tot),
      d AS (SELECT tok.doc_id, COUNT(*) AS toks, SUM(lp.lp_e6) AS lp_sum
            FROM tok JOIN lp ON tok.t = lp.t GROUP BY tok.doc_id),
      j AS (SELECT doc.doc_id, doc.source,
                   coalesce(d.toks, 0) AS toks, coalesce(d.lp_sum, 0) AS lp_sum
            FROM documents doc LEFT JOIN d ON doc.doc_id = d.doc_id)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(SUM(toks) AS BIGINT) AS tokens,
             CAST(SUM(lp_sum) AS BIGINT) AS lp_e6_sum
      FROM j GROUP BY source ORDER BY source""",
    // bigram replay: same pair construction, same bigram-start
    // denominator, same interpolation arithmetic (0.9 / (1.0 - 0.9)
    // literals so the IEEE weights match bit-for-bit), same micro-round.
    // The replay scores each DISTINCT bigram once (dlp) and weights it by
    // the per-doc transition count — SUM(c * lp) over integer lp is
    // exactly the per-occurrence sum, at distinct-bigram join cost
    // instead of per-transition: the restructure that brings the sf1
    // 19.7M-char corpus inside the oracle's 900 s budget (SCALE.md)
    "q_bigram_lp" -> """
      WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        FROM documents),
      pr AS (
        SELECT doc_id, toks[i+1] AS prev, toks[i+2] AS cur
        FROM (SELECT doc_id, toks,
                     unnest(range(0, greatest(len(toks) - 1, 0))) AS i FROM t)),
      pc AS (SELECT doc_id, prev, cur, COUNT(*) AS c FROM pr GROUP BY doc_id, prev, cur),
      bg AS (SELECT prev, cur, SUM(c) AS cnt FROM pc GROUP BY prev, cur),
      st AS (SELECT prev, SUM(cnt) AS s_cnt FROM bg GROUP BY prev),
      fs AS (SELECT doc_id, toks[1] AS tok FROM t WHERE len(toks) > 0),
      un AS (SELECT u_tok, SUM(c) AS u_cnt FROM (
               SELECT cur AS u_tok, cnt AS c FROM bg
               UNION ALL
               SELECT tok, COUNT(*) FROM fs GROUP BY tok) u(u_tok, c)
             GROUP BY u_tok),
      tot AS (SELECT SUM(u_cnt) AS total FROM un),
      dlp AS (SELECT bg.prev, bg.cur,
                     CAST(round(ln(0.9 * (CAST(bg.cnt AS DOUBLE) / CAST(st.s_cnt AS DOUBLE))
                          + (1.0 - 0.9) * (CAST(un.u_cnt AS DOUBLE) / CAST(tot.total AS DOUBLE)))
                          * 1e6) AS BIGINT) AS lp
              FROM bg JOIN st ON bg.prev = st.prev
                      JOIN un ON bg.cur = un.u_tok, tot),
      ps AS (SELECT pc.doc_id, SUM(pc.c) AS toks, SUM(pc.c * dlp.lp) AS lp_sum
             FROM pc JOIN dlp ON pc.prev = dlp.prev AND pc.cur = dlp.cur
             GROUP BY pc.doc_id),
      fsc AS (SELECT fs.doc_id, 1 AS toks,
                     CAST(round(ln(CAST(un.u_cnt AS DOUBLE) / CAST(tot.total AS DOUBLE))
                          * 1e6) AS BIGINT) AS lp_sum
              FROM fs JOIN un ON fs.tok = un.u_tok, tot),
      d AS (SELECT doc_id, SUM(toks) AS toks, SUM(lp_sum) AS lp_sum
            FROM (SELECT * FROM ps UNION ALL SELECT * FROM fsc) GROUP BY doc_id),
      j AS (SELECT doc.doc_id, doc.source,
                   coalesce(d.toks, 0) AS toks, coalesce(d.lp_sum, 0) AS lp_sum
            FROM documents doc LEFT JOIN d ON doc.doc_id = d.doc_id)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(SUM(toks) AS BIGINT) AS tokens,
             CAST(SUM(lp_sum) AS BIGINT) AS lp_e6_sum
      FROM j GROUP BY source ORDER BY source""",
    // full span-dedup replay: same windows, same md5 keys, same packed
    // keep-first winner, same rebuild order
    "q_span_dedup" -> """
      WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        FROM documents),
      sp AS (
        SELECT doc_id, i, array_to_string(toks[i*8+1 : i*8+8], ' ') AS span,
               md5(array_to_string(toks[i*8+1 : i*8+8], ' ')) AS h,
               doc_id * 1000000 + i AS packed
        FROM (SELECT doc_id, toks,
                     unnest(range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS i
              FROM t)),
      g AS (SELECT h, COUNT(*) AS cnt, MIN(packed) AS fst FROM sp GROUP BY h),
      k AS (SELECT sp.doc_id, sp.i, sp.span,
                   (g.cnt < 2 OR sp.packed = g.fst) AS keep
            FROM sp JOIN g USING (h)),
      reb AS (
        SELECT doc_id, COUNT(*) AS spans,
               SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS removed,
               string_agg(CASE WHEN keep THEN span END, ' ' ORDER BY i) AS newt
        FROM k GROUP BY doc_id),
      f AS (
        SELECT d.doc_id, coalesce(reb.newt, '') AS newt,
               coalesce(reb.spans, 0) AS spans, coalesce(reb.removed, 0) AS removed
        FROM documents d LEFT JOIN reb ON d.doc_id = reb.doc_id)
      SELECT CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(SUM(spans) AS BIGINT) AS spans,
             CAST(SUM(removed) AS BIGINT) AS removed,
             CAST(SUM(length(newt)) AS BIGINT) AS chars,
             CAST(SUM(CAST(('0x' || substring(md5(newt), 1, 15)) AS BIGINT)
                      % 1000000000) AS BIGINT) AS checksum
      FROM f""",
    // one Lloyd round replayed: same seeds (first 8 by vec_id), same
    // argmax-cosine-ties-to-smallest-cid, same exact micro-unit centroid
    // reconstruction CAST(s_e6 AS DOUBLE) / (CAST(m AS DOUBLE) * 1e6)
    "q_kmeans" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      c0 AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
      a0 AS (SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c0.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c0.cv) * 1e6) DESC, c0.cid) AS rn
        FROM e, c0) WHERE rn = 1),
      dims AS (SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM a0),
      sums AS (SELECT cid, i, SUM(CAST(round(x * 1e6) AS BIGINT)) AS s_e6,
                      COUNT(*) AS m
               FROM dims GROUP BY cid, i),
      c1 AS (SELECT cid, list(CAST(s_e6 AS DOUBLE) / (CAST(m AS DOUBLE) * 1e6)
                              ORDER BY i) AS cv
             FROM sums GROUP BY cid),
      a1 AS (SELECT vec_id, cid FROM (
        SELECT e.vec_id, c1.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c1.cv) * 1e6) DESC, c1.cid) AS rn
        FROM e, c1) WHERE rn = 1)
      SELECT cid, CAST(COUNT(*) AS BIGINT) AS members,
             CAST(SUM(vec_id) AS BIGINT) AS id_sum
      FROM a1 GROUP BY cid ORDER BY cid""",
    // kNN label consistency: the ann_topk ordering contract + label joins
    "q_knn_eval" -> """
      WITH nn AS (
        SELECT query_id, neighbor_id, qlabel FROM (
          SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                 q.label AS qlabel,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC,
                            e.vec_id) AS rank
          FROM embeddings e, (SELECT * FROM embeddings WHERE vec_id < 200) q
          WHERE e.vec_id != q.vec_id) ranked
        WHERE rank <= 5)
      SELECT nn.qlabel AS label,
             CAST(COUNT(DISTINCT nn.query_id) AS BIGINT) AS queries,
             CAST(COUNT(*) AS BIGINT) AS votes,
             CAST(SUM(CASE WHEN e.label = nn.qlabel THEN 1 ELSE 0 END) AS BIGINT) AS agree
      FROM nn JOIN embeddings e ON e.vec_id = nn.neighbor_id
      GROUP BY nn.qlabel ORDER BY label""",
    // centroid outliers: the q_kmeans chain through c1, re-scoring every
    // member against its ASSIGNED centroid and ranking ascending
    "q_outliers" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      c0 AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
      a0 AS (SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c0.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c0.cv) * 1e6) DESC, c0.cid) AS rn
        FROM e, c0) WHERE rn = 1),
      dims AS (SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM a0),
      sums AS (SELECT cid, i, SUM(CAST(round(x * 1e6) AS BIGINT)) AS s_e6,
                      COUNT(*) AS m
               FROM dims GROUP BY cid, i),
      c1 AS (SELECT cid, list(CAST(s_e6 AS DOUBLE) / (CAST(m AS DOUBLE) * 1e6)
                              ORDER BY i) AS cv
             FROM sums GROUP BY cid),
      a1 AS (SELECT vec_id, cid, sim_e6 FROM (
        SELECT e.vec_id, c1.cid,
               CAST(round(list_cosine_similarity(e.v, c1.cv) * 1e6) AS BIGINT) AS sim_e6,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c1.cv) * 1e6) DESC, c1.cid) AS rn
        FROM e, c1) WHERE rn = 1),
      r AS (SELECT cid, vec_id, sim_e6,
                   row_number() OVER (PARTITION BY cid
                     ORDER BY sim_e6 ASC, vec_id) AS rnk
            FROM a1)
      SELECT cid, CAST(rnk AS INTEGER) AS rnk, vec_id, sim_e6
      FROM r WHERE rnk <= 5 ORDER BY cid, rnk""",
    // feature-hash vectors replayed: same md5-prefix bucket, same integer
    // counts, same IEEE normalize; docs with no tokens keep a zero row
    "q_text_vectors" -> """
      WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
        FROM documents),
      b AS (SELECT doc_id,
              CAST(CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) % 32 AS INT) AS bkt
            FROM toks),
      c AS (SELECT doc_id, bkt, CAST(COUNT(*) AS DOUBLE) AS c FROM b GROUP BY doc_id, bkt),
      nrm AS (SELECT doc_id, sqrt(SUM(c * c)) AS n FROM c GROUP BY doc_id),
      v AS (SELECT c.doc_id, c.c / nrm.n AS x FROM c JOIN nrm ON c.doc_id = nrm.doc_id),
      agg AS (SELECT doc_id, COUNT(*) AS nnz,
                     SUM(CAST(round(x * 1e6) AS BIGINT)) AS s
              FROM v GROUP BY doc_id)
      SELECT d.doc_id, CAST(COALESCE(agg.nnz, 0) AS BIGINT) AS nnz,
             CAST(COALESCE(agg.s, 0) AS BIGINT) AS sum_e6
      FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
      ORDER BY d.doc_id LIMIT 20""",
    // SemDeDup: the q_kmeans assignment chain, then the per-cluster drop
    // rule — a vector is dropped iff a same-cluster smaller-id neighbor has
    // round(sim*1e6) >= 350000 (threshold 0.35 micro-rounded, as in Spark).
    // k is the CORPUS-DERIVED default replayed from COUNT(*):
    // clamp(ceil(n/1000), 32, 65536), pure integer arithmetic (kk CTE)
    "q_semdedup" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      kk AS (SELECT GREATEST(LEAST(((SELECT COUNT(*) FROM e) + 999) // 1000, 65536), 32) AS k),
      c0 AS (SELECT vec_id AS cid, v AS cv FROM (
               SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn FROM e)
             WHERE rn <= (SELECT k FROM kk)),
      a0 AS (SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c0.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c0.cv) * 1e6) DESC, c0.cid) AS rn
        FROM e, c0) WHERE rn = 1),
      dims AS (SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM a0),
      sums AS (SELECT cid, i, SUM(CAST(round(x * 1e6) AS BIGINT)) AS s_e6,
                      COUNT(*) AS m
               FROM dims GROUP BY cid, i),
      c1 AS (SELECT cid, list(CAST(s_e6 AS DOUBLE) / (CAST(m AS DOUBLE) * 1e6)
                              ORDER BY i) AS cv
             FROM sums GROUP BY cid),
      a1 AS (SELECT vec_id, cid FROM (
        SELECT e.vec_id, c1.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c1.cv) * 1e6) DESC, c1.cid) AS rn
        FROM e, c1) WHERE rn = 1),
      dropped AS (
        SELECT DISTINCT a.vec_id
        FROM a1 a JOIN a1 b ON a.cid = b.cid AND a.vec_id > b.vec_id
        JOIN e ea ON ea.vec_id = a.vec_id
        JOIN e eb ON eb.vec_id = b.vec_id
        WHERE round(list_cosine_similarity(ea.v, eb.v) * 1e6) >= 350000)
      SELECT a1.cid, CAST(COUNT(*) AS BIGINT) AS members,
             CAST(SUM(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS kept,
             CAST(SUM(CASE WHEN d.vec_id IS NULL THEN a1.vec_id END) AS BIGINT) AS kept_id_sum
      FROM a1 LEFT JOIN dropped d ON a1.vec_id = d.vec_id
      GROUP BY a1.cid ORDER BY a1.cid""",
    // incremental SemDeDup: the kmeans chain fit on the OLD slice only,
    // ALL vectors assigned into it, drop rule restricted to new-side
    // vectors against (old OR smaller-id new) same-cluster neighbors.
    // k derives from the OLD slice's COUNT(*) (the fit corpus):
    // clamp(ceil(n/1000), 32, 65536)
    "q_incremental_semdedup" -> """
      WITH eo AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings WHERE vec_id % 10 <> 0),
      ea AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                    vec_id % 10 = 0 AS isnew
             FROM embeddings),
      kk AS (SELECT GREATEST(LEAST(((SELECT COUNT(*) FROM eo) + 999) // 1000, 65536), 32) AS k),
      c0 AS (SELECT vec_id AS cid, v AS cv FROM (
               SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn FROM eo)
             WHERE rn <= (SELECT k FROM kk)),
      a0 AS (SELECT vec_id, v, cid FROM (
        SELECT eo.vec_id, eo.v, c0.cid,
               row_number() OVER (PARTITION BY eo.vec_id
                 ORDER BY round(list_cosine_similarity(eo.v, c0.cv) * 1e6) DESC, c0.cid) AS rn
        FROM eo, c0) WHERE rn = 1),
      dims AS (SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM a0),
      sums AS (SELECT cid, i, SUM(CAST(round(x * 1e6) AS BIGINT)) AS s_e6,
                      COUNT(*) AS m
               FROM dims GROUP BY cid, i),
      c1 AS (SELECT cid, list(CAST(s_e6 AS DOUBLE) / (CAST(m AS DOUBLE) * 1e6)
                              ORDER BY i) AS cv
             FROM sums GROUP BY cid),
      a1 AS (SELECT vec_id, isnew, cid FROM (
        SELECT ea.vec_id, ea.isnew, c1.cid,
               row_number() OVER (PARTITION BY ea.vec_id
                 ORDER BY round(list_cosine_similarity(ea.v, c1.cv) * 1e6) DESC, c1.cid) AS rn
        FROM ea, c1) WHERE rn = 1),
      dropped AS (
        SELECT DISTINCT a.vec_id
        FROM a1 a JOIN a1 b ON a.cid = b.cid AND a.isnew
          AND (NOT b.isnew OR b.vec_id < a.vec_id)
        JOIN ea x ON x.vec_id = a.vec_id
        JOIN ea y ON y.vec_id = b.vec_id
        WHERE round(list_cosine_similarity(x.v, y.v) * 1e6) >= 350000)
      SELECT a1.cid, CAST(COUNT(*) AS BIGINT) AS members,
             CAST(SUM(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS kept,
             CAST(SUM(CASE WHEN d.vec_id IS NULL THEN a1.vec_id END) AS BIGINT) AS kept_id_sum
      FROM a1 LEFT JOIN dropped d ON a1.vec_id = d.vec_id
      WHERE a1.isnew
      GROUP BY a1.cid ORDER BY a1.cid""",
    // the persisted-index refresh computes the IDENTICAL fit, assignment
    // and drop rule as q_incremental_semdedup (spec-asserted row-equal),
    // so the same replay is its oracle
    "q_semdedup_index" -> """
      WITH eo AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings WHERE vec_id % 10 <> 0),
      ea AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                    vec_id % 10 = 0 AS isnew
             FROM embeddings),
      kk AS (SELECT GREATEST(LEAST(((SELECT COUNT(*) FROM eo) + 999) // 1000, 65536), 32) AS k),
      c0 AS (SELECT vec_id AS cid, v AS cv FROM (
               SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn FROM eo)
             WHERE rn <= (SELECT k FROM kk)),
      a0 AS (SELECT vec_id, v, cid FROM (
        SELECT eo.vec_id, eo.v, c0.cid,
               row_number() OVER (PARTITION BY eo.vec_id
                 ORDER BY round(list_cosine_similarity(eo.v, c0.cv) * 1e6) DESC, c0.cid) AS rn
        FROM eo, c0) WHERE rn = 1),
      dims AS (SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM a0),
      sums AS (SELECT cid, i, SUM(CAST(round(x * 1e6) AS BIGINT)) AS s_e6,
                      COUNT(*) AS m
               FROM dims GROUP BY cid, i),
      c1 AS (SELECT cid, list(CAST(s_e6 AS DOUBLE) / (CAST(m AS DOUBLE) * 1e6)
                              ORDER BY i) AS cv
             FROM sums GROUP BY cid),
      a1 AS (SELECT vec_id, isnew, cid FROM (
        SELECT ea.vec_id, ea.isnew, c1.cid,
               row_number() OVER (PARTITION BY ea.vec_id
                 ORDER BY round(list_cosine_similarity(ea.v, c1.cv) * 1e6) DESC, c1.cid) AS rn
        FROM ea, c1) WHERE rn = 1),
      dropped AS (
        SELECT DISTINCT a.vec_id
        FROM a1 a JOIN a1 b ON a.cid = b.cid AND a.isnew
          AND (NOT b.isnew OR b.vec_id < a.vec_id)
        JOIN ea x ON x.vec_id = a.vec_id
        JOIN ea y ON y.vec_id = b.vec_id
        WHERE round(list_cosine_similarity(x.v, y.v) * 1e6) >= 350000)
      SELECT a1.cid, CAST(COUNT(*) AS BIGINT) AS members,
             CAST(SUM(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS kept,
             CAST(SUM(CASE WHEN d.vec_id IS NULL THEN a1.vec_id END) AS BIGINT) AS kept_id_sum
      FROM a1 LEFT JOIN dropped d ON a1.vec_id = d.vec_id
      WHERE a1.isnew
      GROUP BY a1.cid ORDER BY a1.cid""",
    // BM25 replayed with the same fold order (term0 + term1 + term2) and
    // the same Lucene idf; ln() is natural log in DuckDB (log() is base-10)
    "q_bm25" -> """
      WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        FROM documents),
      tf AS (
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
               CAST(len(list_filter(toks, x -> x = 'hash')) AS BIGINT) AS tf0,
               CAST(len(list_filter(toks, x -> x = 'join')) AS BIGINT) AS tf1,
               CAST(len(list_filter(toks, x -> x = 'vector')) AS BIGINT) AS tf2
        FROM t),
      s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl,
               CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
               CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
               CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
        FROM tf)
      SELECT doc_id, dl,
             CAST(round((
               ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * (CAST(tf0 AS DOUBLE) * 2.2)
                 / (CAST(tf0 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * (CAST(tf1 AS DOUBLE) * 2.2)
                 / (CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * (CAST(tf2 AS DOUBLE) * 2.2)
                 / (CAST(tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             ) * 1e6) AS BIGINT) AS bm25_e6
      FROM tf, s
      ORDER BY bm25_e6 DESC, doc_id LIMIT 20""",
    // hybrid retrieval: the bm25 replay above feeds a bounded candidate
    // set, list_cosine_similarity reranks it, and reciprocal-rank fusion
    // (exact rationals of small integer ranks) fixes the final order
    "q_hybrid_search" -> """
      WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        FROM documents),
      tf AS (
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
               CAST(len(list_filter(toks, x -> x = 'hash')) AS BIGINT) AS tf0,
               CAST(len(list_filter(toks, x -> x = 'join')) AS BIGINT) AS tf1,
               CAST(len(list_filter(toks, x -> x = 'vector')) AS BIGINT) AS tf2
        FROM t),
      s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl,
               CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
               CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
               CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
        FROM tf),
      sc AS (
        SELECT doc_id,
               CAST(round((
                 ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * (CAST(tf0 AS DOUBLE) * 2.2)
                   / (CAST(tf0 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
               + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * (CAST(tf1 AS DOUBLE) * 2.2)
                   / (CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
               + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * (CAST(tf2 AS DOUBLE) * 2.2)
                   / (CAST(tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
               ) * 1e6) AS BIGINT) AS bm25_e6
        FROM tf, s),
      cand AS (
        SELECT doc_id, rank_b FROM (
          SELECT doc_id, row_number() OVER (ORDER BY bm25_e6 DESC, doc_id) AS rank_b
          FROM sc) WHERE rank_b <= 100),
      qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 0),
      ce AS (
        SELECT cand.doc_id, cand.rank_b,
               list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv.q) AS cos
        FROM cand JOIN embeddings e ON e.vec_id = cand.doc_id, qv),
      rc AS (
        SELECT doc_id, rank_b,
               row_number() OVER (ORDER BY cos DESC, doc_id) AS rank_c
        FROM ce),
      f AS (
        SELECT doc_id, rank_b, rank_c,
               1.0 / (60 + rank_b) + 1.0 / (60 + rank_c) AS rrf
        FROM rc)
      SELECT doc_id, CAST(rank AS INT) AS rank, CAST(rank_b AS INT) AS rank_bm25,
             CAST(rank_c AS INT) AS rank_cosine,
             CAST(round(rrf * 1e6) AS BIGINT) AS rrf_e6
      FROM (SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank FROM f)
      WHERE rank <= 10 ORDER BY rank""",
    // native ASOF LEFT JOIN (inclusive l.ts >= r.ts) — right side unique
    // on (user_id, ts), so the match DuckDB picks is the one match
    // identical recursion replay as q_ewma — the streaming drain must
    // emit the batch fold row for row
    "q_stream_ewma" -> """
      WITH RECURSIVE ev AS (
        SELECT user_id AS k, epoch_us(ts) AS us,
               CAST(round(value * 1e6) AS BIGINT) AS v
        FROM events WHERE event_type = 'view' AND user_id % 7 = 0),
      o AS (SELECT k, us, v,
                   row_number() OVER (PARTITION BY k ORDER BY us, v) AS rn
            FROM ev),
      r AS (
        SELECT k, rn, v, v AS e, CAST(0 AS BIGINT) AS d
        FROM o WHERE rn = 1
        UNION ALL
        SELECT o.k, o.rn, o.v,
               ((300000 * o.v + 700000 * r.e) -
                ((300000 * o.v + 700000 * r.e) % 1000000)) // 1000000 AS e,
               o.v - r.e AS d
        FROM r JOIN o ON o.k = r.k AND o.rn = r.rn + 1)
      SELECT CAST(COUNT(*) AS BIGINT) AS points,
             CAST(COUNT(DISTINCT k) AS BIGINT) AS keys,
             CAST(SUM(e) AS BIGINT) AS ewma_sum,
             CAST(SUM(ABS(d)) AS BIGINT) AS abs_dev_sum,
             CAST(MAX(ABS(d)) AS BIGINT) AS max_abs_dev
      FROM r""",
    // recursive-CTE replay of the integer EWMA recursion; toward-zero
    // division via (x - x % 1e6) / 1e6 (DuckDB % is C-style like the
    // JVM's, so the subtraction leaves an exactly divisible numerator)
    "q_ewma" -> """
      WITH RECURSIVE ev AS (
        SELECT user_id AS k, epoch_us(ts) AS us,
               CAST(round(value * 1e6) AS BIGINT) AS v
        FROM events WHERE event_type = 'view' AND user_id % 7 = 0),
      o AS (SELECT k, us, v,
                   row_number() OVER (PARTITION BY k ORDER BY us, v) AS rn
            FROM ev),
      r AS (
        SELECT k, rn, v, v AS e, CAST(0 AS BIGINT) AS d
        FROM o WHERE rn = 1
        UNION ALL
        SELECT o.k, o.rn, o.v,
               ((300000 * o.v + 700000 * r.e) -
                ((300000 * o.v + 700000 * r.e) % 1000000)) // 1000000 AS e,
               o.v - r.e AS d
        FROM r JOIN o ON o.k = r.k AND o.rn = r.rn + 1)
      SELECT CAST(COUNT(*) AS BIGINT) AS points,
             CAST(COUNT(DISTINCT k) AS BIGINT) AS keys,
             CAST(SUM(e) AS BIGINT) AS ewma_sum,
             CAST(SUM(ABS(d)) AS BIGINT) AS abs_dev_sum,
             CAST(MAX(ABS(d)) AS BIGINT) AS max_abs_dev
      FROM r""",
    // forward replay: per purchase the min-ts click at-or-after, ties to
    // the largest click_id (the engine's rightOrderCols-asc last() winner)
    "q_asof_forward" -> """
      WITH p AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      c AS (
        SELECT user_id, ts, event_id AS click_id FROM events WHERE event_type = 'click'),
      j AS (
        SELECT p.event_id, p.user_id,
               (SELECT c.click_id FROM c
                WHERE c.user_id = p.user_id AND c.ts >= p.ts
                ORDER BY c.ts ASC, c.click_id DESC LIMIT 1) AS click_id
        FROM p)
      SELECT CAST(COUNT(*) AS BIGINT) AS purchases,
             CAST(COUNT(click_id) AS BIGINT) AS matched,
             CAST(SUM(click_id) AS BIGINT) AS click_id_sum,
             CAST(SUM(CASE WHEN click_id IS NOT NULL
                           THEN event_id * click_id % 1000003 END) AS BIGINT) AS pair_checksum
      FROM j""",
    "q_asof_join" -> """
      WITH p AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      c AS (
        SELECT user_id, ts, event_id AS click_id FROM events WHERE event_type = 'click'),
      j AS (
        SELECT p.event_id, p.user_id, c.click_id
        FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts)
      SELECT CAST(COUNT(*) AS BIGINT) AS purchases,
             CAST(COUNT(click_id) AS BIGINT) AS matched,
             CAST(SUM(click_id) AS BIGINT) AS click_id_sum,
             CAST(SUM(CASE WHEN click_id IS NOT NULL
                           THEN event_id * click_id % 1000003 END) AS BIGINT) AS pair_checksum
      FROM j""",
    // plain nested-loop BETWEEN join (DuckDB plans it as an IEJoin) — the
    // binned equi-join must reproduce it exactly
    "q_range_join" -> """
      WITH a AS (
        SELECT event_id AS anchor_id, ts AS w_start, ts + INTERVAL 1 HOUR AS w_end
        FROM events WHERE event_type = 'purchase')
      SELECT anchor_id, CAST(COUNT(*) AS BIGINT) AS hits,
             CAST(SUM(e.event_id) % 1000003 AS BIGINT) AS hit_checksum
      FROM a JOIN events e ON e.ts >= a.w_start AND e.ts <= a.w_end
      GROUP BY anchor_id ORDER BY anchor_id""",
    "q_interval_overlap" -> """
      WITH a AS (
        SELECT event_id AS id, ts AS s, ts + INTERVAL 1 HOUR AS e
        FROM events WHERE event_type = 'purchase')
      SELECT CAST(COUNT(*) AS BIGINT) AS pairs,
             CAST(SUM(x.id * y.id % 1000003) % 1000003 AS BIGINT) AS pair_checksum
      FROM a x JOIN a y ON x.id < y.id AND x.s <= y.e AND y.s <= x.e""",
    // drift replay: both histograms rebuilt with the q_histogram slot
    // arithmetic, fractions micro-rounded, L1 summed over integers
    "q_drift" -> """
      WITH so AS (
        SELECT CASE WHEN value < 0.0 THEN 0 WHEN value >= 500.0 THEN 21
                    ELSE 1 + LEAST(19, CAST(FLOOR(CAST(value AS DOUBLE) / 25.0) AS INT)) END AS slot
        FROM events WHERE event_type = 'view'),
      sn AS (
        SELECT CASE WHEN value < 0.0 THEN 0 WHEN value >= 500.0 THEN 21
                    ELSE 1 + LEAST(19, CAST(FLOOR(CAST(value AS DOUBLE) / 25.0) AS INT)) END AS slot
        FROM events WHERE event_type = 'purchase'),
      co AS (SELECT slot, COUNT(*) AS c FROM so GROUP BY slot),
      cn AS (SELECT slot, COUNT(*) AS c FROM sn GROUP BY slot),
      slots AS (SELECT unnest(generate_series(0, 21)) AS slot),
      j AS (SELECT slots.slot, COALESCE(co.c, 0) AS old_cnt, COALESCE(cn.c, 0) AS new_cnt
            FROM slots LEFT JOIN co ON co.slot = slots.slot
                       LEFT JOIN cn ON cn.slot = slots.slot),
      t AS (SELECT CAST(SUM(old_cnt) AS DOUBLE) AS ot, CAST(SUM(new_cnt) AS DOUBLE) AS nt FROM j),
      f AS (SELECT slot, old_cnt, new_cnt,
              CAST(round(old_cnt / t.ot * 1e6) AS BIGINT) AS old_frac_e6,
              CAST(round(new_cnt / t.nt * 1e6) AS BIGINT) AS new_frac_e6
            FROM j, t),
      l1 AS (SELECT CAST(SUM(ABS(old_frac_e6 - new_frac_e6)) AS BIGINT) AS l1_e6,
                    CAST(SUM(CASE WHEN old_frac_e6 > 0 AND new_frac_e6 > 0
                      THEN CAST(round(CAST(old_frac_e6 - new_frac_e6 AS DOUBLE) / 1e6 *
                        ln(CAST(old_frac_e6 AS DOUBLE) / CAST(new_frac_e6 AS DOUBLE)) * 1e6)
                        AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS psi_e6 FROM f)
      SELECT CAST(f.slot AS INT) AS slot, CAST(old_cnt AS BIGINT) AS old_cnt,
             CAST(new_cnt AS BIGINT) AS new_cnt, old_frac_e6, new_frac_e6, l1.l1_e6,
             l1.psi_e6
      FROM f, l1 WHERE old_cnt > 0 OR new_cnt > 0 ORDER BY slot""",
    // bounded-heap top-k == row_number window replay (payloads unique)
    "q_topk" -> """
      SELECT c_nationkey, CAST(rn - 1 AS INT) AS rank,
             CAST(bal_e2 AS BIGINT) AS bal_e2, CAST(c_custkey AS BIGINT) AS custkey
      FROM (SELECT c_nationkey, c_custkey,
                   CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_e2,
                   row_number() OVER (PARTITION BY c_nationkey
                     ORDER BY CAST(ROUND(c_acctbal * 100) AS BIGINT) DESC, c_custkey) AS rn
            FROM customer)
      WHERE rn <= 5 ORDER BY c_nationkey, rank""",
    // equi-width histogram replay: slot = 1 + floor(x/width) (0/nbins+1 for
    // outliers, matching hist_counts layout); quantiles re-derived from the
    // bin counts with the same rank-walk interpolation arithmetic
    "q_histogram" -> """
      WITH v AS (
        SELECT event_type, CAST(CAST(ROUND(value * 100) AS BIGINT) AS DOUBLE) AS x
        FROM events),
      b AS (
        SELECT event_type,
               CASE WHEN x < 0.0 THEN 0 WHEN x >= 50000.0 THEN 51
                    ELSE 1 + LEAST(49, CAST(FLOOR(x / 1000.0) AS INT)) END AS slot
        FROM v),
      c AS (SELECT event_type, slot, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
      n AS (SELECT event_type, SUM(cnt) AS n FROM c WHERE slot BETWEEN 1 AND 50 GROUP BY 1),
      w AS (
        SELECT event_type, slot, cnt,
               SUM(cnt) OVER (PARTITION BY event_type ORDER BY slot) AS cum
        FROM c WHERE slot BETWEEN 1 AND 50),
      land AS (
        SELECT w.event_type, q.qv, MIN(w.slot) AS slot
        FROM w JOIN n ON n.event_type = w.event_type,
             (SELECT UNNEST([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE)]) AS qv) q
        WHERE w.cum >= q.qv * n.n
        GROUP BY w.event_type, q.qv),
      est AS (
        SELECT l.event_type, l.qv,
               0.0 + 1000.0 * ((l.slot - 1) + ((l.qv * n.n) - (w.cum - w.cnt)) / w.cnt) AS est
        FROM land l
        JOIN w ON w.event_type = l.event_type AND w.slot = l.slot
        JOIN n ON n.event_type = l.event_type),
      qp AS (
        SELECT event_type,
               CAST(ROUND(MAX(CASE WHEN qv = 0.5 THEN est END) * 1000000) AS BIGINT) AS med_e6,
               CAST(ROUND(MAX(CASE WHEN qv = 0.9 THEN est END) * 1000000) AS BIGINT) AS p90_e6
        FROM est GROUP BY event_type)
      SELECT c.event_type, CAST(c.slot AS INT) AS slot, CAST(c.cnt AS BIGINT) AS cnt,
             qp.med_e6, qp.p90_e6
      FROM c JOIN qp ON qp.event_type = c.event_type
      ORDER BY c.event_type, slot""",
    // Morton interleave rebuilt from shift/mask arithmetic — generated from
    // the same (bits=8, dims=2) the Spark expression folds
    "q_zorder" -> {
      val terms = (for (j <- 0 until 8; (c, i) <- Seq("x" -> 0, "y" -> 1))
        yield s"(((${c} >> ${j}) & 1) << ${2 * j + i})").mkString(" + ")
      s"""
      WITH v AS (SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y FROM lineitem),
      z AS (SELECT CAST($terms AS BIGINT) AS zkey FROM v)
      SELECT CAST(zkey >> 10 AS BIGINT) AS zbucket,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(zkey) AS BIGINT) AS zsum,
             CAST(MIN(zkey) AS BIGINT) AS zmin,
             CAST(MAX(zkey) AS BIGINT) AS zmax
      FROM z GROUP BY zbucket ORDER BY zbucket"""
    },
    // no false negatives + real join after the prune => row-identical to
    // the plain selective join
    "q_filter_join" -> """
      SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_e2,
             CAST(SUM(l_orderkey % 1000003) % 1000003 AS BIGINT) AS key_checksum
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '1-URGENT'""",
    // the salted join must be row-identical to the plain equi-join
    // brute-force replay of the segment-filtered join over the name
    // dictionary: every unordered pair within levenshtein distance 1
    "q_editdist_join" -> """
      WITH s AS (
        SELECT CAST(MIN(p_partkey) AS BIGINT) AS id, p_name AS nm
        FROM part GROUP BY p_name)
      SELECT a.id AS id_a, b.id AS id_b,
             CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
      FROM s a JOIN s b ON a.id < b.id
      WHERE levenshtein(a.nm, b.nm) <= 1
      ORDER BY id_a, id_b""",
    // deletion-neighborhood gate replay: per-distance rollup of the
    // brute-force pair set over customer names
    "q_editdist_names" -> """
      WITH s AS (
        SELECT CAST(MIN(c_custkey) AS BIGINT) AS id, c_name AS nm
        FROM customer GROUP BY c_name),
      p AS (
        SELECT a.id AS ia, b.id AS ib, levenshtein(a.nm, b.nm) AS d
        FROM s a JOIN s b ON a.id < b.id
        WHERE levenshtein(a.nm, b.nm) <= 1)
      SELECT CAST(d AS BIGINT) AS dist, CAST(COUNT(*) AS BIGINT) AS pairs,
             CAST(SUM(ia + ib) AS BIGINT) AS id_sum,
             CAST(SUM((ia * ib) % 1000003) % 1000003 AS BIGINT) AS pair_checksum
      FROM p GROUP BY d ORDER BY dist""",
    // sliding-window replay: the 4 windows containing ts start at
    // 6h*floor(ts/6h) - o*6h for o in 0..3 (all satisfy ts < start+24h)
    "q_events_sliding" -> """
      WITH e AS (
        SELECT epoch_us(ts) AS us, event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS v
        FROM events),
      x AS (
        SELECT (us // 21600000000) * 21600000000 - t.o * 21600000000 AS w_us,
               event_type, v
        FROM e, LATERAL (SELECT unnest(range(4)) AS o) t)
      SELECT w_us, event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(v) AS BIGINT) AS val_e2
      FROM x GROUP BY 1, 2 ORDER BY w_us, event_type""",
    // skipping-index replay: the pruned read is row-identical to the
    // plain key-set semi-join over the full table
    "q_skipping_index" -> """
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(l_orderkey) AS BIGINT) AS key_sum,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_e2
      FROM lineitem
      WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 97 = 0)""",
    // bucketed-table join: the zero-Exchange layout must return exactly
    // the plain join's answer
    "q_bucketed_join" -> """
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_e2,
             CAST(SUM(l_orderkey % 1000003) % 1000003 AS BIGINT) AS key_checksum
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // filter catalog: members always probe true (no false negatives), and
    // each row probes its own group's filter => exact per-nation counts
    "q_filter_store" -> """
      SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(c_custkey) AS BIGINT) AS key_sum
      FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""",
    "q_salted_join" -> """
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_e2,
             CAST(SUM(l_orderkey % 1000003) % 1000003 AS BIGINT) AS key_checksum
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_duckdb_hash" -> """
      SELECT o_orderkey, CAST(hash(o_orderkey) AS VARCHAR) AS h
      FROM orders ORDER BY o_orderkey""",
    // the Spark side hashes a DECIMAL(20,0) (how Spark reads parquet
    // UINT64); DuckDB hashes the same keys as native UBIGINT — bit equality
    // proves the u64 interop path
    "q_duckdb_hash_u64" -> """
      SELECT o_orderkey,
             CAST(hash(o_orderkey::UBIGINT + 9223372036854775000::UBIGINT) AS VARCHAR) AS h
      FROM orders ORDER BY o_orderkey""",
    // certified golden vectors from the reference's hash_values_v1.5.1.json
    "q_duckdb_hash_vectors" -> HashVectors.oracleSqlText,
    "q_bloom_semijoin" -> """
      SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""",
    "q_bloom_orders_lineitem" -> "SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem",
    "q_bloomfilter_classic" -> "SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM orders",
    // golden FP counts from reference test/sql/bitfilters.test:45-53,110-117
    "q_quotient_golden" -> """
      SELECT CAST(filter_rem AS INT) AS filter_rem, CAST(fp AS BIGINT) AS fp
      FROM (VALUES (0, 2264), (1, 2273)) t(filter_rem, fp) ORDER BY filter_rem""",
    "q_quotient_merge" -> "SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM customer",
    "q_fuse_golden" -> """
      SELECT CAST(filter_rem AS INT) AS filter_rem, CAST(fp16 AS BIGINT) AS fp16, CAST(fp8 AS BIGINT) AS fp8
      FROM (VALUES (0, 1, 171), (1, 1, 199)) t(filter_rem, fp16, fp8) ORDER BY filter_rem""",
    "q_fuse_semijoin" -> "SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem",
    "q_xor_members" -> """
      SELECT CAST(filter_rem AS INT) AS filter_rem, CAST(m16 AS BIGINT) AS m16, CAST(m8 AS BIGINT) AS m8
      FROM (VALUES (0, 50000, 50000), (1, 50000, 50000)) t(filter_rem, m16, m8) ORDER BY filter_rem""",
    "q_xor_semijoin" -> "SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem",
    // min/max pass + histogram interpolation replay: bin = LEAST(nbins-1,
    // FLOOR((x-lo)/width)), rank q*n walked through the occupied-bin
    // cumulative counts, value = lo + width*(b + (rank-cum)/c); the max
    // values (x >= hi) are the virtual bin at hi
    "q_quantiles_auto" -> """
      WITH v AS (SELECT CAST(value AS DOUBLE) AS x FROM events WHERE value IS NOT NULL),
      mm AS (SELECT MIN(x) AS lo, MAX(x) AS hi FROM v),
      w AS (SELECT lo, hi, (hi - lo) / 400 AS width FROM mm),
      binned AS (SELECT CASE WHEN x >= w.hi THEN 400
                        ELSE LEAST(399, CAST(FLOOR((x - w.lo) / w.width) AS INT)) END AS b
                 FROM v, w),
      counts AS (SELECT b, COUNT(*) AS c FROM binned GROUP BY b),
      n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM counts),
      realb AS (SELECT b, c, SUM(c) OVER (ORDER BY b) AS ca,
                       SUM(c) OVER (ORDER BY b) - c AS cum
                FROM counts WHERE b < 400),
      qs AS (SELECT unnest([0.0, 0.5, 0.9, 0.99, 1.0]) AS q),
      ranks AS (SELECT q, q * n.n AS rank FROM qs, n),
      pick AS (SELECT ranks.q, ranks.rank, MIN(realb.b) AS b
               FROM ranks LEFT JOIN realb ON CAST(realb.ca AS DOUBLE) >= ranks.rank
               GROUP BY ranks.q, ranks.rank),
      vals AS (SELECT pick.q,
                 CASE WHEN pick.b IS NULL THEN w.hi
                      ELSE w.lo + w.width * (realb.b +
                        GREATEST(0.0, (pick.rank - realb.cum) / realb.c)) END AS value
               FROM pick CROSS JOIN w LEFT JOIN realb ON realb.b = pick.b)
      SELECT CAST(round(q * 1e6) AS BIGINT) AS q_ppm,
             CAST(round(value * 1e6) AS BIGINT) AS value_e6
      FROM vals ORDER BY q_ppm""",
    "q_corpus_report" -> """
      WITH a AS (SELECT
        CAST(COUNT(*) AS BIGINT) AS docs,
        CAST(SUM(length(text)) AS BIGINT) AS chars,
        CAST(SUM(len(list_filter(string_split_regex(lower(text), '\s+'),
          x -> x <> ''))) AS BIGINT) AS tokens,
        CAST(COUNT(DISTINCT source) AS BIGINT) AS sources,
        CAST(COUNT(DISTINCT lang) AS BIGINT) AS languages,
        CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS distinct_texts,
        CAST(SUM(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS empty_docs,
        CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_docs
        FROM documents)
      SELECT 'docs' AS metric, docs AS value FROM a
      UNION ALL SELECT 'chars', chars FROM a
      UNION ALL SELECT 'tokens', tokens FROM a
      UNION ALL SELECT 'sources', sources FROM a
      UNION ALL SELECT 'languages', languages FROM a
      UNION ALL SELECT 'distinct_texts', distinct_texts FROM a
      UNION ALL SELECT 'empty_docs', empty_docs FROM a
      UNION ALL SELECT 'null_docs', null_docs FROM a
      UNION ALL SELECT 'duplicate_docs', docs - null_docs - distinct_texts FROM a
      ORDER BY metric""",
    "q_dense_ids" -> """
      SELECT doc_id, source,
             CAST(row_number() OVER (ORDER BY source, doc_id) - 1 AS BIGINT) AS seq_id
      FROM documents ORDER BY seq_id""",
    "q_csv_ingest" -> """
      WITH g AS (SELECT CAST(COUNT(*) AS BIGINT) AS good_rows,
                        CAST(SUM(doc_id) AS BIGINT) AS id_sum,
                        CAST(SUM(n_chars) AS BIGINT) AS chars_sum
                 FROM documents WHERE doc_id % 13 <> 0),
      b AS (SELECT CAST(COUNT(*) AS BIGINT) AS quarantined,
                   CAST(SUM(length(CAST(doc_id AS VARCHAR)) + 1 + length(source)) AS BIGINT)
                     AS quarantine_chars
            FROM documents WHERE doc_id % 13 = 0)
      SELECT good_rows, id_sum, chars_sum, quarantined, quarantine_chars FROM g, b""",
    // the same hand-built lines; good rows are the %17!=0 docs, the
    // quarantine is the truncated lines (raw text lands in the corrupt
    // column, so its length is the truncated length)
    "q_jsonl_ingest" -> """
      WITH l AS (SELECT doc_id, source,
        concat('{"doc_id": ', CAST(doc_id AS VARCHAR), ', "source": "', source,
               '", "n_chars": ', CAST(n_chars AS VARCHAR), '}') AS line
        FROM documents),
      g AS (SELECT CAST(COUNT(*) AS BIGINT) AS good_rows,
                   CAST(SUM(doc_id) AS BIGINT) AS id_sum,
                   CAST(COUNT(DISTINCT source) AS BIGINT) AS sources
            FROM l WHERE doc_id % 17 <> 0),
      b AS (SELECT CAST(COUNT(*) AS BIGINT) AS quarantined,
                   CAST(SUM(length(line) - 5) AS BIGINT) AS quarantine_chars
            FROM l WHERE doc_id % 17 = 0)
      SELECT good_rows, id_sum, sources, quarantined, quarantine_chars FROM g, b""",
    // expected-output construction: the oracle knows which injected
    // payload each doc got and what the strict scrub must do to it (the
    // Luhn decision itself is pinned by the fixed valid/invalid pair)
    "q_redact_strict" -> """
      SELECT doc_id, substring(md5(concat(text,
        CASE CAST(doc_id % 5 AS INT)
          WHEN 0 THEN ' card <CARD> end'
          WHEN 1 THEN ' bogus 4532015112830367 end'
          WHEN 2 THEN ' call <PHONE> end'
          WHEN 3 THEN ' dial <PHONE> end'
          ELSE ' mail <EMAIL> end'
        END)), 1, 16) AS redacted_md5
      FROM documents ORDER BY doc_id""",
    "q_readability" -> """
      WITH t AS (SELECT doc_id, text,
        list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        FROM documents),
      m AS (SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS words,
        GREATEST(1, CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS sentences,
        CAST(list_sum(list_prepend(CAST(0 AS BIGINT), list_transform(toks, x ->
          GREATEST(1, CAST(len(regexp_extract_all(x, '[aeiouy]+')) AS BIGINT))))) AS BIGINT)
          AS syllables
        FROM t)
      SELECT doc_id, words, sentences, syllables,
             CASE WHEN words = 0 THEN NULL
                  ELSE CAST(round((206.835
                    - 1.015 * CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE)
                    - 84.6 * CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE))
                    * 1000.0) AS BIGINT) END AS flesch_e3
      FROM m ORDER BY doc_id""",
    // identical page synthesis, then the same regex pipeline with RE2 +
    // the 'g' flag; entity decodes are plain replaces with &amp; LAST so
    // double-escapes stay literal in both engines
    "q_html_extract" -> """
      WITH pages AS (SELECT doc_id,
        concat('<html><head><title>', source, '</title>',
               '<style type="text/css">body{margin:0}</style>',
               '<script>if(1<2){track()}</script></head>',
               '<body><h1>Doc ', CAST(doc_id AS VARCHAR), '</h1><p>', text,
               '</p><ul><li>Tag &amp;amp; entity &lt;test&gt;</li></ul>',
               '<br/>&nbsp;end</body></html>') AS html
        FROM documents),
      s1 AS (SELECT doc_id, regexp_replace(html,
               '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g') AS t FROM pages),
      s2 AS (SELECT doc_id, regexp_replace(t,
               '(?i)</(p|div|li|h[1-6]|tr|table|ul|ol|blockquote)>|<br[^>]*>',
               chr(10), 'g') AS t FROM s1),
      s3 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s2),
      s4 AS (SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(regexp_replace(regexp_replace(t,
                 '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
                 '&#39;', chr(39), 'g'), '&apos;', chr(39), 'g'),
                 '&nbsp;', ' ', 'g'), '&amp;', '&', 'g') AS t FROM s3),
      s5 AS (SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g')) AS t FROM s4)
      SELECT doc_id, CAST(length(t) AS BIGINT) AS chars,
             substring(md5(t), 1, 16) AS extract_md5
      FROM s5 ORDER BY doc_id""",
    // full canonicalization replay: same synthesized strings, then the
    // documented contract step by step (scheme/host lower, fragment off,
    // default-port strip, tracking filter + byte sort, path normalize)
    "q_url_canon" -> """
      WITH u AS (SELECT concat(
               CASE WHEN doc_id % 3 = 0 THEN 'HTTP://' ELSE 'https://' END,
               CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END,
               'Site', CAST(doc_id % 50 AS VARCHAR), '.',
               CASE WHEN doc_id % 5 = 0 THEN 'co.uk' ELSE 'com' END,
               CASE WHEN doc_id % 7 = 0 THEN ':443'
                    WHEN doc_id % 7 = 1 THEN ':8080' ELSE '' END,
               '/Page/', CAST(doc_id % 100 AS VARCHAR),
               CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END,
               CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x&z=1&a=2'
                    WHEN doc_id % 3 = 1 THEN '?a=2&z=1' ELSE '' END,
               CASE WHEN doc_id % 11 = 0 THEN '#frag' ELSE '' END) AS url
             FROM documents),
      p AS (SELECT url, lower(split_part(url, '://', 1)) AS scheme,
                   split_part(split_part(url, '://', 2), '#', 1) AS nofrag
            FROM u),
      q AS (SELECT *, split_part(nofrag, '?', 1) AS bq,
                   CASE WHEN contains(nofrag, '?')
                        THEN substr(nofrag, length(split_part(nofrag, '?', 1)) + 2)
                        ELSE '' END AS query
            FROM p),
      h AS (SELECT *, split_part(bq, '/', 1) AS hostport FROM q),
      h1 AS (SELECT *, string_split(hostport, '@')[-1] AS hp FROM h),
      h2 AS (SELECT *,
                    CASE WHEN starts_with(hp, '[')
                         THEN lower(split_part(hp, ']', 1) || ']')
                         ELSE lower(split_part(hp, ':', 1)) END AS host,
                    CASE WHEN starts_with(hp, '[')
                         THEN CASE WHEN contains(hp, ']:')
                                   THEN string_split(hp, ']:')[-1] ELSE '' END
                         ELSE CASE WHEN contains(hp, ':')
                                   THEN split_part(hp, ':', 2) ELSE '' END END AS port,
                    substr(bq, length(hostport) + 1) AS rawpath
             FROM h1),
      h3 AS (SELECT *, CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS p0 FROM h2),
      h4 AS (SELECT *,
                    CASE WHEN p0 <> '/' AND p0 LIKE '%/'
                         THEN substr(p0, 1, length(p0) - 1) ELSE p0 END AS path,
                    array_to_string(list_sort(list_filter(string_split(query, '&'),
                      x -> x <> '' AND NOT (starts_with(x, 'utm_') OR starts_with(x, 'fbclid=')
                        OR starts_with(x, 'gclid=') OR starts_with(x, 'msclkid=')
                        OR starts_with(x, 'mc_eid=') OR starts_with(x, 'igshid=')
                        OR starts_with(x, 'ref=')))), '&') AS qs
             FROM h3),
      canon AS (SELECT host,
                  scheme || '://' || host ||
                  CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
                         OR (scheme = 'https' AND port = '443'))
                       THEN ':' || port ELSE '' END ||
                  path ||
                  CASE WHEN qs <> '' THEN '?' || qs ELSE '' END AS curl
                FROM h4),
      dom AS (SELECT curl,
                 CASE WHEN len(string_split(host, '.')) <= 1 THEN host
                      WHEN starts_with(host, '[') THEN host
                      WHEN regexp_matches(host, '^[0-9.]+$') THEN host
                      WHEN len(string_split(host, '.')) >= 3 AND
                           (string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1])
                             IN ('co.uk','org.uk','ac.uk','gov.uk','com.au','net.au','org.au',
                                 'co.jp','ne.jp','or.jp','com.br','com.cn','com.mx','co.in',
                                 'co.nz','co.za','com.sg','com.tr')
                      THEN string_split(host, '.')[-3] || '.' || string_split(host, '.')[-2]
                             || '.' || string_split(host, '.')[-1]
                      ELSE string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
                 END AS domain
              FROM canon)
      SELECT domain, CAST(COUNT(*) AS BIGINT) AS pages,
             CAST(COUNT(DISTINCT curl) AS BIGINT) AS distinct_urls,
             CAST(COUNT(*) - COUNT(DISTINCT curl) AS BIGINT) AS url_duplicates
      FROM dom GROUP BY domain ORDER BY domain""",
    "q_dedup_exact" -> """
      SELECT CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS distinct_docs,
             CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS duplicate_docs
      FROM documents""",
    "q_text_stats" -> """
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(SUM(length(text)) AS BIGINT) AS total_chars,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_words
      FROM documents GROUP BY lang ORDER BY lang""",
    "q_token_count" -> """
      SELECT CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS tokens,
             CAST(COUNT(*) AS BIGINT) AS docs
      FROM documents""",
    "q_lang_id_ngram" -> {
      def score(lang: String) = graft.operators.TextAnalysis.trigramProfiles(lang)
        .map(g => s"(CASE WHEN contains(lower(text), '$g') THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""
      WITH h AS (
        SELECT ${score("de")} AS de, ${score("en")} AS en,
               ${score("es")} AS es, ${score("fr")} AS fr
        FROM documents),
      l AS (
        SELECT CASE WHEN greatest(de, en, es, fr) = 0 THEN 'und'
                    WHEN fr = greatest(de, en, es, fr) THEN 'fr'
                    WHEN es = greatest(de, en, es, fr) THEN 'es'
                    WHEN en = greatest(de, en, es, fr) THEN 'en'
                    ELSE 'de' END AS lang_detected
        FROM h)
      SELECT lang_detected, CAST(COUNT(*) AS BIGINT) AS docs
      FROM l GROUP BY lang_detected ORDER BY lang_detected"""
    },
    // mirrors TextAnalysis.withQualityMetrics op-for-op (note the 'g' flag:
    // DuckDB regexp_replace is first-match-only by default, Spark's is global)
    "q_quality_score" -> """
      WITH m AS (
        SELECT CAST(length(text) AS DOUBLE) AS chars,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS words,
               CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) AS punct,
               CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                 x -> list_contains(['the','a','an','and','or','of','in','to','is','it','that','for','on','with','as'], x))) AS DOUBLE) AS sw_hits,
               CAST(len(string_split_regex(lower(text), '\s+')) AS DOUBLE) AS toks
        FROM documents),
      p AS (
        SELECT words, punct / greatest(chars, 1.0) AS punct_ratio,
               chars / greatest(words, 1.0) AS mean_word_len,
               sw_hits / greatest(toks, 1.0) AS sw_ratio
        FROM m)
      SELECT CAST(count(*) AS BIGINT) AS docs,
             CAST(sum(CAST(round(punct_ratio * 1e6) AS BIGINT)) AS BIGINT) AS punct_e6,
             CAST(sum(CAST(round(mean_word_len * 1e6) AS BIGINT)) AS BIGINT) AS mwl_e6,
             CAST(sum(CAST(round(least(1.0, greatest(0.0,
                 0.4 * least(words / 100.0, 1.0)
               + 0.3 * (1.0 - least(punct_ratio * 5.0, 1.0))
               + 0.3 * least(sw_ratio * 4.0, 1.0))) * 1e6) AS BIGINT)) AS BIGINT) AS quality_e6
      FROM p""",
    // within-doc line strip replay: explode lines with their index, keep
    // the first row of each (doc, normalized-key) by line order, rebuild
    // the document in order, checksum with the engine-portable md5 prefix
    "q_doc_line_dedup" -> """
      WITH l AS (
        SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM documents),
      x AS (
        SELECT doc_id, t.i, lines[t.i + 1] AS line,
               regexp_replace(lower(trim(lines[t.i + 1])), '\s+', ' ', 'g') AS key
        FROM l, LATERAL (SELECT unnest(range(len(lines))) AS i) t),
      f AS (
        SELECT doc_id, i, line,
               row_number() OVER (PARTITION BY doc_id, key ORDER BY i) AS rn
        FROM x),
      d AS (
        SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS txt,
               COUNT(*) AS kept
        FROM f WHERE rn = 1 GROUP BY doc_id)
      SELECT CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(SUM(CASE WHEN d.txt <> l.text THEN 1 ELSE 0 END) AS BIGINT) AS changed,
             CAST(SUM(len(l.lines)) AS BIGINT) AS lines_before,
             CAST(SUM(d.kept) AS BIGINT) AS lines_after,
             CAST(SUM(CAST('0x' || substr(md5(d.txt), 1, 15) AS BIGINT) % 1000000007) AS BIGINT) AS fp_sum
      FROM d JOIN l ON l.doc_id = d.doc_id""",
    // streaming windowed-count replay: the emitted set is the batch daily
    // aggregate restricted to windows finalized by the final watermark —
    // end_us <= (floor(max_us/1000) - 3_600_000) * 1000 (Spark tracks the
    // watermark in floored ms; eviction fires on end <= wm)
    "q_stream_window" -> """
      WITH m AS (
        SELECT (epoch_us(MAX(ts)) // 1000 - 3600000) * 1000 AS wm FROM events)
      SELECT epoch_us(date_trunc('day', ts)) AS w_us, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events, m
      GROUP BY 1, 2, wm
      HAVING w_us + 86400000000 <= wm
      ORDER BY w_us, event_type""",
    // pseudonymize replay: identical payload synthesis, the same
    // longest-first (lpad key) literal-replace fold, token arithmetic via
    // DuckDB's own md5/list_reduce — the whole transform replayed
    "q_pseudonymize" -> s"""
      WITH d AS (SELECT doc_id, source,
          text || ' contact admin' || CAST(doc_id % 5 AS VARCHAR) || '@example.com' ||
          CASE WHEN doc_id % 11 = 0 THEN ' a@b.co xa@b.co' ELSE '' END AS t
        FROM documents),
      f AS (SELECT doc_id, source, t,
          list_distinct(regexp_extract_all(t,
            '${graft.operators.TextAnalysis.EmailPattern}')) AS found
        FROM d),
      p AS (SELECT doc_id, source,
          CASE WHEN len(found) <= 1000 THEN
            list_reduce(
              list_prepend(t,
                list_transform(
                  list_sort(list_transform(found,
                    e -> lpad(CAST(9999 - length(e) AS VARCHAR), 4, '0') || e)),
                  x -> substr(x, 5))),
              (acc, e) -> replace(acc, e,
                'user_' || substr(md5(e), 1, 8) || '@redacted.invalid'))
          ELSE regexp_replace(t, '${graft.operators.TextAnalysis.EmailPattern}',
            'user_overflow@redacted.invalid', 'g') END AS t2
        FROM f)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(SUM(length(t2)) AS BIGINT) AS chars,
             CAST(COUNT(DISTINCT md5(t2)) AS BIGINT) AS distinct_texts,
             CAST(SUM((length(t2) - length(replace(t2, '@redacted.invalid', ''))) // 17)
               AS BIGINT) AS pseudo_hits
      FROM p GROUP BY source ORDER BY source""",
    // exact-size sample replay: same md5 order, same tie-break, LIMIT n
    "q_sample_take" -> """
      SELECT doc_id, source FROM (
        SELECT doc_id, source FROM documents
        ORDER BY md5(text), doc_id LIMIT 500) t
      ORDER BY doc_id""",
    // token-budget replay: window cumsum in the same (toks DESC, doc_id)
    // order, prefix kept while cum <= budget
    "q_token_budget" -> """
      WITH t AS (SELECT doc_id, source,
          CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
            x -> x <> '')) AS BIGINT) AS toks
        FROM documents),
      c AS (SELECT doc_id, source, toks,
          SUM(toks) OVER (PARTITION BY source ORDER BY toks DESC, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum FROM t)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS kept_docs,
             CAST(SUM(toks) AS BIGINT) AS kept_tokens
      FROM c WHERE cum <= 2000 GROUP BY source ORDER BY source""",
    // mojibake replay: identical payload synthesis via chr() code points,
    // hits via the same replace/length arithmetic — the artifact list and
    // the SQL are generated from ONE source (TextAnalysis.MojibakeArtifacts)
    "q_mojibake" -> {
      def chrs(s: String) = s.map(c => s"chr(${c.toInt})").mkString(" || ")
      val arts = graft.operators.TextAnalysis.MojibakeArtifacts
      val hits = arts.map(s =>
        s"(length(t2) - length(replace(t2, ${chrs(s)}, ''))) // ${s.length}")
        .mkString("(", " + ", ")")
      val payload = s"' caf' || ${chrs("\u00c3\u00a9")} || ' don' || " +
        s"${chrs("\u00e2\u20ac\u2122")} || 't' || ${chrs("\u00c2\u00a0")} || 'end'"
      s"""
      WITH d AS (SELECT doc_id, source,
          CASE WHEN doc_id % 7 = 0 THEN text || $payload ELSE text END AS t2
        FROM documents),
      r AS (SELECT doc_id, source, $hits AS h, length(t2) AS chars FROM d),
      p AS (SELECT doc_id, source, h,
                   CASE WHEN chars = 0 THEN 0 ELSE h * 1000000 // chars END AS ppm
            FROM r)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(SUM(CASE WHEN h > 0 THEN 1 ELSE 0 END) AS BIGINT) AS damaged_docs,
             CAST(SUM(h) AS BIGINT) AS hits,
             CAST(MAX(ppm) AS BIGINT) AS max_ppm
      FROM p GROUP BY source ORDER BY source"""
    },
    // streaming histogram replay: q_histogram's slot arithmetic per
    // window closed by the ms-floored watermark cutoff, zero bins absent
    "q_stream_histogram" -> """
      WITH m AS (
        SELECT (epoch_us(MAX(ts)) // 1000 - 3600000) * 1000 AS wm FROM events),
      v AS (SELECT epoch_us(date_trunc('day', ts)) AS w_us,
                   CAST(CAST(ROUND(value * 100) AS BIGINT) AS DOUBLE) AS x
            FROM events),
      b AS (SELECT w_us,
                   CASE WHEN x < 0.0 THEN 0 WHEN x >= 50000.0 THEN 51
                        ELSE 1 + LEAST(49, CAST(FLOOR(x / 1000.0) AS INT)) END AS slot
            FROM v)
      SELECT w_us, CAST(slot AS INT) AS slot, CAST(COUNT(*) AS BIGINT) AS n
      FROM b, m WHERE w_us + 86400000000 <= wm
      GROUP BY w_us, slot ORDER BY w_us, slot""",
    // streaming windowed top-k replay: per-(closed window, user) counts
    // ranked n DESC, user ASC — the topk_agg ordering contract — under
    // the same ms-floored watermark cutoff as q_stream_window
    "q_stream_topk" -> """
      WITH m AS (
        SELECT (epoch_us(MAX(ts)) // 1000 - 3600000) * 1000 AS wm FROM events),
      c AS (SELECT epoch_us(date_trunc('day', ts)) AS w_us, user_id,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2),
      r AS (SELECT w_us, user_id, n,
                   row_number() OVER (PARTITION BY w_us ORDER BY n DESC, user_id) AS rk
            FROM c)
      SELECT w_us, CAST(rk AS INT) AS rank, CAST(user_id AS BIGINT) AS user_id, n
      FROM r, m WHERE rk <= 5 AND w_us + 86400000000 <= wm
      ORDER BY w_us, rank""",
    // streaming sessionization replay: gap sessions (break on diff > gap —
    // events exactly gap apart merge, same as session_window), session end
    // = last event + gap, kept iff end <= final ms-floored watermark
    "q_stream_sessions" -> """
      WITH m AS (
        SELECT (epoch_us(MAX(ts)) // 1000 - 3600000) * 1000 AS wm FROM events),
      x AS (
        SELECT user_id, ts, event_id, epoch_us(ts) AS us,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess AS (
        SELECT user_id, us,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM x),
      g AS (
        SELECT user_id, sid, COUNT(*) AS n, MIN(us) AS s_us,
               MAX(us) + 1800000000 AS e_us
        FROM sess GROUP BY user_id, sid),
      f AS (SELECT * FROM g, m WHERE e_us <= wm)
      SELECT CAST(COUNT(*) AS BIGINT) AS sessions,
             CAST(SUM(n) AS BIGINT) AS events,
             CAST(SUM(e_us - s_us) AS BIGINT) AS dur_us,
             CAST(MAX(n) AS BIGINT) AS max_events
      FROM f""",
    // streaming exact dedup replay: the emitted key set of dropDuplicates
    // after a full drain is exactly the distinct key set
    "q_stream_dedup" -> """
      SELECT source, CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique
      FROM documents GROUP BY source ORDER BY source""",
    // one in-order drain: the watermark only advances at batch end, so no
    // key expires mid-drain and the emitted set is the batch distinct
    "q_stream_dedup_wm" -> """
      SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys
      FROM events GROUP BY event_type ORDER BY event_type""",
    // streaming per-day bloom maintenance replay: counts are exact
    // (finalized windows only), misses is exactly 0 by the filters'
    // no-false-negative contract over the probed member keys
    // stream-stream interval join replay: the plain batch interval join
    // (inner-join emission has no watermark cutoff under one drain)
    "q_stream_join" -> """
      SELECT CAST(COUNT(*) AS BIGINT) AS pairs,
             CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS users,
             CAST(SUM(epoch_us(b.ts) - epoch_us(a.ts)) AS BIGINT) AS dt_sum
      FROM events a JOIN events b
        ON a.user_id = b.user_id
       AND a.event_type = 'view' AND b.event_type = 'click'
       AND b.ts >= a.ts
       AND epoch_us(b.ts) <= epoch_us(a.ts) + 1800000000""",
    // left-outer replay: inner pairs (no cutoff) + anti-join left events
    // whose window expired strictly before the final GLOBAL watermark —
    // the MIN of the two per-side watermark nodes (each ms-floored over
    // its own filtered stream), NOT the overall event-time max
    "q_stream_outer_join" -> """
      WITH wm AS (
        SELECT (LEAST(
            (SELECT epoch_us(MAX(ts)) // 1000 FROM events WHERE event_type = 'view'),
            (SELECT epoch_us(MAX(ts)) // 1000 FROM events WHERE event_type = 'click'))
          - 3600000) * 1000 AS w),
      l AS (SELECT user_id, epoch_us(ts) AS lus FROM events WHERE event_type = 'view'),
      r AS (SELECT user_id, epoch_us(ts) AS rus FROM events WHERE event_type = 'click'),
      m AS (SELECT l.user_id, l.lus, r.rus FROM l JOIN r
              ON l.user_id = r.user_id
             AND r.rus >= l.lus AND r.rus <= l.lus + 1800000000),
      u AS (SELECT l.user_id, l.lus FROM l, wm
            WHERE NOT EXISTS (SELECT 1 FROM r WHERE r.user_id = l.user_id
                    AND r.rus >= l.lus AND r.rus <= l.lus + 1800000000)
              AND l.lus + 1800000000 < wm.w)
      SELECT CAST((SELECT COUNT(*) FROM m) AS BIGINT) AS pairs,
             CAST((SELECT COUNT(*) FROM u) AS BIGINT) AS expired_unmatched,
             CAST((SELECT COUNT(DISTINCT user_id) FROM (
               SELECT user_id FROM m UNION ALL SELECT user_id FROM u)) AS BIGINT) AS users,
             CAST((SELECT SUM(rus - lus) FROM m) AS BIGINT) AS dt_sum""",
    // stream-static enrichment replay: broadcast-dim join + the same
    // ms-floored watermark cutoff as q_stream_window
    "q_stream_enrich" -> """
      WITH m AS (
        SELECT (epoch_us(MAX(ts)) // 1000 - 3600000) * 1000 AS wm FROM events)
      SELECT epoch_us(date_trunc('day', ts)) AS w_us,
             c.c_mktsegment AS segment,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_e2
      FROM events e JOIN customer c ON e.user_id = c.c_custkey, m
      GROUP BY 1, 2, wm
      HAVING w_us + 86400000000 <= wm
      ORDER BY w_us, segment""",
    "q_stream_filters" -> """
      WITH m AS (
        SELECT (epoch_us(MAX(ts)) // 1000 - 3600000) * 1000 AS wm FROM events),
      g AS (
        SELECT epoch_us(date_trunc('day', ts)) AS w_us,
               CAST(COUNT(*) AS BIGINT) AS events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS keys
        FROM events GROUP BY 1)
      SELECT w_us, events, keys, CAST(0 AS BIGINT) AS misses
      FROM g, m WHERE w_us + 86400000000 <= wm ORDER BY w_us""",
    // adaptive per-source trim replay: per-doc quality score (the
    // q_quality_score formula), 65-bin width-1/64 histogram slots,
    // cumulative-count interpolated quantile with the EXACT
    // lo + width*(slot + (rank-cum_before)/cnt) arithmetic of
    // HistogramSketch.quantile, then the >= threshold cut and rollup
    "q_adaptive_filter" -> """
      WITH m AS (
        SELECT source,
               CAST(length(text) AS DOUBLE) AS chars,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS words,
               CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) AS punct,
               CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                 x -> list_contains(['the','a','an','and','or','of','in','to','is','it','that','for','on','with','as'], x))) AS DOUBLE) AS sw_hits,
               CAST(len(string_split_regex(lower(text), '\s+')) AS DOUBLE) AS toks
        FROM documents),
      sc AS (
        SELECT source,
               least(1.0, greatest(0.0,
                   0.4 * least(words / 100.0, 1.0)
                 + 0.3 * (1.0 - least((punct / greatest(chars, 1.0)) * 5.0, 1.0))
                 + 0.3 * least((sw_hits / greatest(toks, 1.0)) * 4.0, 1.0))) AS q
        FROM m),
      slotted AS (
        SELECT source, q,
               CAST(LEAST(64, CAST(FLOOR(q / 0.015625) AS INT)) AS INT) AS slot
        FROM sc WHERE q >= 0.0 AND q < 1.015625),
      c AS (SELECT source, slot, COUNT(*) AS cnt FROM slotted GROUP BY 1, 2),
      n AS (SELECT source, SUM(cnt) AS n FROM c GROUP BY 1),
      w AS (
        SELECT source, slot, cnt,
               SUM(cnt) OVER (PARTITION BY source ORDER BY slot) AS cum
        FROM c),
      land AS (
        SELECT w.source, MIN(w.slot) AS slot
        FROM w JOIN n ON n.source = w.source
        WHERE w.cum >= 0.25 * n.n
        GROUP BY w.source),
      thr AS (
        SELECT l.source,
               0.0 + 0.015625 * (l.slot + GREATEST(0.0, ((0.25 * n.n) - (w.cum - w.cnt)) / w.cnt)) AS t
        FROM land l
        JOIN w ON w.source = l.source AND w.slot = l.slot
        JOIN n ON n.source = l.source)
      SELECT sc.source,
             CAST(COUNT(*) AS BIGINT) AS kept,
             CAST(SUM(CAST(round(sc.q * 1e6) AS BIGINT)) AS BIGINT) AS quality_e6,
             CAST(MIN(CAST(round(sc.q * 1e6) AS BIGINT)) AS BIGINT) AS min_q_e6
      FROM sc LEFT JOIN thr ON thr.source = sc.source
      WHERE sc.q >= COALESCE(thr.t, CAST('-infinity' AS DOUBLE))
      GROUP BY sc.source ORDER BY sc.source""",
    // full independent replication of the portable MinHash-LSH pipeline:
    // string shingles -> md5-prefix 60-bit hashes -> the SAME affine
    // permutations (constants embedded below from MinHashPerm.params) ->
    // 32x4 band slices -> candidate pairs -> signature-estimate filter —
    // PLUS a pair-by-pair verification of the staged artifact the
    // downstream gates consume: count/checksum columns come from the
    // independent replay, and the two outer-join columns count replay
    // pairs absent from the stage / stage rows absent from the replay
    // (a je_e6 mismatch fails the 3-column join key, so it counts on
    // both sides). All five must match the Spark side (whose
    // stage_missing/stage_extra are definitionally 0). One FULL OUTER
    // JOIN, not per-column scalar subqueries: DuckDB re-inlines a CTE
    // per reference, and five subqueries re-ran the whole minhash chain
    // enough times to blow the sf1cd ORACLE_TIMEOUT=300 (the join form
    // replays once: 130 s there).
    "q_minhash_near_dup" -> s"""
      WITH $minhashPairCtes,
      p AS (SELECT id1, id2, CAST(round(je * 1e6) AS BIGINT) AS je_e6
            FROM est WHERE je >= 0.2),
      st AS (SELECT id1, id2, je_e6
             FROM read_parquet('$minhashPairsStagePath/*.parquet'))
      SELECT CAST(COUNT(CASE WHEN pid1 IS NOT NULL THEN 1 END) AS BIGINT) AS pairs,
             CAST(SUM(pid1 * 3 + pid2) AS BIGINT) AS pair_sum,
             CAST(SUM(pje) AS BIGINT) AS est_e6_sum,
             CAST(COUNT(CASE WHEN pid1 IS NOT NULL AND sid1 IS NULL THEN 1 END) AS BIGINT) AS stage_missing,
             CAST(COUNT(CASE WHEN pid1 IS NULL THEN 1 END) AS BIGINT) AS stage_extra
      FROM (SELECT p.id1 AS pid1, p.id2 AS pid2, p.je_e6 AS pje, st.id1 AS sid1
            FROM p FULL OUTER JOIN st
              ON p.id1 = st.id1 AND p.id2 = st.id2 AND p.je_e6 = st.je_e6)""",
    // cross-slice restriction of the STAGED pair artifact: the full
    // pipeline's pair set intersected with (one side new, one side old)
    // is exactly the incremental operator's collision set, and the stage
    // is verified pair-by-pair by q_minhash_near_dup's full replay
    "q_incremental_dedup" -> s"""
      SELECT CAST(COUNT(*) AS BIGINT) AS pairs,
             CAST(SUM(CASE WHEN id1 % 10 = 0 THEN id1 * 3 + id2
                           ELSE id2 * 3 + id1 END) AS BIGINT) AS pair_sum,
             CAST(SUM(je_e6) AS BIGINT) AS est_e6_sum
      FROM read_parquet('$minhashPairsStagePath/*.parquet')
      WHERE (id1 % 10 = 0) <> (id2 % 10 = 0)""",
    // cross-mode recall gate: exact-duplicate pairs among shingle-eligible
    // docs MUST be recovered by both the fast (xxhash64/splitmix) and the
    // portable (md5/affine) pipelines — identical text => identical
    // signatures in any hash mode => collision in every band at estimate
    // 1.0. DuckDB independently counts the planted pairs; both missing
    // columns are provably zero for a correct pipeline.
    "q_minhash_fast" -> """
      WITH elig AS (
        SELECT doc_id, md5(text) AS ch FROM documents
        WHERE len(string_split_regex(lower(text), '\s+')) >= 3)
      SELECT CAST(COUNT(*) AS BIGINT) AS planted_pairs,
             CAST(0 AS BIGINT) AS fast_missing,
             CAST(0 AS BIGINT) AS portable_missing
      FROM elig a JOIN elig b ON a.ch = b.ch AND a.doc_id < b.doc_id""",
    // near-dup clustering = connected components over the exact-duplicate
    // pair graph, replayed with a recursive CTE (min reachable id per node)
    "q_dedup_clusters" -> s"""
      WITH RECURSIVE p AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2
        FROM documents a JOIN documents b
          ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id),
      e AS (SELECT id1 AS a, id2 AS b FROM p UNION SELECT id2, id1 FROM p),
      reach(src, dst) AS (
        SELECT a, a FROM e
        UNION
        SELECT r.src, e.b FROM reach r JOIN e ON e.a = r.dst),
      lab AS (SELECT src AS id, MIN(dst) AS label FROM reach GROUP BY src)
      SELECT CAST(COUNT(*) AS BIGINT) AS nodes,
             CAST(COUNT(DISTINCT label) AS BIGINT) AS clusters,
             CAST(SUM(label) AS BIGINT) AS label_sum
      FROM lab""",
    // keep-best resolution: 2-token-prefix pair graph -> components
    // (recursive min-reachable-id) -> per-cluster argmax on (n_chars,
    // smaller id); singletons keep trivially via the left join
    "q_keep_best" -> """
      WITH RECURSIVE k AS (
        SELECT doc_id, n_chars,
               md5(array_to_string(list_slice(
                 list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''),
                 1, 2), ' ')) AS pk
        FROM documents),
      p AS (SELECT a.doc_id AS id1, b.doc_id AS id2
            FROM k a JOIN k b ON a.pk = b.pk AND a.doc_id < b.doc_id),
      e AS (SELECT id1 AS a, id2 AS b FROM p UNION SELECT id2, id1 FROM p),
      reach(src, dst) AS (
        SELECT a, a FROM e
        UNION
        SELECT r.src, e.b FROM reach r JOIN e ON e.a = r.dst),
      lab AS (SELECT src AS id, MIN(dst) AS label FROM reach GROUP BY src),
      cl AS (SELECT k.doc_id, k.n_chars, COALESCE(lab.label, k.doc_id) AS cluster
             FROM k LEFT JOIN lab ON k.doc_id = lab.id),
      win AS (SELECT cluster, doc_id AS winner FROM (
        SELECT cluster, doc_id,
               row_number() OVER (PARTITION BY cluster
                 ORDER BY n_chars DESC, doc_id) AS rn
        FROM cl) WHERE rn = 1)
      SELECT CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(COUNT(DISTINCT cl.cluster) AS BIGINT) AS clusters,
             CAST(SUM(CASE WHEN cl.doc_id = w.winner THEN 1 ELSE 0 END) AS BIGINT) AS kept,
             CAST(SUM(CASE WHEN cl.doc_id = w.winner THEN cl.doc_id END) AS BIGINT) AS kept_id_sum,
             CAST(SUM(CASE WHEN cl.doc_id <> w.winner THEN cl.doc_id END) AS BIGINT) AS dropped_id_sum
      FROM cl JOIN win w ON cl.cluster = w.cluster""",
        // independent replication of the portable SimHash pipeline: md5-prefix
    // token hashes -> per-bit +1/-1 votes -> 64-bit fingerprint -> 4x16-bit
    // band blocking -> hamming<=3 verify
    "q_simhash_near_dup" -> """
      WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok FROM documents),
      th AS (
        SELECT doc_id, CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS h FROM tok),
      votes AS (
        SELECT doc_id, bit, SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM th, (SELECT unnest(generate_series(0, 63)) AS bit) GROUP BY doc_id, bit),
      fp AS (
        SELECT doc_id, CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS f
        FROM votes GROUP BY doc_id),
      banded AS (
        SELECT doc_id, f, bb, (f >> (bb * 16)) & 65535 AS bv
        FROM fp, (SELECT unnest(generate_series(0, 3)) AS bb)),
      cand AS (
        SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2, bit_count(xor(x.f, y.f)) AS hamming
        FROM banded x JOIN banded y
          ON x.bb = y.bb AND x.bv = y.bv AND x.doc_id < y.doc_id)
      SELECT CAST(COUNT(*) AS BIGINT) AS pairs FROM cand WHERE hamming <= 3""",
    // exact n-gram Jaccard on STRING shingles (the Spark side hashes
    // shingles to 64 bits first; at 500-doc scale collisions are absent, so
    // set-based counts agree exactly)
    "q_ngram_jaccard" -> """
      WITH toks AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
              FROM toks WHERE len(t) >= 3)),
      flt AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 1000),
      f AS (SELECT sh.doc_id, sh.s FROM sh JOIN flt USING (s)),
      sizes AS (SELECT doc_id, COUNT(*) AS sz FROM f GROUP BY doc_id),
      common AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
        FROM f a JOIN f b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      j AS (
        SELECT c * 1.0 / (s1.sz + s2.sz - c) AS jac
        FROM common JOIN sizes s1 ON common.id1 = s1.doc_id
                    JOIN sizes s2 ON common.id2 = s2.doc_id)
      SELECT CAST(COUNT(*) AS BIGINT) AS pairs FROM j WHERE jac >= 0.2""",
    // containment replayed from the same shingle/common/sizes relations;
    // c/sz is the same integer-input IEEE division in both engines
    "q_containment" -> """
      WITH toks AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
              FROM toks WHERE len(t) >= 3)),
      flt AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 1000),
      f AS (SELECT sh.doc_id, sh.s FROM sh JOIN flt USING (s)),
      sizes AS (SELECT doc_id, COUNT(*) AS sz FROM f GROUP BY doc_id),
      common AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
        FROM f a JOIN f b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      p AS (
        SELECT id1, id2, c * 1.0 / s1.sz AS c1, c * 1.0 / s2.sz AS c2
        FROM common JOIN sizes s1 ON common.id1 = s1.doc_id
                    JOIN sizes s2 ON common.id2 = s2.doc_id)
      SELECT CAST(COUNT(*) AS BIGINT) AS pairs,
             CAST(SUM(id1 * 3 + id2) AS BIGINT) AS pair_sum,
             CAST(SUM(CAST(round(c1 * 1e6) AS BIGINT)
                    + CAST(round(c2 * 1e6) AS BIGINT)) AS BIGINT) AS cont_e6_sum
      FROM p WHERE greatest(c1, c2) >= 0.6""",
    // graded contamination: distinct portable shingle hashes per doc,
    // held slice = doc_id % 17 = 0, exact hit counts per corpus doc
    // (one broadcast exact-set match per shingle; results are exact)
    "q_contamination" -> """
      WITH toks AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents),
      sh AS (
        SELECT DISTINCT doc_id,
               CAST(('0x' || substring(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15)) AS BIGINT) AS h
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
              FROM toks WHERE len(t) >= 3)),
      held AS (SELECT DISTINCT h FROM sh WHERE doc_id % 17 = 0),
      corp AS (SELECT doc_id, h FROM sh WHERE doc_id % 17 <> 0),
      tot AS (SELECT doc_id, COUNT(*) AS shingles FROM corp GROUP BY doc_id),
      hit AS (SELECT c.doc_id, COUNT(*) AS contaminated
              FROM corp c JOIN held ON c.h = held.h GROUP BY c.doc_id)
      SELECT t.doc_id, CAST(t.shingles AS BIGINT) AS shingles,
             CAST(COALESCE(hit.contaminated, 0) AS BIGINT) AS contaminated,
             CAST(round(CAST(COALESCE(hit.contaminated, 0) AS DOUBLE)
               / t.shingles * 1e6) AS BIGINT) AS frac_e6
      FROM tot t LEFT JOIN hit ON t.doc_id = hit.doc_id
      ORDER BY frac_e6 DESC, t.doc_id LIMIT 20""",
    // full replication of the PQ pipeline: codebooks from the 16
    // lowest-id vectors (8 subspaces x dim 8), per-subspace e6-rounded
    // squared-L2 encode (sequential fold replayed via list_reduce), ADC =
    // integer sum of the per-subspace rounded distances, rank by (adc,
    // id). ^ (power) avoided: (a-b)*(a-b) keeps the arithmetic identical
    "q_ann_pq" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      cbv AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v
              FROM e ORDER BY vec_id LIMIT 16),
      subs AS (SELECT unnest(range(8)) AS j),
      cb AS (SELECT subs.j, cbv.cid, list_slice(cbv.v, subs.j*8 + 1, subs.j*8 + 8) AS cv
             FROM cbv, subs),
      dist AS (SELECT e.vec_id, cb.j, cb.cid,
        CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(8), d ->
            (e.v[cb.j*8 + d + 1] - cb.cv[d + 1]) * (e.v[cb.j*8 + d + 1] - cb.cv[d + 1]))),
          (a, b) -> a + b) * 1e6) AS BIGINT) AS d_e6
        FROM e, cb),
      enc AS (SELECT vec_id, j, cid FROM (
        SELECT vec_id, j, cid,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY d_e6, cid) AS rn
        FROM dist) WHERE rn = 1),
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
      adc AS (SELECT q.qid, enc.vec_id,
        CAST(SUM(CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(8), d ->
            (q.qv[enc.j*8 + d + 1] - cb.cv[d + 1]) * (q.qv[enc.j*8 + d + 1] - cb.cv[d + 1]))),
          (a, b) -> a + b) * 1e6) AS BIGINT)) AS BIGINT) AS adc_e6
        FROM q, enc JOIN cb ON cb.j = enc.j AND cb.cid = enc.cid
        WHERE enc.vec_id != q.qid
        GROUP BY q.qid, enc.vec_id)
      SELECT query_id, rank, neighbor_id, adc_e6 FROM (
        SELECT qid AS query_id, vec_id AS neighbor_id, adc_e6,
               row_number() OVER (PARTITION BY qid ORDER BY adc_e6, vec_id) AS rank
        FROM adc)
      WHERE rank <= 5 ORDER BY query_id, rank""",
    // trained PQ, fully live: seed codebooks -> encode (the q_ann_pq
    // replay) -> ONE Lloyd update (per-entry e6-integer mean of member
    // slices, seed kept where an entry lost every member) -> re-encode
    // with the trained codebooks -> ADC rank. Every stage is the exact
    // integer arithmetic the Scala operator runs.
    "q_ann_pq_trained" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      cbv AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v
              FROM e ORDER BY vec_id LIMIT 16),
      subs AS (SELECT unnest(range(8)) AS j),
      cb0 AS (SELECT subs.j, cbv.cid, list_slice(cbv.v, subs.j*8 + 1, subs.j*8 + 8) AS cv
              FROM cbv, subs),
      dist0 AS (SELECT e.vec_id, cb0.j, cb0.cid,
        CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(8), d ->
            (e.v[cb0.j*8 + d + 1] - cb0.cv[d + 1]) * (e.v[cb0.j*8 + d + 1] - cb0.cv[d + 1]))),
          (a, b) -> a + b) * 1e6) AS BIGINT) AS d_e6
        FROM e, cb0),
      enc0 AS (SELECT vec_id, j, cid FROM (
        SELECT vec_id, j, cid,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY d_e6, cid) AS rn
        FROM dist0) WHERE rn = 1),
      upd AS (SELECT enc0.j, enc0.cid, p.p,
        CAST(SUM(CAST(round(e.v[enc0.j*8 + p.p + 1] * 1e6) AS BIGINT)) AS DOUBLE)
          / (COUNT(*) * 1e6) AS val
        FROM enc0 JOIN e ON e.vec_id = enc0.vec_id,
             (SELECT unnest(range(8)) AS p) p
        GROUP BY enc0.j, enc0.cid, p.p),
      cbu AS (SELECT j, cid, list(val ORDER BY p) AS cv FROM upd GROUP BY j, cid),
      cb AS (SELECT cb0.j, cb0.cid, coalesce(cbu.cv, cb0.cv) AS cv
             FROM cb0 LEFT JOIN cbu ON cbu.j = cb0.j AND cbu.cid = cb0.cid),
      dist AS (SELECT e.vec_id, cb.j, cb.cid,
        CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(8), d ->
            (e.v[cb.j*8 + d + 1] - cb.cv[d + 1]) * (e.v[cb.j*8 + d + 1] - cb.cv[d + 1]))),
          (a, b) -> a + b) * 1e6) AS BIGINT) AS d_e6
        FROM e, cb),
      enc AS (SELECT vec_id, j, cid FROM (
        SELECT vec_id, j, cid,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY d_e6, cid) AS rn
        FROM dist) WHERE rn = 1),
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
      adc AS (SELECT q.qid, enc.vec_id,
        CAST(SUM(CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(8), d ->
            (q.qv[enc.j*8 + d + 1] - cb.cv[d + 1]) * (q.qv[enc.j*8 + d + 1] - cb.cv[d + 1]))),
          (a, b) -> a + b) * 1e6) AS BIGINT)) AS BIGINT) AS adc_e6
        FROM q, enc JOIN cb ON cb.j = enc.j AND cb.cid = enc.cid
        WHERE enc.vec_id != q.qid
        GROUP BY q.qid, enc.vec_id)
      SELECT query_id, rank, neighbor_id, adc_e6 FROM (
        SELECT qid AS query_id, vec_id AS neighbor_id, adc_e6,
               row_number() OVER (PARTITION BY qid ORDER BY adc_e6, vec_id) AS rank
        FROM adc)
      WHERE rank <= 5 ORDER BY query_id, rank""",
    // LIVE (was golden until r10): the full multi-probe recall curve —
    // splitmix buckets (lshBucketCte), exact baseline, Hamming-ball
    // probe masks (bit_count(m) <= p over prefixBits), per-probe top-5,
    // and the recallReport integer rollup, all replayed
    "q_ann_lsh_probe" -> s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      ${lshBucketCte(4)},
      c AS (SELECT e.vec_id, e.v, bkt.b,
        sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range((SELECT dim FROM d)), x -> e.v[x + 1] * e.v[x + 1])),
          (a, b) -> a + b)) AS nrm
        FROM e JOIN bkt USING (vec_id)),
      q AS (SELECT vec_id AS qid, v AS qv, b, nrm AS qnrm FROM c WHERE vec_id < 10),
      exact AS (SELECT query_id, neighbor_id FROM (
        SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY list_reduce(list_prepend(CAST(0 AS DOUBLE),
                     list_transform(range((SELECT dim FROM d)),
                       x -> c.v[x + 1] * q.qv[x + 1])),
                     (p, s) -> p + s) / (c.nrm * q.qnrm) DESC, c.vec_id) AS rank
        FROM c, q WHERE c.vec_id != q.qid) t WHERE rank <= 5),
      probes AS (SELECT p.p, m.m FROM (SELECT unnest(range(3)) AS p) p,
                 (SELECT unnest(range(16)) AS m) m WHERE bit_count(m) <= p.p),
      cand AS (SELECT pr.p, q.qid, c.vec_id,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range((SELECT dim FROM d)),
                   x -> c.v[x + 1] * q.qv[x + 1])),
                 (p2, s2) -> p2 + s2) / (c.nrm * q.qnrm) AS sim
        FROM q JOIN probes pr ON true
             JOIN c ON c.b = xor(q.b::UBIGINT, pr.m::UBIGINT)::BIGINT
        WHERE c.vec_id != q.qid),
      approx AS (SELECT p, query_id, neighbor_id FROM (
        SELECT p, qid AS query_id, vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY p, qid ORDER BY sim DESC, vec_id) AS rank
        FROM cand) t WHERE rank <= 5),
      per AS (SELECT pr.p, ex.query_id,
              CAST(COUNT(*) AS BIGINT) AS ex_cnt,
              CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
        FROM (SELECT unnest(range(3)) AS p) pr
        CROSS JOIN exact ex
        LEFT JOIN approx a ON a.p = pr.p AND a.query_id = ex.query_id
             AND a.neighbor_id = ex.neighbor_id
        GROUP BY pr.p, ex.query_id),
      r AS (SELECT p, query_id, ex_cnt, hits, hits * 1000000 // ex_cnt AS ppm FROM per)
      SELECT CAST(p AS INT) AS probe, CAST(COUNT(*) AS BIGINT) AS queries,
             CAST(SUM(ppm) // COUNT(*) AS BIGINT) AS mean_recall_ppm,
             CAST(MIN(ppm) AS BIGINT) AS min_recall_ppm,
             CAST(SUM(CASE WHEN hits = ex_cnt THEN 1 ELSE 0 END) AS BIGINT) AS perfect_queries
      FROM r GROUP BY p ORDER BY probe""",
    // recall@5: both pipelines (exact window ranking; IVF cell routing +
    // in-cell ranking) replayed, per-query overlap counted, integer
    // ppm recall rolled up exactly as the operator computes it
    "q_ann_recall" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      exact AS (SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, e2.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(e2.v, q.v) DESC, e2.vec_id) AS rank
        FROM e e2, (SELECT * FROM e WHERE vec_id < 10) q
        WHERE e2.vec_id != q.vec_id) WHERE rank <= 5),
      c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
      ea AS (SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
        FROM e, c) WHERE rn = 1),
      qa AS (SELECT vec_id AS qid, v AS qv, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
        FROM e, c WHERE e.vec_id < 10) WHERE rn <= 4),
      approx AS (SELECT query_id, neighbor_id FROM (
        SELECT qa.qid AS query_id, ea.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY qa.qid
                 ORDER BY list_cosine_similarity(ea.v, qa.qv) DESC, ea.vec_id) AS rank
        FROM ea JOIN qa ON ea.cid = qa.cid
        WHERE ea.vec_id != qa.qid) WHERE rank <= 5),
      pq AS (SELECT exact.query_id,
               CAST(COUNT(*) AS BIGINT) AS ex,
               CAST(SUM(CASE WHEN approx.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
             FROM exact LEFT JOIN approx
               ON approx.query_id = exact.query_id AND approx.neighbor_id = exact.neighbor_id
             GROUP BY exact.query_id),
      pr AS (SELECT query_id, ex, hits, hits * 1000000 // ex AS recall_ppm FROM pq)
      SELECT CAST(COUNT(*) AS BIGINT) AS queries,
             CAST(SUM(recall_ppm) // COUNT(*) AS BIGINT) AS mean_recall_ppm,
             CAST(MIN(recall_ppm) AS BIGINT) AS min_recall_ppm,
             CAST(SUM(CASE WHEN hits = ex THEN 1 ELSE 0 END) AS BIGINT) AS perfect_queries
      FROM pr""",
    // recall-floor gates: the oracle certifies the exact recall rollup
    // (and the pinned floor literal); the floor ASSERTION itself lives
    // Spark-side in recallFloor's require — a breach turns the gate red
    // before any output is written
    "q_recall_floor_lsh" -> s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      ${lshBucketCte(4)},
      c AS (SELECT e.vec_id, e.v, bkt.b,
        sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range((SELECT dim FROM d)), x -> e.v[x + 1] * e.v[x + 1])),
          (a, b) -> a + b)) AS nrm
        FROM e JOIN bkt USING (vec_id)),
      q AS (SELECT vec_id AS qid, v AS qv, b, nrm AS qnrm FROM c WHERE vec_id < 10),
      exact AS (SELECT query_id, neighbor_id FROM (
        SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY list_reduce(list_prepend(CAST(0 AS DOUBLE),
                     list_transform(range((SELECT dim FROM d)),
                       x -> c.v[x + 1] * q.qv[x + 1])),
                     (p, s) -> p + s) / (c.nrm * q.qnrm) DESC, c.vec_id) AS rank
        FROM c, q WHERE c.vec_id != q.qid) t WHERE rank <= 5),
      probes AS (SELECT m FROM (SELECT unnest(range(16)) AS m) WHERE bit_count(m) <= 2),
      cand AS (SELECT q.qid, c.vec_id,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range((SELECT dim FROM d)),
                   x -> c.v[x + 1] * q.qv[x + 1])),
                 (p2, s2) -> p2 + s2) / (c.nrm * q.qnrm) AS sim
        FROM q JOIN probes pr ON true
             JOIN c ON c.b = xor(q.b::UBIGINT, pr.m::UBIGINT)::BIGINT
        WHERE c.vec_id != q.qid),
      approx AS (SELECT query_id, neighbor_id FROM (
        SELECT qid AS query_id, vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
        FROM cand) t WHERE rank <= 5),
      per AS (SELECT ex.query_id,
              CAST(COUNT(*) AS BIGINT) AS ex_cnt,
              CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
        FROM exact ex
        LEFT JOIN approx a ON a.query_id = ex.query_id
             AND a.neighbor_id = ex.neighbor_id
        GROUP BY ex.query_id),
      r AS (SELECT query_id, ex_cnt, hits, hits * 1000000 // ex_cnt AS ppm FROM per)
      SELECT CAST(COUNT(*) AS BIGINT) AS queries,
             CAST(SUM(ppm) // COUNT(*) AS BIGINT) AS mean_recall_ppm,
             CAST(MIN(ppm) AS BIGINT) AS min_recall_ppm,
             CAST(SUM(CASE WHEN hits = ex_cnt THEN 1 ELSE 0 END) AS BIGINT) AS perfect_queries,
             CAST(800000 AS BIGINT) AS floor_ppm
      FROM r""",
    "q_recall_floor_ivf" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      exact AS (SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, e2.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(e2.v, q.v) DESC, e2.vec_id) AS rank
        FROM e e2, (SELECT * FROM e WHERE vec_id < 10) q
        WHERE e2.vec_id != q.vec_id) WHERE rank <= 5),
      c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
      ea AS (SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
        FROM e, c) WHERE rn = 1),
      qa AS (SELECT vec_id AS qid, v AS qv, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
        FROM e, c WHERE e.vec_id < 10) WHERE rn <= 4),
      approx AS (SELECT query_id, neighbor_id FROM (
        SELECT qa.qid AS query_id, ea.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY qa.qid
                 ORDER BY list_cosine_similarity(ea.v, qa.qv) DESC, ea.vec_id) AS rank
        FROM ea JOIN qa ON ea.cid = qa.cid
        WHERE ea.vec_id != qa.qid) WHERE rank <= 5),
      pq AS (SELECT exact.query_id,
               CAST(COUNT(*) AS BIGINT) AS ex,
               CAST(SUM(CASE WHEN approx.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
             FROM exact LEFT JOIN approx
               ON approx.query_id = exact.query_id AND approx.neighbor_id = exact.neighbor_id
             GROUP BY exact.query_id),
      pr AS (SELECT query_id, ex, hits, hits * 1000000 // ex AS recall_ppm FROM pq)
      SELECT CAST(COUNT(*) AS BIGINT) AS queries,
             CAST(SUM(recall_ppm) // COUNT(*) AS BIGINT) AS mean_recall_ppm,
             CAST(MIN(recall_ppm) AS BIGINT) AS min_recall_ppm,
             CAST(SUM(CASE WHEN hits = ex THEN 1 ELSE 0 END) AS BIGINT) AS perfect_queries,
             CAST(900000 AS BIGINT) AS floor_ppm
      FROM pr""",
    "q_recall_floor_hamming" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT * FROM e WHERE vec_id < 10),
      exact AS (SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, e2.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(e2.v, q.v) DESC, e2.vec_id) AS rank
        FROM e e2, q WHERE e2.vec_id != q.vec_id) WHERE rank <= 5),
      ham AS (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               len(list_filter(range(len(e.v)), j -> (e.v[j+1] > 0) <> (q.v[j+1] > 0))) AS hamming
        FROM e, q WHERE e.vec_id != q.vec_id),
      budget AS (SELECT greatest(20, COUNT(*) // 1000) AS b FROM e),
      cand AS (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS hr
        FROM ham),
      approx AS (SELECT query_id, neighbor_id FROM (
        SELECT c.query_id, c.neighbor_id,
               row_number() OVER (PARTITION BY c.query_id
                 ORDER BY list_cosine_similarity(e2.v, q2.v) DESC, c.neighbor_id) AS rank
        FROM cand c JOIN e e2 ON e2.vec_id = c.neighbor_id JOIN q q2 ON q2.vec_id = c.query_id
        WHERE c.hr <= (SELECT b FROM budget)) WHERE rank <= 5),
      pq AS (SELECT exact.query_id,
               CAST(COUNT(*) AS BIGINT) AS ex,
               CAST(SUM(CASE WHEN approx.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
             FROM exact LEFT JOIN approx
               ON approx.query_id = exact.query_id AND approx.neighbor_id = exact.neighbor_id
             GROUP BY exact.query_id),
      pr AS (SELECT query_id, ex, hits, hits * 1000000 // ex AS recall_ppm FROM pq)
      SELECT CAST(COUNT(*) AS BIGINT) AS queries,
             CAST(SUM(recall_ppm) // COUNT(*) AS BIGINT) AS mean_recall_ppm,
             CAST(MIN(recall_ppm) AS BIGINT) AS min_recall_ppm,
             CAST(SUM(CASE WHEN hits = ex THEN 1 ELSE 0 END) AS BIGINT) AS perfect_queries,
             CAST(120000 AS BIGINT) AS floor_ppm
      FROM pr""",
    // seed AND Lloyd-trained PQ recall from one replay (the trained chain
    // already materializes the seed encode enc0/cb0): per-config exact-vs-
    // ADC-top-5 recall rollups, labeled rows — the Spark-side require
    // asserts trained >= seed on these exact numbers
    "q_recall_floor_pq" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
      exact AS (SELECT query_id, neighbor_id FROM (
        SELECT q.qid AS query_id, e2.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY list_cosine_similarity(e2.v, q.qv) DESC, e2.vec_id) AS rank
        FROM e e2, q WHERE e2.vec_id != q.qid) WHERE rank <= 5),
      cbv AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v
              FROM e ORDER BY vec_id LIMIT 16),
      subs AS (SELECT unnest(range(8)) AS j),
      cb0 AS (SELECT subs.j, cbv.cid, list_slice(cbv.v, subs.j*8 + 1, subs.j*8 + 8) AS cv
              FROM cbv, subs),
      dist0 AS (SELECT e.vec_id, cb0.j, cb0.cid,
        CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(8), d ->
            (e.v[cb0.j*8 + d + 1] - cb0.cv[d + 1]) * (e.v[cb0.j*8 + d + 1] - cb0.cv[d + 1]))),
          (a, b) -> a + b) * 1e6) AS BIGINT) AS d_e6
        FROM e, cb0),
      enc0 AS (SELECT vec_id, j, cid FROM (
        SELECT vec_id, j, cid,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY d_e6, cid) AS rn
        FROM dist0) WHERE rn = 1),
      adc0 AS (SELECT q.qid, enc0.vec_id,
        CAST(SUM(CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(8), d ->
            (q.qv[enc0.j*8 + d + 1] - cb0.cv[d + 1]) * (q.qv[enc0.j*8 + d + 1] - cb0.cv[d + 1]))),
          (a, b) -> a + b) * 1e6) AS BIGINT)) AS BIGINT) AS adc_e6
        FROM q, enc0 JOIN cb0 ON cb0.j = enc0.j AND cb0.cid = enc0.cid
        WHERE enc0.vec_id != q.qid
        GROUP BY q.qid, enc0.vec_id),
      approx0 AS (SELECT query_id, neighbor_id FROM (
        SELECT qid AS query_id, vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY qid ORDER BY adc_e6, vec_id) AS rank
        FROM adc0) WHERE rank <= 5),
      upd AS (SELECT enc0.j, enc0.cid, p.p,
        CAST(SUM(CAST(round(e.v[enc0.j*8 + p.p + 1] * 1e6) AS BIGINT)) AS DOUBLE)
          / (COUNT(*) * 1e6) AS val
        FROM enc0 JOIN e ON e.vec_id = enc0.vec_id,
             (SELECT unnest(range(8)) AS p) p
        GROUP BY enc0.j, enc0.cid, p.p),
      cbu AS (SELECT j, cid, list(val ORDER BY p) AS cv FROM upd GROUP BY j, cid),
      cb AS (SELECT cb0.j, cb0.cid, coalesce(cbu.cv, cb0.cv) AS cv
             FROM cb0 LEFT JOIN cbu ON cbu.j = cb0.j AND cbu.cid = cb0.cid),
      dist AS (SELECT e.vec_id, cb.j, cb.cid,
        CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(8), d ->
            (e.v[cb.j*8 + d + 1] - cb.cv[d + 1]) * (e.v[cb.j*8 + d + 1] - cb.cv[d + 1]))),
          (a, b) -> a + b) * 1e6) AS BIGINT) AS d_e6
        FROM e, cb),
      enc AS (SELECT vec_id, j, cid FROM (
        SELECT vec_id, j, cid,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY d_e6, cid) AS rn
        FROM dist) WHERE rn = 1),
      adc AS (SELECT q.qid, enc.vec_id,
        CAST(SUM(CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(8), d ->
            (q.qv[enc.j*8 + d + 1] - cb.cv[d + 1]) * (q.qv[enc.j*8 + d + 1] - cb.cv[d + 1]))),
          (a, b) -> a + b) * 1e6) AS BIGINT)) AS BIGINT) AS adc_e6
        FROM q, enc JOIN cb ON cb.j = enc.j AND cb.cid = enc.cid
        WHERE enc.vec_id != q.qid
        GROUP BY q.qid, enc.vec_id),
      approx1 AS (SELECT query_id, neighbor_id FROM (
        SELECT qid AS query_id, vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY qid ORDER BY adc_e6, vec_id) AS rank
        FROM adc) WHERE rank <= 5),
      roll AS (
        SELECT 'pq_seed' AS config, ex.query_id,
               CAST(COUNT(*) AS BIGINT) AS ex,
               CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
        FROM exact ex LEFT JOIN approx0 a
          ON a.query_id = ex.query_id AND a.neighbor_id = ex.neighbor_id
        GROUP BY ex.query_id
        UNION ALL
        SELECT 'pq_trained' AS config, ex.query_id,
               CAST(COUNT(*) AS BIGINT) AS ex,
               CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
        FROM exact ex LEFT JOIN approx1 a
          ON a.query_id = ex.query_id AND a.neighbor_id = ex.neighbor_id
        GROUP BY ex.query_id),
      sdist AS (
        SELECT 'pq_seed' AS config, CAST(SUM(md) AS BIGINT) AS distortion_e6 FROM (
          SELECT vec_id, j, MIN(d_e6) AS md FROM dist0 GROUP BY vec_id, j)
        UNION ALL
        SELECT 'pq_trained' AS config, CAST(SUM(md) AS BIGINT) AS distortion_e6 FROM (
          SELECT vec_id, j, MIN(d_e6) AS md FROM dist GROUP BY vec_id, j)),
      pr AS (SELECT config, query_id, ex, hits, hits * 1000000 // ex AS ppm FROM roll)
      SELECT pr.config, CAST(COUNT(*) AS BIGINT) AS queries,
             CAST(SUM(ppm) // COUNT(*) AS BIGINT) AS mean_recall_ppm,
             CAST(MIN(ppm) AS BIGINT) AS min_recall_ppm,
             CAST(SUM(CASE WHEN hits = ex THEN 1 ELSE 0 END) AS BIGINT) AS perfect_queries,
             CAST(MIN(sdist.distortion_e6) AS BIGINT) AS distortion_e6
      FROM pr JOIN sdist ON sdist.config = pr.config
      GROUP BY pr.config ORDER BY pr.config""",
    // IVF cell routing composed with the PQ code/ADC replay: candidates
    // are the query's nprobe cells, scored by the integer ADC distance
    "q_ann_ivfpq" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      c AS (SELECT vec_id AS ccid, v AS cv0 FROM e ORDER BY vec_id LIMIT 16),
      ea AS (
        SELECT vec_id, v, ccid AS cell FROM (
          SELECT e.vec_id, e.v, c.ccid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv0) DESC, c.ccid) AS rn
          FROM e, c) WHERE rn = 1),
      qa AS (
        SELECT vec_id AS qid, v AS qv, ccid AS cell FROM (
          SELECT e.vec_id, e.v, c.ccid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv0) DESC, c.ccid) AS rn
          FROM e, c WHERE e.vec_id < 10) WHERE rn <= 4),
      cbv AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v
              FROM e ORDER BY vec_id LIMIT 16),
      subs AS (SELECT unnest(range(8)) AS j),
      cb AS (SELECT subs.j, cbv.cid, list_slice(cbv.v, subs.j*8 + 1, subs.j*8 + 8) AS cv
             FROM cbv, subs),
      dist AS (SELECT e.vec_id, cb.j, cb.cid,
        CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(8), d ->
            (e.v[cb.j*8 + d + 1] - cb.cv[d + 1]) * (e.v[cb.j*8 + d + 1] - cb.cv[d + 1]))),
          (a, b) -> a + b) * 1e6) AS BIGINT) AS d_e6
        FROM e, cb),
      enc AS (SELECT vec_id, j, cid FROM (
        SELECT vec_id, j, cid,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY d_e6, cid) AS rn
        FROM dist) WHERE rn = 1),
      adc AS (SELECT qa.qid, ea.vec_id,
        CAST(SUM(CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(8), d ->
            (qa.qv[enc.j*8 + d + 1] - cb.cv[d + 1]) * (qa.qv[enc.j*8 + d + 1] - cb.cv[d + 1]))),
          (a, b) -> a + b) * 1e6) AS BIGINT)) AS BIGINT) AS adc_e6
        FROM ea JOIN qa ON ea.cell = qa.cell
                JOIN enc ON enc.vec_id = ea.vec_id
                JOIN cb ON cb.j = enc.j AND cb.cid = enc.cid
        WHERE ea.vec_id != qa.qid
        GROUP BY qa.qid, ea.vec_id)
      SELECT query_id, rank, neighbor_id, adc_e6 FROM (
        SELECT qid AS query_id, vec_id AS neighbor_id, adc_e6,
               row_number() OVER (PARTITION BY qid ORDER BY adc_e6, vec_id) AS rank
        FROM adc)
      WHERE rank <= 5 ORDER BY query_id, rank""",
    // residual IVFPQ: identical skeleton to q_ann_ivfpq with every vector
    // replaced by (v − centroid-of-its-cell); codebooks seed from the
    // residual frame (first ksub residual vectors by vec_id), the query
    // residual is taken against EACH probed cell's centroid
    "q_ann_ivfpq_residual" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      c AS (SELECT vec_id AS ccid, v AS cv0 FROM e ORDER BY vec_id LIMIT 16),
      ea AS (
        SELECT vec_id, v, ccid AS cell FROM (
          SELECT e.vec_id, e.v, c.ccid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv0) DESC, c.ccid) AS rn
          FROM e, c) WHERE rn = 1),
      er AS (SELECT ea.vec_id, ea.cell,
               list_transform(range(64), i -> ea.v[i + 1] - c.cv0[i + 1]) AS rv
             FROM ea JOIN c ON c.ccid = ea.cell),
      qa AS (
        SELECT vec_id AS qid, v AS qv, ccid AS cell FROM (
          SELECT e.vec_id, e.v, c.ccid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv0) DESC, c.ccid) AS rn
          FROM e, c WHERE e.vec_id < 10) WHERE rn <= 4),
      qr AS (SELECT qa.qid, qa.cell,
               list_transform(range(64), i -> qa.qv[i + 1] - c.cv0[i + 1]) AS qrv
             FROM qa JOIN c ON c.ccid = qa.cell),
      cbv AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, rv AS v
              FROM er ORDER BY vec_id LIMIT 16),
      subs AS (SELECT unnest(range(8)) AS j),
      cb AS (SELECT subs.j, cbv.cid, list_slice(cbv.v, subs.j*8 + 1, subs.j*8 + 8) AS cv
             FROM cbv, subs),
      dist AS (SELECT er.vec_id, cb.j, cb.cid,
        CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(8), d ->
            (er.rv[cb.j*8 + d + 1] - cb.cv[d + 1]) * (er.rv[cb.j*8 + d + 1] - cb.cv[d + 1]))),
          (a, b) -> a + b) * 1e6) AS BIGINT) AS d_e6
        FROM er, cb),
      enc AS (SELECT vec_id, j, cid FROM (
        SELECT vec_id, j, cid,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY d_e6, cid) AS rn
        FROM dist) WHERE rn = 1),
      adc AS (SELECT qr.qid, er.vec_id,
        CAST(SUM(CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(8), d ->
            (qr.qrv[enc.j*8 + d + 1] - cb.cv[d + 1]) * (qr.qrv[enc.j*8 + d + 1] - cb.cv[d + 1]))),
          (a, b) -> a + b) * 1e6) AS BIGINT)) AS BIGINT) AS adc_e6
        FROM er JOIN qr ON er.cell = qr.cell
                JOIN enc ON enc.vec_id = er.vec_id
                JOIN cb ON cb.j = enc.j AND cb.cid = enc.cid
        WHERE er.vec_id != qr.qid
        GROUP BY qr.qid, er.vec_id)
      SELECT query_id, rank, neighbor_id, adc_e6 FROM (
        SELECT qid AS query_id, vec_id AS neighbor_id, adc_e6,
               row_number() OVER (PARTITION BY qid ORDER BY adc_e6, vec_id) AS rank
        FROM adc)
      WHERE rank <= 5 ORDER BY query_id, rank""",
    // full replication of the IVF pipeline: seed centroids, cell
    // assignment (argmax cosine, ties to smallest cid), nprobe=4 query
    // cells, in-cell exact ranking
    // the persisted index must answer EXACTLY like the in-memory IVF —
    // same routing, same ranking — so its oracle IS the q_ann_ivf replay
    "q_ann_index" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
      ea AS (
        SELECT vec_id, v, cid FROM (
          SELECT e.vec_id, e.v, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
          FROM e, c) WHERE rn = 1),
      qa AS (
        SELECT vec_id AS qid, v AS qv, cid FROM (
          SELECT e.vec_id, e.v, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
          FROM e, c WHERE e.vec_id < 10) WHERE rn <= 4)
      SELECT query_id, rank, neighbor_id FROM (
        SELECT qa.qid AS query_id, ea.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY qa.qid
                 ORDER BY list_cosine_similarity(ea.v, qa.qv) DESC, ea.vec_id) AS rank
        FROM ea JOIN qa ON ea.cid = qa.cid
        WHERE ea.vec_id != qa.qid)
      WHERE rank <= 5 ORDER BY query_id, rank""",
    "q_ann_ivf" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
      ea AS (
        SELECT vec_id, v, cid FROM (
          SELECT e.vec_id, e.v, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
          FROM e, c) WHERE rn = 1),
      qa AS (
        SELECT vec_id AS qid, v AS qv, cid FROM (
          SELECT e.vec_id, e.v, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
          FROM e, c WHERE e.vec_id < 10) WHERE rn <= 4)
      SELECT query_id, rank, neighbor_id FROM (
        SELECT qa.qid AS query_id, ea.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY qa.qid
                 ORDER BY list_cosine_similarity(ea.v, qa.qv) DESC, ea.vec_id) AS rank
        FROM ea JOIN qa ON ea.cid = qa.cid
        WHERE ea.vec_id != qa.qid)
      WHERE rank <= 5 ORDER BY query_id, rank""",
    // LIVE (was golden until r10): buckets replay via lshBucketCte; the
    // in-bucket sim is the operator's EXACT expression — sequential dot
    // fold / (norm_a · norm_b), norms each a sequential sumsq fold — so
    // the >= threshold test cannot ULP-flip between engines
    "q_cosine_lsh" -> s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      ${lshBucketCteDerived()},
      n AS (SELECT e.vec_id, e.v, bkt.b,
        sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range((SELECT dim FROM d)), x -> e.v[x + 1] * e.v[x + 1])),
          (a, b) -> a + b)) AS nrm
        FROM e JOIN bkt USING (vec_id)),
      prs AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range((SELECT dim FROM d)), x -> a.v[x + 1] * b.v[x + 1])),
          (p, q) -> p + q) / (a.nrm * b.nrm) AS sim
        FROM n a JOIN n b ON a.b = b.b AND a.vec_id < b.vec_id)
      SELECT CAST(COUNT(*) AS BIGINT) AS pairs, CAST(SUM(id1) AS BIGINT) AS id1_sum,
             CAST(SUM(id2) AS BIGINT) AS id2_sum
      FROM prs WHERE sim >= 0.3""",
    // exact all-pairs cosine: both engines fold the dot product
    // left-to-right over the same double-cast values, so counts agree
    "q_cosine_pairs" -> """
      SELECT CAST(COUNT(*) AS BIGINT) AS pairs
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.5""",
    "q_dedup_drop" -> """
      SELECT CAST(COUNT(*) AS BIGINT) AS kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM (SELECT doc_id, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM documents) WHERE rn = 1""",
    "q_corpus_diff" -> """
      WITH o AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 < 9),
      n AS (SELECT doc_id, md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS h
            FROM documents WHERE doc_id % 10 > 0),
      d AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
              CASE WHEN o.h IS NULL THEN 'added' WHEN n.h IS NULL THEN 'removed'
                   WHEN o.h = n.h THEN 'unchanged' ELSE 'changed' END AS status
            FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
      SELECT status, CAST(COUNT(*) AS BIGINT) AS ids, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM d GROUP BY status ORDER BY status""",
    "q_fingerprint" -> """
      SELECT doc_id,
             substring(md5(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 16) AS fp_md5,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ''), c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 257 + b) % 1000000007) AS fp_roll
      FROM documents ORDER BY doc_id""",
    "q_lang_id" -> {
      def inList(lang: String) =
        graft.operators.LangId.stopwords(lang).map(w => s"'$w'").mkString("[", ", ", "]")
      def hits(lang: String) =
        s"len(list_filter(string_split_regex(lower(text), '\\s+'), x -> list_contains(${inList(lang)}, x))) AS $lang"
      s"""
      WITH h AS (
        SELECT ${hits("de")}, ${hits("en")}, ${hits("es")}, ${hits("fr")}
        FROM documents),
      l AS (
        SELECT CASE WHEN greatest(de, en, es, fr) = 0 THEN 'und'
                    WHEN fr = greatest(de, en, es, fr) THEN 'fr'
                    WHEN es = greatest(de, en, es, fr) THEN 'es'
                    WHEN en = greatest(de, en, es, fr) THEN 'en'
                    ELSE 'de' END AS lang_detected
        FROM h)
      SELECT lang_detected, CAST(COUNT(*) AS BIGINT) AS docs
      FROM l GROUP BY lang_detected ORDER BY lang_detected"""
    },
    // LIVE (was golden until r10): the splitmix64 plane stream is
    // counter-based, so the buckets replay in SQL (lshBucketCte); the
    // ranking sim is the operator's EXACT expression (sequential dot
    // fold / (norm_a · norm_b)) so near-ties cannot ULP-flip the order
    "q_ann_lsh" -> s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      ${lshBucketCte(4)},
      c AS (SELECT e.vec_id, e.v, bkt.b,
        sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range((SELECT dim FROM d)), x -> e.v[x + 1] * e.v[x + 1])),
          (a, b) -> a + b)) AS nrm
        FROM e JOIN bkt USING (vec_id)),
      q AS (SELECT vec_id AS qid, v AS qv, b, nrm AS qnrm FROM c WHERE vec_id < 10),
      cand AS (SELECT q.qid, c.vec_id,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range((SELECT dim FROM d)), x -> c.v[x + 1] * q.qv[x + 1])),
          (p, s) -> p + s) / (c.nrm * q.qnrm) AS sim
        FROM c JOIN q ON c.b = q.b WHERE c.vec_id != q.qid)
      SELECT query_id, rank, neighbor_id FROM (
        SELECT qid AS query_id, vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
        FROM cand) t WHERE rank <= 5 ORDER BY query_id, rank""",
    // LIVE oracle for the real-codec round-trip: Spark routes pixels
    // through actual PNG encode (javax.imageio) -> bytes -> PNG decode ->
    // feature extraction; DuckDB recomputes the identical statistics
    // analytically from the deterministic pixel formula (PNG is lossless,
    // so the decoded raster equals the source pattern bit-for-bit). The
    // resize column replays Spark's double arithmetic op-for-op (IEEE
    // determinism: same ops, same order, same doubles).
    // video frame-hash replay: gray frames make luma == the gray level;
    // same 9x8 nearest-sample dHash per (pattern, frame)
    "q_video_dedup" -> """
      WITH pats AS (SELECT DISTINCT doc_id % 200 AS p FROM documents),
      dim AS (SELECT p, 6 + p % 5 AS w, 6 + (p // 5) % 5 AS h,
                     2 + p % 4 AS n FROM pats),
      frames AS (SELECT d.p, d.w, d.h, f.f
                 FROM dim d, (SELECT unnest(range(5)) AS f) f WHERE f.f < d.n),
      cells AS (
        SELECT fr.p, fr.f, gr.gr, gc.gc,
               (fr.p*31 + fr.f*29 + ((gc.gc * fr.w) // 9)*7
                + ((gr.gr * fr.h) // 8)*13) % 256 AS s
        FROM frames fr,
             (SELECT unnest(range(8)) AS gr) gr,
             (SELECT unnest(range(9)) AS gc) gc),
      bits AS (
        SELECT a.p, a.f, a.gr, a.gc, CASE WHEN a.s > b.s THEN 1 ELSE 0 END AS bit
        FROM cells a JOIN cells b
          ON a.p = b.p AND a.f = b.f AND a.gr = b.gr AND b.gc = a.gc + 1
        WHERE a.gc < 8),
      fh AS (
        SELECT p, f, CAST(SUM(CASE WHEN bit = 1 THEN
                 CASE WHEN gr * 8 + gc = 63 THEN (-9223372036854775807 - 1)
                      ELSE (1::BIGINT << CAST(gr * 8 + gc AS INTEGER)) END
               ELSE 0 END) AS BIGINT) AS fhash
        FROM bits GROUP BY p, f),
      docs AS (SELECT doc_id, doc_id % 200 AS p FROM documents)
      SELECT fh.fhash, CAST(COUNT(*) AS BIGINT) AS members,
             CAST(MIN(d.doc_id * 1000 + fh.f) AS BIGINT) AS min_slot
      FROM docs d JOIN fh ON d.p = fh.p
      GROUP BY fh.fhash ORDER BY members DESC, fhash LIMIT 20""",
    // scene cuts: the q_video_dedup frame-hash chain + lag/xor/bit_count
    "q_scene_cuts" -> """
      WITH pats AS (SELECT DISTINCT doc_id % 200 AS p FROM documents),
      dim AS (SELECT p, 6 + p % 5 AS w, 6 + (p // 5) % 5 AS h,
                     2 + p % 4 AS n FROM pats),
      frames AS (SELECT d.p, d.w, d.h, f.f
                 FROM dim d, (SELECT unnest(range(5)) AS f) f WHERE f.f < d.n),
      cells AS (
        SELECT fr.p, fr.f, gr.gr, gc.gc,
               (fr.p*31 + fr.f*29 + ((gc.gc * fr.w) // 9)*7
                + ((gr.gr * fr.h) // 8)*13) % 256 AS s
        FROM frames fr,
             (SELECT unnest(range(8)) AS gr) gr,
             (SELECT unnest(range(9)) AS gc) gc),
      bits AS (
        SELECT a.p, a.f, a.gr, a.gc, CASE WHEN a.s > b.s THEN 1 ELSE 0 END AS bit
        FROM cells a JOIN cells b
          ON a.p = b.p AND a.f = b.f AND a.gr = b.gr AND b.gc = a.gc + 1
        WHERE a.gc < 8),
      fh AS (
        SELECT p, f, CAST(SUM(CASE WHEN bit = 1 THEN
                 CASE WHEN gr * 8 + gc = 63 THEN (-9223372036854775807 - 1)
                      ELSE (1::BIGINT << CAST(gr * 8 + gc AS INTEGER)) END
               ELSE 0 END) AS BIGINT) AS fhash
        FROM bits GROUP BY p, f),
      d AS (
        SELECT p, f, fhash,
               lag(fhash) OVER (PARTITION BY p ORDER BY f) AS prev
        FROM fh),
      dist AS (
        SELECT p, CASE WHEN prev IS NOT NULL
                       THEN CAST(bit_count(xor(fhash, prev)) AS BIGINT) END AS dist
        FROM d)
      SELECT p AS pat, CAST(COUNT(*) AS BIGINT) AS frames,
             CAST(SUM(CASE WHEN dist >= 12 THEN 1 ELSE 0 END) AS BIGINT) AS cuts,
             CAST(SUM(COALESCE(dist, 0)) AS BIGINT) AS dist_sum
      FROM dist GROUP BY p ORDER BY pat LIMIT 40""",
    // audio fingerprint replay: sample formula ((p*31 + i*17) % 4001) -
    // 2000 probed at the 65 positions k*N//65; bit 63 = sign bit
    "q_audio_dedup" -> """
      WITH pats AS (SELECT DISTINCT doc_id % 300 AS p FROM documents),
      dim AS (SELECT p, (400 + (p % 7) * 100) * (1 + p % 2) AS n FROM pats),
      probes AS (
        SELECT d.p, k.k,
               ((d.p*31 + ((k.k * d.n) // 65) * 17) % 4001) - 2000 AS s0,
               ((d.p*31 + (((k.k + 1) * d.n) // 65) * 17) % 4001) - 2000 AS s1
        FROM dim d, (SELECT unnest(range(64)) AS k) k),
      fp AS (
        SELECT p, CAST(SUM(CASE WHEN s0 > s1 THEN
                 CASE WHEN k = 63 THEN (-9223372036854775807 - 1)
                      ELSE (1::BIGINT << CAST(k AS INTEGER)) END
               ELSE 0 END) AS BIGINT) AS afp
        FROM probes GROUP BY p),
      docs AS (SELECT doc_id, doc_id % 300 AS p FROM documents)
      SELECT f.afp, CAST(COUNT(*) AS BIGINT) AS members,
             CAST(MIN(d.doc_id) AS BIGINT) AS min_doc
      FROM docs d JOIN fp f ON d.p = f.p
      GROUP BY f.afp ORDER BY members DESC, afp LIMIT 20""",
    // image dHash replay: nearest-sample 9x8 grid from the pixel formula,
    // integer luma, bit gr*8+gc set iff s(gc) > s(gc+1); bit 63 is the
    // sign bit, contributed as -(2^63) in two's complement
    "q_image_dedup" -> """
      WITH pats AS (SELECT DISTINCT doc_id % 500 AS p FROM documents),
      dim AS (SELECT p, 8 + p % 9 AS w, 8 + (p // 9) % 9 AS h FROM pats),
      grid AS (
        SELECT d.p, d.w, d.h, gr.gr, gc.gc,
               (gc.gc * d.w) // 9 AS x, (gr.gr * d.h) // 8 AS y
        FROM dim d,
             (SELECT unnest(range(8)) AS gr) gr,
             (SELECT unnest(range(9)) AS gc) gc),
      lum AS (
        SELECT p, gr, gc,
               (((p*31 + x*7 + y*13) % 256) * 299 +
                ((p*31 + x*7 + y*13 + 101) % 256) * 587 +
                ((p*31 + x*7 + y*13 + 202) % 256) * 114) // 1000 AS s
        FROM grid),
      bits AS (
        SELECT a.p, a.gr, a.gc, CASE WHEN a.s > b.s THEN 1 ELSE 0 END AS bit
        FROM lum a JOIN lum b ON a.p = b.p AND a.gr = b.gr AND b.gc = a.gc + 1
        WHERE a.gc < 8),
      hash AS (
        SELECT p, CAST(SUM(CASE WHEN bit = 1 THEN
                 CASE WHEN gr * 8 + gc = 63 THEN (-9223372036854775807 - 1)
                      ELSE (1::BIGINT << CAST(gr * 8 + gc AS INTEGER)) END
               ELSE 0 END) AS BIGINT) AS dhash
        FROM bits GROUP BY p),
      docs AS (SELECT doc_id, doc_id % 500 AS p FROM documents)
      SELECT h.dhash, CAST(COUNT(*) AS BIGINT) AS members,
             CAST(MIN(d.doc_id) AS BIGINT) AS min_doc
      FROM docs d JOIN hash h ON d.p = h.p
      GROUP BY h.dhash ORDER BY members DESC, dhash LIMIT 20""",
    "q_multimodal_decode" -> """
      WITH d AS (
        SELECT doc_id, 8 + doc_id % 9 AS w, 8 + (doc_id // 9) % 9 AS h FROM documents),
      px AS (
        SELECT d.doc_id, c.c,
               (d.doc_id * 31 + x.x * 7 + y.y * 13 + c.c * 101) % 256 AS v
        FROM d,
             (SELECT unnest(generate_series(0, 16)) AS x) x,
             (SELECT unnest(generate_series(0, 16)) AS y) y,
             (SELECT unnest(generate_series(0, 2)) AS c) c
        WHERE x.x < d.w AND y.y < d.h)
      SELECT m.medias, m.sum_w, m.sum_h, m.sum_c, p.px_sum, p.r_sum, m.sum_tw
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS medias,
                   CAST(SUM(w) AS BIGINT) AS sum_w,
                   CAST(SUM(h) AS BIGINT) AS sum_h,
                   CAST(3 * COUNT(*) AS BIGINT) AS sum_c,
                   CAST(SUM(LEAST(12, CAST(CEIL(w * LEAST(1.0, 12.0 / GREATEST(w, h))) AS BIGINT))) AS BIGINT) AS sum_tw
            FROM d) m,
           (SELECT CAST(SUM(v) AS BIGINT) AS px_sum,
                   CAST(SUM(CASE WHEN c = 0 THEN v ELSE 0 END) AS BIGINT) AS r_sum
            FROM px) p""",
    // live analytic replay of frame sampling over real GIF durations:
    // duration = frames * delay_cs * 10; sampled frames at 2 fps =
    // max(1, floor(dur/1000*2)); ts sum = 500 * f * (f-1) / 2
    "q_multimodal_frames" -> """
      WITH d AS (
        SELECT doc_id, 2 + doc_id % 4 AS nf, 20 + (doc_id % 5) * 10 AS delay
        FROM documents),
      fr AS (
        SELECT doc_id,
               GREATEST(1, CAST(FLOOR(CAST(nf * delay * 10 AS DOUBLE) / 1000.0 * 2.0) AS BIGINT)) AS f
        FROM d)
      SELECT CAST(SUM(f) AS BIGINT) AS frames, CAST(COUNT(*) AS BIGINT) AS medias,
             CAST(SUM(500 * f * (f - 1) / 2) AS BIGINT) AS ts_ms_sum
      FROM fr""",
    // live analytic replay of the resize: target dims via the same
    // LEAST/CEIL arithmetic, then source pixel (x*w // tw, y*h // th)
    "q_multimodal_resize" -> """
      WITH d AS (
        SELECT doc_id, 8 + doc_id % 9 AS w, 8 + (doc_id // 9) % 9 AS h FROM documents),
      t AS (
        SELECT doc_id, w, h,
               LEAST(6, CAST(CEIL(w * LEAST(1.0, 6.0 / GREATEST(w, h))) AS BIGINT)) AS tw,
               LEAST(6, CAST(CEIL(h * LEAST(1.0, 6.0 / GREATEST(w, h))) AS BIGINT)) AS th
        FROM d),
      px AS (
        SELECT t.doc_id, c.c,
               (t.doc_id * 31 + ((x.x * t.w) // t.tw) * 7
                + ((y.y * t.h) // t.th) * 13 + c.c * 101) % 256 AS v
        FROM t,
             (SELECT unnest(generate_series(0, 6)) AS x) x,
             (SELECT unnest(generate_series(0, 6)) AS y) y,
             (SELECT unnest(generate_series(0, 2)) AS c) c
        WHERE x.x < t.tw AND y.y < t.th)
      SELECT m.medias, m.sum_w, m.sum_h, p.px_sum, p.r_sum
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS medias,
                   CAST(SUM(tw) AS BIGINT) AS sum_w,
                   CAST(SUM(th) AS BIGINT) AS sum_h
            FROM t) m,
           (SELECT CAST(SUM(v) AS BIGINT) AS px_sum,
                   CAST(SUM(CASE WHEN c = 0 THEN v ELSE 0 END) AS BIGINT) AS r_sum
            FROM px) p""",
    // live analytic replay of the GIF round-trip: the lossless gray
    // palette makes decoded pixels equal the generator formula exactly
    "q_multimodal_video" -> """
      WITH d AS (
        SELECT doc_id, 6 + doc_id % 5 AS w, 6 + (doc_id // 5) % 5 AS h,
               2 + doc_id % 4 AS nf, 20 + (doc_id % 5) * 10 AS delay
        FROM documents),
      px AS (
        SELECT d.doc_id, fr.f AS fi, d.nf,
               (d.doc_id * 31 + fr.f * 29 + x.x * 7 + y.y * 13) % 256 AS v
        FROM d,
             (SELECT unnest(generate_series(0, 4)) AS f) fr,
             (SELECT unnest(generate_series(0, 10)) AS x) x,
             (SELECT unnest(generate_series(0, 10)) AS y) y
        WHERE fr.f < d.nf AND x.x < d.w AND y.y < d.h)
      SELECT m.medias, m.sum_w, m.sum_h, m.sum_c, m.sum_ms, p.px_sum, p.first_sum, p.last_sum
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS medias,
                   CAST(SUM(w) AS BIGINT) AS sum_w,
                   CAST(SUM(h) AS BIGINT) AS sum_h,
                   CAST(COUNT(*) AS BIGINT) AS sum_c,
                   CAST(SUM(nf * delay * 10) AS BIGINT) AS sum_ms
            FROM d) m,
           (SELECT CAST(SUM(v) AS BIGINT) AS px_sum,
                   CAST(SUM(CASE WHEN fi = 0 THEN v ELSE 0 END) AS BIGINT) AS first_sum,
                   CAST(SUM(CASE WHEN fi = nf - 1 THEN v ELSE 0 END) AS BIGINT) AS last_sum
            FROM px) p""",
    // live analytic replay of the WAV round-trip: PCM is lossless, so the
    // decoded-sample stats equal the generator formula's stats; zero
    // crossings need the lag window over the regenerated sample series
    "q_multimodal_audio" -> """
      WITH ids AS (
        SELECT doc_id AS id, 400 + (doc_id % 7) * 100 AS frames, 1 + doc_id % 2 AS ch
        FROM documents WHERE doc_id < 2000),
      s AS (
        SELECT id, ((id * 31 + i * 17) % 4001) - 2000 AS v, i
        FROM (SELECT id, unnest(generate_series(0, frames * ch - 1)) AS i FROM ids)),
      z AS (SELECT id, v, lag(v) OVER (PARTITION BY id ORDER BY i) AS pv FROM s),
      per AS (
        SELECT id, SUM(v) AS ssum, SUM(ABS(v)) AS asum,
               SUM(CASE WHEN pv IS NOT NULL AND pv * v < 0 THEN 1 ELSE 0 END) AS zx
        FROM z GROUP BY id)
      SELECT CAST(COUNT(*) AS BIGINT) AS clips,
             CAST(SUM(ids.frames) AS BIGINT) AS frames_sum,
             CAST(SUM(ids.ch) AS BIGINT) AS ch_sum,
             CAST(SUM((ids.frames * 1000) // 8000) AS BIGINT) AS dur_sum,
             CAST(SUM(per.ssum) AS BIGINT) AS s_sum,
             CAST(SUM(per.asum) AS BIGINT) AS abs_sum,
             CAST(SUM(per.zx) AS BIGINT) AS zx_sum
      FROM ids JOIN per ON per.id = ids.id""",
    // deterministic content-hash sample: the md5-prefix uniform weight is
    // recomputed exactly (60-bit hex prefix -> BIGINT -> double / 2^60)
    "q_sample_det" -> """
      SELECT CAST(COUNT(*) AS BIGINT) AS kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM documents
      WHERE CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) / 1152921504606846976.0 < 0.25""",
    "q_profile" -> """
      WITH m AS (
        SELECT 'event_id' AS col, COUNT(*) AS n_rows,
               SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS n_nulls,
               COUNT(DISTINCT event_id) AS n_distinct,
               CAST(ROUND(MIN(event_id) * 1e6) AS BIGINT) AS min_e6,
               CAST(ROUND(MAX(event_id) * 1e6) AS BIGINT) AS max_e6
        FROM events
        UNION ALL
        SELECT 'user_id', COUNT(*),
               SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END),
               COUNT(DISTINCT user_id),
               CAST(ROUND(MIN(user_id) * 1e6) AS BIGINT),
               CAST(ROUND(MAX(user_id) * 1e6) AS BIGINT)
        FROM events
        UNION ALL
        SELECT 'event_type', COUNT(*),
               SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END),
               COUNT(DISTINCT event_type), NULL, NULL
        FROM events
        UNION ALL
        SELECT 'value', COUNT(*),
               SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END),
               COUNT(DISTINCT value),
               CAST(ROUND(MIN(value) * 1e6) AS BIGINT),
               CAST(ROUND(MAX(value) * 1e6) AS BIGINT)
        FROM events)
      SELECT col AS "column", CAST(n_rows AS BIGINT) AS n_rows,
             CAST(n_nulls AS BIGINT) AS n_nulls,
             CAST(n_distinct AS BIGINT) AS n_distinct, min_e6, max_e6
      FROM m ORDER BY col""",
    "q_split" -> """
      WITH u AS (
        SELECT doc_id,
               CAST(('0x' || substring(md5(text || 'graft-split'), 1, 15)) AS BIGINT)
                 / 1152921504606846976.0 AS u
        FROM documents)
      SELECT CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split,
             CAST(COUNT(*) AS BIGINT) AS docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM u GROUP BY 1 ORDER BY 1""",
    // leakage-safe split: exact-dup clusters via the recursive reach CTE
    // (q_dedup_clusters' replay), split hashed on the group key
    // (min-label, singletons their own doc_id), same md5 thresholds
    "q_leakage_split" -> """
      WITH RECURSIVE p AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2
        FROM documents a JOIN documents b
          ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id),
      e AS (SELECT id1 AS a, id2 AS b FROM p UNION SELECT id2, id1 FROM p),
      reach(src, dst) AS (
        SELECT a, a FROM e
        UNION
        SELECT r.src, e.b FROM reach r JOIN e ON e.a = r.dst),
      lab AS (SELECT src AS id, MIN(dst) AS label FROM reach GROUP BY src),
      u AS (
        SELECT d.doc_id,
               CAST(('0x' || substring(md5(
                 CAST(COALESCE(lab.label, d.doc_id) AS VARCHAR) || 'graft-split'), 1, 15)) AS BIGINT)
                 / 1152921504606846976.0 AS u
        FROM documents d LEFT JOIN lab ON lab.id = d.doc_id)
      SELECT CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split,
             CAST(COUNT(*) AS BIGINT) AS docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM u GROUP BY 1 ORDER BY 1""",
    // near-dup leakage-safe split: components via recursive
    // min-reachable-id over the STAGED pair artifact (which
    // q_minhash_near_dup's oracle verifies pair-by-pair against its full
    // independent minhash replay), then the SAME grouped md5 split hash
    // and rollup as q_leakage_split — the oracle no longer recomputes an
    // O(corpus) minhash chain single-node (the sf1cd timeout class)
    "q_leakage_split_near" -> s"""
      WITH RECURSIVE
      p AS (SELECT id1, id2 FROM read_parquet('$minhashPairsStagePath/*.parquet')),
      e AS (SELECT id1 AS a, id2 AS b FROM p UNION SELECT id2, id1 FROM p),
      reach(src, dst) AS (
        SELECT a, a FROM e
        UNION
        SELECT r.src, e.b FROM reach r JOIN e ON e.a = r.dst),
      lab AS (SELECT src AS id, MIN(dst) AS label FROM reach GROUP BY src),
      u AS (
        SELECT d.doc_id,
               CAST(('0x' || substring(md5(
                 CAST(COALESCE(lab.label, d.doc_id) AS VARCHAR) || 'graft-split'), 1, 15)) AS BIGINT)
                 / 1152921504606846976.0 AS u
        FROM documents d LEFT JOIN lab ON lab.id = d.doc_id)
      SELECT CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split,
             CAST(COUNT(*) AS BIGINT) AS docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM u GROUP BY 1 ORDER BY 1""",
    // integer-ppm quota replay: binding stratum scale -> per-stratum
    // take -> content-hash prefix, all integer division
    "q_temperature_mix" -> """
      WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
                        pow(CAST(COUNT(*) AS DOUBLE), 0.6) AS pw
                 FROM documents GROUP BY source),
      t AS (SELECT SUM(pw) AS tot FROM c)
      SELECT source, docs,
             CAST(round(pw / t.tot * 1e6) AS BIGINT) AS weight_ppm,
             CAST(round(pw / t.tot * 1e6) AS BIGINT) * 1000000 // 1000000 AS quota
      FROM c, t ORDER BY source""",
    "q_domain_mix" -> """
      WITH t AS (SELECT * FROM (VALUES ('src0', 400000), ('src1', 300000),
                                       ('src2', 200000), ('src3', 100000)) v(source, ppm)),
      c AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source),
      j AS (SELECT t.source, t.ppm, c.cnt FROM t JOIN c USING (source)),
      s AS (SELECT MIN(cnt * 1000000 // ppm) AS scale FROM j),
      q AS (SELECT source, (SELECT scale FROM s) * ppm // 1000000 AS take FROM j),
      r AS (SELECT d.source, d.doc_id,
                   row_number() OVER (PARTITION BY d.source
                     ORDER BY md5(d.text), d.doc_id) AS rn
            FROM documents d JOIN t USING (source))
      SELECT r.source, CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(SUM(r.doc_id) AS BIGINT) AS id_sum
      FROM r JOIN q ON r.source = q.source AND r.rn <= q.take
      GROUP BY r.source ORDER BY r.source""",
    // window-cumsum replay of contiguous block packing: exclusive cumsum
    // in content-hash order, integer-divided by the 512-token budget
    "q_pack" -> """
      WITH t AS (
        SELECT doc_id, source, text,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS tok
        FROM documents),
      c AS (
        SELECT doc_id, source, tok,
               SUM(tok) OVER (PARTITION BY source ORDER BY md5(text), doc_id
                              ROWS UNBOUNDED PRECEDING) - tok AS cum
        FROM t),
      p AS (SELECT source, doc_id, tok, cum // 512 AS seq,
                   cum - (cum // 512) * 512 AS pos FROM c)
      SELECT source, CAST(COUNT(DISTINCT seq) AS BIGINT) AS seqs,
             CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(SUM(tok) AS BIGINT) AS tokens,
             CAST(SUM(doc_id * (seq + 1)) AS BIGINT) AS assign_sum,
             CAST(SUM(pos) AS BIGINT) AS pos_sum
      FROM p GROUP BY source ORDER BY source""",
    // repeated-line removal replay: split the derived multi-line view,
    // count line hashes corpus-wide, drop lines with count >= 3, rebuild
    "q_line_dedup" -> """
      WITH d AS (
        SELECT doc_id,
               string_split(replace(text, ' table ', chr(10)), chr(10)) AS parts
        FROM documents),
      l AS (
        SELECT doc_id, i, parts[i+1] AS line, md5(parts[i+1]) AS h,
               doc_id * 1000000 + i AS packed
        FROM (SELECT doc_id, parts, unnest(range(0, len(parts))) AS i FROM d)),
      g AS (SELECT h, COUNT(*) AS cnt FROM l GROUP BY h),
      k AS (SELECT l.doc_id, l.i, l.line,
                   (g.cnt < 3 OR regexp_matches(l.line, '^\s*$')) AS keep
            FROM l JOIN g USING (h)),
      reb AS (
        SELECT doc_id, COUNT(*) AS lines,
               SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS removed,
               coalesce(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY i), '') AS newt
        FROM k GROUP BY doc_id)
      SELECT CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(SUM(lines) AS BIGINT) AS lines,
             CAST(SUM(removed) AS BIGINT) AS removed,
             CAST(SUM(length(newt)) AS BIGINT) AS chars,
             CAST(SUM(CAST(('0x' || substring(md5(newt), 1, 15)) AS BIGINT)
               % 1000000000) AS BIGINT) AS checksum
      FROM reb""",
    // chained replay of the full curation pipeline: quality formula ->
    // stopword-argmax language id -> keep-first dedup -> salted-hash split
    "q_curation" -> {
      def inList(lang: String) =
        graft.operators.LangId.stopwords(lang).map(w => s"'$w'").mkString("[", ", ", "]")
      def hits(lang: String) =
        s"len(list_filter(string_split_regex(lower(text), '\\s+'), x -> list_contains(${inList(lang)}, x))) AS $lang"
      s"""
      WITH m AS (
        SELECT doc_id, text,
               CAST(length(text) AS DOUBLE) AS chars,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS words,
               CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) AS punct,
               CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                 x -> list_contains(['the','a','an','and','or','of','in','to','is','it','that','for','on','with','as'], x))) AS DOUBLE) AS sw_hits,
               CAST(len(string_split_regex(lower(text), '\\s+')) AS DOUBLE) AS toks
        FROM documents),
      filt AS (
        SELECT doc_id, text FROM m
        WHERE least(1.0, greatest(0.0,
                0.4 * least(words / 100.0, 1.0)
              + 0.3 * (1.0 - least(punct / greatest(chars, 1.0) * 5.0, 1.0))
              + 0.3 * least(sw_hits / greatest(toks, 1.0) * 4.0, 1.0))) >= 0.5),
      lh AS (
        SELECT doc_id, text, ${hits("de")}, ${hits("en")}, ${hits("es")}, ${hits("fr")}
        FROM filt),
      enl AS (
        SELECT doc_id, text FROM lh
        WHERE greatest(de, en, es, fr) > 0
          AND en = greatest(de, en, es, fr)
          AND fr < greatest(de, en, es, fr)
          AND es < greatest(de, en, es, fr)),
      ded AS (
        SELECT doc_id, text
        FROM (SELECT doc_id, text,
                     row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
              FROM enl) WHERE rn = 1),
      sp AS (
        SELECT doc_id, text,
               CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
        FROM (SELECT doc_id, text,
                     CAST(('0x' || substring(md5(text || 'graft-split'), 1, 15)) AS BIGINT)
                       / 1152921504606846976.0 AS u
              FROM ded))
      SELECT split, CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS tokens
      FROM sp GROUP BY split ORDER BY split"""
    },
    "q_sample_strat" -> """
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM (SELECT lang, doc_id,
              row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rn
            FROM documents)
      WHERE rn <= 50 GROUP BY lang ORDER BY lang""",
    "q_sample_weighted" -> """
      WITH w AS (
        SELECT lang, doc_id,
               -ln(greatest(CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT)
                     / 1152921504606846976.0, 1e-18))
                 / greatest(CAST(length(text) AS DOUBLE), 1e-18) AS k
        FROM documents),
      r AS (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang ORDER BY k, doc_id) AS rn
            FROM w)
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM r WHERE rn <= 50 GROUP BY lang ORDER BY lang""",
    // DuckDB's native nfc_normalize / strip_accents replay the canonical
    // forms; regexp_replace needs the 'g' flag (RE2) where Java replaces
    // all matches by default
    "q_normalize" -> """
      SELECT doc_id,
             md5(trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g'))) AS nh,
             md5(trim(regexp_replace(lower(strip_accents(nfc_normalize(text))), '\s+', ' ', 'g'))) AS ah,
             CAST(CASE WHEN trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g')) <> text
                       THEN 1 ELSE 0 END AS BIGINT) AS changed
      FROM documents ORDER BY doc_id""",
    "q_redact" -> """
      WITH c AS (
        SELECT text,
               regexp_replace(
                 regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 'https?://[^ \t\n]+', '<URL>', 'g') AS clean
        FROM documents)
      SELECT CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(SUM(length(clean)) AS BIGINT) AS clean_chars,
             CAST(SUM(CASE WHEN clean <> text THEN 1 ELSE 0 END) AS BIGINT) AS changed,
             CAST(SUM(CAST(('0x' || substring(md5(clean), 1, 15)) AS BIGINT) % 1000000000) AS BIGINT) AS hash_sum
      FROM c""",
    // the filter only prunes (no false negatives) and the exact semi-join
    // confirms, so the flagged set equals the plain fingerprint semi-join
    "q_decontaminate" -> """
      WITH f AS (
        SELECT doc_id,
               CAST(('0x' || substring(md5(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 15)) AS BIGINT) AS fp,
               lang
        FROM documents)
      SELECT CAST(COUNT(*) AS BIGINT) AS flagged, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM f WHERE fp IN (SELECT fp FROM f WHERE lang = 'de')""",
    "q_chunks" -> """
      WITH n AS (
        SELECT doc_id, string_split_regex(text, '\s+') AS toks,
               len(string_split_regex(text, '\s+')) AS T
        FROM documents),
      c0 AS (
        SELECT doc_id, toks, T,
               unnest(generate_series(0,
                 greatest(CAST(ceil((T - 8) / 56.0) AS BIGINT) - 1, 0))) AS i
        FROM n),
      c AS (
        SELECT doc_id, i AS chunk_idx,
               array_to_string(list_slice(toks, i*56 + 1, i*56 + 64), ' ') AS chunk_text,
               least(T - i*56, 64) AS n_tokens
        FROM c0)
      SELECT CAST(COUNT(*) AS BIGINT) AS chunks,
             CAST(SUM(n_tokens) AS BIGINT) AS tok_sum,
             CAST(SUM(CAST(('0x' || substring(md5(chunk_text), 1, 15)) AS BIGINT) % 1000000000) AS BIGINT) AS hash_sum,
             CAST(MAX(chunk_idx) AS BIGINT) AS max_idx
      FROM c""",
    "q_top_tokens" -> """
      SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS token FROM documents)
      WHERE token <> '' GROUP BY token ORDER BY cnt DESC, token LIMIT 20""",
    "q_source_report" -> """
      SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS distinct_docs,
             CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS duplicate_docs,
             CAST(SUM(length(text)) AS BIGINT) AS chars_sum,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS words_sum,
             CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS tokens_sum
      FROM documents GROUP BY source ORDER BY source""",
    // Gopher repetition filters replayed independently: line/word distinct
    // counts via list_distinct, top word-bigram per doc via the same
    // count-DESC-then-bigram-ASC window, all-gate-columns integer
    "q_repetition" -> """
      WITH t AS (
        SELECT doc_id, string_split(text, chr(10)) AS lns,
               string_split_regex(lower(text), '\s+') AS toks
        FROM documents),
      base AS (
        SELECT doc_id, len(lns) AS lines, len(toks) AS words,
               len(lns) - len(list_distinct(lns)) AS dup_lines,
               len(toks) - len(list_distinct(toks)) AS dup_words
        FROM t),
      bg AS (
        SELECT doc_id, toks[i] || ' ' || toks[i+1] AS b
        FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
              FROM t WHERE len(toks) >= 2)),
      cnt AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b),
      top AS (
        SELECT doc_id, b, c FROM (
          SELECT doc_id, b, c,
                 row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, b ASC) AS rn
          FROM cnt) WHERE rn = 1)
      SELECT m.docs, m.words_sum, m.dup_words_sum, m.lines_sum, m.dup_lines_sum,
             p.tb_cnt_sum, p.tb_chars_sum, p.tb_hash_sum
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS docs,
                   CAST(SUM(words) AS BIGINT) AS words_sum,
                   CAST(SUM(dup_words) AS BIGINT) AS dup_words_sum,
                   CAST(SUM(lines) AS BIGINT) AS lines_sum,
                   CAST(SUM(dup_lines) AS BIGINT) AS dup_lines_sum
            FROM base) m,
           (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS tb_cnt_sum,
                   CAST(COALESCE(SUM(c * length(b)), 0) AS BIGINT) AS tb_chars_sum,
                   CAST(COALESCE(SUM(CAST(('0x' || substring(md5(b), 1, 15)) AS BIGINT) % 1000000000), 0) AS BIGINT) AS tb_hash_sum
            FROM top) p""",
    // int8 quantization replayed step-for-step: abs-max scale, sequential
    // list_reduce norm (0.0 + x0^2 == x0^2, so the fold matches vec_norm's
    // zero-seeded loop bit-for-bit), floor(x*scale + 0.5) half-up rounding
    "q_embed_quant" -> """
      WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      s1 AS (SELECT v, list_max(list_transform(v, x -> abs(x))) AS mx,
                    sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
             FROM e),
      s2 AS (SELECT v, mx,
                    CASE WHEN nrm > 0 THEN list_transform(v, x -> x / nrm) ELSE v END AS vn
             FROM s1),
      s3 AS (SELECT v, mx, vn, list_max(list_transform(vn, x -> abs(x))) AS mx2 FROM s2),
      q AS (SELECT
              list_transform(v, x -> CAST(floor(x * (CASE WHEN mx > 0 THEN 127.0 / mx ELSE 0.0 END) + 0.5) AS BIGINT)) AS q,
              list_transform(vn, x -> CAST(floor(x * (CASE WHEN mx2 > 0 THEN 127.0 / mx2 ELSE 0.0 END) + 0.5) AS BIGINT)) AS qn
            FROM s3)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
             CAST(SUM(list_reduce(q, (a, b) -> a + b)) AS BIGINT) AS q_sum,
             CAST(SUM(list_reduce(qn, (a, b) -> a + b)) AS BIGINT) AS qn_sum
      FROM q""",
    // packed sign-bit word rebuilt from embedding[j] > 0: HUGEINT power
    // sum (DuckDB raises on 1::BIGINT << 63), two's-complement fold back
    // to BIGINT; popcnt from the SAME packed word certifies the layout
    "q_embed_binary" -> """
      WITH p AS (
        SELECT vec_id,
          list_reduce(list_transform(range(least(len(embedding), 64)), j ->
            CASE WHEN embedding[j+1] > 0 THEN (1::HUGEINT << CAST(j AS INT)) ELSE 0::HUGEINT END),
            (a, b) -> a + b) AS s
        FROM embeddings),
      w AS (
        SELECT vec_id,
          CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
                    THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT) AS w0
        FROM p)
      SELECT vec_id, w0, bit_count(w0) AS popcnt FROM w ORDER BY vec_id""",
    // two-stage replay: hamming = count of sign disagreements (== popcount
    // of xor of the packed words by construction), top-20 candidates by
    // (hamming, id), exact-cosine top-5 among them
    "q_ann_hamming" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT * FROM e WHERE vec_id < 10),
      ham AS (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               len(list_filter(range(len(e.v)), j -> (e.v[j+1] > 0) <> (q.v[j+1] > 0))) AS hamming
        FROM e, q WHERE e.vec_id != q.vec_id),
      cand AS (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS hr
        FROM ham),
      ranked AS (
        SELECT c.query_id, c.neighbor_id,
               row_number() OVER (PARTITION BY c.query_id
                 ORDER BY list_cosine_similarity(e2.v, q2.v) DESC, c.neighbor_id) AS rank
        FROM cand c JOIN e e2 ON e2.vec_id = c.neighbor_id JOIN q q2 ON q2.vec_id = c.query_id
        WHERE c.hr <= 20)
      SELECT query_id, rank, neighbor_id FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
    // MMR greedy rerank replayed step for step: candidate cosines with the
    // EXACT Spark arithmetic (sequential list_reduce dot, dot/(sqrt*sqrt))
    // so the e6 floors agree bit-for-bit, then a recursive CTE advances
    // every query one rank per iteration — LATERAL argmax over the
    // not-yet-chosen candidates, penalty = MAX pair sim to the chosen list
    "q_mmr_rerank" -> """
      WITH RECURSIVE
      e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
      scored AS (
        SELECT q.qid, e.vec_id AS id, e.v,
               list_reduce(list_transform(range(len(e.v)), i -> e.v[i+1] * qv[i+1]), (a,b) -> a+b)
                 / (sqrt(list_reduce(list_transform(e.v, x -> x*x), (a,b)->a+b))
                    * sqrt(list_reduce(list_transform(qv, x -> x*x), (a,b)->a+b))) AS sim
        FROM e, q WHERE e.vec_id != q.qid),
      cand AS (
        SELECT qid, id, v, CAST(floor(sim * 1000000.0 + 0.5) AS BIGINT) AS rel_e6
        FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rn FROM scored)
        WHERE rn <= 20),
      pair AS (
        SELECT a.qid, a.id AS id1, b.id AS id2,
               CAST(floor(
                 list_reduce(list_transform(range(len(a.v)), i -> a.v[i+1] * b.v[i+1]), (x,y)->x+y)
                 / (sqrt(list_reduce(list_transform(a.v, x -> x*x), (x,y)->x+y))
                    * sqrt(list_reduce(list_transform(b.v, x -> x*x), (x,y)->x+y))) * 1000000.0 + 0.5) AS BIGINT) AS sim_e6
        FROM cand a JOIN cand b ON a.qid = b.qid AND a.id <> b.id),
      sel AS (
        SELECT qid, 1 AS mmr_rank, id, 700000 * rel_e6 AS score, [id] AS chosen
        FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel_e6 DESC, id) AS rn FROM cand)
        WHERE rn = 1
        UNION ALL
        SELECT s.qid, s.mmr_rank + 1, pick.id, pick.score, list_append(s.chosen, pick.id)
        FROM sel s, LATERAL (
          SELECT c.id,
                 700000 * c.rel_e6 - 300000 * (
                   SELECT MAX(p.sim_e6) FROM pair p
                   WHERE p.qid = s.qid AND p.id1 = c.id AND list_contains(s.chosen, p.id2)) AS score
          FROM cand c
          WHERE c.qid = s.qid AND NOT list_contains(s.chosen, c.id)
          ORDER BY score DESC, c.id LIMIT 1) pick
        WHERE s.mmr_rank < 5)
      SELECT qid AS query_id, CAST(mmr_rank AS INT) AS mmr_rank, id, score AS mmr_score_e12
      FROM sel ORDER BY query_id, mmr_rank""",
    // LIVE fit->project replay: the model (mean + 4 eigenvector rows,
    // deterministic under exactReplay — regenerate with
    // `runMain graft.tools.PinPcaModel`) rides as %.17E DOUBLE literals
    // (E-notation bypasses DuckDB's DECIMAL literal path, which loses the
    // last bit at 17 significant digits); every per-row projection dot
    // product is recomputed from the parquet vectors — both engines fold
    // the dot left-to-right, so the e6 roundings agree bit-for-bit
    "q_pca_project" -> """
      WITH m(mv) AS (SELECT [2.16468600000000030E-03, -4.54778400000000000E-03, 3.93014800000000000E-03, -4.79319200000000000E-03, 9.94306600000000000E-03, 7.77251400000000000E-03, -1.82313359999999970E-02, 9.21736400000000000E-03, -2.42739800000000030E-03, -6.17906000000000000E-04, 6.43607000000000000E-03, 3.35401200000000000E-03, -2.65886800000000000E-03, 2.05402000000000000E-03, -2.14576000000000000E-04, 5.91025199999999950E-03, 3.33420800000000000E-03, 5.82612199999999960E-03, -4.61284000000000000E-04, 1.23172999999999990E-03, -3.83917000000000030E-03, 2.30218400000000000E-03, 4.16825800000000000E-03, -8.05457800000000000E-03, -1.89116600000000000E-03, 1.28081300000000010E-02, -1.59705000000000000E-03, 1.06263300000000000E-02, -1.15325799999999990E-03, 3.90362000000000000E-04, 5.60471400000000000E-03, -5.79268800000000000E-03, 8.33528600000000000E-03, -6.67538400000000000E-03, 5.15563199999999900E-03, 1.17717800000000000E-03, -5.33530800000000000E-03, -1.59378200000000000E-03, -9.66712000000000000E-04, -1.14097800000000000E-03, -1.74419800000000000E-03, -1.18341320000000000E-02, 3.13532000000000000E-04, -5.63154000000000100E-04, -1.15205620000000000E-02, 3.83261800000000000E-03, -5.98054000000000000E-04, 5.89032400000000000E-03, -3.74965200000000000E-03, -1.02643980000000000E-02, 9.37715800000000000E-03, -1.48200800000000000E-03, 7.77006000000000000E-03, -3.91755000000000000E-03, 4.70980799999999900E-03, -3.57730600000000000E-03, 4.77385400000000000E-03, -2.47035800000000000E-03, -4.84451800000000000E-03, -8.72118400000000000E-03, -2.81182000000000000E-04, 5.00419400000000000E-03, -1.15905400000000000E-03, -1.32662280000000000E-02]),
      w(component, wv) AS (SELECT * FROM (VALUES
        (0, [-2.09637431034738590E-01, -1.20574081125557150E-01, 3.65484518011678500E-02, 1.18156093359072320E-02, 7.56817388533994700E-02, 1.32197454245310180E-02, 9.05857609588422000E-02, 2.86616087396804400E-01, 4.95497316072653700E-02, 4.14058348730044200E-01, 6.53085671210877800E-02, 1.82083204383351400E-01, 6.51357715535512100E-02, -3.65243474073781300E-02, 1.71150317903916350E-01, -1.85344199549312900E-01, 8.89937954353822000E-02, -1.57010237303274070E-01, -3.01407629228647930E-02, 3.21725797766466400E-02, 6.12139494795602800E-02, -1.10687764432858720E-01, -8.34720713703858700E-02, -5.54522004228823000E-02, 1.95393063671478460E-02, 1.99114439155969270E-01, -3.75156375231135360E-02, 1.49508353479352870E-01, -1.72882829635925630E-01, -6.12957524828209900E-03, -5.87145758387652840E-02, 6.20266590780878600E-02, 2.96538670932913100E-01, 1.06169260971473830E-01, -3.20423893743521700E-02, 1.04145965135935400E-01, 4.45388629341989500E-02, 6.14703884423725700E-02, 1.30177048699382240E-02, 2.17717106417454400E-02, -1.16681199841526390E-01, 5.52341414773432100E-03, -2.40839488684682160E-01, 9.57011585582488200E-02, -2.82989518115019830E-02, -2.25136184560476770E-01, 8.72893577383126300E-03, -7.90294833214097600E-02, -8.36753939866723400E-02, -1.18458093179396100E-01, 1.20453643989867310E-01, 7.24793096337067600E-02, -1.71887900893984700E-02, 8.16054089209783300E-02, -1.50202372755692050E-02, -6.67635286145457200E-02, -5.56642937578253060E-02, -5.13756754458284400E-02, 6.02001671306695900E-02, -9.11432572363520700E-02, 1.21984680700850580E-01, 5.06514030110032300E-02, -2.18209687694950060E-01, -1.02018394168036560E-01]),
        (1, [-3.82614861964671650E-03, -5.44267044511338660E-02, -1.25698197232347930E-02, -8.81342057503294600E-02, 1.74852814954314400E-01, 2.52151987808642460E-02, 7.49371066106005200E-02, -6.99958177568155700E-02, 7.74453801465564400E-02, 3.06799222196417300E-02, 1.05752128107031880E-01, -1.78883132165813500E-02, 1.29757662333787800E-02, 1.33696102255356750E-01, 1.45530947155207150E-02, 4.14000730319377600E-02, 1.48406861300535870E-01, 3.60315786144146060E-01, -5.41865469037229250E-02, -5.07686586564696100E-02, 3.25382497876920760E-02, 3.53997596352181800E-02, 6.53369797939068300E-02, -3.09122168435199240E-01, -2.57681848514826400E-01, -2.39072462782937000E-01, -2.06359910011985020E-02, -2.33883731935700200E-04, -8.62787651199400200E-02, -1.74537594547058970E-01, -2.40663772266517400E-02, -2.17545084120418900E-01, 2.94509038873270460E-02, 6.15325170451285560E-02, 3.37554110326395900E-02, 7.92133873339692500E-02, 5.94650003361553600E-02, 3.64950553720355950E-02, 1.82104432477002140E-01, 4.66672188632489500E-02, 1.61553933930031880E-05, 4.69842780918952900E-02, -6.27574830473286200E-02, -1.79195937874397970E-01, 1.72690813366424530E-01, -1.88821930732813730E-01, -4.69494380014951900E-02, 1.45785288530459380E-01, 1.12926222582550000E-01, -1.13279576299867760E-01, -1.57440011601631620E-01, -8.19782552093865900E-02, 1.29831095233372880E-02, -1.60964231847483850E-02, 2.38033292206858430E-01, 2.33885560894593800E-02, -3.02817877638045350E-01, 1.63857327216615470E-02, 1.35434352106690750E-01, -1.21583849203273480E-01, -8.36764122359758800E-02, 8.48386381209897500E-02, -4.33176579799888300E-04, -7.86124825824218300E-02]),
        (2, [-1.48046750332393950E-01, -8.51249043459217600E-02, -6.39494068004561000E-02, -4.52541455521864030E-04, -2.04376279577943400E-01, -4.37370571984197800E-02, 1.17754669789601400E-01, -2.84496004847680500E-01, 4.44000787408083200E-02, 2.37192498718357000E-02, -5.11799527509957300E-02, 3.57093827033086800E-02, -6.01803710327698000E-02, -3.45493885211157100E-02, 9.44875318444576000E-03, -2.34548632161978520E-01, 1.71372227292240500E-01, -8.49342879462092000E-02, 1.16043520351319460E-01, 7.73277547194007900E-02, 1.31304294353160800E-02, 1.75306686477205200E-01, -1.00650252636449930E-01, 5.33752679695009600E-02, 9.25597814132542000E-02, 1.00091656322476960E-01, 9.06388360908878700E-02, -1.34140220029033800E-01, 1.02783781050169390E-02, -1.05405083643715760E-01, -1.22857628213435850E-01, 9.09147158965031600E-02, 4.82536438306717460E-02, -1.80662728726899450E-01, -2.97705661757287770E-02, -1.02159976266446420E-01, 1.39078149535445780E-01, -2.12550272516058800E-01, -6.34582230442277000E-02, -1.03929500726763950E-01, 1.89475955428966360E-01, 1.90111808413394980E-01, -1.25857781556541340E-01, -2.08932047390370360E-01, 1.65862734654765610E-01, 5.28331987054422440E-02, 4.27962315556811400E-02, 1.80183334373169370E-02, -6.83220918754494500E-02, -5.12752891025444300E-02, -1.29497010032367550E-01, -1.06455640341563920E-01, 2.27798082404439160E-01, -1.53292535345041970E-01, -1.79155303703712330E-01, -1.92124817841267870E-03, -5.38094645552129100E-03, 1.09725602383203030E-01, 1.82795279144604470E-01, -5.26860581940923500E-02, -6.95556241582247800E-02, 2.88429622891418500E-01, -9.00798132790077300E-02, -7.55302354799709800E-02]),
        (3, [6.80902328793719600E-02, 6.26914295601839000E-02, 8.78675003826429600E-03, 1.72523607750973250E-01, -2.57962491946418460E-01, 1.07124965529677420E-01, -2.32062842348599200E-02, 1.77547053531111200E-01, -1.15219730227456310E-01, 1.36201693965931430E-01, 7.64362999470015500E-03, 2.01940048873867930E-01, -6.07768168405638000E-02, -1.40229689928538130E-01, -9.31137814263003800E-02, 4.93055606552435500E-02, 9.68299284733391400E-02, 7.14275308210931700E-02, -9.31745913385740400E-03, -2.03162968120711580E-01, -2.25473142082178200E-01, 1.57656322391089200E-01, -1.18584586319731690E-02, 7.32350087910955800E-02, 2.74689860877154050E-02, -1.19084857077785100E-01, 1.16458515506099410E-01, -3.83182587604725170E-03, 1.28927102014330200E-01, -1.04516634935519650E-01, 1.52115839835546750E-01, 2.00577884355629930E-01, -8.14119901158750500E-02, -1.76731186951389030E-02, -1.16499533161383460E-01, 3.16189724822011900E-01, -1.16724728799180640E-01, -1.48437187189686760E-01, -1.02517736677084670E-02, -4.82841177408609700E-02, -1.45110267150384450E-02, -1.81461531978852170E-04, -8.56492646873811700E-02, -1.74328811463185700E-02, -7.57341526004470700E-02, -4.15192630992194940E-02, -1.36232657457258640E-02, 3.69404946286905200E-01, -1.08513557934003700E-01, -1.53443177246738700E-01, 6.64719529412692700E-02, -1.97771895891525120E-02, 9.32838132676339400E-03, 5.39657506983237900E-03, -2.19144018640998470E-02, 1.01474638949070050E-01, -1.70905797865731400E-01, 9.29293227559200300E-02, -1.70723291228551230E-01, -7.39169500430603700E-02, -1.92064350652884740E-01, -9.62199752320433600E-02, -8.40471305389681900E-02, 2.62931794608543600E-02])) t(component, wv)),
      e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
      SELECT e.vec_id, CAST(w.component AS INT) AS component,
             CAST(floor(list_inner_product(
               list_transform(range(1, len(v) + 1), i -> v[i] - mv[i]), wv) * 1000000.0 + 0.5) AS BIGINT) AS x_e6
      FROM e, m, w
      ORDER BY vec_id, component""",
    // upper-triangle Gram over the first 8 dims, each product micro-rounded
    // to e6 (floor(x + 0.5): the only half-rounding identical across
    // engines) before the exact integer sum
    "q_pca_cov" -> """
      WITH e AS (SELECT list_transform(embedding[1:8], x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      prods AS (
        SELECT ii.i AS i, jj.j AS j,
               CAST(floor(v[ii.i+1] * v[jj.j+1] * 1000000.0 + 0.5) AS BIGINT) AS p
        FROM e, (SELECT unnest(range(8)) AS i) ii, (SELECT unnest(range(8)) AS j) jj
        WHERE jj.j >= ii.i)
      SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j, CAST(SUM(p) AS BIGINT) AS gram_e6
      FROM prods GROUP BY 1, 2 ORDER BY i, j""",
    "q_ann_topk" -> """
      SELECT query_id, rank, neighbor_id FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC,
                          e.vec_id) AS rank
        FROM embeddings e, (SELECT * FROM embeddings WHERE vec_id < 10) q
        WHERE e.vec_id != q.vec_id) ranked
      WHERE rank <= 5 ORDER BY query_id, rank""",
    // HLL registers rebuilt from hash bit arithmetic: bucket = top-12 bits,
    // rho = 53 - bitlength(low 52 bits) (bin() gives exact integer bit
    // length — no float log2), absent buckets are zeros. The estimate
    // mirrors HllSketch.estimate operation for operation: exact integer
    // harmonic numerator summed as HUGEINT, one rounding at CAST AS DOUBLE,
    // same multiply/divide order, same linear-counting branch.
    "q_hll" -> """
      WITH h AS (
        SELECT l_returnflag AS flag, hash(CAST(l_orderkey AS BIGINT)) AS hv
        FROM lineitem),
      rho AS (
        SELECT flag, CAST(hv >> 52 AS BIGINT) AS bucket,
               CASE WHEN hv % 4503599627370496 = 0 THEN 53
                    ELSE 53 - length(bin(hv % 4503599627370496)) END AS r
        FROM h),
      regs AS (SELECT flag, bucket, MAX(r) AS reg FROM rho GROUP BY flag, bucket),
      ex AS (SELECT l_returnflag AS flag, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_cnt
             FROM lineitem GROUP BY 1),
      agg AS (
        SELECT flag, COUNT(*) AS nonzero,
               SUM(reg) AS reg_sum,
               SUM((bucket + 1) * reg) AS pos_sum,
               SUM(CAST(pow(2.0, 53 - reg) AS BIGINT) % 1000000007) AS pm_part,
               SUM(CAST(pow(2.0, 53 - reg) AS HUGEINT)) AS num_part
        FROM regs GROUP BY flag),
      fin AS (
        SELECT a.flag, e.exact_cnt, 4096 - a.nonzero AS zeros, a.reg_sum, a.pos_sum,
               (a.pm_part + CAST(4096 - a.nonzero AS BIGINT) * (9007199254740992 % 1000000007)) % 1000000007 AS pow_mod,
               CAST(a.num_part AS HUGEINT) + CAST(4096 - a.nonzero AS HUGEINT) * 9007199254740992 AS num
        FROM agg a JOIN ex e USING (flag)),
      est AS (
        SELECT flag,
               0.7213 / (1.0 + 1.079 / 4096.0) * 4096.0 * 4096.0 * 9007199254740992.0 / CAST(num AS DOUBLE) AS raw
        FROM fin)
      SELECT f.flag, f.exact_cnt,
             CAST(f.zeros AS BIGINT) AS zeros,
             CAST(f.reg_sum AS BIGINT) AS reg_sum,
             CAST(f.pos_sum AS BIGINT) AS pos_sum,
             CAST(f.pow_mod AS BIGINT) AS pow_mod,
             CAST(round((CASE WHEN e.raw <= 2.5 * 4096.0 AND f.zeros > 0
                              THEN 4096.0 * ln(4096.0 / f.zeros)
                              ELSE e.raw END) * 100) AS BIGINT) AS est_e2
      FROM fin f JOIN est e USING (flag) ORDER BY f.flag""",
    // Count-Min cells rebuilt as COUNT(*) over rows whose perturbed-key
    // engine hash lands there; probe = MIN over the 4 row cells. Seeds are
    // CountMinSketch.RowSeeds as unsigned decimals.
    "q_cms" -> """
      WITH seeds AS (
        SELECT * FROM (VALUES
          (0, CAST(0 AS UBIGINT)),
          (1, CAST(2611923443488327891 AS UBIGINT)),
          (2, CAST(1376283091369227076 AS UBIGINT)),
          (3, CAST(11820040416388919760 AS UBIGINT))) s(i, seed)),
      h AS (SELECT hash(CAST(l_suppkey AS BIGINT)) AS hv FROM lineitem),
      cells AS (
        SELECT s.i, hash(xor(h.hv, s.seed)) % 16384 AS idx, COUNT(*) AS c
        FROM h, seeds s GROUP BY 1, 2),
      top AS (
        SELECT CAST(l_suppkey AS BIGINT) AS suppkey, CAST(COUNT(*) AS BIGINT) AS exact_cnt
        FROM lineitem GROUP BY 1 ORDER BY exact_cnt DESC, suppkey LIMIT 10),
      probe AS (
        SELECT t.suppkey, t.exact_cnt, s.i,
               hash(xor(hash(t.suppkey), s.seed)) % 16384 AS idx
        FROM top t, seeds s)
      SELECT p.suppkey, p.exact_cnt, CAST(MIN(c.c) AS BIGINT) AS est_cnt
      FROM probe p JOIN cells c ON c.i = p.i AND c.idx = p.idx
      GROUP BY p.suppkey, p.exact_cnt
      ORDER BY p.suppkey""",
    // KMV bottom-256 distinct customer hashes per priority in native
    // unsigned (UBIGINT) order; estimate = (k-1) * 2^64 / kth minimum with
    // the same operation order; shared = |bottom-256(A ∪ B) ∩ A ∩ B|.
    "q_kmv" -> """
      WITH d AS (
        SELECT DISTINCT o_orderpriority AS prio, hash(CAST(o_custkey AS BIGINT)) AS hv
        FROM orders),
      rk AS (SELECT prio, hv, row_number() OVER (PARTITION BY prio ORDER BY hv) AS rn FROM d),
      sk AS (SELECT prio, hv FROM rk WHERE rn <= 256),
      st AS (SELECT prio, COUNT(*) AS n, MAX(CASE WHEN rn = 256 THEN hv END) AS kth
             FROM rk WHERE rn <= 256 GROUP BY 1),
      ex AS (SELECT prio, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM d GROUP BY 1),
      est AS (
        SELECT prio, CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
                          ELSE 255.0 * 18446744073709551616.0 / CAST(kth AS DOUBLE) END AS est
        FROM st),
      pairs AS (
        SELECT a.prio AS p1, b.prio AS p2 FROM ex a, ex b WHERE a.prio < b.prio),
      u AS (
        SELECT p.p1, p.p2, s.hv FROM pairs p
        JOIN sk s ON s.prio = p.p1 OR s.prio = p.p2
        GROUP BY 1, 2, 3),
      ur AS (SELECT p1, p2, hv, row_number() OVER (PARTITION BY p1, p2 ORDER BY hv) AS rn FROM u),
      l AS (SELECT p1, p2, hv FROM ur WHERE rn <= 256),
      shr AS (
        SELECT l.p1, l.p2, COUNT(*) AS shared
        FROM l JOIN sk s1 ON s1.prio = l.p1 AND s1.hv = l.hv
               JOIN sk s2 ON s2.prio = l.p2 AND s2.hv = l.hv
        GROUP BY 1, 2)
      SELECT p.p1, p.p2, ea.exact_cnt AS exact1, eb.exact_cnt AS exact2,
             CAST(round(e1.est * 100) AS BIGINT) AS est1_e2,
             CAST(round(e2.est * 100) AS BIGINT) AS est2_e2,
             CAST(COALESCE(shr.shared, 0) AS BIGINT) AS shared
      FROM pairs p
      JOIN ex ea ON ea.prio = p.p1 JOIN ex eb ON eb.prio = p.p2
      JOIN est e1 ON e1.prio = p.p1 JOIN est e2 ON e2.prio = p.p2
      LEFT JOIN shr ON shr.p1 = p.p1 AND shr.p2 = p.p2
      ORDER BY p.p1, p.p2""",
    // collocations: row-local adjacent pairs, unigram/bigram totals,
    // micro-rounded PMI with the exact same division order
    "q_collocations" -> """
      WITH t AS (
        SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        FROM documents),
      uni AS (
        SELECT u.tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM t, LATERAL unnest(t.toks) AS u(tok) GROUP BY u.tok),
      tu AS (SELECT CAST(SUM(c) AS BIGINT) AS tu FROM uni),
      bi_all AS (
        SELECT toks[u.i] AS x, toks[u.i + 1] AS y, CAST(COUNT(*) AS BIGINT) AS cxy
        FROM t, LATERAL unnest(range(1, len(toks))) AS u(i)
        WHERE len(toks) >= 2
        GROUP BY 1, 2),
      tb AS (SELECT CAST(SUM(cxy) AS BIGINT) AS tb FROM bi_all),
      bi AS (SELECT * FROM bi_all WHERE cxy >= 10)
      SELECT bi.x, bi.y, bi.cxy AS pair_count,
             ux.c AS x_count, uy.c AS y_count,
             CAST(round(ln((CAST(bi.cxy AS DOUBLE) / CAST(tb.tb AS DOUBLE)) /
               ((CAST(ux.c AS DOUBLE) / CAST(tu.tu AS DOUBLE)) *
                (CAST(uy.c AS DOUBLE) / CAST(tu.tu AS DOUBLE)))) * 1e6) AS BIGINT) AS pmi_e6
      FROM bi JOIN uni ux ON ux.tok = bi.x
              JOIN uni uy ON uy.tok = bi.y
              CROSS JOIN tb CROSS JOIN tu
      ORDER BY pair_count DESC, bi.x, bi.y LIMIT 20""",
    // lexical diversity: per-(doc, token) counts, c·ln(c) micro-rounded
    "q_lexdiv" -> """
      WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> '')) AS tok
        FROM documents WHERE doc_id < 50),
      c AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
            FROM toks GROUP BY doc_id, tok)
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS tokens,
             CAST(COUNT(*) AS BIGINT) AS types,
             CAST(SUM(CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT)) AS BIGINT) AS clnc_e6,
             CAST((COUNT(*) * 1000000) // SUM(c) AS BIGINT) AS ttr_ppm
      FROM c GROUP BY doc_id ORDER BY doc_id""",
    // token drift: top-200 vocab (count desc, token asc), add-one
    // smoothing over the restricted vocab, nano-rounded contributions
    "q_token_drift" -> """
      WITH toks AS (
        SELECT source,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> '')) AS tok
        FROM documents),
      top AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS cc FROM toks
        GROUP BY tok ORDER BY cc DESC, tok LIMIT 200),
      sc AS (
        SELECT t.source, t.tok, CAST(COUNT(*) AS BIGINT) AS sc
        FROM toks t JOIN top ON top.tok = t.tok
        GROUP BY t.source, t.tok),
      st AS (SELECT source, CAST(SUM(sc) AS BIGINT) AS st FROM sc GROUP BY source),
      ct AS (SELECT CAST(SUM(cc) AS BIGINT) AS ct,
                    CAST(COUNT(*) AS BIGINT) AS kk FROM top),
      terms AS (
        SELECT st.source,
               CAST(round(
                 (CAST(COALESCE(sc.sc, 0) + 1 AS DOUBLE) / CAST(st.st + ct.kk AS DOUBLE))
                 * ln((CAST(COALESCE(sc.sc, 0) + 1 AS DOUBLE) / CAST(st.st + ct.kk AS DOUBLE))
                      / (CAST(top.cc + 1 AS DOUBLE) / CAST(ct.ct + ct.kk AS DOUBLE)))
                 * 1e9) AS BIGINT) AS term_e9,
               ct.kk AS kk, st.st AS st
        FROM st CROSS JOIN top CROSS JOIN ct
        LEFT JOIN sc ON sc.source = st.source AND sc.tok = top.tok)
      SELECT source, CAST(MAX(kk) AS BIGINT) AS tokens,
             CAST(MAX(st) AS BIGINT) AS n,
             CAST(SUM(term_e9) AS BIGINT) AS kl_e9
      FROM terms GROUP BY source ORDER BY source""",
    // quartile binning: three interpolated thresholds replayed with the
    // winsorize arithmetic, CASE bucket (v < t -> lower bucket)
    "q_qbin" -> """
      WITH v AS (SELECT value AS x FROM events WHERE NOT isnan(value)),
      inr AS (
        SELECT LEAST(999, CAST(FLOOR((x - 0.0) / 0.5) AS INT)) AS slot
        FROM v WHERE x >= 0.0 AND x < 500.0),
      c AS (SELECT slot, COUNT(*) AS cnt FROM inr GROUP BY slot),
      n AS (SELECT SUM(cnt) AS n FROM c),
      w AS (SELECT slot, cnt, SUM(cnt) OVER (ORDER BY slot) AS cum FROM c),
      t1 AS (SELECT 0.0 + 0.5 * (w.slot + GREATEST(0.0,
               ((0.25 * n.n) - (w.cum - w.cnt)) / w.cnt)) AS t
             FROM w, n WHERE w.cum >= 0.25 * n.n ORDER BY w.slot LIMIT 1),
      t2 AS (SELECT 0.0 + 0.5 * (w.slot + GREATEST(0.0,
               ((0.5 * n.n) - (w.cum - w.cnt)) / w.cnt)) AS t
             FROM w, n WHERE w.cum >= 0.5 * n.n ORDER BY w.slot LIMIT 1),
      t3 AS (SELECT 0.0 + 0.5 * (w.slot + GREATEST(0.0,
               ((0.75 * n.n) - (w.cum - w.cnt)) / w.cnt)) AS t
             FROM w, n WHERE w.cum >= 0.75 * n.n ORDER BY w.slot LIMIT 1),
      b AS (
        SELECT CASE WHEN v.x < t1.t THEN 0
                    WHEN v.x < t2.t THEN 1
                    WHEN v.x < t3.t THEN 2
                    ELSE 3 END AS bucket,
               v.x
        FROM v, t1, t2, t3)
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(round(x * 100) AS BIGINT)) AS BIGINT) AS v_e2,
             CAST(MIN(CAST(round(x * 100) AS BIGINT)) AS BIGINT) AS min_e2,
             CAST(MAX(CAST(round(x * 100) AS BIGINT)) AS BIGINT) AS max_e2
      FROM b GROUP BY bucket ORDER BY bucket""",
    // winsorize: HistogramSketch slot/quantile arithmetic replayed —
    // slot = min(nbins-1, floor((x-lo)/width)), rank q*n walked to the
    // first bin with cum >= rank, uniform within the bin
    "q_winsorize" -> """
      WITH v AS (SELECT value AS x FROM events WHERE NOT isnan(value)),
      inr AS (
        SELECT LEAST(999, CAST(FLOOR((x - 0.0) / 0.5) AS INT)) AS slot
        FROM v WHERE x >= 0.0 AND x < 500.0),
      c AS (SELECT slot, COUNT(*) AS cnt FROM inr GROUP BY slot),
      n AS (SELECT SUM(cnt) AS n FROM c),
      w AS (SELECT slot, cnt, SUM(cnt) OVER (ORDER BY slot) AS cum FROM c),
      tlo AS (
        SELECT 0.0 + 0.5 * (w.slot + GREATEST(0.0,
                 ((0.05 * n.n) - (w.cum - w.cnt)) / w.cnt)) AS t
        FROM w, n WHERE w.cum >= 0.05 * n.n ORDER BY w.slot LIMIT 1),
      thi AS (
        SELECT 0.0 + 0.5 * (w.slot + GREATEST(0.0,
                 ((0.95 * n.n) - (w.cum - w.cnt)) / w.cnt)) AS t
        FROM w, n WHERE w.cum >= 0.95 * n.n ORDER BY w.slot LIMIT 1),
      clip AS (
        SELECT v.x, tlo.t AS tl, thi.t AS th,
               LEAST(GREATEST(v.x, tlo.t), thi.t) AS wv
        FROM v, tlo, thi)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(round(wv * 100) AS BIGINT)) AS BIGINT) AS w_e2,
             CAST(SUM(CASE WHEN x < tl THEN 1 ELSE 0 END) AS BIGINT) AS clipped_low,
             CAST(SUM(CASE WHEN x > th THEN 1 ELSE 0 END) AS BIGINT) AS clipped_high,
             CAST(round(MAX(tl) * 1e6) AS BIGINT) AS t_lo_e6,
             CAST(round(MAX(th) * 1e6) AS BIGINT) AS t_hi_e6
      FROM clip""",
    // any-alignment repeated spans: same md5 windows, same merge walk
    "q_span_ranges" -> """
      WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        FROM documents),
      wins AS (
        SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos,
               md5(array_to_string(toks[u.i:u.i+5], ' ')) AS h
        FROM t, LATERAL unnest(range(1, len(toks) - 4)) AS u(i)
        WHERE len(toks) >= 6),
      hot AS (SELECT h FROM wins GROUP BY h HAVING COUNT(*) >= 2),
      f AS (SELECT w.doc_id, w.pos FROM wins w JOIN hot USING (h)),
      m AS (
        SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER w IS NULL
                     OR pos > lag(pos) OVER w + 6 THEN 1 ELSE 0 END AS brk
        FROM f WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      r AS (
        SELECT doc_id, pos,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS rid
        FROM m),
      g AS (SELECT doc_id, rid, MIN(pos) AS s, MAX(pos) + 6 AS e,
                   COUNT(*) AS wn
            FROM r GROUP BY 1, 2)
      SELECT CAST(COUNT(*) AS BIGINT) AS ranges,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS docs,
             CAST(SUM(e - s) AS BIGINT) AS masked_tokens,
             CAST(SUM(wn) AS BIGINT) AS windows,
             CAST(MAX(e - s) AS BIGINT) AS max_range
      FROM g""",
    // vocab coverage: top-500 tokens (count desc, token asc) as the vocab,
    // OOV occurrences counted per source, truncating-div ppm
    "q_vocab_coverage" -> """
      WITH toks AS (
        SELECT source,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> '')) AS tok
        FROM documents),
      vocab AS (
        SELECT tok FROM (
          SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
          ORDER BY c DESC, tok LIMIT 500)),
      j AS (
        SELECT t.source, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
        FROM toks t LEFT JOIN vocab v ON t.tok = v.tok)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS total_tokens,
             CAST(SUM(oov) AS BIGINT) AS oov_tokens,
             CAST((SUM(oov) * 1000000) // COUNT(*) AS BIGINT) AS oov_ppm
      FROM j GROUP BY source ORDER BY source""",
    // resample: per-user aligned grid + native ASOF LEFT JOIN forward fill
    "q_resample" -> """
      WITH obs AS (
        SELECT user_id, epoch_us(ts) AS us, value
        FROM events WHERE user_id < 5),
      sp AS (
        SELECT user_id, (MIN(us) // 21600000000) * 21600000000 AS lo,
               MAX(us) AS hi
        FROM obs GROUP BY user_id),
      grid AS (
        SELECT user_id, unnest(generate_series(lo, hi, 21600000000)) AS ts_us
        FROM sp)
      SELECT g.user_id, g.ts_us,
             CAST(round(o.value * 100) AS BIGINT) AS value_e2
      FROM grid g ASOF LEFT JOIN obs o
        ON g.user_id = o.user_id AND g.ts_us >= o.us
      ORDER BY g.user_id, g.ts_us""",
    // contrastive negatives: the engine hash of id*1000003 + j,
    // sign-cleared then mod n, anchor-collision bumped to (r+1) mod n
    "q_neg_sample" -> """
      WITH n AS (SELECT COUNT(*) AS n FROM embeddings),
      anchors AS (SELECT vec_id FROM embeddings WHERE vec_id < 20),
      j AS (SELECT unnest(range(4)) AS j),
      raw AS (
        SELECT a.vec_id, j.j,
               CAST((hash(a.vec_id * 1000003 + j.j) & 9223372036854775807) % n.n AS BIGINT) AS r,
               n.n AS nn
        FROM anchors a, j, n),
      neg AS (
        SELECT vec_id, CAST(j AS INT) AS j,
               CASE WHEN r = vec_id THEN (r + 1) % nn ELSE r END AS neg_id
        FROM raw)
      SELECT neg.vec_id, neg.j, e.vec_id AS neg_vec_id, e.label AS neg_label
      FROM neg JOIN embeddings e ON e.vec_id = neg.neg_id
      ORDER BY neg.vec_id, neg.j""",
    // CMS inner product: DuckDB rebuilds every (row, cell) counter with the
    // engine hash (same machinery as q_cms), then min-over-rows of the
    // cell-product sums; exact side via per-(user, type) count products
    "q_join_card" -> """
      WITH seeds(i, seed) AS (
        SELECT * FROM (VALUES
          (0, CAST(0 AS UBIGINT)),
          (1, CAST(2611923443488327891 AS UBIGINT)),
          (2, CAST(1376283091369227076 AS UBIGINT)),
          (3, CAST(11820040416388919760 AS UBIGINT))) s(i, seed)),
      h AS (SELECT event_type, hash(CAST(user_id AS BIGINT)) AS hv FROM events),
      cells AS (
        SELECT event_type, s.i, hash(xor(h.hv, s.seed)) % 16384 AS idx,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM h, seeds s GROUP BY 1, 2, 3),
      prod AS (
        SELECT a.event_type AS t1, b.event_type AS t2, a.i,
               SUM(a.c * b.c) AS rowsum
        FROM cells a JOIN cells b
          ON a.i = b.i AND a.idx = b.idx AND a.event_type < b.event_type
        GROUP BY 1, 2, 3),
      est AS (SELECT t1, t2, MIN(rowsum) AS est_pairs FROM prod GROUP BY 1, 2),
      cnt AS (SELECT user_id, event_type, COUNT(*) AS c FROM events GROUP BY 1, 2),
      ex AS (
        SELECT a.event_type AS t1, b.event_type AS t2,
               CAST(SUM(a.c * b.c) AS BIGINT) AS exact_pairs
        FROM cnt a JOIN cnt b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2)
      SELECT ex.t1, ex.t2, ex.exact_pairs, CAST(est.est_pairs AS BIGINT) AS est_pairs
      FROM ex JOIN est ON est.t1 = ex.t1 AND est.t2 = ex.t2
      ORDER BY ex.t1, ex.t2""",
    // PageRank: 5 power iterations in ppb integer arithmetic, unrolled —
    // truncating integer division (`//`, all values positive) matches
    // Spark's `div` exactly, so ranks replay bit-for-bit
    "q_pagerank" -> """
      WITH e0 AS (
        SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
      deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
      nodes AS (SELECT DISTINCT src AS node FROM edges),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
      base AS (SELECT nodes.node, n.n FROM nodes CROSS JOIN n),
      r0 AS (SELECT node, 1000000000 // n AS rank FROM base),
      it1 AS (SELECT e.dst AS node, SUM(r.rank // d.deg) AS inc
              FROM edges e JOIN r0 r ON e.src = r.node JOIN deg d ON d.src = e.src
              GROUP BY e.dst),
      r1 AS (SELECT b.node, (150000 * (1000000000 // b.n)) // 1000000
                          + (850000 * COALESCE(i.inc, 0)) // 1000000 AS rank
             FROM base b LEFT JOIN it1 i ON b.node = i.node),
      it2 AS (SELECT e.dst AS node, SUM(r.rank // d.deg) AS inc
              FROM edges e JOIN r1 r ON e.src = r.node JOIN deg d ON d.src = e.src
              GROUP BY e.dst),
      r2 AS (SELECT b.node, (150000 * (1000000000 // b.n)) // 1000000
                          + (850000 * COALESCE(i.inc, 0)) // 1000000 AS rank
             FROM base b LEFT JOIN it2 i ON b.node = i.node),
      it3 AS (SELECT e.dst AS node, SUM(r.rank // d.deg) AS inc
              FROM edges e JOIN r2 r ON e.src = r.node JOIN deg d ON d.src = e.src
              GROUP BY e.dst),
      r3 AS (SELECT b.node, (150000 * (1000000000 // b.n)) // 1000000
                          + (850000 * COALESCE(i.inc, 0)) // 1000000 AS rank
             FROM base b LEFT JOIN it3 i ON b.node = i.node),
      it4 AS (SELECT e.dst AS node, SUM(r.rank // d.deg) AS inc
              FROM edges e JOIN r3 r ON e.src = r.node JOIN deg d ON d.src = e.src
              GROUP BY e.dst),
      r4 AS (SELECT b.node, (150000 * (1000000000 // b.n)) // 1000000
                          + (850000 * COALESCE(i.inc, 0)) // 1000000 AS rank
             FROM base b LEFT JOIN it4 i ON b.node = i.node),
      it5 AS (SELECT e.dst AS node, SUM(r.rank // d.deg) AS inc
              FROM edges e JOIN r4 r ON e.src = r.node JOIN deg d ON d.src = e.src
              GROUP BY e.dst),
      r5 AS (SELECT b.node, (150000 * (1000000000 // b.n)) // 1000000
                          + (850000 * COALESCE(i.inc, 0)) // 1000000 AS rank
             FROM base b LEFT JOIN it5 i ON b.node = i.node)
      SELECT CAST(node AS BIGINT) AS node, CAST(rank AS BIGINT) AS rank_ppb
      FROM r5 ORDER BY rank_ppb DESC, node LIMIT 25""",
    // co-purchase edges: distinct (order, supplier) self-joined per order
    "q_copurchase" -> """
      WITH os AS (SELECT DISTINCT l_orderkey AS g, CAST(l_suppkey AS BIGINT) AS i
                  FROM lineitem)
      SELECT a.i AS src, b.i AS dst, CAST(COUNT(*) AS BIGINT) AS weight
      FROM os a JOIN os b ON a.g = b.g AND a.i < b.i
      GROUP BY a.i, b.i HAVING COUNT(*) >= 2
      ORDER BY weight DESC, src, dst LIMIT 20""",
    // degree distribution: undirected simple graph, degree histogram
    "q_graph_stats" -> """
      WITH e0 AS (
        SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
      deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS degree FROM edges GROUP BY src)
      SELECT degree, CAST(COUNT(*) AS BIGINT) AS nodes
      FROM deg GROUP BY degree ORDER BY nodes DESC, degree LIMIT 25""",
    // personalized PageRank: same unrolled integer chain with the
    // teleport restricted to the (graph-present) seed set
    "q_ppr" -> """
      WITH e0 AS (
        SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
      deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
      nodes AS (SELECT DISTINCT src AS node FROM edges),
      seeds AS (SELECT DISTINCT s_suppkey * 2 + 1 AS node FROM supplier
                WHERE s_nationkey = 0),
      gs AS (SELECT n.node FROM nodes n JOIN seeds s ON n.node = s.node),
      ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS ns FROM gs),
      base AS (
        SELECT n.node,
               CASE WHEN g.node IS NOT NULL THEN 1000000000 // ns.ns
                    ELSE 0 END AS tele
        FROM nodes n LEFT JOIN gs g ON n.node = g.node CROSS JOIN ns),
      r0 AS (SELECT node, tele AS rank FROM base),
      it1 AS (SELECT e.dst AS node, SUM(r.rank // d.deg) AS inc
              FROM edges e JOIN r0 r ON e.src = r.node JOIN deg d ON d.src = e.src
              GROUP BY e.dst),
      r1 AS (SELECT b.node, (150000 * b.tele) // 1000000
                          + (850000 * COALESCE(i.inc, 0)) // 1000000 AS rank
             FROM base b LEFT JOIN it1 i ON b.node = i.node),
      it2 AS (SELECT e.dst AS node, SUM(r.rank // d.deg) AS inc
              FROM edges e JOIN r1 r ON e.src = r.node JOIN deg d ON d.src = e.src
              GROUP BY e.dst),
      r2 AS (SELECT b.node, (150000 * b.tele) // 1000000
                          + (850000 * COALESCE(i.inc, 0)) // 1000000 AS rank
             FROM base b LEFT JOIN it2 i ON b.node = i.node),
      it3 AS (SELECT e.dst AS node, SUM(r.rank // d.deg) AS inc
              FROM edges e JOIN r2 r ON e.src = r.node JOIN deg d ON d.src = e.src
              GROUP BY e.dst),
      r3 AS (SELECT b.node, (150000 * b.tele) // 1000000
                          + (850000 * COALESCE(i.inc, 0)) // 1000000 AS rank
             FROM base b LEFT JOIN it3 i ON b.node = i.node)
      SELECT CAST(node AS BIGINT) AS node, CAST(rank AS BIGINT) AS rank_ppb
      FROM r3 WHERE rank > 0 ORDER BY rank_ppb DESC, node LIMIT 25""",
    // incremental merge: the oracle is the FULL-history compaction —
    // snapshot+slice must reproduce it exactly
    "q_upsert_incr" -> """
      WITH latest AS (
        SELECT user_id, event_type, value, ts, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
      SELECT user_id, event_type AS last_type,
             CAST(round(value * 100) AS BIGINT) AS value_e2,
             epoch_us(ts) AS ts_us, event_id
      FROM latest WHERE rn = 1 AND event_type <> 'error'
      ORDER BY user_id""",
    // changelog compaction: the window row_number replay of the
    // struct-argmax form (ordering unique per key via event_id)
    "q_upsert" -> """
      WITH latest AS (
        SELECT user_id, event_type, value, ts, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
      SELECT user_id, event_type AS last_type,
             CAST(round(value * 100) AS BIGINT) AS value_e2,
             epoch_us(ts) AS ts_us, event_id
      FROM latest WHERE rn = 1 AND event_type <> 'error'
      ORDER BY user_id""",
    // TF-IDF keywords: full-corpus df/N, micro-rounded ln scores
    "q_tfidf" -> """
      WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> len(x) >= 3)) AS token
        FROM documents),
      tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
             FROM toks GROUP BY 1, 2),
      df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
      s AS (
        SELECT tf.doc_id, tf.token, tf.tf, df.df,
               CAST(round(CAST(tf.tf AS DOUBLE)
                 * ln((n.n_docs + 1.0) / (CAST(df.df AS DOUBLE) + 1.0))
                 * 1e6) AS BIGINT) AS score_e6
        FROM tf JOIN df USING (token) CROSS JOIN n),
      r AS (
        SELECT doc_id, token, tf, df, score_e6,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score_e6 DESC, token) AS rnk
        FROM s)
      SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, token, tf, df, score_e6
      FROM r WHERE rnk <= 3 AND doc_id < 40
      ORDER BY doc_id, rnk""",
  )
}
