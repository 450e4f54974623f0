package graft

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gates._
import graft.streaming.FileStreams

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
  *
  * Each gate is declared once, as a [[gates.Gate]] in its operator
  * family's object under `graft.gates`. This object is the registry: it
  * prepares the fixture's views before every gate runs, and
  * [[SharedRelation]] memoizes the relations several gates share.
  */
object SparkEntry {

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** TIMESTAMP(NANOS) parquet columns (Spark has no nanos timestamp type:
    * they are read as nanos-since-epoch longs and rebuilt as microsecond
    * timestamps, matching what DuckDB sees).
    */
  private[graft] val nanoTimestampCols: Map[String, Seq[String]] = Map(
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

  /** Every gate, grouped by operator family. Fails at init if two
    * declarations share a name (a `Map` would silently keep the last).
    */
  private[graft] lazy val declared: Seq[Gate] = {
    val all = Seq(RelationalGates.gates, JoinGates.gates, FilterGates.gates,
      DedupGates.gates, TextGates.gates, VocabGates.gates, SearchGates.gates,
      EmbeddingGates.gates, StreamingGates.gates, SamplingGates.gates,
      MultimodalGates.gates, SketchGates.gates, GraphGates.gates).flatten
    val twice = all.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(twice.isEmpty, s"gates declared twice: ${twice.toSeq.sorted.mkString(", ")}")
    all
  }

  /** Every gate by name: prepares `dir`'s views on the session, then runs
    * the gate.
    */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map { g =>
      g.name -> ((s: SparkSession, dir: String) => { prepare(s, dir); g.run(s, dir) })
    }.toMap

  /** DuckDB-runnable oracle SQL per gate (same column names + ordering). */
  lazy val oracleSql: Map[String, String] =
    declared.map(g => g.name -> g.oracleSql).toMap

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** Register graft functions + parquet views for `dir` on this session
    * (memoized: repeated queries in one session skip re-registration).
    */
  def prepare(spark: SparkSession, dir: String): SparkSession = synchronized {
    if (prepared.get(spark).contains(dir)) return spark
    prepared(spark) = dir
    GraftFunctions.registerAll(spark)
    // before the schema reads below: a footer's nanos columns convert per
    // this key
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tables.foreach { t =>
      val path = s"$dir/$t.parquet"
      // the schema comes from a footer read on the driver (an inferred
      // read starts one Spark job per table); then the nanos-as-long
      // rebuild + TIMESTAMP_NTZ cast (generated parquet has flipped between
      // isAdjustedToUTC=true/false across rounds; all sessions here run
      // UTC, so the cast is value-preserving) — shared with the streaming
      // readers so batch and stream see identical time
      FileStreams.normalizeTimestamps(
          spark.read.schema(FileStreams.parquetSchema(spark, Paths.get(path))).parquet(path),
          nanoTimestampCols.getOrElse(t, Nil))
        .createOrReplaceTempView(t)
    }
    spark
  }

  /** Drop every shared gate checkpoint (see [[SharedRelation]]).
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
  def clearSharedRelations(): Unit = SharedRelation.clearAll()
}

/** A relation several gates share, built on first use once per
  * (session, fixture dir) and dropped by
  * [[SparkEntry.clearSharedRelations]]. A real pipeline checkpoints an
  * expensive derived relation the same way: every consumer after the
  * first reads the checkpoint instead of re-running the derivation.
  * `release` frees at clear time what the clear cannot delete as files
  * (cached blocks); checkpoints under [[SharedRelation.dir]] go with the
  * directory's contents.
  */
private[graft] final class SharedRelation[A](build: (SparkSession, String) => A,
    release: A => Unit = (_: A) => ()) {

  private val built = mutable.Map[(SparkSession, String), A]()
  SharedRelation.register(this)

  def apply(s: SparkSession, dir: String): A = SharedRelation.synchronized {
    built.getOrElseUpdate((s, dir), build(s, dir))
  }

  private def clear(): Unit = {
    built.values.foreach(release)
    built.clear()
  }
}

private[graft] object SharedRelation {

  private val all = mutable.Buffer[SharedRelation[_]]()

  private def register(r: SharedRelation[_]): Unit = synchronized { all += r }: Unit

  /** This JVM's checkpoint directory, removed at exit. */
  lazy val dir: java.io.File =
    FileStreams.createTempDir("graft_shared_rel_").toFile

  /** Where relation `name` of fixture `fixture` is checkpointed. */
  def path(name: String, fixture: String): String =
    new java.io.File(dir, name + "_" + java.security.MessageDigest.getInstance("MD5")
      .digest(fixture.getBytes("UTF-8")).map("%02x".format(_)).mkString)
      .getAbsolutePath

  /** A relation materialized to parquet under [[dir]] (not `.persist`:
    * Bench clears the Spark cache between gates). `derive` reads the
    * session's prepared views. The files are read back with the schema they
    * were written with, which starts no schema-inference job; a file read
    * makes every field nullable, as an inferred read does.
    */
  def parquet(name: String)(derive: SparkSession => DataFrame): SharedRelation[DataFrame] =
    new SharedRelation[DataFrame]((s, fixture) => {
      val p = path(name, fixture)
      val df = derive(s)
      df.write.mode("overwrite").parquet(p)
      s.read.schema(df.schema).parquet(p)
    })

  /** Forget every built relation, release its blocks and empty [[dir]].
    * Files written elsewhere stay (the minhash pair stage).
    */
  def clearAll(): Unit = synchronized {
    all.foreach(_.clear())
    FileStreams.deleteTree(dir.toPath)
    dir.mkdirs(): Unit
  }
}
