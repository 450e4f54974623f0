package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Embeddings

/** Persisted SemDeDup model — the build-once / refresh-many layout that
  * makes [[Embeddings.incrementalSemanticDeduplicate]]'s advertised
  * incrementality REAL at archive scale (the 100 TB pattern: one
  * expensive clustering pass over the curated archive, then every corpus
  * refresh costs O(new slice + touched cells), never O(archive)).
  *
  * Layout under `dir` (the [[AnnIndex]] model-as-data convention):
  *  - `centroids/` — `(cid, cvec)` parquet, ≤ k rows (config-sized): the
  *    FROZEN spherical-k-means fit ([[Embeddings.kmeansCentroids]]'
  *    exact deterministic recipe);
  *  - `members/` — `(id, vec)` parquet PARTITIONED BY `cid`: the archive
  *    with its assignment materialized, so a refresh never re-assigns it.
  *
  * Why this beats the in-memory operator for refreshes: that path costs
  * `iterations + 1` full archive scans per call (the Lloyd re-fit plus
  * re-assignment) BEFORE any pairing happens. Here the fit is read (≤ k
  * rows), the new slice is assigned with the same pure-map kernel, and
  * pairing reads ONLY the `cid=` directories the slice actually touches
  * — planning-time partition pruning, ≤ |distinct new cids| of ≤ k cells
  * (spec-asserted on PartitionFilters). A 1%-of-archive slice that lands
  * in 10% of the cells reads 10% of the archive bytes and zero
  * fit/assignment passes.
  *
  * Determinism: build fits with [[Embeddings.kmeansCentroids]] and both
  * build and refresh assign with the SAME micro-rounded argmax kernel
  * the in-memory operator uses (parquet round-trips doubles exactly), so
  * for the same (old, new, k, iterations, threshold) a refresh returns
  * EXACTLY `incrementalSemanticDeduplicate(new, old, ...)` — row for
  * row, spec-asserted — and replays in the same DuckDB oracle.
  */
object SemDedupIndex {

  /** One clustering pass over the curated archive: fit k centroids
    * (`iterations` Lloyd steps, or accept a pre-trained `(cid, cvec)`
    * frame) and persist the fit plus the cid-partitioned assigned
    * archive. `k <= 0` derives k from the archive count
    * ([[Embeddings.derivedSemDedupK]]: clamp(ceil(n/1000), 32, 65536) —
    * occupancy-pinned so the refresh pairing stays volume-linear,
    * replayable from `COUNT(*)`).
    */
  def build(embeddings: DataFrame, vecCol: String, idCol: String, dir: String,
      k: Int, iterations: Int = 1, centroids: Option[DataFrame] = None): Unit = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val cents = centroids.map(_.select(col("cid"), col("cvec")))
      .getOrElse(Embeddings.kmeansCentroids(embeddings, vecCol, idCol, k, iterations))
    // collect the fit ONCE and write the artifact FROM the collected rows
    // (round 16, guide §1.2): the shipped chain wrote the fit, then READ
    // THE PARQUET BACK to collect it — one read job per build for bytes
    // already on the driver. Parquet round-trips doubles exactly, so
    // assigning from the in-memory fit is bit-identical to assigning from
    // the re-read artifact (the contract the old read-back was defending;
    // SemDedupIndexSpec pins refresh == in-memory row for row).
    val centSeq = Embeddings.collectCentroidFrame(cents)
    centSeq.toDF("cid", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    // canonical (id, vec) on disk, whatever the build-time names were.
    // repartition BY CID before the dynamic-partition write: without it
    // every write task opens a file per cid it sees — tasks x k files
    // (57,600 at the sf100cd derived k=1800, measured the dominant build
    // cost; invisible at k=32) — where the cid shuffle makes each task
    // own ~k/tasks cells and the file count collapses to ~k. The task
    // COUNT is derived too (round 16): the default shuffle fan-out gave
    // every task ~one cell and the per-task commit overhead dominated at
    // bench scale (0.93 -> 0.62 s at k=32 with 4 tasks, same ~k files;
    // VERDICT.md round 16) — [[writeTasks]] packs ~8 occupancy-
    // pinned cells per task so tasks carry real data at every k.
    Embeddings.kmeansAssign(
        embeddings.select(col(idCol).as("id"), col(vecCol).as("vec")),
        "vec", centSeq)
      .repartition(writeTasks(centSeq.size), col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/members")
  }

  /** Write fan-out for the cid-partitioned members write: ~[[CellsPerWriteTask]]
    * cells per task. k is occupancy-pinned (cells ≈ n/1000 under the
    * derived-k rule), so k/8 tracks data volume: ~8000 rows per task at
    * the default occupancy, clamped to [4, 2048] (floor keeps small
    * builds off a single slow task, cap bounds the shuffle fan-out; a
    * 65536-cell archive writes from 2048 tasks of 32 cells each). File
    * count stays ~k — each cell's rows land in one task either way.
    */
  private def writeTasks(k: Int): Int =
    math.max(4, math.min(2048, (k + CellsPerWriteTask - 1) / CellsPerWriteTask))

  private val CellsPerWriteTask = 8

  /** Deduplicate a refresh slice against the persisted archive: assign
    * `newEmb` into the frozen fit (pure map), read ONLY the member cells
    * those assignments touch, and apply the exact
    * [[Embeddings.incrementalSemanticDeduplicate]] drop rule — a new
    * vector drops iff a same-cluster OLD member, or a smaller-id NEW
    * member, sits at cosine >= threshold. Returns (idCol, cid, keep) for
    * the new slice. `maxClusterSize` caps the COMBINED (archive + slice)
    * cluster size with the same fail-soft contract; the touched-cid list
    * is a ≤ k bounded collect (the k-means pattern).
    */
  def refresh(spark: SparkSession, dir: String, newEmb: DataFrame,
      vecCol: String, idCol: String, threshold: Double,
      maxClusterSize: Int = Int.MaxValue): DataFrame = {
    val reserved = Seq("cid", "keep", "__new", "__norm", "__drop")
    require(!newEmb.columns.exists(reserved.contains),
      s"SemDedupIndex.refresh reserves column names ${reserved.mkString(", ")}; " +
        "rename the input columns")
    val centSeq = Embeddings.collectCentroidFrame(
      spark.read.parquet(s"$dir/centroids"))
    val assignedNew = Embeddings.kmeansAssign(newEmb, vecCol, centSeq)
      .select(col(idCol), col(vecCol), col("cid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val touched = assignedNew.select(col("cid")).distinct()
      .collect().map(_.getLong(0)).sorted
    // partition-column types are inferred on read (small cids come back
    // as INT) — cast restores the long cid the drop join keys on
    val archive = spark.read.parquet(s"$dir/members")
      .where(col("cid").isin(touched.toIndexedSeq: _*))
      .select(col("id").as(idCol), col("vec").as(vecCol),
        col("cid").cast("long").as("cid"))
    val assignedAll = archive.withColumn("__new", lit(false))
      .unionByName(assignedNew.withColumn("__new", lit(true)))
      .withColumn("__norm", Embeddings.vecNorm(col(vecCol)))
    Embeddings.incrementalDropKeep(assignedAll, idCol, vecCol, threshold,
      maxClusterSize)
  }

  /** Fold a (deduplicated) slice into the archive: assign through the
    * frozen centroids and dynamic-partition-append — only `cid=`
    * directories receiving rows gain a file, existing files are never
    * touched, and the next [[refresh]] pairs against old ∪ appended
    * exactly as a fresh [[build]] over the union would (spec-asserted).
    * Callers normally append `refresh`'s keep=true rows; ids are not
    * deduplicated (the usual parquet-append contract).
    */
  def append(spark: SparkSession, dir: String, newEmb: DataFrame,
      vecCol: String, idCol: String): Unit = {
    val centSeq = Embeddings.collectCentroidFrame(
      spark.read.parquet(s"$dir/centroids"))
    Embeddings.kmeansAssign(
        newEmb.select(col(idCol).as("id"), col(vecCol).as("vec")),
        "vec", centSeq)
      .repartition(writeTasks(centSeq.size), col("cid")) // ~8 cells/task (see build)
      .write.mode("append").partitionBy("cid").parquet(s"$dir/members")
  }
}
