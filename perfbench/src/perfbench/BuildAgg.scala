package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession

import graft.core.DuckDbHash

/** build_agg: the write side. Each operation aggregates K seeded key rows
  * into one filter per family through the SQL aggregates; one more runs a
  * grouped quotient build followed by a merge, in the shape of
  * q_quotient_merge. One row in four repeats an earlier key, as hashing a
  * foreign-key column does; the xor and fuse builds only dedup after
  * failed peeling attempts, so this share decides their finalize cost.
  * No probes run.
  */
final class BuildAgg(spark: SparkSession, seed: Long, tamperBlob: Boolean) extends Workload {
  import BuildAgg._
  private val (s0, _, s2) = Keys.salts(seed)
  private val slots = spark.sparkContext.defaultParallelism
  private var expected: Map[String, Array[Byte]] = Map.empty
  private var blobBytes: Map[String, Int] = Map.empty
  val warmCycles: Int = 8

  /** Row j's key: rows with j % 4 == 3 repeat the key of an earlier non-repeating row. */
  private def key(j: Long): Long =
    if (j % 4 != 3) Keys.xx(j, s0)
    else {
      val t = Math.floorMod(Keys.xx(j, s2), 3 * (j / 4 + 1))
      Keys.xx(4 * (t / 3) + t % 3, s0)
    }

  private val inputSql =
    s"""SELECT CASE WHEN id % 4 != 3 THEN xxhash64(id, ${s0}L)
       |  ELSE xxhash64(4 * (pmod(xxhash64(id, ${s2}L), 3 * (id div 4 + 1)) div 3)
       |              + pmod(xxhash64(id, ${s2}L), 3 * (id div 4 + 1)) % 3, ${s0}L) END AS k
       |FROM range(0, $K, 1, $slots)""".stripMargin

  private def hashes(): Array[Long] = {
    val out = new Array[Long](K)
    Keys.parallel(K, Keys.cores) { (lo, hi) =>
      var j = lo
      while (j < hi) { out(j) = DuckDbHash.hashLong(key(j)); j += 1 }
    }
    out
  }

  private val mergeQ = Family.quotientQ(K)
  private val mergeSql =
    s"""SELECT quotient_filter($mergeQ, ${Family.QuotientR}, f) FROM (
       |  SELECT quotient_filter($mergeQ, ${Family.QuotientR}, ${Family.hashSql("k")}) AS f
       |  FROM bench_build_input GROUP BY pmod(k, $MergeGroups))""".stripMargin

  def prepare(): Unit = {
    val h = hashes()
    expected = Family.all.map(f => f.name -> f.build(h, K)).toMap
    expected += MergeOp -> expected(Family.Quotient.name)
    blobBytes = Family.all.map(f => f.name -> expected(f.name).length).toMap
    spark.sql(inputSql).createOrReplaceTempView("bench_build_input")
  }

  private def check(name: String, blob: Array[Byte], expectedBytes: Long): Option[String] = {
    if (blob == null) return Some("NULL blob")
    if (tamperBlob) blob(blob.length / 2) = (blob(blob.length / 2) ^ 1).toByte
    val want = expected(name)
    if (blob.length != expectedBytes) Some(s"${blob.length} bytes, formula says $expectedBytes")
    else if (!MessageDigest.isEqual(digest(blob), digest(want))) Some("digest differs from graft.core build")
    else None
  }

  private def op(f: Family): Op = Op(f.name, () => {
    val blob = spark.sql(s"SELECT ${f.buildSql(K, Family.hashSql("k"), "k")} FROM bench_build_input")
      .collect()(0).getAs[Array[Byte]](0)
    check(f.name, blob, f.expectedBytes(K))
  })

  private val mergeOp = Op(MergeOp, () =>
    check(MergeOp, spark.sql(mergeSql).collect()(0).getAs[Array[Byte]](0),
      Family.Quotient.expectedBytes(K)))

  def cycle: IndexedSeq[Op] = new scala.util.Random(seed).shuffle(Family.all.map(op) :+ mergeOp)

  def context: Map[String, Any] = Map(
    "input_rows" -> K, "distinct_keys" -> Distinct, "duplicate_share" -> 0.25,
    "blob_bytes" -> blobBytes, "l2_bytes" -> Keys.l2Bytes)

  def rates(w: Window): Map[String, Any] = Map(
    "build_keys_per_s" -> K.toDouble * w.samples.size / (w.samples.map(_.ms).sum / 1e3),
    "blob_bytes_per_key" -> blobBytes.map { case (f, b) => f -> b.toDouble / Distinct })

  def layers(w: Window, col: SparkCollector, tr: Tracer): Map[String, Double] = {
    val h = hashes()
    val absent = Array.tabulate(K)(j => DuckDbHash.hashLong(Keys.xx(K.toLong + j, s0)))
    val core = Family.all.flatMap { f =>
      val buildMs = Main.median(Seq.fill(Main.CoreReps)(
        tr.time("core", s"${f.name}.build")(Main.timed(f.build(h, K))._2 * 1e3)))
      val blob = expected(f.name)
      var fp = 0L
      val probeMs = Main.median(Seq.fill(Main.CoreReps)(tr.time("core", s"${f.name}.probe") {
        fp = 0L
        Main.timed {
          var i = 0
          while (i < K) {
            if (!f.probe(blob, h(i))) throw new IllegalStateException(s"${f.name}: false negative")
            if (f.probe(blob, absent(i))) fp += 1
            i += 1
          }
        }._2 * 1e3
      }))
      Seq(s"core.build_ns_per_key.${f.name}" -> buildMs * 1e6 / K,
        s"core.probe_ns_per_key.${f.name}" -> probeMs * 1e6 / (2 * K),
        s"core.bits_per_key.${f.name}" -> blob.length * 8.0 / Distinct,
        s"core.fp_rate.${f.name}" -> fp.toDouble / K)
    }
    var sink = 0L
    val hashMs = Main.median(Seq.fill(Main.CoreReps)(tr.time("core", "duckdb_hash") {
      Main.timed { var i = 0; while (i < K) { sink ^= DuckDbHash.hashLong(absent(i)); i += 1 }; Keys.blackhole = sink }._2 * 1e3
    }))
    val byOp = w.samples.groupBy(_.op).map { case (name, ss) => name -> ss.map(Metrics.opSpark(col, _)) }
    val functions = Family.all.flatMap { f =>
      val ops = byOp.getOrElse(f.name, Nil)
      Seq(s"functions.agg_buffer_bytes_per_key.${f.name}" ->
          Main.median(ops.map(_.stages.map(_.shuffleWrite).sum.toDouble)) / K,
        s"functions.agg_final_ms.${f.name}" ->
          Main.median(ops.map(_.stages.filter(_.shuffleRead > 0).map(_.runMs).sum.toDouble)))
    }
    val partial = Main.median(Family.all.flatMap(f => byOp.getOrElse(f.name, Nil))
      .map(_.stages.filter(_.shuffleWrite > 0).map(_.runMs).sum.toDouble))
    core.toMap ++ functions ++ Map(
      "core.hash_ns_per_key" -> hashMs * 1e6 / K,
      "functions.agg_partial_ms" -> partial)
  }
}

object BuildAgg {
  final val K = 100000
  final val Distinct = K / 4 * 3
  final val MergeGroups = 8
  final val MergeOp = "quotient_merge"

  def digest(b: Array[Byte]): Array[Byte] = MessageDigest.getInstance("SHA-256").digest(b)
}
