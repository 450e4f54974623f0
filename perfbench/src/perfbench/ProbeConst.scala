package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.core.DuckDbHash

/** probe_const: the read side of semijoin pruning. One filter per family is
  * built over M distinct keys; each operation is one SQL query that hashes
  * every row of an N-row seeded input (a tenth of them members) and counts
  * the `*_contains` hits against that family's blob, passed as a scalar
  * subquery so it is one constant for the whole query. duckdb_bloom probes
  * the VARCHAR form of the key, so the typed string-hash path runs.
  */
final class ProbeConst(spark: SparkSession, seed: Long, tamperCount: Boolean) extends Workload {
  import ProbeConst._
  private val (s0, s1, s2) = Keys.salts(seed)
  private val slots = spark.sparkContext.defaultParallelism
  private var blobs: Map[String, Array[Byte]] = Map.empty
  private var expected: Map[String, Long] = Map.empty
  private var members = 0L
  val warmCycles: Int = 8

  private def memberKey(i: Long): Long = Keys.xx(i, s0)
  private def isMember(r: Long): Boolean = Math.floorMod(Keys.xx(r, s1), 10L) == 0
  private def probeKey(r: Long): Long =
    if (isMember(r)) memberKey(Math.floorMod(Keys.xx(r, s2), M.toLong)) else memberKey(r + M)
  /** The hash each family is built and probed with. */
  private def familyHash(f: Family, k: Long): Long =
    if (f eq Family.DuckDbBloom) DuckDbHash.hashBytes(k.toString.getBytes(UTF_8)) else DuckDbHash.hashLong(k)

  private val inputSql =
    s"""SELECT pmod(xxhash64(id, ${s1}L), 10) = 0 AS m,
       |  CASE WHEN pmod(xxhash64(id, ${s1}L), 10) = 0
       |       THEN xxhash64(pmod(xxhash64(id, ${s2}L), ${M}L), ${s0}L)
       |       ELSE xxhash64(id + ${M}L, ${s0}L) END AS k
       |FROM range(0, $N, 1, $slots)""".stripMargin

  private def probeSql(f: Family): String = {
    val key = if (f eq Family.DuckDbBloom) "CAST(k AS STRING)" else "k"
    val c = f.probeSql(s"(SELECT blob FROM bench_blobs WHERE family = '${f.name}')",
      Family.hashSql(key), key)
    s"SELECT count_if(c), count_if(m AND NOT c) FROM (SELECT m, $c AS c FROM bench_input)"
  }

  /** Member hashes per family; only duckdb_bloom's differ (string hash). */
  private def memberHashes(): Map[Family, Array[Long]] = {
    val long, string = new Array[Long](M)
    Keys.parallel(M, Keys.cores) { (lo, hi) =>
      var i = lo
      while (i < hi) {
        long(i) = familyHash(Family.ClassicBloom, memberKey(i))
        string(i) = familyHash(Family.DuckDbBloom, memberKey(i))
        i += 1
      }
    }
    Family.all.map(f => f -> (if (f eq Family.DuckDbBloom) string else long)).toMap
  }

  def prepare(): Unit = {
    val mh = memberHashes()
    blobs = Keys.parallel(Family.all.size, Family.all.size) { (lo, _) =>
      Family.all(lo).name -> Family.all(lo).build(mh(Family.all(lo)), M)
    }.toMap
    val counts = Keys.parallel(N, Keys.cores) { (lo, hi) =>
      val hits = new Array[Long](Family.all.size)
      var m = 0L
      var r = lo
      while (r < hi) {
        val k = probeKey(r)
        if (isMember(r)) m += 1
        var j = 0
        while (j < Family.all.size) {
          val f = Family.all(j)
          if (f.probe(blobs(f.name), familyHash(f, k))) hits(j) += 1
          j += 1
        }
        r += 1
      }
      (hits, m)
    }
    members = counts.map(_._2).sum
    expected = Family.all.indices.map(j => Family.all(j).name -> counts.map(_._1(j)).sum).toMap
    if (tamperCount) expected += Family.all.head.name -> (expected(Family.all.head.name) + 1)
    val schema = StructType(Seq(StructField("family", StringType), StructField("blob", BinaryType)))
    val rows = Family.all.map(f => Row(f.name, blobs(f.name)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).createOrReplaceTempView("bench_blobs")
    spark.sql(inputSql).createOrReplaceTempView("bench_input")
  }

  private def op(f: Family): Op = Op(f.name, () => {
    val row = spark.sql(probeSql(f)).collect()(0)
    val (hits, missed) = (row.getLong(0), row.getLong(1))
    if (missed != 0) Some(s"$missed member rows did not hit")
    else if (hits != expected(f.name)) Some(s"hits $hits != core count ${expected(f.name)}")
    else None
  })

  def cycle: IndexedSeq[Op] = new scala.util.Random(seed).shuffle(Family.all).map(op)

  def context: Map[String, Any] = Map(
    "input_rows" -> N, "distinct_keys" -> M, "member_rows" -> members, "duplicate_share" -> 0.0,
    "blob_bytes" -> blobs.map { case (f, b) => f -> b.length },
    "l2_bytes" -> Keys.l2Bytes)

  def rates(w: Window): Map[String, Any] =
    Map("probe_rows_per_s" -> N.toDouble * w.samples.size / (w.samples.map(_.ms).sum / 1e3))

  def layers(w: Window, col: SparkCollector, tr: Tracer): Map[String, Double] = {
    val keys = new Array[Long](N)
    Keys.parallel(N, Keys.cores) { (lo, hi) => var r = lo; while (r < hi) { keys(r) = probeKey(r); r += 1 } }
    val mh = memberHashes()
    val core = Family.all.flatMap { f =>
      val buildMs = Main.median(Seq.fill(Main.CoreReps)(
        tr.time("core", s"${f.name}.build")(Main.timed(f.build(mh(f), M))._2 * 1e3)))
      val ph = keys.map(familyHash(f, _))
      val blob = blobs(f.name)
      var hits = 0L
      val probeMs = Main.median(Seq.fill(Main.CoreReps)(tr.time("core", s"${f.name}.probe") {
        Main.timed { var i = 0; while (i < N) { if (f.probe(blob, ph(i))) hits += 1; i += 1 }; Keys.blackhole = hits }._2 * 1e3
      }))
      Seq(s"core.build_ns_per_key.${f.name}" -> buildMs * 1e6 / M,
        s"core.probe_ns_per_key.${f.name}" -> probeMs * 1e6 / N,
        s"core.bits_per_key.${f.name}" -> blob.length * 8.0 / M,
        s"core.fp_rate.${f.name}" -> (expected(f.name) - members).toDouble / (N - members))
    }
    var sink = 0L
    val hashMs = Main.median(Seq.fill(Main.CoreReps)(tr.time("core", "duckdb_hash") {
      Main.timed { var i = 0; while (i < N) { sink ^= DuckDbHash.hashLong(keys(i)); i += 1 }; Keys.blackhole = sink }._2 * 1e3
    }))
    // bare scan-and-hash of the same input: what a probe query costs without the
    // probe; duckdb_bloom's baseline hashes the VARCHAR key as its probe does
    def scanRunMs(key: String): Double = {
      val q = s"SELECT count_if(m), max(${Family.hashSql(key)}) FROM bench_input"
      (1 to ScanWarmups).foreach(_ => spark.sql(q).collect())
      Main.median((1 to ScanRuns).map { _ =>
        val s = Tracer.nowMs
        spark.sql(q).collect()
        col.drain()
        Metrics.opSpark(col, Sample("scan", 0, s, Tracer.nowMs, None)).runMs
      })
    }
    val scanLong = scanRunMs("k")
    val scanString = scanRunMs("CAST(k AS STRING)")
    val probeRun = w.samples.groupBy(_.op).map { case (f, ss) =>
      val base = if (f == Family.DuckDbBloom.name) scanString else scanLong
      s"functions.probe_ns_per_row.$f" ->
        (Main.median(ss.map(s => Metrics.opSpark(col, s).runMs)) - base) * 1e6 / N
    }
    core.toMap ++ probeRun ++ Map(
      "core.hash_ns_per_key" -> hashMs * 1e6 / N,
      "functions.scan_ns_per_row" -> scanLong * 1e6 / N)
  }
}

object ProbeConst {
  final val M = 1000000
  final val N = 2000000
  final val ScanWarmups = 10
  final val ScanRuns = 5
}
