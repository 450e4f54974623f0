package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.streaming.FileStreams

/** gate_mix: one pass over a fixed set of curation gates from
  * `SparkEntry.queries` on the read-only fixture under perfbench/fixture
  * (the sf0.01 tables). The seed permutes the gate order and each pass
  * starts from `clearSharedRelations()`, so every pass pays each shared
  * relation's build once. Planning, shuffles, parquet I/O and operator code
  * do the work here; filter kernels are a small share, which makes this the
  * workload a kernel change should leave unchanged.
  */
final class GateMix(spark: SparkSession, seed: Long, fixture: String, expectedPath: String,
    tamperThrow: Boolean) extends Workload {
  import GateMix._
  private var expected: Map[String, (Long, Option[Long])] = Map.empty
  /** Start time and FileStreams operator time of every gate run. */
  private val operatorMs = ArrayBuffer.empty[(Double, Double)]
  val warmCycles: Int = WarmPasses

  def prepare(): Unit = {
    val tree = new ObjectMapper().readTree(new File(expectedPath))
    expected = gates.map { g =>
      val e = tree.get(g)
      require(e != null, s"no expected result for $g in $expectedPath")
      g -> (e.get("rows").asLong, Option(e.get("checksum")).filterNot(_.isNull).map(_.asLong))
    }.toMap
    checkFixture()
  }

  private def runGate(g: String): Array[Row] = {
    val (t0, op0) = (Tracer.nowMs, FileStreams.operatorMsSnapshot)
    try SparkEntry.queries(g)(spark, fixture).collect()
    finally {
      operatorMs += ((t0, (FileStreams.operatorMsSnapshot - op0).toDouble))
      spark.catalog.clearCache()
    }
  }

  private def op(g: String, first: Boolean): Op = Op(g, () => {
    if (first) SparkEntry.clearSharedRelations()
    val rows = runGate(g)
    val (wantRows, wantSum) = expected(g)
    if (rows.length != wantRows) Some(s"${rows.length} rows, expected $wantRows")
    else if (wantSum.exists(_ != checksum(rows))) Some(s"checksum ${checksum(rows)} != ${wantSum.get}")
    else None
  })

  def cycle: IndexedSeq[Op] = {
    val order = new scala.util.Random(seed).shuffle(gates)
    order.zipWithIndex.map { case (g, i) =>
      if (tamperThrow && i == 0) Op(g, () => throw new IllegalStateException("tampered gate"))
      else op(g, first = i == 0)
    }
  }

  def context: Map[String, Any] = Map("gates" -> gates.size,
    "fixture_bytes" -> tables.map(t => t -> new File(fixture, s"$t.parquet").length).toMap)

  def rates(w: Window): Map[String, Any] = Map.empty

  def layers(w: Window, col: SparkCollector, tr: Tracer): Map[String, Double] = {
    val runs = w.samples.map(s =>
      s -> operatorMs.collect { case (t, ms) if t >= s.startMs && t <= s.endMs => ms }.sum)
    val cycles = math.max(1, w.samples.map(_.cycle).distinct.size).toDouble
    val stream = runs.filter(_._1.op.startsWith("q_stream_"))
    val perGate = w.samples.groupBy(_.op).flatMap { case (g, ss) =>
      Seq(s"gate.$g.wall_ms" -> Main.median(ss.map(_.ms)),
        s"gate.$g.driver_ms" -> Main.median(ss.map(s => Metrics.opSpark(col, s).idleMs)))
    }
    perGate ++ Map(
      "streaming.operator_ms" -> runs.map(_._2).sum / cycles,
      "streaming.harness_ms" -> stream.map { case (s, o) => s.ms - o }.sum / cycles)
  }

  /** Writes row counts, and checksums where three passes in different
    * orders agree on them, to the expected-results file.
    */
  def recordExpected(): Unit = {
    checkFixture()
    val passes = (1 to 3).map { p =>
      SparkEntry.clearSharedRelations()
      new scala.util.Random(p).shuffle(gates).map { g =>
        val rows = runGate(g)
        g -> (rows.length.toLong, checksum(rows))
      }.toMap
    }
    val mapper = new ObjectMapper()
    val root: ObjectNode = mapper.createObjectNode()
    gates.sorted.foreach { g =>
      val counts = passes.map(_(g)._1).distinct
      require(counts.size == 1, s"$g: row count differs between passes: $counts")
      val sums = passes.map(_(g)._2).distinct
      val node = root.putObject(g)
      node.put("rows", counts.head)
      if (sums.size == 1) node.put("checksum", sums.head) else node.putNull("checksum")
      Main.log(s"$g: ${counts.head} rows, checksum ${if (sums.size == 1) "stable" else "unstable"}")
    }
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(expectedPath), root)
  }

  private def checkFixture(): Unit =
    tables.foreach(t => require(new File(fixture, s"$t.parquet").isFile, s"fixture table $t missing"))
}

object GateMix {
  /** The pass: one gate per module family the ROADMAP items touch, sized
    * so two warm-up passes and three measured ones fit a run of about 45 s.
    * Left out for that, each for 0.4-3.5 s of mostly fixed per-gate
    * overhead at this fixture size: q_pagerank, q_skipping_index,
    * q_semdedup_index, q_minhash_fast, q_bigram_lp, q_salted_join,
    * q_stream_filters, q_stream_join, q_incremental_dedup, q_ann_ivfpq,
    * q_range_join, q_sessionize and q_editdist_names.
    */
  val gates: IndexedSeq[String] = IndexedSeq(
    "q5_regional_revenue", "q_filter_join", "q_bloom_semijoin", "q_fuse_semijoin",
    "q_quotient_merge", "q_hll", "q_filter_store", "q_multimodal_frames", "q_stream_dedup_wm")

  /** A cold pass takes about three times a warm one and the third pass is
    * still ~1.3x: the per-gate median over the measured passes absorbs that.
    */
  final val WarmPasses = 2

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Order-insensitive: the sum of each row's string hash. */
  def checksum(rows: Array[Row]): Long =
    rows.iterator.map(r => scala.util.hashing.MurmurHash3.stringHash(r.toString).toLong).sum
}
