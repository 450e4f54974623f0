package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Range/overlap joins checked against the brute-force nested-loop result
  * they must exactly reproduce, plus the text-normalization kernels.
  */
class RangeJoinSpec extends AnyFunSuite with SparkSpec {

  // deterministic corpus: 200 points, 60 intervals with spans from zero to
  // several bins, all inside a few hours so collisions are plentiful
  private def fixtures = {
    val rnd = new scala.util.Random(7)
    val base = 1700000000000000L // µs
    val points = (1 to 200).map { i =>
      (i.toLong, new Timestamp((base + rnd.nextInt(6 * 3600) * 1000000L) / 1000))
    }
    val intervals = (1 to 60).map { j =>
      val s = base + rnd.nextInt(6 * 3600) * 1000000L
      val span = rnd.nextInt(4) match {
        case 0 => 0L                                   // degenerate [t, t]
        case 1 => rnd.nextInt(600) * 1000000L          // sub-bin
        case _ => rnd.nextInt(3 * 3600) * 1000000L     // multi-bin
      }
      (j.toLong, new Timestamp(s / 1000), new Timestamp((s + span) / 1000))
    }
    val sps = spark; import sps.implicits._
    (points.toDF("pid", "pts"), intervals.toDF("iid", "s", "e"))
  }

  test("rangeJoin reproduces the nested-loop BETWEEN join exactly") {
    val (points, intervals) = fixtures
    for (binUs <- Seq(600L * 1000000L, 3600L * 1000000L, 7L * 3600L * 1000000L)) {
      val binned = Events.rangeJoin(points, intervals, "pts", "s", "e", binWidthUs = binUs)
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      val brute = points.crossJoin(intervals)
        .where(col("pts").between(col("s"), col("e")))
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(brute.nonEmpty, "fixture must produce matches")
      assert(binned.toSeq == brute.toSeq, s"mismatch at binWidthUs=$binUs")
    }
  }

  test("rangeJoin boundary inclusivity and key equality") {
    val sps = spark; import sps.implicits._
    val p = Seq((1L, "a", new Timestamp(1000000L)), (2L, "b", new Timestamp(1000000L)))
      .toDF("pid", "k", "pts")
    // interval end exactly at the point: inclusive on both ends
    val iv = Seq((10L, "a", new Timestamp(0L), new Timestamp(1000000L)))
      .toDF("iid", "k", "s", "e")
    val out = Events.rangeJoin(p, iv, "pts", "s", "e", keyCols = Seq("k"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 10L))) // pid=2 excluded by key, not by time
  }

  test("rangeJoin rejects reserved helper column names") {
    val sps = spark; import sps.implicits._
    val bad = Seq((1L, 2L)).toDF("pid", "__bin")
    val iv = Seq((1L, new Timestamp(0L), new Timestamp(1L))).toDF("iid", "s", "e")
    val err = intercept[IllegalArgumentException] {
      Events.rangeJoin(bad.withColumn("pts", lit(new Timestamp(0L))), iv, "pts", "s", "e")
    }
    assert(err.getMessage.contains("__bin"))
  }

  test("intervalOverlapJoin reproduces the nested-loop overlap join exactly, no dup pairs") {
    val (_, intervals) = fixtures
    val right = intervals.select(col("iid").as("jid"), col("s").as("s2"), col("e").as("e2"))
    for (binUs <- Seq(1800L * 1000000L, 3600L * 1000000L)) {
      val binned = Events.intervalOverlapJoin(intervals, right, "s", "e", "s2", "e2",
          binWidthUs = binUs)
        .select("iid", "jid").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(binned.length == binned.distinct.length, "ownership-bin dedup must yield unique pairs")
      val brute = intervals.crossJoin(right)
        .where(col("s") <= col("e2") && col("s2") <= col("e"))
        .select("iid", "jid").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(binned.sorted.toSeq == brute.sorted.toSeq, s"mismatch at binWidthUs=$binUs")
    }
  }

  test("text normalization kernels: NFC, accent folding, canonical form") {
    val sps = spark; import sps.implicits._
    val composed = "caf\u00e9"   // é as one code point
    val decomposed = "cafe\u0301" // e + combining acute
    val df = Seq((1L, composed), (2L, decomposed), (3L, "M\u00fchleisen  \u0152uvre"),
      (4L, "  Plain   ASCII\ttext ")).toDF("id", "t")
    val rows = df.select(col("id"), TextAnalysis.normalizeText(col("t")).as("n"),
        TextAnalysis.normalizeText(col("t"), accentFold = true).as("a"))
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getString(2)))).toMap
    // NFC makes composed and decomposed spellings identical
    assert(rows(1L)._1 == rows(2L)._1 && rows(1L)._1 == composed)
    // accent folding strips marks but keeps ligatures (strip_accents semantics)
    assert(rows(3L)._2 == "muhleisen \u0153uvre")
    // whitespace collapse + trim + lowercase on plain ASCII
    assert(rows(4L)._1 == "plain ascii text")
    // SQL registration: same kernels, decomposed literal composes to the
    // one-code-point spelling
    val sql = spark.sql(
      s"SELECT nfc_normalize('$decomposed') = '$composed', strip_accents('M\u00fchleisen')")
      .collect().head
    assert(sql.getBoolean(0) && sql.getString(1) == "Muhleisen")
  }
}
