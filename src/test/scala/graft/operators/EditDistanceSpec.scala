package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The PassJoin-style candidate scheme must be COMPLETE (no pair within
  * the threshold missed) — verified against a brute-force cross join at
  * k = 1 and k = 2 over a fixture with shared prefixes, repeats,
  * transpositions, and length-edge strings.
  */
class EditDistanceSpec extends AnyFunSuite with SparkSpec {

  private def fixture(): DataFrame = {
    val sps = spark; import sps.implicits._
    val base = Seq("cold widget", "bold widget", "cold widgets", "cold midget",
      "large bolt", "large bolts", "small ring", "small rings", "smal ring",
      "Customer#000000001", "Customer#000000002", "Customer#000000011",
      "Customer#000000101", "aaaaaa", "aaaaab", "aabaaa", "ab", "ba", "a",
      "xyz", "xzy", "zyx", "pneumatic drill", "pneumatic drills",
      "hydraulic drill", "red bolt", "red bolts", "red colt", "red volt")
    // deterministic mutations widen coverage: drop/change/dup one char
    val mutated = base.zipWithIndex.flatMap { case (s, i) =>
      val p = i % math.max(1, s.length)
      Seq(s, s.take(p) + s.drop(p + 1), s.take(p) + "Q" + s.drop(p))
    }
    mutated.distinct.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "name")
  }

  private def brute(df: DataFrame, k: Int): Set[(Long, Long, Long)] = {
    val a = df.select(col("id").as("ia"), col("name").as("na"))
    val b = df.select(col("id").as("ib"), col("name").as("nb"))
    a.crossJoin(b).where(col("ia") < col("ib"))
      .select(col("ia"), col("ib"), levenshtein(col("na"), col("nb")).cast("long").as("d"))
      .where(col("d") <= k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("selfJoin k=1 matches brute force exactly") {
    val df = fixture()
    val got = EditDistance.selfJoin(df, "id", "name", maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = brute(df, 1)
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    assert(want.nonEmpty)
  }

  test("selfJoin k=2 matches brute force exactly") {
    val df = fixture()
    val got = EditDistance.selfJoin(df, "id", "name", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = brute(df, 2)
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    assert(want.nonEmpty)
  }

  test("deletion method k=1 matches brute force exactly") {
    val df = fixture()
    val got = EditDistance.selfJoin(df, "id", "name", maxDist = 1, method = "deletion")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = brute(df, 1)
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("deletion method k=2 matches brute force exactly") {
    val df = fixture()
    val got = EditDistance.selfJoin(df, "id", "name", maxDist = 2, method = "deletion")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = brute(df, 2)
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("deletion method handles empty and 1-char strings") {
    val sps = spark; import sps.implicits._
    val df = Seq((1L, ""), (2L, "a"), (3L, "ab"), (4L, "b")).toDF("id", "name")
    val got = EditDistance.selfJoin(df, "id", "name", maxDist = 1, method = "deletion")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute(df, 1), s"got=$got want=${brute(df, 1)}")
  }

  test("two-table join finds cross-table pairs with correct distances") {
    val sps = spark; import sps.implicits._
    val left = Seq((1L, "gold ring"), (2L, "iron bolt"), (3L, "tiny gear"))
      .toDF("id", "name")
    val right = Seq((10L, "bold ring"), (11L, "iron bolts"), (12L, "huge gear"),
      (13L, "gold ring")).toDF("id", "name")
    val got = EditDistance.join(left, right, "id", "name", maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 10L, 1L), (1L, 13L, 0L), (2L, 11L, 1L)), got.toString)
  }

  test("short strings (len <= k) are fully covered: shortxshort and shortxlong") {
    val sps = spark; import sps.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (3L, "ab"), (4L, "ac"), (5L, "abc"))
      .toDF("id", "name")
    // k=1: (a,b) via the short sliver, (a,ab) via the reverse probe
    val got = EditDistance.selfJoin(df, "id", "name", maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute(df, 1), s"got=$got want=${brute(df, 1)}")
    assert(got.contains((1L, 2L, 1L)) && got.contains((1L, 3L, 1L)))
  }
}
