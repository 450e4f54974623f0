package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class JoinsSpec extends AnyFunSuite with SparkSpec {

  /** 1 hot key (5000 rows) + 200 uniform keys (10 rows each) on the left;
    * right has 2 rows per key plus 50 keys the left never sees.
    */
  private def skewed = {
    val s = spark
    import s.implicits._
    val left = ((1 to 5000).map(i => (0L, i)) ++
      (for (k <- 1 to 200; i <- 1 to 10) yield (k.toLong, i))).toDF("k", "lv")
    val right = (for (k <- 0 to 250; j <- 1 to 2) yield (k.toLong, j * 100)).toDF("k", "rv")
    (left, right)
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  test("hotKeys finds exactly the keys above threshold") {
    val (left, _) = skewed
    val hot = Joins.hotKeys(left, Seq("k"), 100L).collect().map(_.getLong(0))
    assert(hot.toSeq == Seq(0L))
    // threshold at 9 keeps every key; at 5000 none
    assert(Joins.hotKeys(left, Seq("k"), 9L).count() == 201)
    assert(Joins.hotKeys(left, Seq("k"), 5000L).count() == 0)
  }

  test("saltedJoin inner equals the plain inner join") {
    val (left, right) = skewed
    val plain = left.join(right, Seq("k"), "inner")
    val salted = Joins.saltedJoin(left, right, Seq("k"),
      saltFactor = 8, hotKeyThreshold = 100L)
    assert(salted.count() == plain.count())
    assert(sortedRows(salted) == sortedRows(plain))
  }

  test("saltedJoin left outer equals the plain left join") {
    val (left, right) = skewed
    // drop the hot key from the right so hot-path left rows go unmatched
    val rightGap = right.where(col("k") =!= 0L && col("k") =!= 5L)
    val plain = left.join(rightGap, Seq("k"), "left")
    val salted = Joins.saltedJoin(left, rightGap, Seq("k"),
      saltFactor = 4, hotKeyThreshold = 100L, how = "left")
    assert(salted.count() == plain.count())
    assert(sortedRows(salted) == sortedRows(plain))
  }

  test("saltedJoin with no hot keys degrades to the plain join") {
    val (left, right) = skewed
    val plain = left.join(right, Seq("k"), "inner")
    val salted = Joins.saltedJoin(left, right, Seq("k"),
      saltFactor = 4, hotKeyThreshold = 1000000L)
    assert(sortedRows(salted) == sortedRows(plain))
  }

  test("hot keys spread across salt buckets") {
    val (left, _) = skewed
    // reproduce the operator's salt expression on the hot key's rows: the
    // 5000 row-unique rows must not all land in one of the 8 buckets
    val hotRows = left.where(col("k") === 0L)
    val buckets = hotRows
      .withColumn("__salt", pmod(xxhash64(col("k"), col("lv"), lit(0x5a17ed)), lit(8L)))
      .groupBy("__salt").count().collect().map(_.getLong(1))
    assert(buckets.length == 8, "all 8 salt buckets populated")
    assert(buckets.max < 5000 * 0.3, s"no bucket holds >30% of a hot key: ${buckets.toSeq}")
  }

  test("maxHotKeys overflow salts the heaviest keys, result unchanged, stats reported") {
    val (left, right) = skewed
    val plain = left.join(right, Seq("k"), "inner")
    // threshold 9 qualifies all 201 keys; cap 3 keeps only the heaviest
    // (key 0 at 5000 rows, then keys 1 and 2 at 10 rows by the key
    // tie-break) and joins the other 198 plain — same answer either way.
    // Stats arrive through onStats — per-call attribution, race-free under
    // concurrent joins.
    var s: Joins.SaltedJoinStats = null
    val salted = Joins.saltedJoin(left, right, Seq("k"),
      saltFactor = 4, hotKeyThreshold = 9L, maxHotKeys = 3, onStats = s = _)
    assert(sortedRows(salted) == sortedRows(plain))
    assert(s != null)
    assert(s.overflowed)
    assert(s.hotKeysKept == 3)
    assert(s.minKeptCount == 10L) // the lightest kept key has 10 left rows
    // a non-overflowing run reports cleanly too
    var s2: Joins.SaltedJoinStats = null
    Joins.saltedJoin(left, right, Seq("k"),
      saltFactor = 4, hotKeyThreshold = 100L, onStats = s2 = _).count()
    assert(!s2.overflowed && s2.hotKeysKept == 1 && s2.minKeptCount == 5000L)
  }

  test("auto threshold: quantile-derived cutoff selects ~the heaviest decile at two SFs") {
    val s = spark
    import s.implicits._
    // Zipf-ish key-count shape replicated at 1x and 10x "scale factors":
    // 100 base keys where key k carries (k+1) left rows — the heaviest
    // ~decile is keys 90..99. At 10x every key's count grows 10x (same
    // shape, bigger corpus); a CONSTANT threshold tuned at 1x (say 90)
    // would qualify nearly every key at 10x, but the quantile derivation
    // keeps selecting ~the heaviest decile at both sizes.
    def mk(scale: Int) =
      (for (k <- 0 until 100; i <- 1 to (k + 1) * scale) yield (k.toLong, i))
        .toDF("k", "lv")
    val right = (0 until 100).map(k => (k.toLong, k * 10)).toDF("k", "rv")
    for (scale <- Seq(1, 10)) {
      val left = mk(scale)
      var stats: Joins.SaltedJoinStats = null
      val salted = Joins.saltedJoin(left, right, Seq("k"),
        saltFactor = 4, hotKeyQuantile = 0.9, onStats = stats = _)
      // correctness first: identical to the plain join at both sizes
      assert(sortedRows(salted) == sortedRows(left.join(right, Seq("k"), "inner")))
      // the derived cutoff sits at ~the p90 count (≈ 91*scale) and selects
      // ~10 of the 100 keys — the heaviest decile, at BOTH scale factors
      assert(stats.hotKeysKept >= 5 && stats.hotKeysKept <= 15,
        s"scale=$scale selected ${stats.hotKeysKept} keys at threshold ${stats.hotKeyThreshold}")
      assert(stats.hotKeyThreshold >= 85L * scale && stats.hotKeyThreshold <= 95L * scale,
        s"scale=$scale derived ${stats.hotKeyThreshold}")
      // a constant threshold tuned at 1x stops being selective at 10x —
      // the failure mode auto mode exists to prevent
      if (scale == 10) {
        var fixed: Joins.SaltedJoinStats = null
        Joins.saltedJoin(left, right, Seq("k"),
          saltFactor = 4, hotKeyThreshold = 91L, onStats = fixed = _).count()
        assert(fixed.hotKeysKept > 80,
          s"constant threshold unexpectedly stayed selective: ${fixed.hotKeysKept}")
      }
    }
    // near-uniform counts: the quantile sits at the max, nothing salts —
    // the correct no-op for unskewed data
    val uniform = (for (k <- 0 until 100; i <- 1 to 10) yield (k.toLong, i)).toDF("k", "lv")
    var us: Joins.SaltedJoinStats = null
    Joins.saltedJoin(uniform, right, Seq("k"), saltFactor = 4, onStats = us = _).count()
    assert(us.hotKeysKept == 0, s"uniform data salted ${us.hotKeysKept} keys")
  }

  test("reserved helper names are rejected") {
    val (left, right) = skewed
    val bad = left.withColumn("__salt", lit(1))
    val e = intercept[IllegalArgumentException] {
      Joins.saltedJoin(bad, right, Seq("k"))
    }
    assert(e.getMessage.contains("__salt"))
  }

  test("filterPrunedJoin inner equals the plain inner join") {
    val (left, right) = skewed
    val rightSel = right.where(col("k") % 7 === 0) // selective small side
    val plain = left.join(rightSel, Seq("k"), "inner")
    val pruned = Joins.filterPrunedJoin(left, rightSel, Seq("k"))
    assert(sortedRows(pruned) == sortedRows(plain))
    val semi = Joins.filterPrunedJoin(left, rightSel, Seq("k"), how = "left_semi")
    assert(sortedRows(semi) == sortedRows(left.join(rightSel, Seq("k"), "left_semi")))
  }

  test("filterPrunedJoin with an empty build side returns no rows") {
    val (left, right) = skewed
    val empty = right.where(col("k") < 0)
    assert(Joins.filterPrunedJoin(left, empty, Seq("k")).count() == 0)
  }

  test("multi-column keys") {
    val s = spark
    import s.implicits._
    val left = (for (a <- 1 to 3; b <- 1 to 3; i <- 1 to (if (a == 1 && b == 1) 500 else 5))
      yield (a, b, i)).toDF("a", "b", "lv")
    val right = (for (a <- 1 to 3; b <- 1 to 3) yield (a, b, a * 10 + b)).toDF("a", "b", "rv")
    val plain = left.join(right, Seq("a", "b"), "inner")
    val salted = Joins.saltedJoin(left, right, Seq("a", "b"),
      saltFactor = 4, hotKeyThreshold = 50L)
    assert(sortedRows(salted) == sortedRows(plain))
  }
}
