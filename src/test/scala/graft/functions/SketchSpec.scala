package graft.functions

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.core._

/** HLL / Count-Min / KMV sketch family: core semantics, wire round-trips,
  * merge laws, and SQL end-to-end through real partial/final aggregation.
  */
class SketchSpec extends AnyFunSuite with SparkSpec {

  // --- core ---

  test("hll: rho definition matches the SQL-replayable bitlength form") {
    val sk = HllSketch.create(12)
    // hash with top-12 bucket 0 and remainder 1 -> rho = 52 - 1 + 1 = 52
    sk.add(1L)
    assert((sk.serialize()(1) & 0xff) == 52)
    // all-zero remainder saturates at 64-p+1
    val sk2 = HllSketch.create(12)
    sk2.add(0L)
    assert((sk2.serialize()(1) & 0xff) == 53)
    // top bits select the bucket
    val sk3 = HllSketch.create(12)
    sk3.add(-1L) // bucket 4095, remainder all ones -> rho 1
    assert((sk3.serialize()(1 + 4095) & 0xff) == 1)
  }

  test("hll: estimate accuracy, exact small range, serialization round-trip") {
    val sk = HllSketch.create(12)
    (1 to 100000).foreach(i => sk.add(DuckDbHash.hashLong(i.toLong)))
    val est = HllSketch.estimateBlob(sk.serialize())
    assert(math.abs(est - 100000) / 100000.0 < 0.05, s"estimate $est off by >5%")
    // linear-counting regime is near-exact
    val small = HllSketch.create(12)
    (1 to 300).foreach(i => small.add(DuckDbHash.hashLong(i.toLong)))
    assert(math.abs(HllSketch.estimateBlob(small.serialize()) - 300) < 10)
    val rt = HllSketch.deserialize(sk.serialize())
    assert(rt.p == sk.p && java.util.Arrays.equals(rt.serialize(), sk.serialize()))
    // duplicate adds change nothing
    val before = sk.serialize()
    (1 to 1000).foreach(i => sk.add(DuckDbHash.hashLong(i.toLong)))
    assert(java.util.Arrays.equals(before, sk.serialize()))
  }

  test("hll: merge == union build") {
    val a = HllSketch.create(10)
    val b = HllSketch.create(10)
    val u = HllSketch.create(10)
    (1 to 5000).foreach { i => a.add(DuckDbHash.hashLong(i.toLong)); u.add(DuckDbHash.hashLong(i.toLong)) }
    (3000 to 8000).foreach { i => b.add(DuckDbHash.hashLong(i.toLong)); u.add(DuckDbHash.hashLong(i.toLong)) }
    a.mergeMax(b)
    assert(java.util.Arrays.equals(a.serialize(), u.serialize()))
  }

  test("cms: exact on sparse keys, overestimates never underestimate, merge adds") {
    val sk = CountMinSketch.create(4, 14)
    val freqs = Map(1L -> 500L, 2L -> 100L, 3L -> 1L)
    freqs.foreach { case (k, n) => (1L to n).foreach(_ => sk.add(DuckDbHash.hashLong(k))) }
    freqs.foreach { case (k, n) =>
      val e = CountMinSketch.probeBlob(sk.serialize(), DuckDbHash.hashLong(k))
      assert(e >= n, s"key $k underestimated: $e < $n")
      assert(e <= n + 10, s"key $k wildly overestimated on a sparse sketch: $e")
    }
    val other = CountMinSketch.create(4, 14)
    (1L to 7L).foreach(_ => other.add(DuckDbHash.hashLong(1L)))
    sk.addMerge(other)
    assert(CountMinSketch.probeBlob(sk.serialize(), DuckDbHash.hashLong(1L)) >= 507L)
    val rt = CountMinSketch.deserialize(sk.serialize())
    assert(rt.depth == 4 && rt.log2w == 14 && java.util.Arrays.equals(rt.serialize(), sk.serialize()))
    // zero-copy probe equals the min over rows of the counters it names,
    // read independently off the little-endian blob
    val h1 = DuckDbHash.hashLong(1L)
    val counters = java.nio.ByteBuffer.wrap(sk.serialize()).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val byRow = (0 until 4).map(r => counters.getLong(
      2 + 8 * ((r << 14) + (DuckDbHash.hashLong(h1 ^ CountMinSketch.RowSeeds(r)) & ((1 << 14) - 1)).toInt)))
    assert(CountMinSketch.probeBlob(sk.serialize(), h1) == byRow.min)
  }

  test("cms: inner product bounds the join size, exact when sparse, symmetric") {
    val a = CountMinSketch.create(4, 14)
    val b = CountMinSketch.create(4, 14)
    // fA = {1:3, 2:5, 9:2}, fB = {2:4, 9:7, 42:100} -> true join size
    // 5*4 + 2*7 = 34; sparse 16384-cell rows make collisions unlikely
    Map(1L -> 3, 2L -> 5, 9L -> 2).foreach { case (k, n) =>
      (1 to n).foreach(_ => a.add(DuckDbHash.hashLong(k))) }
    Map(2L -> 4, 9L -> 7, 42L -> 100).foreach { case (k, n) =>
      (1 to n).foreach(_ => b.add(DuckDbHash.hashLong(k))) }
    val est = a.innerProduct(b)
    assert(est >= 34L)
    assert(est <= 40L, s"sparse inner product far off: $est")
    assert(est == b.innerProduct(a))
    // disjoint key sets -> 0 (no shared cells at this sparsity)
    val c = CountMinSketch.create(4, 14)
    c.add(DuckDbHash.hashLong(777L))
    assert(a.innerProduct(c) == 0L)
    // dimension mismatch refuses
    intercept[IllegalArgumentException] {
      a.innerProduct(CountMinSketch.create(4, 12)): Unit
    }
    // saturating rows: both counters huge -> clean Long.MaxValue, no wrap
    val big1 = CountMinSketch.create(2, 4)
    val big2 = CountMinSketch.create(2, 4)
    big1.add(DuckDbHash.hashLong(1L), Long.MaxValue / 2)
    big2.add(DuckDbHash.hashLong(1L), Long.MaxValue / 2)
    assert(big1.innerProduct(big2) == Long.MaxValue)
  }

  test("cms: row hash matches the live-DuckDB xor+hash vector") {
    // SELECT hash(xor(42::UBIGINT, 9876543210123456789::UBIGINT)) in duckdb
    // v1.0.0 (== v1.5.1 integer hash) returned this value; the UBIGINT bit
    // pattern reinterprets to this signed long
    assert(DuckDbHash.hashLong(42L ^ -8570200863586094827L) == 8142187626983811209L)
  }

  test("kmv: bottom-k distinct in unsigned order, exact below k, estimate above") {
    val agg = new KmvBuf()
    val hashes = (1 to 10000).map(i => DuckDbHash.hashLong(i.toLong))
    hashes.foreach(h => agg.add(h, 1024))
    hashes.foreach(h => agg.add(h, 1024)) // duplicates: no effect
    val values = new Array[Long](agg.set.size)
    val it = agg.set.iterator(); var i = 0
    while (it.hasNext) { values(i) = it.next(); i += 1 }
    val sk = new KmvSketch(1024, values)
    assert(sk.n == 1024)
    // ascending unsigned, and equal to the true bottom-1024
    val expected = hashes.distinct.sortWith((x, y) => java.lang.Long.compareUnsigned(x, y) < 0).take(1024)
    assert(values.toSeq == expected)
    val est = sk.estimate
    assert(math.abs(est - 10000) / 10000.0 < 0.1, s"kmv estimate $est off by >10%")
    // below k the sketch is exact
    val smallBuf = new KmvBuf()
    (1 to 77).foreach(i => smallBuf.add(DuckDbHash.hashLong(i.toLong), 1024))
    val smallVals = smallBuf.set.toArray(new Array[java.lang.Long](0)).map(_.longValue)
    assert(new KmvSketch(1024, smallVals).estimate == 77.0)
    val rt = KmvSketch.deserialize(sk.serialize())
    assert(rt.k == 1024 && rt.values.toSeq == sk.values.toSeq)
  }

  test("kmv: intersect count equals the SQL-definition replay") {
    def build(keys: Range, k: Int): KmvSketch = {
      val buf = new KmvBuf()
      keys.foreach(i => buf.add(DuckDbHash.hashLong(i.toLong), k))
      val values = buf.set.toArray(new Array[java.lang.Long](0)).map(_.longValue)
      new KmvSketch(k, values)
    }
    val a = build(1 to 3000, 256)
    val b = build(2000 to 5000, 256)
    val shared = KmvOps.intersectCount(a, b)
    // replay the definition directly: L = bottom-256 of union of stored sets
    val sa = a.values.toSet
    val sb = b.values.toSet
    val l = (sa ++ sb).toSeq.sortWith((x, y) => java.lang.Long.compareUnsigned(x, y) < 0).take(256)
    val expected = l.count(v => sa(v) && sb(v))
    assert(shared == expected.toLong)
    // jaccard numerator is plausible: true J = 1001/5000 = 0.2
    assert(shared >= 25 && shared <= 80, s"shared=$shared for true jaccard 0.2 at k=256")
  }

  // --- SQL end-to-end (partial/final aggregation across 4 partitions) ---

  test("SQL: hll_sketch build/merge/estimate/registers") {
    spark.range(1, 20001).toDF("id").repartition(4).createOrReplaceTempView("hll_in")
    val row = spark.sql("""
      SELECT hll_estimate(s) AS est,
             size(filter(hll_registers(s), r -> r = 0)) AS zeros,
             aggregate(hll_registers(s), 0L, (a, x) -> a + x) AS reg_sum
      FROM (SELECT hll_sketch(12, bitfilters_duckdb_hash('v1.5.1', id)) AS s FROM hll_in)
    """).head()
    val est = row.getDouble(0)
    assert(math.abs(est - 20000) / 20000.0 < 0.05, s"SQL hll estimate $est")
    assert(row.getInt(1) >= 0 && row.getLong(2) > 0)
    // distributed build == single-threaded core build, byte for byte
    val blob = spark.sql(
      "SELECT hll_sketch(12, bitfilters_duckdb_hash('v1.5.1', id)) FROM hll_in"
    ).head().getAs[Array[Byte]](0)
    val core = HllSketch.create(12)
    (1L until 20001L).foreach(i => core.add(DuckDbHash.hashLong(i)))
    assert(java.util.Arrays.equals(blob, core.serialize()))
    // blob-merge overload: sharded sketches merge to the same bytes
    val merged = spark.sql("""
      SELECT hll_sketch(12, s) FROM (
        SELECT id % 7 AS shard, hll_sketch(12, bitfilters_duckdb_hash('v1.5.1', id)) AS s
        FROM hll_in GROUP BY 1)
    """).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(merged, core.serialize()))
    // empty group -> NULL
    assert(spark.sql(
      "SELECT hll_sketch(12, bitfilters_duckdb_hash('v1.5.1', id)) FROM hll_in WHERE id < 0"
    ).head().isNullAt(0))
  }

  test("SQL: cms_sketch build/merge/estimate") {
    spark.sql("""
      SELECT explode(flatten(array(
        transform(sequence(1, 500), x -> 'alpha'),
        transform(sequence(1, 120), x -> 'beta'),
        transform(sequence(1, 7), x -> 'gamma')))) AS tok
    """).repartition(4).createOrReplaceTempView("cms_in")
    val rows = spark.sql("""
      WITH sk AS (SELECT cms_sketch(4, 14, bitfilters_duckdb_hash('v1.5.1', tok)) AS s FROM cms_in)
      SELECT cms_estimate(s, bitfilters_duckdb_hash('v1.5.1', 'alpha')) AS a,
             cms_estimate(s, bitfilters_duckdb_hash('v1.5.1', 'beta')) AS b,
             cms_estimate(s, bitfilters_duckdb_hash('v1.5.1', 'gamma')) AS c
      FROM sk
    """).head()
    assert(rows.getLong(0) >= 500 && rows.getLong(0) <= 510)
    assert(rows.getLong(1) >= 120 && rows.getLong(1) <= 130)
    assert(rows.getLong(2) >= 7 && rows.getLong(2) <= 17)
    // blob-merge overload sums counters: doubled corpus doubles counts
    val doubled = spark.sql("""
      WITH sk AS (SELECT cms_sketch(4, 14, bitfilters_duckdb_hash('v1.5.1', tok)) AS s FROM cms_in),
      both AS (SELECT s FROM sk UNION ALL SELECT s FROM sk)
      SELECT cms_estimate(cms_sketch(4, 14, s), bitfilters_duckdb_hash('v1.5.1', 'alpha')) FROM both
    """).head().getLong(0)
    assert(doubled >= 1000 && doubled <= 1020)
  }

  test("SQL: kmv_sketch build/merge/estimate/intersect") {
    spark.range(1, 5001).toDF("id").repartition(4).createOrReplaceTempView("kmv_a")
    spark.range(3001, 9001).toDF("id").repartition(4).createOrReplaceTempView("kmv_b")
    val row = spark.sql("""
      WITH sa AS (SELECT kmv_sketch(256, bitfilters_duckdb_hash('v1.5.1', id)) AS s FROM kmv_a),
           sb AS (SELECT kmv_sketch(256, bitfilters_duckdb_hash('v1.5.1', id)) AS s FROM kmv_b)
      SELECT kmv_estimate(sa.s) AS ea, size(kmv_values(sa.s)) AS na,
             kmv_intersect_count(sa.s, sb.s) AS shared,
             kmv_estimate(kmv_sketch(256, u.s)) AS eu
      FROM sa, sb,
           (SELECT s FROM sa UNION ALL SELECT s FROM sb) u
      GROUP BY sa.s, sb.s
    """).head()
    assert(math.abs(row.getDouble(0) - 5000) / 5000.0 < 0.15)
    assert(row.getInt(1) == 256)
    // true jaccard = 2000/9000 ~ 0.22 -> shared ~ 57 of 256
    assert(row.getLong(2) > 20 && row.getLong(2) < 110)
    // union estimate ~ 9000
    assert(math.abs(row.getDouble(3) - 9000) / 9000.0 < 0.15)
    // exact below k
    val exact = spark.sql("""
      SELECT kmv_estimate(kmv_sketch(256, bitfilters_duckdb_hash('v1.5.1', id)))
      FROM kmv_a WHERE id <= 100
    """).head().getDouble(0)
    assert(exact == 100.0)
  }

  test("SQL: constant-argument validation errors") {
    val e1 = intercept[Exception](spark.sql(
      "SELECT hll_sketch(99, bitfilters_duckdb_hash('v1.5.1', id)) FROM range(10)").collect())
    assert(e1.getMessage.contains("hll_sketch p"))
    val e2 = intercept[Exception](spark.sql(
      "SELECT cms_sketch(0, 14, bitfilters_duckdb_hash('v1.5.1', id)) FROM range(10)").collect())
    assert(e2.getMessage.toLowerCase.contains("depth"))
    val e3 = intercept[Exception](spark.sql(
      "SELECT kmv_sketch(0, bitfilters_duckdb_hash('v1.5.1', id)) FROM range(10)").collect())
    assert(e3.getMessage.contains("kmv_sketch k"))
  }

  // --- top-k aggregate ---

  test("SQL: topk_agg matches the window-function replay, caps state, merges") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    // 20k rows, 8 groups, ord values with deliberate collisions (mod 500)
    val rows = Seq.tabulate(20000)(i => (i % 8, (rnd.nextInt(500)).toLong, i.toLong))
    rows.toDF("g", "v", "id").createOrReplaceTempView("tkv")
    val got = spark.sql("""
      SELECT g, e.ord AS v, e.payload AS id
      FROM (SELECT g, topk_agg(10, v, id) AS tk FROM tkv GROUP BY g)
      LATERAL VIEW posexplode(tk) t AS pos, e
      ORDER BY g, pos""").collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val expected = spark.sql("""
      SELECT g, v, id
      FROM (SELECT g, v, id, row_number() OVER (PARTITION BY g ORDER BY v DESC, id) AS rn
            FROM tkv) WHERE rn <= 10
      ORDER BY g, rn""").collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == expected.toSeq)
    // the DataFrame stage over the same rows, with group 0 cut below k
    // (5 rows), against the same replay: its row_number is the rank
    val staged = TopKAgg.rank(spark.table("tkv").where("g <> 0 OR id < 40"),
        Seq(col("g")), 10, col("v"), col("id"))
      .orderBy("g", "rank").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val replayed = spark.sql("""
      SELECT g, CAST(rn AS INT), v, id
      FROM (SELECT g, v, id, row_number() OVER (PARTITION BY g ORDER BY v DESC, id) AS rn
            FROM tkv WHERE g <> 0 OR id < 40) WHERE rn <= 10
      ORDER BY g, rn""").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(staged.toSeq == replayed.toSeq)
    assert(staged.count(_._1 == 0) == 5 && staged.length == 75)
    // k larger than the group emits the whole group, ordered
    val small = spark.sql(
      "SELECT size(topk_agg(100, v, id)) FROM tkv WHERE g = 0 AND id < 40 GROUP BY g")
      .collect().head.getInt(0)
    assert(small == 5) // ids 0,8,16,24,32
    // all-NULL group -> NULL
    assert(spark.sql(
      "SELECT topk_agg(3, CAST(NULL AS BIGINT), id) FROM range(5)")
      .collect().head.isNullAt(0))
  }

  test("SortableBits: involution, strict monotonicity, special-value order") {
    import graft.functions.SortableBits
    val rnd = new scala.util.Random(11)
    val specials = Seq(Double.NegativeInfinity, -Double.MaxValue, -1.5, -Double.MinPositiveValue,
      -0.0, 0.0, Double.MinPositiveValue, 1.5, Double.MaxValue,
      Double.PositiveInfinity, Double.NaN)
    val samples = specials ++ Seq.fill(5000)(
      java.lang.Double.longBitsToDouble(rnd.nextLong())).filterNot(_.isNaN)
    for (d <- samples)
      assert(java.lang.Double.compare(SortableBits.decode(SortableBits.encode(d)), d) == 0,
        s"round-trip broke on $d")
    // encode order == Double.compare total order (NaN > +Inf, -0.0 < 0.0)
    val sorted = samples.sortWith((a, b) => java.lang.Double.compare(a, b) < 0)
    val encoded = sorted.map(SortableBits.encode)
    assert(encoded == encoded.sorted, "encode is not monotone under the total order")
    assert(SortableBits.encode(-0.0) < SortableBits.encode(0.0))
    assert(SortableBits.encode(Double.NaN) > SortableBits.encode(Double.PositiveInfinity))
    // the SQL-side pair agrees with the Scala object (codegen path)
    val row = spark.range(1).selectExpr(
      "sortable_bits(CAST(-2.75 AS DOUBLE)) AS b",
      "sortable_bits_double(sortable_bits(CAST(-2.75 AS DOUBLE))) AS d")
      .collect().head
    assert(row.getLong(0) == SortableBits.encode(-2.75))
    assert(row.getDouble(1) == -2.75)
  }

  // --- histogram ---

  test("hist: core binning, clamp edge, outliers, merge, round-trip") {
    val h = graft.core.HistogramSketch.create(4, 0.0, 8.0) // width 2
    Seq(-1.0, 0.0, 1.9, 2.0, 7.9, 8.0, 100.0, Double.NaN).foreach(h.add)
    assert(h.below == 1 && h.above == 2) // 8.0 and 100.0 above; NaN dropped
    assert(h.counts.toSeq == Seq(2L, 1L, 0L, 1L))
    // the hi-ulp clamp: a value whose (x-lo)/width rounds to nbins stays in
    // the last bin
    val tight = graft.core.HistogramSketch.create(3, 0.0, 0.3)
    tight.add(0.3 - math.ulp(0.3))
    assert(tight.counts.toSeq == Seq(0L, 0L, 1L) && tight.above == 0)
    val h2 = graft.core.HistogramSketch.deserialize(h.serialize())
    assert(h2.counts.toSeq == h.counts.toSeq && h2.below == 1 && h2.above == 2)
    h2.addMerge(h)
    assert(h2.counts.toSeq == Seq(4L, 2L, 0L, 2L) && h2.below == 2 && h2.above == 4)
    intercept[IllegalArgumentException](
      h2.addMerge(graft.core.HistogramSketch.create(4, 0.0, 9.0)))
  }

  test("hist: quantile interpolation matches the closed form") {
    val h = graft.core.HistogramSketch.create(4, 0.0, 8.0)
    // 4 values in bin 0, 4 in bin 3 -> median at the bin boundary walk
    Seq(0.1, 0.2, 0.3, 0.4, 6.1, 6.2, 6.3, 6.4).foreach(h.add)
    assert(h.quantile(0.0) == 0.0)      // start of first occupied bin
    assert(h.quantile(1.0) == 8.0)      // end of last occupied bin
    assert(h.quantile(0.5) == 2.0)      // rank 4 lands at end of bin 0
    assert(h.quantile(0.25) == 1.0)     // rank 2 = middle of bin 0
    assert(h.quantile(0.75) == 7.0)     // rank 6 = middle of bin 3
    assert(graft.core.HistogramSketch.create(2, 0.0, 1.0).quantile(0.5).isNaN)
    assert(h.quantile(1.5).isNaN)
  }

  test("SQL: hist_sketch build/merge/counts/quantile and NULL semantics") {
    val s = spark
    import s.implicits._
    (0 until 1000).map(i => (i % 10, i.toDouble)).toDF("g", "x")
      .createOrReplaceTempView("hvals")
    val one = spark.sql("""
      SELECT hist_counts(hist_sketch(10, 0.0, 1000.0, x)) AS c,
             hist_quantile(hist_sketch(10, 0.0, 1000.0, x), 0.5) AS med
      FROM hvals""").collect().head
    assert(one.getSeq[Long](0) == (Seq(0L) ++ Seq.fill(10)(100L) ++ Seq(0L)))
    assert(one.getDouble(1) == 500.0)
    // per-group build then blob merge == single global build
    val merged = spark.sql("""
      WITH per_g AS (SELECT g, hist_sketch(10, 0.0, 1000.0, x) AS h FROM hvals GROUP BY g)
      SELECT hist_counts(hist_sketch(10, 0.0, 1000.0, h)) AS c FROM per_g""").collect().head
    assert(merged.getSeq[Long](0) == one.getSeq[Long](0))
    // empty/NULL group -> NULL blob
    assert(spark.sql(
      "SELECT hist_sketch(4, 0.0, 1.0, CAST(NULL AS DOUBLE)) FROM range(5)")
      .collect().head.isNullAt(0))
    val e = intercept[Exception](spark.sql(
      "SELECT hist_sketch(0, 0.0, 1.0, CAST(id AS DOUBLE)) FROM range(5)").collect())
    assert(e.getMessage.contains("nbins"))
  }

  test("SQL: binary_quantize / word_hamming / gram_agg surface") {
    spark.sql("""
      SELECT id, array(CAST(id AS DOUBLE) - 2.0, 1.0D, CAST(-id AS DOUBLE)) AS v
      FROM range(5)""").createOrReplaceTempView("gvals")
    // sign-bit packing: v = (id-2, 1, -id); id=0 -> bits {1,_}; id=3 -> bits {0,1}
    val sig = spark.sql(
      "SELECT word_hamming(binary_quantize(array(1.0D, -1.0D, 2.0D)), " +
        "binary_quantize(array(-1.0D, -1.0D, 2.0D)))").head().getInt(0)
    assert(sig == 1)
    // gram_agg equals the SQL sum-of-products replay, both modes
    val g = spark.sql("""
      WITH a AS (SELECT e.i, e.j, e.v FROM (SELECT gram_agg(v) AS tk FROM gvals), LATERAL explode(tk) AS t(e)),
      b AS (
        SELECT ii.i AS i, jj.j AS j, SUM(element_at(v, ii.i + 1) * element_at(v, jj.j + 1)) AS s
        FROM gvals,
          (SELECT explode(sequence(0, 2)) AS i) ii,
          (SELECT explode(sequence(0, 2)) AS j) jj
        WHERE jj.j >= ii.i GROUP BY 1, 2)
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN abs(a.v - b.s) < 1e-12 THEN 1 ELSE 0 END) AS eq
      FROM a JOIN b ON a.i = b.i AND a.j = b.j""").head()
    assert(g.getLong(0) == 6L && g.getLong(1) == 6L)
    val e6 = spark.sql(
      "SELECT e.v FROM (SELECT gram_agg(v, true) AS tk FROM gvals), LATERAL explode(tk) AS t(e) " +
        "WHERE e.i = 0 AND e.j = 0").head().getLong(0)
    // sum over id of floor((id-2)^2 * 1e6 + 0.5) = (4+1+0+1+4)*1e6
    assert(e6 == 10000000L)
    // empty group -> NULL
    assert(spark.sql("SELECT gram_agg(v) FROM gvals WHERE id < 0").head().isNullAt(0))
  }
}
