package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.streaming.FileStreams

/** End-to-end SQL tests mirroring the reference's sqllogictests
  * (test/sql/bitfilters.test, test/sql/duckdb_bloom_filter.test) through a
  * real SparkSession, including parallel partial/final aggregation.
  */
class SparkFilterSpec extends AnyFunSuite with SparkSpec {

  override def beforeAll(): Unit = {
    super.beforeAll()
    // series_data fixture: reference test/sql/bitfilters.test:9-10
    spark.range(1, 100001).toDF("id").createOrReplaceTempView("series_data")
  }

  private def sqlRows(q: String): Seq[Seq[Any]] =
    spark.sql(q).collect().toSeq.map(_.toSeq)

  test("duckdb hash SQL: certified vectors") {
    val rows = sqlRows("""
      SELECT bitfilters_duckdb_hash('v1.5.1', 42),
             bitfilters_duckdb_hash('v1.5.1', CAST(42 AS BIGINT)),
             bitfilters_duckdb_hash('v1.5.1', 'hello'),
             bitfilters_duckdb_hash('v1.5.1', 42, 'hello'),
             bitfilters_duckdb_hash('v1.5.1', 1, 2, 3)
    """)
    val r = rows.head
    assert(r(0) == java.lang.Long.parseUnsignedLong("7199933130570745587"))
    assert(r(1) == java.lang.Long.parseUnsignedLong("7199933130570745587"))
    assert(r(2) == java.lang.Long.parseUnsignedLong("8628213525773890682"))
    assert(r(3) == java.lang.Long.parseUnsignedLong("17001236256828606196"))
    assert(r(4) == java.lang.Long.parseUnsignedLong("12722334483198565868"))
  }

  test("duckdb hash SQL: DECIMAL(20,0) hashes as UBIGINT (both eval paths)") {
    // DuckDB UBIGINT parquet columns surface as DECIMAL(20,0) in Spark;
    // anchors from live DuckDB hash(v::UBIGINT) incl. values above 2^63
    val rows = sqlRows("""
      SELECT bitfilters_duckdb_hash('v1.5.1', CAST(42 AS DECIMAL(20,0))),
             bitfilters_duckdb_hash('v1.5.1', CAST('9223372036854775808' AS DECIMAL(20,0))),
             bitfilters_duckdb_hash('v1.5.1', CAST('18446744073709551615' AS DECIMAL(20,0))),
             bitfilters_duckdb_hash('v1.5.1', CAST('12345678901234567890' AS DECIMAL(20,0)))
    """)
    val r = rows.head
    assert(r(0) == java.lang.Long.parseUnsignedLong("7199933130570745587"))
    assert(r(1) == java.lang.Long.parseUnsignedLong("8233824478078409175"))
    assert(r(2) == java.lang.Long.parseUnsignedLong("4939931809569846361"))
    assert(r(3) == java.lang.Long.parseUnsignedLong("14454407496768820157"))
    // interpreted path (non-codegen): same dispatch through hasherFor
    val dfRows = spark.sql(
      "SELECT CAST('12345678901234567890' AS DECIMAL(20,0)) AS d")
      .selectExpr("bitfilters_duckdb_hash('v1.5.1', d) AS h")
      .collect()
    assert(dfRows.head.getLong(0) == java.lang.Long.parseUnsignedLong("14454407496768820157"))
    // DECIMAL shapes that are not parquet-UINT64 stay rejected
    val err = intercept[Exception](sqlRows(
      "SELECT bitfilters_duckdb_hash('v1.5.1', CAST(1 AS DECIMAL(19,0)))"))
    assert(err.getMessage.contains("unsupported type") || err.getMessage.contains("DECIMAL"))
  }

  test("quotient filter SQL: golden FP counts via grouped agg + join") {
    spark.sql("""
      CREATE OR REPLACE TEMP VIEW quotient_filters AS
      SELECT id % 2 AS remainder,
             quotient_filter(16, 4, bitfilters_duckdb_hash('v1.5.1', id)) AS filter
      FROM series_data GROUP BY id % 2
    """)
    val rows = sqlRows("""
      SELECT remainder,
             count(CASE WHEN quotient_filter_contains(filter, bitfilters_duckdb_hash('v1.5.1', id)) THEN 1 END) AS fp
      FROM series_data, quotient_filters
      WHERE series_data.id % 2 != quotient_filters.remainder
      GROUP BY remainder ORDER BY remainder
    """)
    assert(rows == Seq(Seq(0L, 2264L), Seq(1L, 2273L)))
  }

  test("quotient filter SQL: strict merge raises on overflow, default merge is silent (parity)") {
    // two 10-key filters over disjoint ranges; their union (~20 fingerprints)
    // overflows the 16-slot q=4 table
    spark.range(0, 10).toDF("id").createOrReplaceTempView("qs_a")
    spark.range(1000, 1010).toDF("id").createOrReplaceTempView("qs_b")
    spark.sql("""
      CREATE OR REPLACE TEMP VIEW qs_parts AS
      SELECT quotient_filter(4, 8, bitfilters_duckdb_hash('v1.5.1', id)) AS f FROM qs_a
      UNION ALL
      SELECT quotient_filter(4, 8, bitfilters_duckdb_hash('v1.5.1', id)) AS f FROM qs_b
    """)
    // parity default: the blob merge completes, silently capped at 16 slots
    val merged = sqlRows("SELECT quotient_filter(4, 8, f) FROM qs_parts")
    val blob = merged.head.head.asInstanceOf[Array[Byte]]
    assert(graft.core.QuotientFilter.deserialize(blob).entries == 16L)
    // strict: the same merge raises instead of dropping keys
    val ex = intercept[Exception] {
      spark.sql("SELECT quotient_filter(4, 8, f, true) FROM qs_parts").collect()
    }
    val messages = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains("strict merge overflow")), messages.mkString(" | "))
  }

  test("binary fuse filters SQL: membership + golden FP counts") {
    spark.sql("""
      CREATE OR REPLACE TEMP VIEW fuse_filters AS
      SELECT id % 2 AS remainder,
             binary_fuse16_filter(bitfilters_duckdb_hash('v1.5.1', id)) AS f16,
             binary_fuse8_filter(bitfilters_duckdb_hash('v1.5.1', id)) AS f8
      FROM series_data GROUP BY id % 2
    """)
    val members = sqlRows("""
      SELECT remainder,
             count(CASE WHEN binary_fuse16_filter_contains(f16, bitfilters_duckdb_hash('v1.5.1', id)) THEN 1 END),
             count(CASE WHEN binary_fuse8_filter_contains(f8, bitfilters_duckdb_hash('v1.5.1', id)) THEN 1 END)
      FROM series_data, fuse_filters
      WHERE series_data.id % 2 = fuse_filters.remainder
      GROUP BY remainder ORDER BY remainder
    """)
    assert(members == Seq(Seq(0L, 50000L, 50000L), Seq(1L, 50000L, 50000L)))
    val fps = sqlRows("""
      SELECT remainder,
             count(CASE WHEN binary_fuse16_filter_contains(f16, bitfilters_duckdb_hash('v1.5.1', id)) THEN 1 END),
             count(CASE WHEN binary_fuse8_filter_contains(f8, bitfilters_duckdb_hash('v1.5.1', id)) THEN 1 END)
      FROM series_data, fuse_filters
      WHERE series_data.id % 2 != fuse_filters.remainder
      GROUP BY remainder ORDER BY remainder
    """)
    assert(fps == Seq(Seq(0L, 1L, 171L), Seq(1L, 1L, 199L)))
  }

  test("xor filters SQL: zero false negatives (FP counts are order-dependent by design)") {
    spark.sql("""
      CREATE OR REPLACE TEMP VIEW xor_filters AS
      SELECT id % 2 AS remainder,
             xor16_filter(bitfilters_duckdb_hash('v1.5.1', id)) AS x16,
             xor8_filter(bitfilters_duckdb_hash('v1.5.1', id)) AS x8
      FROM series_data GROUP BY id % 2
    """)
    val members = sqlRows("""
      SELECT remainder,
             count(CASE WHEN xor16_filter_contains(x16, bitfilters_duckdb_hash('v1.5.1', id)) THEN 1 END),
             count(CASE WHEN xor8_filter_contains(x8, bitfilters_duckdb_hash('v1.5.1', id)) THEN 1 END)
      FROM series_data, xor_filters
      WHERE series_data.id % 2 = xor_filters.remainder
      GROUP BY remainder ORDER BY remainder
    """)
    assert(members == Seq(Seq(0L, 50000L, 50000L), Seq(1L, 50000L, 50000L)))
  }

  test("duckdb bloom SQL: roundtrip + FPR bound (reference duckdb_bloom_filter.test:347-370)") {
    spark.range(1, 1001).toDF("key").createOrReplaceTempView("bf_keys")
    spark.sql("""
      CREATE OR REPLACE TEMP VIEW bf AS
      SELECT bitfilters_duckdb_bloom_filter_create('v1.5.1', 16384,
               bitfilters_duckdb_hash('v1.5.1', key)) AS filter
      FROM bf_keys
    """)
    val hits = sqlRows("""
      SELECT count(*) FROM bf_keys, bf
      WHERE bitfilters_duckdb_bloom_filter_probe('v1.5.1', filter, key)
    """)
    assert(hits.head.head == 1000L)
    val fps = sqlRows("""
      SELECT count(*) FROM (SELECT id AS key FROM range(100001, 110001)) nm, bf
      WHERE bitfilters_duckdb_bloom_filter_probe('v1.5.1', filter, key)
    """)
    assert(fps.head.head.asInstanceOf[Long] < 200L, s"FPs: ${fps.head.head}")
  }

  test("duckdb bloom SQL: multi-key probe") {
    spark.sql("SELECT id AS k1, id * 7 AS k2 FROM range(1, 501)").createOrReplaceTempView("mk")
    spark.sql("""
      CREATE OR REPLACE TEMP VIEW mkbf AS
      SELECT bitfilters_duckdb_bloom_filter_create('v1.5.1', 8192,
               bitfilters_duckdb_hash('v1.5.1', k1, k2)) AS filter
      FROM mk
    """)
    val hits = sqlRows("""
      SELECT count(*) FROM mk, mkbf
      WHERE bitfilters_duckdb_bloom_filter_probe('v1.5.1', filter, k1, k2)
    """)
    assert(hits.head.head == 500L)
  }

  test("quotient merge overload: aggregate blobs into one filter") {
    spark.sql("""
      CREATE OR REPLACE TEMP VIEW per_group AS
      SELECT id % 4 AS g, quotient_filter(16, 4, bitfilters_duckdb_hash('v1.5.1', id)) AS filter
      FROM series_data WHERE id <= 1000 GROUP BY id % 4
    """)
    spark.sql("""
      CREATE OR REPLACE TEMP VIEW merged AS
      SELECT quotient_filter(16, 4, filter) AS filter FROM per_group
    """)
    val all = sqlRows("""
      SELECT count(*) FROM series_data, merged
      WHERE id <= 1000 AND quotient_filter_contains(filter, bitfilters_duckdb_hash('v1.5.1', id))
    """)
    assert(all.head.head == 1000L)
  }

  test("null semantics: empty group is NULL, NULL inputs ignored, contains propagates NULL") {
    // empty aggregate -> NULL (reference duckdb_bloom_filter.test:439-445)
    val empty = sqlRows("""
      SELECT bitfilters_duckdb_bloom_filter_create('v1.5.1', 64, bitfilters_duckdb_hash('v1.5.1', id)),
             quotient_filter(8, 4, bitfilters_duckdb_hash('v1.5.1', id)),
             xor8_filter(bitfilters_duckdb_hash('v1.5.1', id)),
             binary_fuse8_filter(bitfilters_duckdb_hash('v1.5.1', id))
      FROM series_data WHERE id < 0
    """)
    assert(empty.head.forall(_ == null))
    // NULL hash inputs are skipped
    val skipNulls = sqlRows("""
      SELECT quotient_filter_contains(
        (SELECT quotient_filter(8, 4, CASE WHEN id <= 5 THEN bitfilters_duckdb_hash('v1.5.1', id) END)
         FROM series_data WHERE id <= 10),
        bitfilters_duckdb_hash('v1.5.1', 3))
    """)
    assert(skipNulls.head.head == true)
    // scalar NULL propagation
    val np = sqlRows("SELECT quotient_filter_contains(CAST(NULL AS BINARY), CAST(1 AS BIGINT))")
    assert(np.head.head == null)
    // hash NULL propagation (reference duckdb_bloom_filter.test:137-141)
    val hn = sqlRows("""
      SELECT bitfilters_duckdb_hash('v1.5.1', CAST(NULL AS INT)),
             bitfilters_duckdb_hash('v1.5.1', 42, CAST(NULL AS STRING))""")
    assert(hn.head.forall(_ == null))
    // per-row hash NULL propagation through codegen over a table
    val tbl = sqlRows("""
      SELECT count(CASE WHEN h IS NULL THEN 1 END) FROM (
        SELECT bitfilters_duckdb_hash('v1.5.1', CASE WHEN id % 3 = 0 THEN NULL ELSE id END) AS h
        FROM range(0, 99))""")
    assert(tbl.head.head == 33L)
  }

  test("classic bloom SQL: typed values, membership, merge overload, FPR") {
    // shape of the reference's disabled test (test/sql/bitfilters.test:12-33)
    spark.sql("""
      CREATE OR REPLACE TEMP VIEW bloom_filters AS
      SELECT id % 2 AS remainder, bloomfilter(10000, CAST(0.01 AS DOUBLE), id) AS filter
      FROM series_data WHERE id <= 10000 GROUP BY id % 2
    """)
    val contained = sqlRows("""
      SELECT remainder, count(CASE WHEN bloom_filter_contains(filter, id) THEN 1 END)
      FROM series_data, bloom_filters
      WHERE id <= 10000 AND series_data.id % 2 = bloom_filters.remainder
      GROUP BY remainder ORDER BY remainder
    """)
    assert(contained == Seq(Seq(0L, 5000L), Seq(1L, 5000L)))
    val fps = sqlRows("""
      SELECT count(*) FROM range(200001, 210001) r, (SELECT filter FROM bloom_filters WHERE remainder = 0) f
      WHERE bloom_filter_contains(f.filter, r.id)
    """)
    assert(fps.head.head.asInstanceOf[Long] < 300, s"classic bloom FPs: ${fps.head.head}")
    // merge overload: union of per-group filters contains everything
    val merged = sqlRows("""
      SELECT count(*) FROM series_data,
        (SELECT bloomfilter(10000, CAST(0.01 AS DOUBLE), filter) AS filter FROM bloom_filters) m
      WHERE id <= 10000 AND bloom_filter_contains(m.filter, id)
    """)
    assert(merged.head.head == 10000L)
    // string-typed values work too (the reference family was multi-typed)
    val strs = sqlRows("""
      SELECT bloom_filter_contains(bloomfilter(100, CAST(0.01 AS DOUBLE), s), 'b')
      FROM (SELECT explode(array('a','b','c')) AS s)
    """)
    assert(strs.head.head == true)
  }

  test("duckdb bloom SQL: negative keys and large sector counts (FIXTURES par.2)") {
    // bf_neg: negative ints exercise the sign-extension path (reference :447-462)
    val neg = sqlRows("""
      SELECT count(*) FROM range(-500, 0)
      WHERE bitfilters_duckdb_bloom_filter_probe('v1.5.1',
        (SELECT bitfilters_duckdb_bloom_filter_create('v1.5.1', 1024,
           bitfilters_duckdb_hash('v1.5.1', id)) FROM range(-500, 0)), id)""")
    assert(neg.head.head == 500L)
    // bf_large: 131072 sectors (reference :474-488); scalar-subquery form —
    // a blob-column join would carry the 1MB filter on every probe row
    val large = sqlRows("""
      SELECT count(*) FROM range(0, 10000)
      WHERE bitfilters_duckdb_bloom_filter_probe('v1.5.1',
        (SELECT bitfilters_duckdb_bloom_filter_create('v1.5.1', 131072,
           bitfilters_duckdb_hash('v1.5.1', id)) FROM range(0, 10000)), id)""")
    assert(large.head.head == 10000L)
    val largeSize = sqlRows("""
      SELECT octet_length((SELECT bitfilters_duckdb_bloom_filter_create('v1.5.1', 131072,
        bitfilters_duckdb_hash('v1.5.1', id)) FROM range(0, 10000)))""")
    assert(largeSize.head.head == 8 * 131073)
  }

  test("typed Column API: end-to-end without SQL strings") {
    import graft.functions.filters._
    import org.apache.spark.sql.functions.{broadcast, col, count}
    val dim = spark.range(1, 1001).toDF("key")
    val facts = spark.range(1, 5001).toDF("fact_key")
    val flt = dim.agg(xor8Filter(duckdbHash(col("key"))).as("f"))
    val hits = facts.join(broadcast(flt))
      .where(xor8FilterContains(col("f"), duckdbHash(col("fact_key"))))
      .agg(count(col("*"))).head().getLong(0)
    assert(hits >= 1000 && hits < 1100, s"members + bounded FPs, got $hits") // 1000 members, <2.5% FP on 4000
    val q = dim.agg(quotientFilter(12, 8, duckdbHash(col("key"))).as("f"),
      duckdbBloomFilter(1024, duckdbHash(col("key"))).as("b"),
      bloomFilter(1000, 0.01, col("key")).as("c"))
    val row = dim.crossJoin(broadcast(q))
      .where(quotientFilterContains(col("f"), duckdbHash(col("key"))) &&
        duckdbBloomFilterProbe(col("b"), col("key")) &&
        bloomFilterContains(col("c"), col("key")))
      .count()
    assert(row == 1000L)
  }

  test("driver entry() smoke: flagship query returns rows") {
    val df = graft.SparkEntry.entry(spark)
    assert(df.count() > 0)
  }

  test("error paths: bad version, non-power-of-2 sectors, non-constant q") {
    def fails(q: String): Boolean =
      try { spark.sql(q).collect(); false } catch { case _: Exception => true }
    assert(fails("SELECT bitfilters_duckdb_hash('v9.9.9', 1)"))
    assert(fails("SELECT bitfilters_duckdb_bloom_filter_create('v1.5.1', 1000, bitfilters_duckdb_hash('v1.5.1', id)) FROM range(10)"))
    assert(fails("SELECT quotient_filter(id, 4, bitfilters_duckdb_hash('v1.5.1', id)) FROM range(10)"))
    // full quotient filter errors like the reference (bitfilters_quotient_filter.cpp:196-198)
    assert(fails("SELECT quotient_filter(2, 4, bitfilters_duckdb_hash('v1.5.1', id)) FROM range(100)"))
    // ... also when every partial fits and only their union overflows
    val overflow = intercept[Exception](spark.sql(
      "SELECT quotient_filter(10, 4, bitfilters_duckdb_hash('v1.5.1', id)) FROM range(0, 1500, 1, 4)").collect())
    assert(overflow.getMessage.contains("likely it is full"), overflow.getMessage)
    assert(fails("SELECT bloomfilter(0, CAST(0.1 AS DOUBLE), id) FROM range(10)"))
    assert(fails("SELECT bloomfilter(10, CAST(1.5 AS DOUBLE), id) FROM range(10)"))
  }

  test("RowIndependent: leaf whitelist admits subqueries, rejects context leaves") {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.types.{BinaryType, IntegerType}
    assert(!RowIndependent(Literal(1)), "foldable needs no once-per-task cache")
    assert(!RowIndependent(InputFileName()),
      "deterministic per-row context leaf must NOT be cached once per task")
    assert(!RowIndependent(BoundReference(0, BinaryType, nullable = true)),
      "bound column read (references.isEmpty is true here — the trap)")
    assert(!RowIndependent(AttributeReference("c", BinaryType)()), "unbound column read")
    val sub = ScalarSubquery(LocalRelation(AttributeReference("x", BinaryType)()))
    assert(RowIndependent(sub), "uncorrelated scalar subquery is row-independent")
    assert(RowIndependent(GetStructField(
      ScalarSubquery(LocalRelation(AttributeReference("s", org.apache.spark.sql.types.StructType(
        Seq(org.apache.spark.sql.types.StructField("f", BinaryType)))) ())), 0, Some("f"))),
      "struct field of a merged scalar subquery")
    assert(!RowIndependent(ScalarSubquery(
      LocalRelation(AttributeReference("x", IntegerType)()),
      outerAttrs = Seq(AttributeReference("o", IntegerType)()))),
      "correlated subquery exposes outer attrs as leaves")
    assert(RowIndependent(BroadcastBlob(
      spark.sparkContext.broadcast(Array[Byte](1, 2, 3)))),
      "broadcast blob is executor-shared and row-independent")
  }

  test("sparse-until-dense buffers: blobs identical across partitionings and both sides of the threshold") {
    // quotient q=12 (threshold = 2^12*7/64 = 448 keys/buffer) with 3000
    // keys: single partition densifies during update, 32 partitions stay
    // sparse until the final merge — blob must be byte-identical. The
    // duckdb bloom (64 sectors, threshold 64), hll p=10 (threshold 128)
    // and classic bloom cross the same boundary; cms 1x2^4 (threshold 16)
    // densifies inside every ~94-key partition too, so the final merge
    // takes over and unions dense partials. The BINARY merge overloads
    // union per-group blobs of each family across the same partitionings.
    def blobs(parts: Int): Seq[Seq[Byte]] = {
      spark.range(0, 3000).repartition(parts).createOrReplaceTempView("sdk")
      val r = spark.sql("""
        WITH g AS (
          SELECT quotient_filter(12, 4, bitfilters_duckdb_hash('v1.5.1', id)) AS qf,
                 bloomfilter(100, CAST(0.01 AS DOUBLE), id) AS bf,
                 hll_sketch(10, bitfilters_duckdb_hash('v1.5.1', id)) AS hll,
                 cms_sketch(1, 4, bitfilters_duckdb_hash('v1.5.1', id)) AS cms
          FROM sdk GROUP BY id % 7)
        SELECT
          (SELECT quotient_filter(12, 4, bitfilters_duckdb_hash('v1.5.1', id)) FROM sdk),
          (SELECT bitfilters_duckdb_bloom_filter_create('v1.5.1', 64, bitfilters_duckdb_hash('v1.5.1', id)) FROM sdk),
          (SELECT bloomfilter(100, CAST(0.01 AS DOUBLE), id) FROM sdk),
          (SELECT hll_sketch(10, bitfilters_duckdb_hash('v1.5.1', id)) FROM sdk),
          (SELECT cms_sketch(1, 4, bitfilters_duckdb_hash('v1.5.1', id)) FROM sdk),
          (SELECT quotient_filter(12, 4, qf) FROM g),
          (SELECT bloomfilter(100, CAST(0.01 AS DOUBLE), bf) FROM g),
          (SELECT hll_sketch(10, hll) FROM g),
          (SELECT cms_sketch(1, 4, cms) FROM g)""").head()
      (0 until r.length).map(i => r.getAs[Array[Byte]](i).toSeq)
    }
    val one = blobs(1)
    assert(one.forall(_.nonEmpty))
    // hash aggregate and merge overload agree: the union of per-group
    // blobs is the blob of all keys
    assert(one.slice(5, 9) == Seq(one(0), one(2), one(3), one(4)))
    assert(one == blobs(32))
  }

  test("every probe over a truncated scalar-subquery blob fails with its family's size error on both paths") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
    val h = "bitfilters_duckdb_hash('v1.5.1', id)"
    // (family named in the error, blob build, probe of blob `b`)
    val cases: Seq[(String, String, String => String)] = Seq(
      ("xor8 filter", s"xor8_filter($h)", b => s"xor8_filter_contains($b, $h)"),
      ("xor16 filter", s"xor16_filter($h)", b => s"xor16_filter_contains($b, $h)"),
      ("binary fuse8 filter", s"binary_fuse8_filter($h)", b => s"binary_fuse8_filter_contains($b, $h)"),
      ("binary fuse16 filter", s"binary_fuse16_filter($h)", b => s"binary_fuse16_filter_contains($b, $h)"),
      ("quotient filter", s"quotient_filter(10, 6, $h)", b => s"quotient_filter_contains($b, $h)"),
      ("duckdb bloom filter", s"bitfilters_duckdb_bloom_filter_create('v1.5.1', 256, $h)",
        b => s"bitfilters_duckdb_bloom_filter_probe('v1.5.1', $b, id)"),
      ("classic bloom filter", "bloomfilter(1000, CAST(0.01 AS DOUBLE), id)", b => s"bloom_filter_contains($b, id)"),
      ("cms sketch", s"cms_sketch(4, 8, $h)", b => s"cms_estimate($b, $h)"))
    for ((family, build, probe) <- cases) {
      val blob = spark.sql(s"SELECT $build FROM range(0, 500)").head().getAs[Array[Byte]](0)
      val cut = blob.dropRight(1)
      // an RDD-backed view, so the subquery stays a subquery
      spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(cut)), 1),
        StructType(Seq(StructField("f", BinaryType)))).createOrReplaceTempView("blob_cut")
      val expected = s"$family blob: expected ${blob.length} bytes, got ${cut.length} bytes"
      for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN"))
        FileStreams.withSessionConf(spark, Map("spark.sql.codegen.factoryMode" -> mode,
            "spark.sql.codegen.wholeStage" -> (mode == "CODEGEN_ONLY").toString)) {
          val q = spark.sql(s"SELECT count(${probe("(SELECT f FROM blob_cut)")}) FROM range(0, 100)")
          assert(q.queryExecution.executedPlan.toString.contains("Subquery"))
          val ex = intercept[Exception](q.collect())
          val chain = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null).toSeq
          val sized = chain.collectFirst { case e: IllegalArgumentException if e.getMessage == expected => e }
          assert(sized.isDefined, s"$family, $mode: " + chain.map(t => String.valueOf(t.getMessage)).mkString(" | "))
          val frames = sized.get.getStackTrace
          val generated = frames.exists(_.getClassName.contains("GeneratedClass"))
          if (mode == "CODEGEN_ONLY") assert(generated, s"$family: the size error did not come out of generated code")
          else assert(!generated && frames.exists(f =>
              f.getClassName.startsWith("graft.functions.") && f.getMethodName == "eval"),
            s"$family: the size error did not come out of the interpreted probe")
        }
    }
  }

  test("probes: codegen and interpreted paths agree on once-per-task and per-row blobs") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
    val h = "bitfilters_duckdb_hash('v1.5.1', id)"
    val builds = Seq(
      "xor8" -> s"xor8_filter($h)", "xor16" -> s"xor16_filter($h)",
      "fuse8" -> s"binary_fuse8_filter($h)", "fuse16" -> s"binary_fuse16_filter($h)",
      "qf" -> s"quotient_filter(12, 8, $h)",
      "ddb" -> s"bitfilters_duckdb_bloom_filter_create('v1.5.1', 256, $h)",
      "ddb2" -> "bitfilters_duckdb_bloom_filter_create('v1.5.1', 256, bitfilters_duckdb_hash('v1.5.1', id, concat('k', id)))",
      "bf" -> "bloomfilter(1000, CAST(0.01 AS DOUBLE), id)",
      "cms" -> s"cms_sketch(4, 8, $h)")
    // (blob, probe of that blob) per column; `h` is the key's hash, `v` the
    // key with every 5th one NULL
    val probes: Seq[(String, String => String)] = Seq(
      "xor8" -> (b => s"xor8_filter_contains($b, h)"),
      "xor16" -> (b => s"xor16_filter_contains($b, h)"),
      "fuse8" -> (b => s"binary_fuse8_filter_contains($b, h)"),
      "fuse16" -> (b => s"binary_fuse16_filter_contains($b, h)"),
      "qf" -> (b => s"quotient_filter_contains($b, h)"),
      "ddb" -> (b => s"bitfilters_duckdb_bloom_filter_probe('v1.5.1', $b, id)"),
      "ddb2" -> (b => s"bitfilters_duckdb_bloom_filter_probe('v1.5.1', $b, id, concat('k', id))"),
      "ddb" -> (b => s"bitfilters_duckdb_bloom_filter_probe('v1.5.1', $b, v)"),
      "bf" -> (b => s"bloom_filter_contains($b, id)"),
      "bf" -> (b => s"bloom_filter_contains($b, v)"),
      "cms" -> (b => s"cms_estimate($b, h)"))
    // output schema of the probe columns, over a subquery blob and over a blob column
    val pinnedOnce = Seq(
      "xor8_filter_contains(scalarsubquery(), h): BOOLEAN",
      "xor16_filter_contains(scalarsubquery(), h): BOOLEAN",
      "binary_fuse8_filter_contains(scalarsubquery(), h): BOOLEAN",
      "binary_fuse16_filter_contains(scalarsubquery(), h): BOOLEAN",
      "quotient_filter_contains(scalarsubquery(), h): BOOLEAN",
      "bitfilters_duckdb_bloom_filter_probe(v1.5.1, scalarsubquery(), id): BOOLEAN",
      "bitfilters_duckdb_bloom_filter_probe(v1.5.1, scalarsubquery(), id, concat(k, id)): BOOLEAN",
      "bitfilters_duckdb_bloom_filter_probe(v1.5.1, scalarsubquery(), v): BOOLEAN",
      "bloom_filter_contains(scalarsubquery(), id): BOOLEAN",
      "bloom_filter_contains(scalarsubquery(), v): BOOLEAN",
      "cms_estimate(scalarsubquery(), h): BIGINT")
    val pinnedPerRow = Seq(
      "xor8_filter_contains(xor8, h): BOOLEAN",
      "xor16_filter_contains(xor16, h): BOOLEAN",
      "binary_fuse8_filter_contains(fuse8, h): BOOLEAN",
      "binary_fuse16_filter_contains(fuse16, h): BOOLEAN",
      "quotient_filter_contains(qf, h): BOOLEAN",
      "bitfilters_duckdb_bloom_filter_probe(v1.5.1, ddb, id): BOOLEAN",
      "bitfilters_duckdb_bloom_filter_probe(v1.5.1, ddb2, id, concat(k, id)): BOOLEAN",
      "bitfilters_duckdb_bloom_filter_probe(v1.5.1, ddb, v): BOOLEAN",
      "bloom_filter_contains(bf, id): BOOLEAN",
      "bloom_filter_contains(bf, v): BOOLEAN",
      "cms_estimate(cms, h): BIGINT")
    val names = builds.map(_._1)
    // blobs built once and held in RDD-backed views, so both modes probe
    // the same bytes (xor/fuse layouts depend on key order) and the
    // subqueries stay subqueries rather than folding into literals
    val blobRow = spark.sql(builds.map { case (n, b) => s"$b AS $n" }
      .mkString("SELECT ", ", ", " FROM range(0, 1000)")).head()
    val blobSchema = StructType(names.map(StructField(_, BinaryType)))
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(blobRow), 1), blobSchema)
      .createOrReplaceTempView("probe_blobs")
    // per-row blob column: ids 800..1199 (half members), every 7th blob NULL
    val perRow = (800L until 1200L).map(id =>
      Row.fromSeq(id +: names.indices.map(i => if (id % 7 == 0) null else blobRow.get(i))))
    spark.createDataFrame(spark.sparkContext.parallelize(perRow, 4),
      StructType(StructField("id", LongType) +: blobSchema.fields))
      .createOrReplaceTempView("probe_rows")
    val keys = s"SELECT *, $h AS h, IF(id % 5 = 0, NULL, id) AS v FROM"
    val onceQ = "SELECT id, " + probes.map { case (n, p) => p(s"(SELECT $n FROM probe_blobs)") }.mkString(", ") +
      ", " + probes.map { case (n, p) => p(s"(SELECT max($n) FROM probe_blobs WHERE false)") }.mkString(", ") +
      s" FROM ($keys range(800, 1200))"
    val perRowQ = "SELECT id, " + probes.map { case (n, p) => p(n) }.mkString(", ") + s" FROM ($keys probe_rows)"
    def field(f: StructField): String = s"${f.name}: ${f.dataType.sql}${if (f.nullable) "" else " NOT NULL"}"
    def run(mode: String): (Seq[Seq[Any]], Seq[Seq[Any]]) =
      FileStreams.withSessionConf(spark, Map("spark.sql.codegen.factoryMode" -> mode,
          "spark.sql.codegen.wholeStage" -> (mode == "CODEGEN_ONLY").toString)) {
        val once = spark.sql(onceQ)
        val rows = spark.sql(perRowQ)
        assert(once.queryExecution.executedPlan.toString.contains("Subquery"))
        assert(once.schema.fields.toSeq.map(field) == "id: BIGINT NOT NULL" +: (pinnedOnce ++ pinnedOnce))
        assert(rows.schema.fields.toSeq.map(field) == "id: BIGINT" +: pinnedPerRow)
        (once.collect().toSeq.map(_.toSeq).sortBy(_.head.asInstanceOf[Long]),
          rows.collect().toSeq.map(_.toSeq).sortBy(_.head.asInstanceOf[Long]))
      }
    val (onceGen, rowsGen) = run("CODEGEN_ONLY")
    val (onceInt, rowsInt) = run("NO_CODEGEN")
    assert(onceGen == onceInt)
    assert(rowsGen == rowsInt)
    val k = probes.size
    // each probe of `v` next to the probe of `id` on the same blob
    val overV = probes.indices.filter(i => probes(i)._2("b").endsWith(", v)"))
      .map(i => 1 + i -> (1 + probes.indexWhere(_._1 == probes(i)._1)))
    assert(overV.size == 2)
    for (r <- onceGen) {
      val id = r.head.asInstanceOf[Long]
      assert(r.slice(k + 1, 2 * k + 1).forall(_ == null), s"NULL blob must probe NULL: $r")
      for ((viaV, viaId) <- overV)
        assert(r(viaV) == (if (id % 5 == 0) null else r(viaId)), s"NULL value must probe NULL: $r")
      if (id < 1000L) assert((1 until k).filterNot(overV.map(_._1).contains).forall(r(_) == true) &&
        r(k).asInstanceOf[Long] >= 1L, s"false negative: $r")
    }
    for (r <- rowsGen) {
      val id = r.head.asInstanceOf[Long]
      if (id % 7 == 0) assert(r.tail.forall(_ == null), s"NULL blob must probe NULL: $r")
      else assert(r.tail == onceGen(id.toInt - 800).slice(1, k + 1), s"per-row and once-per-task differ: $r")
    }
  }

  test("broadcast blob probe: shared bytes, correct membership, codegen path") {
    import graft.sources.FilterStore
    val blob = spark.sql(
      "SELECT binary_fuse16_filter(bitfilters_duckdb_hash('v1.5.1', id)) FROM range(0, 1000)")
      .collect()(0).getAs[Array[Byte]](0)
    val hits = spark.range(0, 2000)
      .where(FilterStore.broadcastProbe(spark, blob, "binary_fuse16_filter_contains",
        org.apache.spark.sql.functions.call_function("bitfilters_duckdb_hash",
          org.apache.spark.sql.functions.lit("v1.5.1"), org.apache.spark.sql.functions.col("id"))))
      .count()
    // all 1000 members (no false negatives) + at most a few FPs from the other 1000
    assert(hits >= 1000 && hits < 1010, s"got $hits")
  }
}
