package graft
package gates

import org.apache.spark.sql.functions._

import graft.operators.Joins
import Gate.{deleteDirs, localResult}

/** The paper's filter families and the DuckDB hash they are built over:
  * the hash surface, the DuckDB bloom filter, classic bloom, quotient,
  * binary fuse and xor filters, a filter-pruned join and the stored
  * filter catalog. Membership gates probe only known members, so the
  * no-false-negative contract makes their counts exact; golden gates
  * pin the reference's published FP counts.
  */
object FilterGates {

  val gates: Seq[Gate] = Seq(
    // filter-pruned join: the reference's bloom-join pushdown story run
    // Spark-side — a fuse16 filter over the selective orders subset is
    // folded to a scalar subquery and prunes the lineitem scan BEFORE the
    // join shuffle; the real join then removes the bounded false
    // positives, so the result is row-identical to the plain join.
    // no false negatives + real join after the prune => row-identical to
    // the plain selective join
    Gate("q_filter_join", """
      SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_e2,
             CAST(SUM(l_orderkey % 1000003) % 1000003 AS BIGINT) AS key_checksum
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '1-URGENT'""") { (s, _) =>
      val ord = s.table("orders").where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("orderkey"))
      val li = s.table("lineitem").select(
        col("l_orderkey").as("orderkey"), col("l_extendedprice"), col("l_discount"))
      Joins.filterPrunedJoin(li, ord, Seq("orderkey"))
        .agg(count(lit(1)).cast("long").as("cnt"),
          sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long")).cast("long").as("revenue_e2"),
          (sum(col("orderkey") % lit(1000003L)) % lit(1000003L))
            .cast("long").as("key_checksum"))
    },

    Gate("q_duckdb_hash", """
      SELECT o_orderkey, CAST(hash(o_orderkey) AS VARCHAR) AS h
      FROM orders ORDER BY o_orderkey""") { (s, _) =>
      s.sql("""
        SELECT o_orderkey, conv(hex(bitfilters_duckdb_hash('v1.5.1', o_orderkey)), 16, 10) AS h
        FROM orders ORDER BY o_orderkey""")
    },

    // DuckDB UBIGINT parquet columns surface as DECIMAL(20,0) in Spark;
    // the dispatch hashes the exact integer's low 64 bits. Keys are
    // shifted above 2^63 so the two's-complement wrap is exercised
    // the Spark side hashes a DECIMAL(20,0) (how Spark reads parquet
    // UINT64); DuckDB hashes the same keys as native UBIGINT — bit equality
    // proves the u64 interop path
    Gate("q_duckdb_hash_u64", """
      SELECT o_orderkey,
             CAST(hash(o_orderkey::UBIGINT + 9223372036854775000::UBIGINT) AS VARCHAR) AS h
      FROM orders ORDER BY o_orderkey""") { (s, _) =>
      s.sql("""
        SELECT o_orderkey,
               conv(hex(bitfilters_duckdb_hash('v1.5.1',
                 CAST(CAST(o_orderkey AS DECIMAL(20,0))
                      + CAST(9223372036854775000 AS DECIMAL(20,0)) AS DECIMAL(20,0)))), 16, 10) AS h
        FROM orders ORDER BY o_orderkey""")
    },

    // certified golden vectors from the reference's hash_values_v1.5.1.json
    Gate("q_duckdb_hash_vectors", HashVectors.oracleSqlText) { (s, _) =>
      s.sql(HashVectors.sparkSql)
    },

    Gate("q_bloom_semijoin", """
      SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""") { (s, _) =>
      s.sql("""
        WITH flt AS (
          SELECT c_nationkey,
                 bitfilters_duckdb_bloom_filter_create('v1.5.1', 4096,
                   bitfilters_duckdb_hash('v1.5.1', c_custkey)) AS f
          FROM customer GROUP BY c_nationkey)
        SELECT c.c_nationkey, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM customer c JOIN flt ON c.c_nationkey = flt.c_nationkey
        WHERE bitfilters_duckdb_bloom_filter_probe('v1.5.1', f, c_custkey)
        GROUP BY c.c_nationkey ORDER BY c.c_nationkey""")
    },

    Gate("q_bloom_orders_lineitem", "SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem") { (s, _) =>
      s.sql("""
        SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem
        WHERE bitfilters_duckdb_bloom_filter_probe('v1.5.1',
          (SELECT bitfilters_duckdb_bloom_filter_create('v1.5.1', 16384,
             bitfilters_duckdb_hash('v1.5.1', o_orderkey)) FROM orders),
          l_orderkey)""")
    },

    Gate("q_bloomfilter_classic", "SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM orders") { (s, _) =>
      s.sql("""
        SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM orders
        WHERE bloom_filter_contains(
          (SELECT bloomfilter(200000, CAST(0.01 AS DOUBLE), o_custkey) FROM orders),
          o_custkey)""")
    },

    // scalar-subquery (foldable-filter) form: the filter blob is evaluated
    // once and inlined, so probes run inside whole-stage codegen with no
    // blob-carrying join — the pattern that scales
    // golden FP counts from reference test/sql/bitfilters.test:45-53,110-117
    Gate("q_quotient_golden", """
      SELECT CAST(filter_rem AS INT) AS filter_rem, CAST(fp AS BIGINT) AS fp
      FROM (VALUES (0, 2264), (1, 2273)) t(filter_rem, fp) ORDER BY filter_rem""") { (s, _) =>
      s.sql("""
        SELECT 0 AS filter_rem, CAST(COUNT(*) AS BIGINT) AS fp
        FROM range(1, 100001) WHERE id % 2 = 1 AND quotient_filter_contains(
          (SELECT quotient_filter(16, 4, bitfilters_duckdb_hash('v1.5.1', id)) FROM range(1, 100001) WHERE id % 2 = 0),
          bitfilters_duckdb_hash('v1.5.1', id))
        UNION ALL
        SELECT 1 AS filter_rem, CAST(COUNT(*) AS BIGINT) AS fp
        FROM range(1, 100001) WHERE id % 2 = 0 AND quotient_filter_contains(
          (SELECT quotient_filter(16, 4, bitfilters_duckdb_hash('v1.5.1', id)) FROM range(1, 100001) WHERE id % 2 = 1),
          bitfilters_duckdb_hash('v1.5.1', id))
        ORDER BY filter_rem""")
    },

    // A quotient filter has a hard 2^q capacity: above ~0.6 load,
    // inserts degrade to O(cluster) shifting (load->1 turned this gate
    // quadratic at sf1, then pinned a single merge task for 15+ min at
    // sf10) and merge silently drops keys (replicated reference
    // overflow behavior). Capacity is a BUILD parameter the caller
    // must size to the keyset, exactly as in the reference — so this
    // gate derives q from the actual key count (metadata-cheap count;
    // load <= 0.5 at every sf; minQ=19 keeps the small-sf blobs
    // byte-identical to the fixed-19 era).
    Gate("q_quotient_merge", "SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM customer") { (s, _) =>
      val qq = graft.core.QuotientFilter.qForKeys(
        s.table("customer").count(), maxLoad = 0.5, minQ = 19)
      s.sql(s"""
        WITH per AS (
          SELECT c_mktsegment, quotient_filter($qq, 4, bitfilters_duckdb_hash('v1.5.1', c_custkey)) AS f
          FROM customer GROUP BY c_mktsegment),
        m AS (SELECT quotient_filter($qq, 4, f) AS f FROM per)
        SELECT CAST(COUNT(*) AS BIGINT) AS cnt
        FROM customer, m
        WHERE quotient_filter_contains(f, bitfilters_duckdb_hash('v1.5.1', c_custkey))""")
    },

    // four scalar subqueries that Spark's MergeScalarSubqueries fuses into
    // ONE build pass per parity; the probes hit the merged subquery's
    // struct fields, which the contains-expressions evaluate once per task
    // (never per row — see graft.functions.OncePerTaskBlob)
    Gate("q_fuse_golden", """
      SELECT CAST(filter_rem AS INT) AS filter_rem, CAST(fp16 AS BIGINT) AS fp16, CAST(fp8 AS BIGINT) AS fp8
      FROM (VALUES (0, 1, 171), (1, 1, 199)) t(filter_rem, fp16, fp8) ORDER BY filter_rem""") { (s, _) =>
      s.sql("""
        SELECT 0 AS filter_rem,
               CAST(COUNT(CASE WHEN binary_fuse16_filter_contains(
                 (SELECT binary_fuse16_filter(bitfilters_duckdb_hash('v1.5.1', id)) FROM range(1, 100001) WHERE id % 2 = 0),
                 bitfilters_duckdb_hash('v1.5.1', id)) THEN 1 END) AS BIGINT) AS fp16,
               CAST(COUNT(CASE WHEN binary_fuse8_filter_contains(
                 (SELECT binary_fuse8_filter(bitfilters_duckdb_hash('v1.5.1', id)) FROM range(1, 100001) WHERE id % 2 = 0),
                 bitfilters_duckdb_hash('v1.5.1', id)) THEN 1 END) AS BIGINT) AS fp8
        FROM range(1, 100001) WHERE id % 2 = 1
        UNION ALL
        SELECT 1 AS filter_rem,
               CAST(COUNT(CASE WHEN binary_fuse16_filter_contains(
                 (SELECT binary_fuse16_filter(bitfilters_duckdb_hash('v1.5.1', id)) FROM range(1, 100001) WHERE id % 2 = 1),
                 bitfilters_duckdb_hash('v1.5.1', id)) THEN 1 END) AS BIGINT) AS fp16,
               CAST(COUNT(CASE WHEN binary_fuse8_filter_contains(
                 (SELECT binary_fuse8_filter(bitfilters_duckdb_hash('v1.5.1', id)) FROM range(1, 100001) WHERE id % 2 = 1),
                 bitfilters_duckdb_hash('v1.5.1', id)) THEN 1 END) AS BIGINT) AS fp8
        FROM range(1, 100001) WHERE id % 2 = 0
        ORDER BY filter_rem""")
    },

    Gate("q_fuse_semijoin", "SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem") { (s, _) =>
      s.sql("""
        SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem
        WHERE binary_fuse16_filter_contains(
          (SELECT binary_fuse16_filter(bitfilters_duckdb_hash('v1.5.1', p_partkey)) FROM part),
          bitfilters_duckdb_hash('v1.5.1', l_partkey))""")
    },

    // same merged-subquery shape as q_fuse_golden; members probe their own
    // parity's filter (no-false-negative contract => counts are exact)
    Gate("q_xor_members", """
      SELECT CAST(filter_rem AS INT) AS filter_rem, CAST(m16 AS BIGINT) AS m16, CAST(m8 AS BIGINT) AS m8
      FROM (VALUES (0, 50000, 50000), (1, 50000, 50000)) t(filter_rem, m16, m8) ORDER BY filter_rem""") { (s, _) =>
      s.sql("""
        SELECT 0 AS filter_rem,
               CAST(COUNT(CASE WHEN xor16_filter_contains(
                 (SELECT xor16_filter(bitfilters_duckdb_hash('v1.5.1', id)) FROM range(1, 100001) WHERE id % 2 = 0),
                 bitfilters_duckdb_hash('v1.5.1', id)) THEN 1 END) AS BIGINT) AS m16,
               CAST(COUNT(CASE WHEN xor8_filter_contains(
                 (SELECT xor8_filter(bitfilters_duckdb_hash('v1.5.1', id)) FROM range(1, 100001) WHERE id % 2 = 0),
                 bitfilters_duckdb_hash('v1.5.1', id)) THEN 1 END) AS BIGINT) AS m8
        FROM range(1, 100001) WHERE id % 2 = 0
        UNION ALL
        SELECT 1 AS filter_rem,
               CAST(COUNT(CASE WHEN xor16_filter_contains(
                 (SELECT xor16_filter(bitfilters_duckdb_hash('v1.5.1', id)) FROM range(1, 100001) WHERE id % 2 = 1),
                 bitfilters_duckdb_hash('v1.5.1', id)) THEN 1 END) AS BIGINT) AS m16,
               CAST(COUNT(CASE WHEN xor8_filter_contains(
                 (SELECT xor8_filter(bitfilters_duckdb_hash('v1.5.1', id)) FROM range(1, 100001) WHERE id % 2 = 1),
                 bitfilters_duckdb_hash('v1.5.1', id)) THEN 1 END) AS BIGINT) AS m8
        FROM range(1, 100001) WHERE id % 2 = 1
        ORDER BY filter_rem""")
    },

    Gate("q_xor_semijoin", "SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem") { (s, _) =>
      s.sql("""
        SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem
        WHERE xor8_filter_contains(
          (SELECT xor8_filter(bitfilters_duckdb_hash('v1.5.1', s_suppkey)) FROM supplier),
          bitfilters_duckdb_hash('v1.5.1', l_suppkey))""")
    },

    // per-nation xor16 filters persisted as a parquet catalog, reloaded
    // and probed via a broadcast join — the reference's documented
    // store-the-blob workflow (docs/README.md:174,463). Every probe key
    // is a member of its own nation's filter, so the no-false-negative
    // contract makes the counts exact — the oracle is the plain
    // per-nation aggregate.
    // filter catalog: members always probe true (no false negatives), and
    // each row probes its own group's filter => exact per-nation counts
    Gate("q_filter_store", """
      SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(c_custkey) AS BIGINT) AS key_sum
      FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""") { (s, _) =>
      val base = java.nio.file.Files.createTempDirectory("graft_fstore_").toString
      val path = base + "/catalog"
      val cust = s.table("customer").select(col("c_nationkey"), col("c_custkey"),
        expr("bitfilters_duckdb_hash('v1.5.1', c_custkey)").as("h"))
      graft.sources.FilterStore.write(cust, "c_nationkey", "h",
        "xor16_filter(h)", "xor16", "", path)
      // catalog-map probe (no join, blob read in place): the joined-blob
      // path re-copies each nation's filter per row — 197x/decade on the
      // sf10 sweep; this path is the 100 TB shape
      val res = graft.sources.FilterStore.probeCatalog(cust, "c_nationkey", "h",
          graft.sources.FilterStore.read(s, path), "xor16_filter_contains")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).cast("long").as("cnt"),
          sum("c_custkey").cast("long").as("key_sum"))
        .orderBy("c_nationkey")
      val out = localResult(s, res) // per-nation rollup; frees the catalog
      deleteDirs(base)
      out
    },
  )
}
