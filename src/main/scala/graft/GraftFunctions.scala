package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** Registration of the graft SQL function surface: the 15 functions
  * mirroring the reference (src/bitfilters_extension.cpp:16-25, plus its
  * disabled classic-bloom pair) and the training-data-pipeline extensions
  * (sketches, text analysis, vector kernels).
  *
  * Two entry points:
  *  - `spark.sql.extensions=graft.GraftSparkExtensions` — config-driven,
  *    the one every main, perfbench and spec session uses
  *  - `GraftFunctions.registerAll(spark)` — the fallback for a session graft
  *    did not build; its optimizer rules run after pushdown
  */
object GraftFunctions {

  /** One SQL function: its name, usage line, catalog docs and builder. The
    * docs are surfaced by `DESCRIBE FUNCTION EXTENDED` — description/examples
    * parity with the reference's FunctionDescription registration
    * (src/bitfilters_quotient_filter.cpp:298-337 and the matching blocks in
    * the other filter translation units). Descriptions track the
    * reference's registered texts; examples are valid against THIS
    * library. Spark requires the exact "\n    Examples:" /
    * "\n    Arguments:" leaders, enforced by ExpressionInfo's own
    * preconditions.
    */
  final case class Fn(name: String, usage: String, arguments: String, examples: String,
      builder: Seq[Expression] => Expression) {
    def info: ExpressionInfo =
      new ExpressionInfo(GraftFunctions.getClass.getName, null, name, usage,
        arguments, examples, "", "misc_funcs", "4.0.0", "", "built-in")
  }

  private def ex(lines: String*): String =
    "\n    Examples:\n" + lines.map(l => s"      > $l").mkString("\n") + "\n  "

  private def arg(lines: String*): String =
    "\n    Arguments:\n" + lines.map(l => s"      * $l").mkString("\n") + "\n  "

  private def arity(name: String, n: Int, args: Seq[Expression]): Unit =
    if (args.size != n)
      throw new IllegalArgumentException(s"$name requires exactly $n arguments, got ${args.size}")

  private def atLeast(name: String, n: Int, args: Seq[Expression]): Unit =
    if (args.size < n)
      throw new IllegalArgumentException(s"$name requires at least $n arguments, got ${args.size}")

  /** Every SQL function we expose. */
  val all: Seq[Fn] = Seq(
    Fn("quotient_filter",
      "quotient_filter(q, r, hash_or_blob[, strict]) - aggregate hashes (BIGINT) into a quotient filter BLOB, or union-merge filter BLOBs; strict=true raises when a merge overflow would silently drop keys (parity default: false)",
      arg("q - INTEGER, number of quotient bits (filter holds ~2^q slots)",
        "r - INTEGER, number of remainder bits per slot",
        "hash_or_blob - BIGINT hash to insert, or BINARY quotient-filter blob to union-merge",
        "strict - optional foldable BOOLEAN (default false): raise on merge overflow instead of the reference's silent key drop"),
      ex("SELECT quotient_filter(16, 8, bitfilters_duckdb_hash('v1.5.1', x)) FROM VALUES (1),(2) t(x);",
        "SELECT quotient_filter(16, 8, f) FROM per_group_filters; -- blob merge",
        "SELECT quotient_filter(8, 4, f, true) FROM per_group_filters; -- raise if keys would drop"),
      args => {
        if (args.size != 3 && args.size != 4)
          throw new IllegalArgumentException(
            s"quotient_filter requires 3 or 4 arguments, got ${args.size}")
        val strict = args.size == 4 &&
          functions.AggUtil.foldableBoolean(args(3), "quotient_filter strict")
        QuotientFilterAgg(args(0), args(1), args(2), strict)
      }),
    Fn("quotient_filter_contains",
      "quotient_filter_contains(filter, hash) - probe a quotient filter",
      arg("filter - BINARY quotient-filter blob",
        "hash - BIGINT hashed probe value (same hash as at build time)"),
      ex("SELECT quotient_filter_contains(f, bitfilters_duckdb_hash('v1.5.1', 42)) FROM filters;"),
      args => { arity("quotient_filter_contains", 2, args); BlobProbe(args(0), args(1), ProbeFamily.Quotient) }),
    Fn("xor8_filter",
      "xor8_filter(hash) - aggregate hashes into an xor8 filter BLOB (~0.4% FPR)",
      arg("hash - BIGINT pre-hashed key (e.g. bitfilters_duckdb_hash)"),
      ex("SELECT xor8_filter(bitfilters_duckdb_hash('v1.5.1', x)) FROM VALUES (1),(2),(3) t(x);"),
      args => { arity("xor8_filter", 1, args); XorFilterAgg(args(0), 8) }),
    Fn("xor16_filter",
      "xor16_filter(hash) - aggregate hashes into an xor16 filter BLOB (~0.0015% FPR)",
      arg("hash - BIGINT pre-hashed key"),
      ex("SELECT xor16_filter(bitfilters_duckdb_hash('v1.5.1', x)) FROM VALUES (1),(2),(3) t(x);"),
      args => { arity("xor16_filter", 1, args); XorFilterAgg(args(0), 16) }),
    Fn("xor8_filter_contains",
      "xor8_filter_contains(filter, hash) - probe an xor8 filter",
      arg("filter - BINARY xor8 blob", "hash - BIGINT hashed probe value"),
      ex("SELECT xor8_filter_contains(f, bitfilters_duckdb_hash('v1.5.1', 42)) FROM filters;"),
      args => { arity("xor8_filter_contains", 2, args); BlobProbe(args(0), args(1), ProbeFamily.Xor(8)) }),
    Fn("xor16_filter_contains",
      "xor16_filter_contains(filter, hash) - probe an xor16 filter",
      arg("filter - BINARY xor16 blob", "hash - BIGINT hashed probe value"),
      ex("SELECT xor16_filter_contains(f, bitfilters_duckdb_hash('v1.5.1', 42)) FROM filters;"),
      args => { arity("xor16_filter_contains", 2, args); BlobProbe(args(0), args(1), ProbeFamily.Xor(16)) }),
    Fn("binary_fuse8_filter",
      "binary_fuse8_filter(hash) - aggregate hashes into a binary fuse8 filter BLOB (~0.4% FPR)",
      arg("hash - BIGINT pre-hashed key"),
      ex("SELECT binary_fuse8_filter(bitfilters_duckdb_hash('v1.5.1', x)) FROM VALUES (1),(2),(3) t(x);"),
      args => { arity("binary_fuse8_filter", 1, args); BinaryFuseFilterAgg(args(0), 8) }),
    Fn("binary_fuse16_filter",
      "binary_fuse16_filter(hash) - aggregate hashes into a binary fuse16 filter BLOB (~0.0015% FPR)",
      arg("hash - BIGINT pre-hashed key"),
      ex("SELECT binary_fuse16_filter(bitfilters_duckdb_hash('v1.5.1', x)) FROM VALUES (1),(2),(3) t(x);"),
      args => { arity("binary_fuse16_filter", 1, args); BinaryFuseFilterAgg(args(0), 16) }),
    Fn("binary_fuse8_filter_contains",
      "binary_fuse8_filter_contains(filter, hash) - probe a binary fuse8 filter",
      arg("filter - BINARY binary-fuse8 blob", "hash - BIGINT hashed probe value"),
      ex("SELECT binary_fuse8_filter_contains(f, bitfilters_duckdb_hash('v1.5.1', 42)) FROM filters;"),
      args => { arity("binary_fuse8_filter_contains", 2, args); BlobProbe(args(0), args(1), ProbeFamily.Fuse(8)) }),
    Fn("binary_fuse16_filter_contains",
      "binary_fuse16_filter_contains(filter, hash) - probe a binary fuse16 filter",
      arg("filter - BINARY binary-fuse16 blob", "hash - BIGINT hashed probe value"),
      ex("SELECT binary_fuse16_filter_contains(f, bitfilters_duckdb_hash('v1.5.1', 42)) FROM filters;"),
      args => { arity("binary_fuse16_filter_contains", 2, args); BlobProbe(args(0), args(1), ProbeFamily.Fuse(16)) }),
    Fn("bitfilters_duckdb_hash",
      "bitfilters_duckdb_hash(version, v1[, v2, ...]) - DuckDB-internal hash for a pinned version",
      arg("version - STRING DuckDB version to pin ('v1.4.4'|'v1.5.1'|'v1.6.0')",
        "v1[, v2, ...] - values of any supported type; several values CombineHash left-to-right"),
      ex("SELECT bitfilters_duckdb_hash('v1.5.1', 42);",
        "SELECT bitfilters_duckdb_hash('v1.5.1', 'hi', 7, 2.5);"),
      args => { atLeast("bitfilters_duckdb_hash", 2, args); DuckDbHashExpr(args) }),
    Fn("bitfilters_duckdb_bloom_filter_create",
      "bitfilters_duckdb_bloom_filter_create(version, num_sectors, hash) - DuckDB-compatible bloom filter aggregate",
      arg("version - STRING DuckDB version to pin",
        "num_sectors - BIGINT power of two, 64 bits per sector",
        "hash - BIGINT pre-hashed key (bitfilters_duckdb_hash of the key columns)"),
      ex("SELECT bitfilters_duckdb_bloom_filter_create('v1.5.1', 16384, bitfilters_duckdb_hash('v1.5.1', x)) FROM VALUES (1),(2) t(x);"),
      args => { arity("bitfilters_duckdb_bloom_filter_create", 3, args); DuckDbBloomFilterCreateAgg(args(0), args(1), args(2)) }),
    Fn("bitfilters_duckdb_bloom_filter_probe",
      "bitfilters_duckdb_bloom_filter_probe(version, filter, v1[, v2, ...]) - probe a DuckDB-compatible bloom filter",
      arg("version - STRING DuckDB version to pin",
        "filter - BINARY bloom blob from bitfilters_duckdb_bloom_filter_create",
        "v1[, v2, ...] - probe values, hashed + combined exactly like at build time"),
      ex("SELECT bitfilters_duckdb_bloom_filter_probe('v1.5.1', f, 42) FROM filters;"),
      args => { atLeast("bitfilters_duckdb_bloom_filter_probe", 3, args); DuckDbBloomFilterProbe(args) }),
    Fn("bloomfilter",
      "bloomfilter(capacity, fpr, value_or_blob) - classic bloom filter aggregate (typed values or blob merge)",
      arg("capacity - BIGINT expected distinct count",
        "fpr - DOUBLE target false-positive rate in (0,1)",
        "value_or_blob - typed value to insert, or BINARY bloomfilter blob to merge"),
      ex("SELECT bloomfilter(1000, 0.01, x) FROM VALUES (1),(2),(3) t(x);"),
      args => { arity("bloomfilter", 3, args); ClassicBloomFilterAgg(args(0), args(1), args(2)) }),
    Fn("bloom_filter_contains",
      "bloom_filter_contains(filter, value) - probe a classic bloom filter",
      arg("filter - BINARY classic-bloom blob", "value - typed probe value"),
      ex("SELECT bloom_filter_contains(f, 42) FROM filters;"),
      args => { arity("bloom_filter_contains", 2, args); ClassicBloomContains(args(0), args(1)) }),
    // sketch aggregates for the training-data pipeline operators
    Fn("minhash_agg",
      "minhash_agg(hash, k[, affine]) - MinHash signature (ARRAY<BIGINT> of k minima) over pre-hashed shingles; affine=true selects the SQL-portable mod-2^61-1 permutations",
      arg("hash - BIGINT pre-hashed shingle",
        "k - INTEGER constant, signature length",
        "affine - optional BOOLEAN constant; true selects the SQL-portable mod-2^61-1 permutations"),
      ex("SELECT minhash_agg(xxhash64(s), 128) FROM shingles GROUP BY doc_id;"),
      args => {
        if (args.size < 2 || args.size > 3)
          throw new IllegalArgumentException(s"minhash_agg requires 2 or 3 arguments, got ${args.size}")
        // pattern-match a Literal rather than eval(null): a non-foldable
        // third argument (e.g. a column) must fail with this message, not
        // whatever NPE its eval against a null row happens to throw
        val affine = args.size == 3 && (args(2) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(b: Boolean, org.apache.spark.sql.types.BooleanType) => b
          case other => throw new IllegalArgumentException(
            s"minhash_agg affine must be a BOOLEAN constant, got ${other.sql}")
        })
        graft.operators.MinHashAgg(args(0), AggUtil.foldableLong(args(1), "minhash_agg k").toInt, affine)
      }),
    Fn("minhash_signature",
      "minhash_signature(toks, shingle_size, k[, portable]) - fused per-document MinHash signature of a token array (no shingle explode)",
      arg("toks - ARRAY<STRING> document tokens",
        "shingle_size - INTEGER constant word-n-gram width",
        "k - INTEGER constant signature length",
        "portable - optional BOOLEAN constant; true selects the SQL-replayable md5+affine family"),
      ex("SELECT minhash_signature(split(lower(text), '\\\\s+'), 3, 128) FROM documents;"),
      args => {
        if (args.size < 3 || args.size > 4)
          throw new IllegalArgumentException(s"minhash_signature requires 3 or 4 arguments, got ${args.size}")
        val portable = args.size == 4 && (args(3) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(b: Boolean, org.apache.spark.sql.types.BooleanType) => b
          case other => throw new IllegalArgumentException(
            s"minhash_signature portable must be a BOOLEAN constant, got ${other.sql}")
        })
        graft.operators.MinHashSignatureExpr(args(0),
          AggUtil.foldableLong(args(1), "minhash_signature shingle_size").toInt,
          AggUtil.foldableLong(args(2), "minhash_signature k").toInt, portable)
      }),
    Fn("simhash_agg",
      "simhash_agg(hash) - 64-bit SimHash fingerprint over pre-hashed tokens",
      arg("hash - BIGINT pre-hashed token"),
      ex("SELECT simhash_agg(xxhash64(tok)) FROM tokens GROUP BY doc_id;"),
      args => { arity("simhash_agg", 1, args); graft.operators.SimHashAgg(args(0)) }),
    Fn("lang_id",
      "lang_id(text) - heuristic language code by stopword-hit argmax ('de'|'en'|'es'|'fr'|'und')",
      arg("text - STRING document text"),
      ex("SELECT lang_id('the quick brown fox jumps over the lazy dog');"),
      args => { arity("lang_id", 1, args); graft.operators.LangIdExpr(args(0)) }),
    Fn("token_count",
      "token_count(text) - one-pass BPE-ish token count ([A-Za-z]+|[0-9]+|single symbol)",
      arg("text - STRING document text"),
      ex("SELECT token_count('Hello, world! 123');"),
      args => { arity("token_count", 1, args); graft.operators.TokenCountExpr(args(0)) }),
    Fn("text_metrics",
      "text_metrics(text) - one-pass STRUCT<chars,words,punct,digits,toks,sw_hits> quality metrics",
      arg("text - STRING document text"),
      ex("SELECT text_metrics(text).words FROM documents;"),
      args => { arity("text_metrics", 1, args); graft.operators.TextMetricsExpr(args(0)) }),
    Fn("compress_ratio",
      "compress_ratio(text) - deflate-compressed size / input size (gibberish ~1, boilerplate ~0)",
      arg("text - STRING document text"),
      ex("SELECT compress_ratio(text) < 0.95 AS looks_natural FROM documents;"),
      args => { arity("compress_ratio", 1, args); graft.operators.CompressRatioExpr(args(0)) }),
    Fn("nfc_normalize",
      "nfc_normalize(text) - Unicode NFC composition (canonical composed form)",
      arg("text - STRING value to compose into Unicode NFC"),
      ex("SELECT nfc_normalize('e\\u0301clair'); -- composed 'éclair'"),
      args => { arity("nfc_normalize", 1, args); graft.operators.NfcNormalizeExpr(args(0)) }),
    Fn("collapse_ws",
      "collapse_ws(text[, trim]) - regexp_replace(text, '\\s+', ' ') [+ trim] as one byte pass",
      arg("text - STRING to whitespace-collapse",
        "trim - optional constant; nonzero also trims the ends (default 0)"),
      ex("SELECT collapse_ws('a\\t b\\n\\nc ', 1); -- 'a b c'"),
      args => {
        if (args.isEmpty || args.size > 2)
          throw new IllegalArgumentException("collapse_ws takes 1-2 arguments")
        val t = args.size == 2 && AggUtil.foldableLong(args(1), "trim") != 0L
        graft.operators.CollapseWsExpr(args(0), t)
      }),
    Fn("readability_counts",
      "readability_counts(lowered_text) - STRUCT<words,sentences,syllables> Flesch raw counts, one byte pass",
      arg("lowered_text - STRING, pre-lowercased document text"),
      ex("SELECT readability_counts(lower(text)).words FROM documents;"),
      args => { arity("readability_counts", 1, args); graft.operators.ReadabilityCountsExpr(args(0)) }),
    Fn("card_candidates",
      "card_candidates(text) - ARRAY<STRING> Luhn-valid 13-19 digit card candidates in match order",
      arg("text - STRING to scan for Luhn-valid payment-card candidates"),
      ex("SELECT card_candidates('card 4532 0151 1283 0366 end');"),
      args => { arity("card_candidates", 1, args); graft.operators.CardCandidatesExpr(args(0)) }),
    Fn("strip_accents",
      "strip_accents(text) - NFD decompose and drop non-spacing marks (ligatures kept)",
      arg("text - STRING value to accent-fold"),
      ex("SELECT strip_accents('mühleisen');"),
      args => { arity("strip_accents", 1, args); graft.operators.StripAccentsExpr(args(0)) }),
    Fn("md5_prefix64",
      "md5_prefix64(text) - 60-bit engine-portable md5-prefix hash (== CAST('0x'||substr(md5(s),1,15) AS BIGINT))",
      arg("text - STRING value to hash"),
      ex("SELECT md5_prefix64('hello');"),
      args => { arity("md5_prefix64", 1, args); graft.operators.Md5Prefix64Expr(args(0)) }),
    Fn("rolling_hash",
      "rolling_hash(text) - polynomial (Rabin-Karp) rolling-hash fingerprint over code points, mod 1e9+7",
      arg("text - STRING value to fingerprint"),
      ex("SELECT rolling_hash(text) FROM documents;"),
      args => { arity("rolling_hash", 1, args); graft.operators.RollingHashExpr(args(0)) }),
    Fn("sig_match_count",
      "sig_match_count(a, b) - positions where two ARRAY<BIGINT> minhash signatures agree",
      arg("a - ARRAY<BIGINT> minhash signature", "b - ARRAY<BIGINT> minhash signature"),
      ex("SELECT sig_match_count(array(1L, 2L, 3L), array(1L, 9L, 3L));"),
      args => { arity("sig_match_count", 2, args); graft.operators.SigMatchCount(args(0), args(1)) }),
    Fn("vec_dot",
      "vec_dot(a, b) - fused dot product of two ARRAY<FLOAT>/ARRAY<DOUBLE> columns",
      arg("a - ARRAY<FLOAT> or ARRAY<DOUBLE>", "b - same element type and length as a"),
      ex("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D));"),
      args => { arity("vec_dot", 2, args); graft.operators.VecDot(args(0), args(1)) }),
    Fn("vec_norm",
      "vec_norm(a) - L2 norm of an ARRAY<FLOAT>/ARRAY<DOUBLE> column",
      arg("a - ARRAY<FLOAT> or ARRAY<DOUBLE>"),
      ex("SELECT vec_norm(array(3.0D, 4.0D));"),
      args => { arity("vec_norm", 1, args); graft.operators.VecNorm(args(0)) }),
    Fn("hyperplane_signature",
      "hyperplane_signature(vec[, bits[, seed]]) - random-hyperplane LSH signature of an embedding",
      arg("vec - ARRAY<FLOAT>/ARRAY<DOUBLE> embedding",
        "bits - optional INTEGER constant signature width (default 64)",
        "seed - optional BIGINT constant hyperplane seed (default 42)"),
      ex("SELECT hyperplane_signature(embedding, 16) FROM embeddings;"),
      args => {
        if (args.isEmpty || args.size > 3)
          throw new IllegalArgumentException("hyperplane_signature takes 1-3 arguments")
        val bits = if (args.size >= 2) AggUtil.foldableLong(args(1), "bits").toInt else 64
        val seed = if (args.size >= 3) AggUtil.foldableLong(args(2), "seed") else 42L
        graft.operators.HyperplaneSignature(args(0), bits, seed)
      }),
    // cardinality / frequency / set sketches (same create-agg + probe-scalar
    // model as the filter families, SQL-replayable by construction)
    Fn("hll_sketch",
      "hll_sketch(p, hash_or_blob) - aggregate hashes (BIGINT) into a HyperLogLog BLOB with 2^p registers, or register-max merge hll BLOBs",
      arg("p - INTEGER constant in [4,18]; 2^p one-byte registers",
        "hash_or_blob - BIGINT pre-hashed key to add, or BINARY hll blob to register-max merge"),
      ex("SELECT hll_sketch(12, bitfilters_duckdb_hash('v1.5.1', x)) FROM VALUES (1),(2),(2) t(x);",
        "SELECT hll_sketch(12, s) FROM per_group_sketches; -- blob merge"),
      args => { arity("hll_sketch", 2, args); HllSketchAgg(args(0), args(1)) }),
    Fn("hll_estimate",
      "hll_estimate(sketch) - distinct-count estimate of an hll BLOB",
      arg("sketch - BINARY hll blob"),
      ex("SELECT hll_estimate(hll_sketch(12, bitfilters_duckdb_hash('v1.5.1', x))) FROM VALUES (1),(2),(2) t(x);"),
      args => { arity("hll_estimate", 1, args); HllEstimate(args(0)) }),
    Fn("hll_registers",
      "hll_registers(sketch) - raw ARRAY<INT> registers of an hll BLOB",
      arg("sketch - BINARY hll blob"),
      ex("SELECT size(filter(hll_registers(s), r -> r = 0)) AS empty_buckets FROM sketches;"),
      args => { arity("hll_registers", 1, args); HllRegisters(args(0)) }),
    Fn("cms_sketch",
      "cms_sketch(depth, log2_width, hash_or_blob) - aggregate hashes into a Count-Min frequency BLOB, or counter-sum merge cms BLOBs",
      arg("depth - INTEGER constant in [1,8], number of hash rows",
        "log2_width - INTEGER constant in [4,24]; 2^log2_width counters per row",
        "hash_or_blob - BIGINT pre-hashed key to count, or BINARY cms blob to counter-sum merge"),
      ex("SELECT cms_sketch(4, 14, bitfilters_duckdb_hash('v1.5.1', x)) FROM VALUES (1),(1),(2) t(x);"),
      args => { arity("cms_sketch", 3, args); CmsSketchAgg(args(0), args(1), args(2)) }),
    Fn("cms_estimate",
      "cms_estimate(sketch, hash) - frequency upper bound for a pre-hashed key",
      arg("sketch - BINARY cms blob", "hash - BIGINT pre-hashed probe key"),
      ex("SELECT cms_estimate(s, bitfilters_duckdb_hash('v1.5.1', 42)) FROM sketches;"),
      args => { arity("cms_estimate", 2, args); BlobProbe(args(0), args(1), ProbeFamily.Cms) }),
    Fn("cms_inner_product",
      "cms_inner_product(a, b) - equi-join size upper bound: min over rows of the counter inner product",
      arg("a - BINARY cms blob", "b - BINARY cms blob (same depth/log2_width)"),
      ex("SELECT cms_inner_product(a.s, b.s) AS join_size_est FROM sa a, sb b;"),
      args => { arity("cms_inner_product", 2, args); CmsInnerProduct(args(0), args(1)) }),
    Fn("kmv_sketch",
      "kmv_sketch(k, hash_or_blob) - aggregate hashes into a k-minimum-values distinct sketch BLOB, or bottom-k union merge kmv BLOBs",
      arg("k - INTEGER constant in [1,1048576], retained minima",
        "hash_or_blob - BIGINT pre-hashed key, or BINARY kmv blob to bottom-k union merge"),
      ex("SELECT kmv_sketch(256, bitfilters_duckdb_hash('v1.5.1', x)) FROM VALUES (1),(2),(2) t(x);"),
      args => { arity("kmv_sketch", 2, args); KmvSketchAgg(args(0), args(1)) }),
    Fn("kmv_estimate",
      "kmv_estimate(sketch) - distinct-count estimate of a kmv BLOB (exact below k)",
      arg("sketch - BINARY kmv blob"),
      ex("SELECT kmv_estimate(kmv_sketch(256, bitfilters_duckdb_hash('v1.5.1', x))) FROM VALUES (1),(2),(2) t(x);"),
      args => { arity("kmv_estimate", 1, args); KmvEstimate(args(0)) }),
    Fn("kmv_values",
      "kmv_values(sketch) - stored bottom-k hashes of a kmv BLOB (ascending unsigned)",
      arg("sketch - BINARY kmv blob"),
      ex("SELECT size(kmv_values(s)) AS stored FROM sketches;"),
      args => { arity("kmv_values", 1, args); KmvValues(args(0)) }),
    Fn("kmv_intersect_count",
      "kmv_intersect_count(a, b) - KMV Jaccard numerator: |bottom-k(A ∪ B) ∩ A ∩ B| with k = min(ka, kb)",
      arg("a - BINARY kmv blob", "b - BINARY kmv blob"),
      ex("SELECT kmv_intersect_count(a.s, b.s) / CAST(256 AS DOUBLE) AS jaccard_est FROM sa a, sb b;"),
      args => { arity("kmv_intersect_count", 2, args); KmvIntersectCount(args(0), args(1)) }),
    Fn("hist_sketch",
      "hist_sketch(nbins, lo, hi, x_or_blob) - aggregate numeric values into a fixed-range equi-width histogram BLOB, or vector-add merge hist BLOBs",
      arg("nbins - foldable INTEGER number of equal-width bins",
        "lo - foldable numeric range start (inclusive)",
        "hi - foldable numeric range end (exclusive; x >= hi counts as above)",
        "x_or_blob - numeric value to bin, or BINARY hist blob to vector-add merge"),
      ex("SELECT hist_sketch(50, 0.0, 100.0, value) FROM events;",
        "SELECT hist_sketch(50, 0.0, 100.0, h) FROM per_day_hists; -- merge"),
      args => { arity("hist_sketch", 4, args); HistSketchAgg(args(0), args(1), args(2), args(3)) }),
    Fn("hist_counts",
      "hist_counts(sketch) - ARRAY<BIGINT> [below, bin_0..bin_{n-1}, above] of a histogram BLOB",
      arg("sketch - BINARY histogram blob"),
      ex("SELECT hist_counts(h)[1] AS below_range FROM hists;"),
      args => { arity("hist_counts", 1, args); HistCounts(args(0)) }),
    Fn("hist_quantile",
      "hist_quantile(sketch, q) - interpolated quantile over the in-range values of a histogram BLOB",
      arg("sketch - BINARY histogram blob", "q - quantile in [0, 1]"),
      ex("SELECT hist_quantile(h, 0.5) AS median_est FROM hists;"),
      args => { arity("hist_quantile", 2, args); HistQuantile(args(0), args(1)) }),
    Fn("topk_agg",
      "topk_agg(k, ord, payload) - bounded-heap top-k per group: the k largest BIGINT ord values (ties to smaller payload) as ARRAY<STRUCT<ord, payload>>",
      arg("k - foldable INTEGER result size",
        "ord - BIGINT ordering value (largest k kept)",
        "payload - BIGINT carried id; ties on ord keep the smallest payloads; duplicate (ord, payload) pairs collapse"),
      ex("SELECT g, topk_agg(5, score, item_id) FROM scores GROUP BY g;"),
      args => { arity("topk_agg", 3, args); TopKAgg(args(0), args(1), args(2)) }),
    Fn("sortable_bits",
      "sortable_bits(d) - order-preserving BIGINT encoding of a DOUBLE (signed long order == IEEE total order); rides doubles through topk_agg's ord slot",
      arg("d - DOUBLE; NaN encodes above +Infinity, -0.0 strictly below 0.0"),
      ex("SELECT g, topk_agg(5, sortable_bits(sim), id) FROM scored GROUP BY g;"),
      args => { arity("sortable_bits", 1, args); SortableDoubleBits(args(0)) }),
    Fn("sortable_bits_double",
      "sortable_bits_double(l) - decode a sortable_bits BIGINT back to its DOUBLE (the transform is an involution)",
      arg("l - BIGINT produced by sortable_bits"),
      ex("SELECT sortable_bits_double(e.ord) AS sim FROM tk LATERAL VIEW explode(tk.arr) t AS e;"),
      args => { arity("sortable_bits_double", 1, args); SortableBitsDouble(args(0)) }),
    Fn("binary_quantize",
      "binary_quantize(vec) - 1-bit sign quantization of an embedding into ARRAY<BIGINT> packed words (32x smaller than FLOAT)",
      arg("vec - ARRAY<FLOAT>/ARRAY<DOUBLE> embedding; bit i%64 of word i/64 set iff vec[i] > 0"),
      ex("SELECT binary_quantize(embedding) FROM embeddings;"),
      args => { arity("binary_quantize", 1, args); graft.operators.BinaryQuantize(args(0)) }),
    Fn("word_hamming",
      "word_hamming(a, b) - Hamming distance between two binary_quantize signatures (fused popcount-of-xor)",
      arg("a - ARRAY<BIGINT> packed signature (binary_quantize output)",
        "b - same length as a"),
      ex("SELECT word_hamming(binary_quantize(a.embedding), binary_quantize(b.embedding)) FROM e a, e b;"),
      args => { arity("word_hamming", 2, args); graft.operators.WordHamming(args(0), args(1)) }),
    Fn("gram_agg",
      "gram_agg(vec[, round_e6]) - one-pass upper-triangle Gram sums of ARRAY<DOUBLE> vectors as ARRAY<STRUCT<i, j, v>>; round_e6 = exact e6-micropoint BIGINT replay mode",
      arg("vec - ARRAY<DOUBLE> input vectors",
        "round_e6 - optional foldable BOOLEAN (default false): floor(p*1e6+0.5) each product and sum as exact BIGINT (partitioning-independent replay mode)"),
      ex("SELECT gram_agg(CAST(embedding AS ARRAY<DOUBLE>)) FROM embeddings;"),
      args => {
        if (args.isEmpty || args.size > 2)
          throw new IllegalArgumentException("gram_agg takes 1-2 arguments")
        val e6 = args.size >= 2 && AggUtil.foldableBoolean(args(1), "gram_agg round_e6")
        GramAgg(args(0), e6)
      }),
    // data-layout keys (write-path clustering for scan pruning)
    Fn("zorder_key",
      "zorder_key(bits, c1[, c2, ...]) - Morton interleave of the lowest `bits` bits of each integral column into one BIGINT clustering key",
      arg("bits - foldable INTEGER, bits taken from each dimension (dims * bits <= 63)",
        "c1..cn - integral columns, each normalized into [0, 2^bits) by the caller"),
      ex("SELECT zorder_key(8, x % 256, y % 256) AS zkey FROM points ORDER BY zkey;"),
      args => { atLeast("zorder_key", 2, args); ZOrderKey(args) }),
  )

  /** Idempotent programmatic registration into the session's function registry.
    *
    * A session built with `spark.sql.extensions=graft.GraftSparkExtensions`
    * already has every function and runs both optimizer rules, injected into
    * the operator-optimization batch, and gets nothing more here. Any other
    * session gets the functions, and the rules through
    * `experimental.extraOptimizations`.
    *
    * NOTE on plan quality: on an already-built session the extension hook is
    * gone, so FoldSingleRowJoin falls back to `experimental.extraOptimizations`
    * — a batch that runs AFTER predicate pushdown and column pruning. The
    * rewritten Filter therefore stays where the join was and does NOT reach
    * the scan on this path (weaker plans: no PushedFilters, no pruning of the
    * folded side). For production use configure
    * `spark.sql.extensions=graft.GraftSparkExtensions` instead, which injects
    * the rule into the operator-optimization batch where it reaches fixed
    * point with pushdown. A one-time warning is logged when the fallback
    * engages so the asymmetry is visible.
    */
  def registerAll(spark: SparkSession): Unit = {
    val extensionActive = spark.conf.getOption("spark.sql.extensions")
      .exists(_.contains(classOf[GraftSparkExtensions].getName))
    if (extensionActive) return
    val registry = spark.sessionState.functionRegistry
    all.foreach(fn => registry.registerFunction(FunctionIdentifier(fn.name), fn.info, fn.builder))
    // nanos-rebuild pushdown: on this fallback path the rule runs post-
    // optimization, where filters already sit directly above the scans —
    // the added plain-column bound is still extracted into PushedFilters
    // at physical planning (FileSourceStrategy reads the OPTIMIZED plan)
    val rules = spark.experimental.extraOptimizations
    val missing = Seq(graft.plans.FoldSingleRowJoin, graft.plans.PushNanosTimestampFilters)
      .filterNot(rules.contains)
    if (missing.contains(graft.plans.FoldSingleRowJoin))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "graft: FoldSingleRowJoin registered via experimental.extraOptimizations " +
        "(post-pushdown batch) — rewritten probe filters will not reach the scans. " +
        "Prefer spark.sql.extensions=graft.GraftSparkExtensions for production plans.")
    spark.experimental.extraOptimizations = rules ++ missing
  }
}

/** For `spark.sql.extensions=graft.GraftSparkExtensions`. */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(fn =>
      extensions.injectFunction((FunctionIdentifier(fn.name), fn.info, fn.builder)))
    // inside the operator-optimization batch: runs to fixed point with
    // pushdown/pruning, so rewritten filters reach the scans
    extensions.injectOptimizerRule(_ => graft.plans.FoldSingleRowJoin)
    extensions.injectOptimizerRule(_ => graft.plans.PushNanosTimestampFilters)
  }
}
