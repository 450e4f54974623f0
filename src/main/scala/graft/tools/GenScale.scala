package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-factor promotion: synthesizes an N-times-larger copy of a driver
  * testdata dir (default 10x, i.e. sf0.1 -> sf1) with referential integrity
  * preserved, for scale verification beyond the driver-provided fixtures.
  *
  * Scheme: the database is replicated `factor` times; replica r shifts every
  * key column by `r * stride(table)` (stride = max key + 1), so each replica
  * is a disjoint sub-database and all joins keep exactly their per-replica
  * cardinalities — query results scale linearly by construction. The tiny
  * dimension tables (region, nation) are shared across replicas, matching
  * how TPC-H scales. Two content tweaks keep operator semantics
  * scale-linear rather than degenerate:
  *  - documents: replicas r>0 prepend a "r<r> " token to `text` (and adjust
  *    n_chars), so exact/near-duplicate structure repeats per replica
  *    instead of every doc gaining 9 cross-replica exact duplicates (which
  *    would inflate LSH buckets 10x and pair counts 45x — a data-shape
  *    change, not a scale-up);
  *  - embeddings: replicas r>0 perturb element 0 by r*1e-4, so top-k
  *    neighbor ranking keeps distinct similarity values instead of 10-way
  *    exact ties.
  *
  * A fourth argument `constant-density` switches to the shape a real
  * 10x corpus has — more time, more distinct content, same local density —
  * instead of 10x mass in the same window:
  *  - events: replica r's timestamps shift by r * (span + 1 day), so the
  *    event RATE stays constant (the replica mode compresses 10x events
  *    into the same 30-day window, which grows time-window join outputs
  *    ~factor^2 — an output-shape effect, not operator scaling);
  *  - documents: every whitespace token in replicas r>0 is rewritten with
  *    an `r<r>` prefix, so shingle sets are DISJOINT across replicas and
  *    per-shingle doc frequency stays at the source distribution (the
  *    replica mode shares ~all shingles across replicas, inflating
  *    in-bucket pair emission toward factor^2);
  *  - embeddings: replicas r>0 get a per-replica seeded random ROTATION
  *    (dense orthonormal Q_r, Gram-Schmidt over seeded Gaussians) — an
  *    isometry (within-replica similarities preserved, so each replica's
  *    near-dup/ANN structure replicates replica 0's) that decorrelates
  *    replicas (expected cross-replica cosine ~0 ± 1/sqrt(dim)), instead
  *    of the replica mode's 1e-4 perturbation which leaves every vector
  *    with factor-1 near-exact copies and grows the cosine pair/bucket
  *    gates ~factor^2. Earlier cd fixtures used a per-dimension sign flip
  *    (also an isometry, and bit-exact) — but diag(+-1) maps every PQ
  *    subspace onto itself reflected, so the corpus became an ANTIPODAL
  *    mixture per subspace and a codebook trained on the mixture was
  *    genuinely worse for single-replica queries (the q_recall_floor_pq
  *    red at sf10cd, SCALE.md round-12). A dense rotation mixes
  *    dimensions ACROSS subspaces: each replica's subvector marginals are
  *    random projections of the (near-isotropic, unit-norm) source cloud,
  *    so the mixture matches each replica's distribution and training on
  *    it helps every replica's queries — the distribution-preserving
  *    decorrelation a real 10x embedding corpus has. The rotation is
  *    exact in real arithmetic; in float it perturbs within-replica sims
  *    by ~1e-6 relative (vs the thresholds' 0.3+ scale), which moves no
  *    gate semantics (every gate is oracle-replayed on the fixture
  *    itself) and keeps per-replica pair counts scale-linear.
  * Per-replica duplicate/near-duplicate structure is preserved in both
  * modes. This mode exists to measure the constant-density scaling curve
  * of the time-window and shingle operators (SCALE.md).
  *
  * A `hold-files` flag (composable with `constant-density`) repartitions
  * every output table to its SOURCE's parquet file count before writing —
  * the fixture otherwise multiplies FILE COUNT with the factor (each
  * replica's partitions write their own files), which conflates "more
  * data" with "more, smaller files". Real deployments size files up /
  * keep file size bounded as data grows; hold-files produces that regime
  * (same file count, factor-times-bigger files) so per-file and
  * listing-shaped costs can be measured under the production contract.
  *
  * A `tables=a,b,c` flag restricts output to the named tables (strides
  * still read only what those tables need) — for partial fourth-decade
  * fixtures that fit the box where the full factor-10 database would not.
  *
  * Usage: runMain graft.tools.GenScale <srcDir> <dstDir> [factor]
  *        [constant-density] [hold-files] [tables=a,b,c]
  */
object GenScale {

  /** Deterministic random rotation: Gram-Schmidt orthonormalization of a
    * seeded Gaussian matrix. Rows are orthonormal, so y = Q·x preserves
    * all inner products exactly in real arithmetic. With overwhelming
    * probability the Gaussian rows are linearly independent; the nudge
    * below guards the measure-zero degenerate draw without changing the
    * distribution meaningfully.
    */
  private[tools] def rotationMatrix(dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    val m = Array.fill(dim, dim)(rnd.nextGaussian())
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var k = 0
      while (k < a.length) { s += a(k) * b(k); k += 1 }
      s
    }
    for (i <- 0 until dim) {
      for (j <- 0 until i) {
        val d = dot(m(i), m(j))
        var k = 0
        while (k < dim) { m(i)(k) -= d * m(j)(k); k += 1 }
      }
      var n = math.sqrt(dot(m(i), m(i)))
      if (n < 1e-9) { m(i)(i % dim) += 1.0; n = math.sqrt(dot(m(i), m(i))) }
      var k = 0
      while (k < dim) { m(i)(k) /= n; k += 1 }
    }
    m
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val dstDir = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val flags = args.drop(3).toSet
    val constantDensity = flags.contains("constant-density")
    val holdFiles = flags.contains("hold-files")
    // `tables=a,b,c` restricts output to the named tables — the
    // fourth-decade probes (minhash / semdedup, SCALE.md round-15) need a
    // 10x documents+embeddings slice of sf100cd, and a full sf1000cd
    // fixture (150 GB) does not fit this box. Strides still come from the
    // source tables actually read, so the slice's keys line up with a
    // hypothetical full fixture.
    val only: Set[String] = flags.collectFirst {
      case f if f.startsWith("tables=") =>
        f.stripPrefix("tables=").split(",").map(_.trim).filter(_.nonEmpty).toSet
    }.getOrElse(Set.empty)
    def want(t: String): Boolean = only.isEmpty || only(t)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // driver parquet uses TIMESTAMP(NANOS); read as longs and write back as
    // microsecond timestamps (both Spark and DuckDB read those natively, and
    // SparkEntry.prepare passes TimestampType columns through untouched)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val nanoCols = Map("orders" -> Seq("o_orderdate"),
      "lineitem" -> Seq("l_shipdate"), "events" -> Seq("ts"))

    def src(t: String): DataFrame = {
      val raw = spark.read.parquet(s"$srcDir/$t.parquet")
      nanoCols.getOrElse(t, Nil).foldLeft(raw) { (df, c) =>
        if (df.schema(c).dataType == org.apache.spark.sql.types.LongType)
          df.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
        else df
      }
    }
    def stride(df: DataFrame, key: String): Long = df.agg(max(col(key))).head().getLong(0) + 1
    val reps = spark.range(factor).toDF("__r")

    def shifted(df: DataFrame, shifts: (String, Long)*): DataFrame = {
      val shiftMap = shifts.toMap
      val out = df.crossJoin(reps).select(
        df.columns.map(c => shiftMap.get(c) match {
          case Some(s) => (col(c) + col("__r") * s).as(c)
          case None => col(c)
        }).toSeq :+ col("__r"): _*)
      out
    }
    // each table's cluster key: multi-file outputs are RANGE-partitioned
    // on it (each file owns a contiguous key span), matching how
    // production lakes lay tables out (key/time-clustered writes) AND
    // keeping parquet encodings dense — a keyless round-robin
    // repartition scatters rows randomly, and the first native sf100cd
    // cut came out 47% bigger than the single-file fixture purely from
    // destroyed delta/dict locality (lineitem +61%, orders +87%)
    val clusterKey = Map(
      "customer" -> "c_custkey", "supplier" -> "s_suppkey",
      "part" -> "p_partkey", "orders" -> "o_orderkey",
      "lineitem" -> "l_orderkey", "events" -> "event_id",
      "documents" -> "doc_id", "embeddings" -> "vec_id")
    def write(df: DataFrame, t: String): Unit = {
      val out0 = df.drop("__r")
      val srcFile = new java.io.File(s"$srcDir/$t.parquet")
      def bytes(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(bytes).sum else f.length()
      def parted(n: Int): DataFrame =
        if (n <= 1) out0
        else clusterKey.get(t) match {
          // sortWithinPartitions matters as much as the ranges: the range
          // shuffle alone leaves rows arbitrarily ordered inside each file
          case Some(k) => out0.repartitionByRange(n, col(k))
            .sortWithinPartitions(col(k))
          case None => out0.repartition(n)
        }
      val out = if (holdFiles) {
        val n = if (srcFile.isDirectory)
          math.max(1, srcFile.listFiles().count(_.getName.endsWith(".parquet")))
        else 1
        parted(n)
      } else {
        // production layout by DEFAULT: ~128 MB target files, count
        // scaling with bytes, FLOORED at the core count once the table
        // has >= 4 MB per core. The source tables are single-file, and a
        // broadcast crossJoin preserves that partitioning — r14 found
        // the sf100cd fixture written as 1-2 files per table, which (a)
        // serialized generation itself and (b) capped every downstream
        // scan-riding stage at bytes/128MB row-group splits (the
        // embeddings table: 503 MB -> 4 tasks on a 32-core box; at
        // sf10cd, 51 MB -> ONE task), silently throttling the very
        // stages the fixtures exist to measure. The floor matters
        // because a BYTES-ONLY 128 MB target re-creates that throttle
        // at probe scale: Spark writes 128 MB parquet ROW GROUPS, so a
        // 128 MB file is one row group = one scan task no matter how
        // small maxSplitBytes gets — 503 MB would become 4 files = 4
        // tasks again. At a real deployment's table sizes
        // (bytes/128MB >> cores) the floor is inert and pure 128 MB
        // files win; at probe scale it keeps every core fed, which is
        // the property that actually holds at 100 TB.
        val b = bytes(srcFile) * factor
        val cores = spark.sparkContext.defaultParallelism.toLong
        // 1 MB minimum file size: dims (region/nation) stay single-file,
        // everything big enough to measure scans against gets core-fed
        val floor = math.min(cores, b / (1L << 20))
        val target = math.min(4096L,
          math.max(math.max(1L, floor), b / (128L << 20))).toInt
        parted(target)
      }
      out.write.mode("overwrite").parquet(s"$dstDir/$t.parquet")
      println(s"[genscale] $t: ${spark.read.parquet(s"$dstDir/$t.parquet").count()} rows")
    }

    // shared dims, copied as-is
    Seq("region", "nation").foreach(t =>
      if (want(t)) write(src(t).withColumn("__r", lit(0)), t))

    // lazy: a `tables=` slice must not read (or stride-scan) tables it
    // never writes
    lazy val cust = src("customer"); lazy val cStride = stride(cust, "c_custkey")
    lazy val supp = src("supplier"); lazy val sStride = stride(supp, "s_suppkey")
    lazy val part = src("part"); lazy val pStride = stride(part, "p_partkey")
    lazy val ord = src("orders"); lazy val oStride = stride(ord, "o_orderkey")
    lazy val ev = src("events")
    lazy val eStride = stride(ev, "event_id"); lazy val uStride = stride(ev, "user_id")
    lazy val docs = src("documents"); lazy val dStride = stride(docs, "doc_id")
    lazy val emb = src("embeddings"); lazy val vStride = stride(emb, "vec_id")

    if (want("customer")) write(shifted(cust, "c_custkey" -> cStride), "customer")
    if (want("supplier")) write(shifted(supp, "s_suppkey" -> sStride), "supplier")
    if (want("part")) write(shifted(part, "p_partkey" -> pStride), "part")
    if (want("orders"))
      write(shifted(ord, "o_orderkey" -> oStride, "o_custkey" -> cStride), "orders")
    if (want("lineitem")) write(shifted(src("lineitem"),
      "l_orderkey" -> oStride, "l_partkey" -> pStride, "l_suppkey" -> sStride), "lineitem")
    lazy val evShifted = shifted(ev, "event_id" -> eStride, "user_id" -> uStride)
    lazy val evOut = if (!constantDensity) evShifted else {
      // constant rate: replica r lives in its own (span + 1 day) time slab
      // (ts may be TIMESTAMP or TIMESTAMP_NTZ depending on the source dir —
      // sessions run UTC, so casting through TIMESTAMP is value-preserving)
      val tsc = col("ts").cast("timestamp")
      val Array(minUs, maxUs) = ev.agg(unix_micros(min(tsc)),
        unix_micros(max(tsc))).head().toSeq.map(_.asInstanceOf[Long]).toArray
      val slabUs = maxUs - minUs + 86400L * 1000000L
      evShifted.withColumn("ts",
        timestamp_micros(unix_micros(col("ts").cast("timestamp")) + col("__r") * slabUs))
    }
    if (want("events")) write(evOut, "events")

    lazy val docsN = if (constantDensity) {
      // disjoint shingles: every whitespace token gets a per-replica prefix
      // (r0 keeps the source text verbatim); duplicate structure within a
      // replica is unchanged, cross-replica shingle sharing drops to zero
      shifted(docs, "doc_id" -> dStride)
        .withColumn("__text2", when(col("__r") === 0, col("text")).otherwise(
          expr("regexp_replace(text, '(\\\\S+)', concat('r', CAST(__r AS STRING), '$1'))")))
        .withColumn("n_chars", col("n_chars") + length(col("__text2")) - length(col("text")))
        .withColumn("text", col("__text2"))
        .drop("__text2")
    } else {
      shifted(docs, "doc_id" -> dStride)
        .withColumn("__prefix", when(col("__r") === 0, lit("")).otherwise(concat(lit("r"), col("__r"), lit(" "))))
        .withColumn("text", concat(col("__prefix"), col("text")))
        .withColumn("n_chars", col("n_chars") + length(col("__prefix")))
        .drop("__prefix")
    }
    if (want("documents")) write(docsN, "documents")

    lazy val embN = if (constantDensity) {
      // decorrelated replicas: rotate replica r's vectors by a seeded
      // dense orthonormal Q_r (see the header comment for why a rotation
      // and not the former sign flip — diag(±1) made the corpus an
      // antipodal mixture per PQ subspace). Q_r is deterministic in r, so
      // regeneration is reproducible. Generator-side UDF: a 64x64 matvec
      // has no builtin Column form, and this code never runs in the
      // engine's query path.
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      val rots = (1 until factor).map(r => r -> rotationMatrix(dim, 0x9e3779b9L * r)).toMap
      val bRots = spark.sparkContext.broadcast(rots)
      val rotate = udf { (v: Seq[Float], r: Int) =>
        val q = bRots.value(r)
        val d = v.length
        val out = new Array[Float](d)
        var i = 0
        while (i < d) {
          val row = q(i)
          var s = 0.0
          var j = 0
          while (j < d) { s += row(j) * v(j); j += 1 }
          out(i) = s.toFloat
          i += 1
        }
        out
      }
      shifted(emb, "vec_id" -> vStride)
        .withColumn("embedding",
          when(col("__r") === 0, col("embedding"))
            .otherwise(rotate(col("embedding"), col("__r").cast("int"))))
    } else {
      shifted(emb, "vec_id" -> vStride)
        .withColumn("embedding",
          when(col("__r") === 0, col("embedding"))
            .otherwise(concat(
              array((element_at(col("embedding"), 1) + col("__r").cast("float") * lit(1e-4f)).cast("float")),
              slice(col("embedding"), 2, 1000000))))
    }
    if (want("embeddings")) write(embN, "embeddings")

    graft.LocalSpark.stop(spark)
  }
}
