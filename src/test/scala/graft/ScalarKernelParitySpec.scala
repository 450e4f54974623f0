package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.FileStreams

/** Every one-call scalar kernel (text, hash, vector, sortable-bits and
  * sketch-estimate functions) gives the same rows through generated code
  * (`CODEGEN_ONLY`, whole-stage codegen on) as through interpreted
  * evaluation (`NO_CODEGEN`), and its output schema (names, types,
  * nullability) stays as pinned here.
  *
  * The input is an RDD-backed view, so no kernel call is constant-folded
  * or evaluated by the optimizer. It holds NULL inputs, arrays with null
  * elements, FLOAT and DOUBLE vectors of both element nullabilities and
  * non-null columns, so every nullability branch of the kernels is reached.
  */
class ScalarKernelParitySpec extends AnyFunSuite with SparkSpec {

  private val calls = Seq(
    "collapse_ws(t)", "collapse_ws(t, 1)", "readability_counts(lower(t))", "card_candidates(t)",
    "nfc_normalize(t)", "strip_accents(t)",
    "token_count(t)", "compress_ratio(t)", "text_metrics(t)",
    "lang_id(t)", "md5_prefix64(t)", "md5_prefix64(coalesce(t, ''))", "rolling_hash(t)",
    "minhash_signature(toks, 2, 8)", "minhash_signature(toks, 1, 4, true)",
    "vec_dot(f32, f64)", "vec_dot(f64, f64)", "vec_dot(f32n, f64)", "vec_dot(f64n, f32n)",
    "sig_match_count(sa, sb)", "binary_quantize(f32n)", "binary_quantize(f64)",
    "word_hamming(sa, sb)", "word_hamming(binary_quantize(f32), binary_quantize(f64n))",
    "vec_norm(f32)", "vec_norm(f64)", "vec_norm(f32n)", "vec_norm(f64n)",
    "sortable_bits(d)", "sortable_bits(vec_norm(f64))", "sortable_bits_double(l)",
    "sortable_bits_double(sortable_bits(d))",
    "hll_estimate(hll)", "kmv_estimate(kmv)")

  /** The output schema at the commit before the kernels became
    * `RuntimeReplaceable`: one `name: TYPE` line per column.
    */
  private val pinnedSchema = Seq(
    "id: BIGINT NOT NULL",
    "collapse_ws(t): STRING",
    "collapse_ws(t): STRING",
    "readability_counts(lower(t)): STRUCT<words: BIGINT NOT NULL, sentences: BIGINT NOT NULL, syllables: BIGINT NOT NULL>",
    "card_candidates(t): ARRAY<STRING NOT NULL>",
    "nfc_normalize(t): STRING",
    "strip_accents(t): STRING",
    "token_count(t): BIGINT",
    "compress_ratio(t): DOUBLE",
    "text_metrics(t): STRUCT<chars: BIGINT NOT NULL, words: BIGINT NOT NULL, punct: BIGINT NOT NULL, digits: BIGINT NOT NULL, toks: BIGINT NOT NULL, sw_hits: BIGINT NOT NULL>",
    "lang_id(t): STRING",
    "md5_prefix64(t): BIGINT",
    "md5_prefix64(coalesce(t, )): BIGINT NOT NULL",
    "rolling_hash(t): BIGINT",
    "minhash_signature(toks): ARRAY<BIGINT NOT NULL>",
    "minhash_signature(toks): ARRAY<BIGINT NOT NULL>",
    "vec_dot(f32, f64): DOUBLE NOT NULL",
    "vec_dot(f64, f64): DOUBLE NOT NULL",
    "vec_dot(f32n, f64): DOUBLE",
    "vec_dot(f64n, f32n): DOUBLE",
    "sig_match_count(sa, sb): INT",
    "binary_quantize(f32n): ARRAY<BIGINT NOT NULL>",
    "binary_quantize(f64): ARRAY<BIGINT NOT NULL> NOT NULL",
    "word_hamming(sa, sb): INT",
    "word_hamming(binary_quantize(f32), binary_quantize(f64n)): INT",
    "vec_norm(f32): DOUBLE NOT NULL",
    "vec_norm(f64): DOUBLE NOT NULL",
    "vec_norm(f32n): DOUBLE",
    "vec_norm(f64n): DOUBLE",
    "sortable_bits(d): BIGINT",
    "sortable_bits(vec_norm(f64)): BIGINT NOT NULL",
    "sortable_bits_double(l): DOUBLE",
    "sortable_bits_double(sortable_bits(d)): DOUBLE",
    "hll_estimate(hll): DOUBLE",
    "kmv_estimate(kmv): DOUBLE")

  /** SHA-256 of the rows' text, taken with the schema pin: the values stay too. */
  private val pinnedRowsSha256 = "779e76855f1175adb77ccf32250f94dfec5d313f62f37be54f192703db97f10a"

  private def show(dt: DataType): String = dt match {
    case ArrayType(e, containsNull) => s"ARRAY<${show(e)}${if (containsNull) "" else " NOT NULL"}>"
    case StructType(fs) => fs.map(field).mkString("STRUCT<", ", ", ">")
    case other => other.sql
  }
  private def field(f: StructField): String =
    s"${f.name}: ${show(f.dataType)}${if (f.nullable) "" else " NOT NULL"}"

  /** Doubles compare by their bits, so NaN equals NaN and -0.0 differs from 0.0. */
  private def canon(v: Any): Any = v match {
    case d: Double => ("double", java.lang.Double.doubleToLongBits(d))
    case r: Row => r.toSeq.map(canon)
    case s: scala.collection.Seq[_] => s.map(canon)
    case other => other
  }

  private def inputView(): Unit = {
    // one hll and one kmv blob per key group, built through the SQL aggregates
    val sketches = spark.sql("""
      SELECT g, hll_sketch(8, h) AS hll, kmv_sketch(16, h) AS kmv
      FROM (SELECT id % 3 AS g, bitfilters_duckdb_hash('v1.5.1', id) AS h FROM range(0, 50))
      GROUP BY g ORDER BY g""").collect().map(r => (r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2)))
    val texts = Seq(
      null,
      "  The quick\tbrown fox   jumps over the lazy dog.  Is it?  ",
      "Crème brûlée à la française: le café est très bon, et la vie aussi!",
      "éclair näive Ångström été fiﬁle",
      "card 4532 0151 1283 0366 end; 4532-0151-1283-0367 fails; 1234 5678 9012 3456",
      "",
      "der Hund und die Katze, das ist nicht ein Spiel mit 42 Regeln.",
      "el perro y la casa de los gatos que se van por las calles 7 veces")
    def vec(i: Int, n: Int): Seq[Double] = (0 until n).map(j => ((i * 7 + j * 3) % 11 - 5) / 2.0)
    val rows = texts.zipWithIndex.map { case (t, i) =>
      val nulls = i == 0
      def orNull[A](a: => A): Any = if (nulls) null else a
      val n = if (i == 5) 0 else 3 + i % 5 * 17 // 0 to 71 elements, past one 64-bit word
      val withNullElem = i == 6 || i == 7
      val f32n = orNull(vec(i + 1, n).zipWithIndex.map { case (x, j) =>
        if (withNullElem && j == n / 2) null else x.toFloat })
      val f64n = orNull(vec(i + 2, n).zipWithIndex.map { case (x, j) =>
        if (i == 7 && j == 0) null else x })
      val sa = orNull(Seq[Any](1L, 2L, null, 4L, -1L).take(i % 6))
      val sb = orNull(Seq[Any](1L, 3L, 5L, null, -1L, 9L).take(i % 7))
      val d = Seq[Any](null, 0.0, -0.0, Double.NaN, Double.PositiveInfinity, -1.5, 3.25e-300, 1e300)(i)
      val l = Seq[Any](null, 0L, -1L, Long.MinValue, Long.MaxValue, 42L, -42L, 0x7ff0000000000001L)(i)
      val (hll, kmv) = if (nulls) (null, null) else sketches(i % 3)
      Row(i.toLong, t, orNull(if (t == null) Seq.empty[String] else t.split("\\s+").toSeq),
        vec(i, n).map(_.toFloat), vec(i + 3, n), f32n, f64n, sa, sb, d, l, hll, kmv)
    }
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("t", StringType),
      StructField("toks", ArrayType(StringType, containsNull = true)),
      StructField("f32", ArrayType(FloatType, containsNull = false), nullable = false),
      StructField("f64", ArrayType(DoubleType, containsNull = false), nullable = false),
      StructField("f32n", ArrayType(FloatType, containsNull = true)),
      StructField("f64n", ArrayType(DoubleType, containsNull = true)),
      StructField("sa", ArrayType(LongType, containsNull = true)),
      StructField("sb", ArrayType(LongType, containsNull = true)),
      StructField("d", DoubleType),
      StructField("l", LongType),
      StructField("hll", BinaryType),
      StructField("kmv", BinaryType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .createOrReplaceTempView("kernel_in")
  }

  test("scalar kernels: generated and interpreted rows agree, output schema as pinned") {
    inputView()
    val q = s"SELECT id, ${calls.mkString(", ")} FROM kernel_in"
    def run(mode: String): (Seq[String], Seq[Any]) =
      FileStreams.withSessionConf(spark, Map("spark.sql.codegen.factoryMode" -> mode,
          "spark.sql.codegen.wholeStage" -> (mode == "CODEGEN_ONLY").toString)) {
        val df = spark.sql(q)
        val stages = df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
        assert(stages.nonEmpty == (mode == "CODEGEN_ONLY"), s"$mode:\n${df.queryExecution.executedPlan}")
        (df.schema.fields.toSeq.map(field),
          df.collect().toSeq.sortBy(_.getLong(0)).map(canon))
      }
    val (genSchema, genRows) = run("CODEGEN_ONLY")
    val (intSchema, intRows) = run("NO_CODEGEN")
    assert(genSchema == pinnedSchema)
    assert(intSchema == pinnedSchema)
    assert(genRows.size == 8)
    for ((g, i) <- genRows.zip(intRows)) assert(g == i)
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(genRows.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(digest == pinnedRowsSha256, genRows.mkString("\n"))
    // the null-element branches return NULL, the others a value
    val byId = genRows.map(_.asInstanceOf[Seq[Any]])
    def at(id: Int, call: String): Any = byId(id)(1 + calls.indexOf(call))
    assert(at(6, "vec_dot(f32n, f64)") == null && at(7, "vec_dot(f64n, f32n)") == null)
    assert(at(6, "vec_norm(f32n)") == null && at(7, "vec_norm(f64n)") == null)
    assert(at(1, "vec_dot(f32n, f64)") != null && at(1, "vec_norm(f64n)") != null)
    // the all-NULL row: a call is NULL exactly where its type is nullable
    for ((c, k) <- calls.zipWithIndex)
      assert((at(0, c) == null) == !pinnedSchema(1 + k).endsWith(" NOT NULL"), c)
  }
}
