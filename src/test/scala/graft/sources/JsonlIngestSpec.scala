package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class JsonlIngestSpec extends AnyFunSuite with SparkSpec {

  test("good rows parse typed, malformed lines quarantine verbatim") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl_spec_").toString
    val lines = Seq(
      """{"id": 1, "name": "a", "score": 1.5}""",
      """{"id": 2, "name": "b"}""",                 // missing field -> null, still good
      """{"id": 3, "name": "c", "score": 2.0""",    // truncated -> quarantine
      """not json at all""",                        // garbage -> quarantine
      """{"id": 4, "name": "d", "score": 3.25}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part.jsonl"),
      String.join("\n", lines: _*).getBytes): Unit
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType)))
    val (good, bad) = JsonlIngest.ingest(spark, dir, schema)
    val g = good.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1.0 else r.getDouble(2)))
    assert(g.toSeq == Seq((1L, "a", 1.5), (2L, "b", -1.0), (4L, "d", 3.25)), g.mkString(","))
    assert(good.schema.fieldNames.toSeq == Seq("id", "name", "score"))
    // quarantined lines are the EXACT raw input
    val b = bad.collect().map(_.getString(0)).toSet
    assert(b == Set(lines(2), lines(3)), b.toString)
    // reserved-name collision fails fast
    intercept[IllegalArgumentException] {
      JsonlIngest.read(spark, dir, StructType(Seq(
        StructField(JsonlIngest.CorruptCol, StringType))))
    }
  }

  test("csv ingest: typed parse, strict arity, empty field is NULL not corrupt") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv_spec_").toString
    val lines = Seq(
      "1,alpha,1.5",
      "2,\"unclosed quote,2.0",   // malformed -> quarantine
      "3,gamma",                  // SHORT row -> quarantine (strict arity)
      "5,,2.5",                   // empty field -> NULL value, still good
      "4,delta,3.25")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part.csv"),
      String.join("\n", lines: _*).getBytes): Unit
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType)))
    val (good, bad) = JsonlIngest.ingestCsv(spark, dir, schema)
    val g = good.orderBy("id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) "-" else r.getString(1), r.getDouble(2)))
    assert(g.toSeq == Seq((1L, "alpha", 1.5), (4L, "delta", 3.25), (5L, "-", 2.5)),
      g.mkString(","))
    assert(bad.collect().map(_.getString(0)).toSet == Set(lines(1), lines(2)))
  }
}
