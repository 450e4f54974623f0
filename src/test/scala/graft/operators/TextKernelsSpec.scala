package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** A/B equality of the single-pass byte kernels (TextKernels) against the
  * regex/HOF formulations they replaced — the DuckDB oracles still replay
  * the regex forms, so these identities are what keeps the q_fingerprint /
  * q_normalize / q_html_extract / q_readability / q_redact_strict gates
  * 1:1. Adversarial unit strings + a full-corpus sweep over the sf0.001
  * documents fixture (with the redact gate's PII injection).
  */
class TextKernelsSpec extends AnyFunSuite with SparkSpec {

  private def kernel(c: Column, trim: Boolean): Column =
    ColumnBridge.column(CollapseWsExpr(ColumnBridge.expression(c), trim))

  // the pre-kernel formulations, verbatim
  private def regexCollapse(c: Column, trim: Boolean): Column = {
    val r = regexp_replace(c, lit("\\s+"), lit(" "))
    if (trim) org.apache.spark.sql.functions.trim(r) else r
  }
  private def legacyReadability(text: Column): (Column, Column, Column) = {
    val toks = filter(split(lower(text), "\\s+"), t => t =!= lit(""))
    val words = size(toks).cast("long")
    val sentences = greatest(lit(1L),
      size(regexp_extract_all(text, lit("[.!?]+"), lit(0))).cast("long"))
    val syllables = aggregate(toks, lit(0L), (acc, t) =>
      acc + greatest(lit(1L),
        size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0))).cast("long")))
    (words, sentences, syllables)
  }
  private def legacyCards(text: Column): Column = {
    val cands = regexp_extract_all(text, lit("[0-9](?:[0-9 -]{11,17})[0-9]"), lit(0))
    filter(cands, c => TextAnalysis.luhnValid(c) &&
      size(filter(split(c, ""), ch => ch >= "0" && ch <= "9")).between(13, 19))
  }

  private val adversarial = Seq(
    null,
    "",
    " ",
    "\t\n\f\r ",
    "a",
    " a ",
    "a  b\tc\nd\re\ffg",
    "no_whitespace_here",
    "  leading and   trailing  ",
    "unicode éÉ İstanbul straße  nbsp-is-not-java-ws x",
    "mixed.\nSentences! Are? here... and!!?! runs",
    "y yyy rhythm sky crypt",
    "aeiouy AEIOUY queueing onomatopoeia",
    "wrds wthout vwls: bcdfg hjklm npqrst",
    // card candidates: valid visa test number in 3 layouts + too-short +
    // Luhn-fail + 19-digit boundary + digit-dense runs abutting matches
    "card 4532 0151 1283 0366 end",
    "card 4532-0151-1283-0366 end",
    "card 4532015112830366 end",
    "bogus 4532015112830367 end",
    "short 4532 0151 128 end",
    "long run 45320151128303669999999999 end",
    "just 1234567890123456789012345 digits",
    "two 4532015112830366 and 4111111111111111 cards",
    "edge-4532015112830366-edge",
    "1234567890123",   // 13 digits, Luhn total check
    "0000000000000",   // 13 zeros — Luhn-valid by construction
    "tail ends with digits 4532015112830366",
    "4532015112830366", // candidate IS the whole string
    "sep mix 4532 0151-1283 0366 ok",
    "trailing sep 4532 0151 1283 036- 6x")

  private def abDf = {
    val sps = spark; import sps.implicits._
    adversarial.toDF("s")
  }

  test("collapse_ws == regexp_replace('\\s+',' ') [+ trim] on adversarial strings and the corpus") {
    for (trim <- Seq(false, true)) {
      val bad = abDf.select(col("s"), kernel(col("s"), trim).as("k"),
          regexCollapse(col("s"), trim).as("r"))
        .where(not(col("k") <=> col("r")))
      assert(bad.isEmpty, s"trim=$trim: ${bad.collect().mkString("; ")}")
    }
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (trim <- Seq(false, true)) {
      val bad = docs.select(col("text"),
          kernel(lower(col("text")), trim).as("k"),
          regexCollapse(lower(col("text")), trim).as("r"))
        .where(not(col("k") <=> col("r")))
      assert(bad.count() == 0, s"corpus trim=$trim mismatch")
    }
  }

  test("readability_counts == per-token regex form on adversarial strings and the corpus") {
    def both(df: org.apache.spark.sql.DataFrame, text: Column) = {
      val counts = ColumnBridge.column(ReadabilityCountsExpr(
        ColumnBridge.expression(lower(text))))
      val (lw, ls, ly) = legacyReadability(text)
      df.select(counts.getField("words").as("kw"),
          greatest(lit(1L), counts.getField("sentences")).as("ks"),
          counts.getField("syllables").as("ky"),
          lw.as("rw"), ls.as("rs"), ly.as("ry"))
        .where(not(col("kw") <=> col("rw")) || not(col("ks") <=> col("rs")) ||
          not(col("ky") <=> col("ry")))
    }
    assert(both(abDf, col("s")).isEmpty,
      both(abDf, col("s")).collect().mkString("; "))
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert(both(docs, col("text")).count() == 0, "corpus readability mismatch")
  }

  test("card_candidates == regexp_extract_all + HOF Luhn on adversarial strings and the injected corpus") {
    def both(df: org.apache.spark.sql.DataFrame, text: Column) =
      df.select(text.as("t"),
          ColumnBridge.column(CardCandidatesExpr(ColumnBridge.expression(text))).as("k"),
          legacyCards(text).as("r"))
        .where(not(col("k") <=> col("r")))
    assert(both(abDf, col("s")).isEmpty,
      both(abDf, col("s")).collect().mkString("; "))
    // the q_redact_strict corpus shape: fixture text + injected payloads,
    // AFTER the email/url scrub (the stage the extractor actually sees)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(concat(col("text"), expr(
        """CASE CAST(doc_id % 5 AS INT)
             WHEN 0 THEN ' card 4532 0151 1283 0366 end'
             WHEN 1 THEN ' bogus 4532015112830367 end'
             WHEN 2 THEN ' call +1 415 555 0123 end'
             WHEN 3 THEN ' dial 555-867-5309 end'
             ELSE concat(' mail u', CAST(doc_id AS STRING), '@ex.com end')
           END""")).as("t"))
      .select(TextAnalysis.redactPii(col("t")).as("t"))
    assert(both(docs, col("t")).count() == 0, "corpus card-candidate mismatch")
    // and the injected valid card is actually found
    val hits = docs.select(explode(ColumnBridge.column(
        CardCandidatesExpr(ColumnBridge.expression(col("t"))))).as("c"))
      .groupBy("c").count().collect()
    assert(hits.exists(_.getString(0) == "4532 0151 1283 0366"), hits.mkString(", "))
  }
}
