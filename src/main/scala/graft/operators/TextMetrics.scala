package graft.operators

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass text quality metrics.
  *
  * Computes in a single scan exactly what the composed column form computes
  * with two regexp_replace passes (each allocating a rewritten string per
  * row) and two splits. Spark's `split` uses limit=-1 (trailing empty
  * fields KEPT — unlike Java's String.split default), so:
  *
  *  - `chars`   = `length(text)` (code points)
  *  - `words`   = `size(split(text, " "))` = single-space count + 1
  *  - `punct`   = `length(regexp_replace(text, "[A-Za-z0-9\\s]", ""))`
  *                (code points outside ASCII alnum + regex-\s)
  *  - `digits`  = `length(regexp_replace(text, "[^0-9]", ""))`
  *  - `toks`    = `size(split(lower(text), "\\s+"))` = \s+ run count + 1
  *  - `sw_hits` = english stopword hits among those tokens
  *                (same list as [[LangId]])
  *
  * Equivalence is enforced by the q_quality_score DuckDB oracle, which
  * replays the composed definition.
  */
object TextMetrics {

  private val enMask: Int = {
    val langs = LangId.stopwords.keys.toArray.sorted
    1 << langs.indexOf("en")
  }

  private def isSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  private def isAlnum(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')

  /** Returns the metrics struct row; static-callable from generated code. */
  def computeRow(text: UTF8String): InternalRow = {
    val s = text.toString
    val n = s.length
    var chars = 0L; var punct = 0L; var digits = 0L; var spaces = 0L
    var i = 0
    while (i < n) {
      val cp = s.codePointAt(i)
      chars += 1
      if (cp == ' ') spaces += 1
      if (cp >= '0' && cp <= '9') digits += 1
      if (cp < 128) {
        val c = cp.toChar
        if (!isAlnum(c) && !isSpace(c)) punct += 1
      } else punct += 1 // non-ASCII: outside [A-Za-z0-9\s], counts as punct
      i += Character.charCount(cp)
    }
    val words = spaces + 1 // split(text, " ") with limit=-1: fields = spaces+1
    // \s+ runs -> toks = runs + 1 (limit=-1 keeps boundary empty fields);
    // stopword hits over the (non-empty) lowercased tokens
    var runs = 0L; var sw = 0L
    val buf = new Array[Char](8)
    var p = 0
    while (p < n) {
      if (isSpace(s.charAt(p))) {
        runs += 1
        while (p < n && isSpace(s.charAt(p))) p += 1
      } else {
        var len = 0
        var overflow = false
        while (p < n && !isSpace(s.charAt(p))) {
          if (len < buf.length) {
            var c = s.charAt(p)
            if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
            buf(len) = c
            len += 1
          } else overflow = true
          p += 1
        }
        if (!overflow && LangId.hasStopword(new String(buf, 0, len), enMask)) sw += 1
      }
    }
    val toks = runs + 1
    new GenericInternalRow(Array[Any](chars, words, punct, digits, toks, sw))
  }

  /** Count of `[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]` matches (the BPE-ish
    * tokenizer) in one pass — regex alternation semantics: greedy letter
    * runs, greedy digit runs, then one match per remaining non-\s code
    * point (including every non-ASCII code point).
    */
  def tokenCount(text: UTF8String): Long = {
    val s = text.toString
    val n = s.length
    var i = 0
    var cnt = 0L
    while (i < n) {
      val cp = s.codePointAt(i)
      if ((cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z')) {
        cnt += 1
        while (i < n && { val c = s.charAt(i); (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') }) i += 1
      } else if (cp >= '0' && cp <= '9') {
        cnt += 1
        while (i < n && { val c = s.charAt(i); c >= '0' && c <= '9' }) i += 1
      } else if (cp < 128 && isSpace(cp.toChar)) {
        i += 1
      } else {
        cnt += 1
        i += Character.charCount(cp)
      }
    }
    cnt
  }
}

/** SQL: `token_count(text)` -> BIGINT; one-pass equivalent of
  * `size(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]', 0))`.
  */
case class TokenCountExpr(child: Expression) extends StringKernelExpr {
  override def prettyName: String = "token_count"
  override lazy val replacement: Expression =
    StaticInvoke(TextMetrics.getClass, LongType, "tokenCount", Seq(child), returnNullable = false)
  override protected def withNewChildInternal(newChild: Expression): TokenCountExpr =
    copy(child = newChild)
}

/** Deflate compression ratio — the Gopher-style gibberish/boilerplate
  * signal: natural prose compresses to ~0.3-0.5 of its size, random
  * token soup barely compresses (ratio near 1), and highly repetitive
  * boilerplate collapses toward 0. Computed with `java.util.Deflater`
  * at the default level over UTF-8 bytes; deterministic for a given
  * input (zlib's output is fixed per level/strategy), JVM-internal (no
  * SQL engine exposes deflate, so this signal is spec-verified rather
  * than oracle-replayed — use the ratio, not the raw byte count, in
  * cross-engine contracts).
  */
object CompressRatio {
  def ratio(s: UTF8String): Double = {
    val bytes = s.getBytes
    if (bytes.isEmpty) return 1.0
    val d = new java.util.zip.Deflater()
    try {
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](8192)
      var out = 0L
      while (!d.finished()) out += d.deflate(buf)
      out.toDouble / bytes.length.toDouble
    } finally d.end()
  }
}

/** SQL: `compress_ratio(text)` -> DOUBLE, deflated size / input size. */
case class CompressRatioExpr(child: Expression) extends StringKernelExpr {
  override def prettyName: String = "compress_ratio"
  override lazy val replacement: Expression =
    StaticInvoke(CompressRatio.getClass, DoubleType, "ratio", Seq(child), returnNullable = false)
  override protected def withNewChildInternal(newChild: Expression): CompressRatioExpr =
    copy(child = newChild)
}

/** SQL: `text_metrics(text)` -> STRUCT<chars, words, punct, digits, toks,
  * sw_hits : BIGINT>.
  */
case class TextMetricsExpr(child: Expression) extends StringKernelExpr {
  override def prettyName: String = "text_metrics"
  override lazy val replacement: Expression = StaticInvoke(TextMetrics.getClass,
    StructType(Seq("chars", "words", "punct", "digits", "toks", "sw_hits")
      .map(StructField(_, LongType, nullable = false))),
    "computeRow", Seq(child), returnNullable = false)
  override protected def withNewChildInternal(newChild: Expression): TextMetricsExpr =
    copy(child = newChild)
}
