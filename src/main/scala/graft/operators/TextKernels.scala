package graft.operators

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass byte-level text kernels replacing the hottest regex/HOF
  * pipelines in [[TextAnalysis]]. Each kernel is SEMANTICALLY IDENTICAL to
  * the regex formulation it replaces (the DuckDB oracles still replay the
  * regex form — equality is what keeps every gate 1:1), it just stops
  * paying the constant factor: `regexp_replace` converts UTF8String →
  * java.lang.String → Matcher → StringBuffer per row, and the per-token
  * `regexp_extract_all` / `split(c, "")` HOF forms allocate an array of
  * single-character STRINGS per token. At cd-fixture document lengths
  * those constants put the text gates at 14–16x/decade against an 11.5x
  * text-volume bar (SCALE.md round-12 sweep); these kernels scan the raw
  * UTF-8 bytes once. All target byte classes (`\s`, `[.!?]`, `[aeiouy]`,
  * `[0-9 -]`) are pure ASCII, and UTF-8 continuation bytes are ≥ 0x80, so
  * byte-level scanning decides char classes exactly as java.util.regex
  * does on the decoded string (Java `\s` without UNICODE_CHARACTER_CLASS
  * is ASCII-only: `[ \t\n\x0B\f\r]`).
  *
  * Equality with the regex forms is pinned by TextKernelsSpec (adversarial
  * unit strings + full-corpus A/B on the documents fixture).
  */
object TextKernels {

  @inline private def isWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0d)

  @inline private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'

  /** `regexp_replace(text, "\\s+", " ")`, optionally followed by Spark's
    * `trim` (which strips 0x20 only — after collapse every ws run IS a
    * single 0x20, so the composition is exactly `trim(regexp_replace(...))`).
    * Zero-copy when the input is already in collapsed form.
    */
  def collapseWs(text: UTF8String, trimEnds: Boolean): UTF8String = {
    val bytes = text.getBytes
    val n = bytes.length
    // identity fast path: no non-space ws, no double space, no trimmable ends
    var i = 0
    var identity = true
    while (identity && i < n) {
      val b = bytes(i)
      if (isWs(b) && (b != 0x20 || (i + 1 < n && isWs(bytes(i + 1))) ||
          (trimEnds && (i == 0 || i == n - 1)))) identity = false
      i += 1
    }
    if (identity) return text
    val out = new Array[Byte](n)
    var o = 0
    i = 0
    while (i < n) {
      if (isWs(bytes(i))) {
        while (i < n && isWs(bytes(i))) i += 1
        out(o) = 0x20; o += 1
      } else {
        out(o) = bytes(i); o += 1; i += 1
      }
    }
    var lo = 0
    var hi = o
    if (trimEnds) {
      if (hi > lo && out(hi - 1) == 0x20) hi -= 1
      if (hi > lo && out(lo) == 0x20) lo += 1
    }
    UTF8String.fromBytes(java.util.Arrays.copyOfRange(out, lo, hi))
  }

  /** Raw Flesch counts over an ALREADY-LOWERCASED string, one byte pass:
    * words = maximal non-`\s` runs (what `split(s, "\\s+")` minus empties
    * counts), sentences = maximal `[.!?]` runs (NO min-1 — the caller
    * applies `greatest(1, _)` exactly like the regex form), syllables =
    * Σ per word max(1, maximal `[aeiouy]` runs inside the word).
    */
  def readabilityCounts(lowered: UTF8String): InternalRow = {
    val bytes = lowered.getBytes
    val n = bytes.length
    var words = 0L
    var sentences = 0L
    var syllables = 0L
    var inWord = false
    var inSent = false
    var inVowel = false
    var wordVowelRuns = 0L
    var i = 0
    while (i < n) {
      val b = bytes(i)
      if (isWs(b)) {
        if (inWord) { syllables += math.max(1L, wordVowelRuns); inWord = false }
        inSent = false; inVowel = false
      } else {
        if (!inWord) { words += 1; inWord = true; wordVowelRuns = 0L; inVowel = false }
        val sent = b == '.' || b == '!' || b == '?'
        if (sent && !inSent) sentences += 1
        inSent = sent
        val vowel = b == 'a' || b == 'e' || b == 'i' || b == 'o' || b == 'u' || b == 'y'
        if (vowel && !inVowel) wordVowelRuns += 1
        inVowel = vowel
      }
      i += 1
    }
    if (inWord) syllables += math.max(1L, wordVowelRuns)
    InternalRow(words, sentences, syllables)
  }

  /** Luhn checksum over the digit bytes of `bytes[from, to)` (spaces and
    * dashes skipped): from the RIGHT, every second digit doubles (minus 9
    * past 9), total ≡ 0 (mod 10). Also enforces 13–19 digits — the same
    * two filters the HOF form applied per candidate.
    */
  private def luhnOk(bytes: Array[Byte], from: Int, to: Int): Boolean = {
    var total = 0
    var pos = 0 // digit index counted FROM THE RIGHT
    var i = to - 1
    while (i >= from) {
      val b = bytes(i)
      if (isDigit(b)) {
        val v = b - '0'
        total += (if (pos % 2 == 1) { val d = v * 2; if (d > 9) d - 9 else d } else v)
        pos += 1
      }
      i -= 1
    }
    pos >= 13 && pos <= 19 && total % 10 == 0
  }

  /** Luhn-valid payment-card candidates, exactly
    * `filter(regexp_extract_all(text, '[0-9](?:[0-9 -]{11,17})[0-9]', 0),
    *         c -> luhn(c) AND digits(c) BETWEEN 13 AND 19)`
    * in match order. Java-regex find() semantics replicated: at a digit
    * start, the greedy `{11,17}` + final `[0-9]` backtrack picks the
    * LARGEST end p ∈ [start+12, start+18] with `bytes[p]` a digit and
    * everything between in `[0-9 -]`; after a match the next search
    * resumes at p+1; a failed start advances one position.
    */
  def cardCandidates(text: UTF8String): GenericArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    var out: java.util.ArrayList[UTF8String] = null
    var i = 0
    while (i < n) {
      if (isDigit(bytes(i))) {
        // run of [0-9 -] after i, capped at the 18 chars a match can use
        var r = i + 1
        val cap = math.min(n, i + 19)
        while (r < cap && (isDigit(bytes(r)) || bytes(r) == ' ' || bytes(r) == '-')) r += 1
        // largest final-digit position p with total length in [13, 19]
        var p = r - 1
        val pMin = i + 12
        while (p >= pMin && !isDigit(bytes(p))) p -= 1
        if (p >= pMin) {
          if (luhnOk(bytes, i, p + 1)) {
            if (out == null) out = new java.util.ArrayList[UTF8String](4)
            out.add(UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, i, p + 1)))
          }
          i = p + 1
        } else i += 1
      } else i += 1
    }
    if (out == null) new GenericArrayData(Array.empty[Any])
    else new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }
}

/** SQL: `collapse_ws(text[, trim])` — `regexp_replace(text, '\s+', ' ')`
  * (+ `trim` when the flag is set) as one byte pass.
  */
case class CollapseWsExpr(child: Expression, trimEnds: Boolean)
    extends StringKernelExpr {
  override def prettyName: String = "collapse_ws"
  override lazy val replacement: Expression = StaticInvoke(TextKernels.getClass, StringType,
    "collapseWs", Seq(child, Literal(trimEnds)), returnNullable = false)
  override protected def withNewChildInternal(newChild: Expression): CollapseWsExpr =
    copy(child = newChild)
}

/** SQL: `readability_counts(lowered_text)` ->
  * STRUCT<words: BIGINT, sentences: BIGINT, syllables: BIGINT> (raw runs;
  * min-1 rules applied by the caller, matching the regex form).
  */
case class ReadabilityCountsExpr(child: Expression) extends StringKernelExpr {
  override def prettyName: String = "readability_counts"
  override lazy val replacement: Expression = StaticInvoke(TextKernels.getClass,
    StructType(Seq(
      StructField("words", LongType, nullable = false),
      StructField("sentences", LongType, nullable = false),
      StructField("syllables", LongType, nullable = false))),
    "readabilityCounts", Seq(child), returnNullable = false)
  override protected def withNewChildInternal(newChild: Expression): ReadabilityCountsExpr =
    copy(child = newChild)
}

/** SQL: `card_candidates(text)` -> ARRAY<STRING> of Luhn-valid 13–19-digit
  * card candidates in match order ([[TextAnalysis.redactPiiStrict]]'s
  * candidate+checksum stage as one scan).
  */
case class CardCandidatesExpr(child: Expression) extends StringKernelExpr {
  override def prettyName: String = "card_candidates"
  override lazy val replacement: Expression = StaticInvoke(TextKernels.getClass,
    ArrayType(StringType, containsNull = false), "cardCandidates", Seq(child), returnNullable = false)
  override protected def withNewChildInternal(newChild: Expression): CardCandidatesExpr =
    copy(child = newChild)
}
