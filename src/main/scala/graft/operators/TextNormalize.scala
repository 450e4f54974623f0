package graft.operators

import java.text.Normalizer

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, RuntimeReplaceable, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Unicode text normalization kernels for corpus canonicalization: NFC
  * composition (the form dedup hashes should see — 'é' as one code point,
  * never e + combining acute) and accent stripping (NFD decompose, drop
  * non-spacing marks; ligatures like 'œ' are NOT decomposed, matching
  * DuckDB's `strip_accents`). Both are identity on ASCII, and both take a
  * zero-copy fast path when the input is already in target form — at corpus
  * scale the normalizer runs only on the rows that actually need it.
  */
object TextNormalize {

  private def isAscii(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) >= 0x80) return false
      i += 1
    }
    true
  }

  /** Static-callable from generated code. */
  def nfc(text: UTF8String): UTF8String = {
    val s = text.toString
    if (isAscii(s) || Normalizer.isNormalized(s, Normalizer.Form.NFC)) text
    else UTF8String.fromString(Normalizer.normalize(s, Normalizer.Form.NFC))
  }

  /** Static-callable from generated code. */
  def stripAccents(text: UTF8String): UTF8String = {
    val s = text.toString
    if (isAscii(s)) return text
    val d = Normalizer.normalize(s, Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < d.length) {
      val c = d.charAt(i)
      if (Character.getType(c) != Character.NON_SPACING_MARK) sb.append(c)
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}

/** A one-call STRING kernel: `replacement` is a `StaticInvoke` of its static
  * method, from which Spark derives both the interpreted and the generated
  * path. Only the argument type check is written here.
  */
private[operators] abstract class StringKernelExpr extends UnaryExpression with RuntimeReplaceable {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$prettyName requires STRING, got ${other.sql}")
  }
}

/** SQL: `nfc_normalize(text)` -> Unicode-NFC-composed STRING. */
case class NfcNormalizeExpr(child: Expression) extends StringKernelExpr {
  override def prettyName: String = "nfc_normalize"
  override lazy val replacement: Expression =
    StaticInvoke(TextNormalize.getClass, StringType, "nfc", Seq(child), returnNullable = false)
  override protected def withNewChildInternal(newChild: Expression): NfcNormalizeExpr =
    copy(child = newChild)
}

/** SQL: `strip_accents(text)` -> STRING with non-spacing marks removed. */
case class StripAccentsExpr(child: Expression) extends StringKernelExpr {
  override def prettyName: String = "strip_accents"
  override lazy val replacement: Expression =
    StaticInvoke(TextNormalize.getClass, StringType, "stripAccents", Seq(child), returnNullable = false)
  override protected def withNewChildInternal(newChild: Expression): StripAccentsExpr =
    copy(child = newChild)
}
