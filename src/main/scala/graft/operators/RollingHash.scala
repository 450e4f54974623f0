package graft.operators

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String

/** Polynomial (Rabin-Karp) rolling-hash document fingerprint over Unicode
  * code points: `h = fold(cp => (h * 257 + cp) mod 1e9+7)`.
  *
  * Code points (not UTF-8 bytes) and a sub-2^31 modulus are deliberate: both
  * are exactly expressible in portable SQL (`string_split(text, '')` +
  * `list_reduce` in DuckDB) with no 64-bit overflow, so fingerprints can be
  * verified across engines. Intermediate `h * 257 + cp` is at most
  * ~2.57e11, far inside Long range.
  */
object RollingHash {
  final val Mod = 1000000007L
  final val Base = 257L

  /** Static-callable from generated code. */
  def hash(text: UTF8String): Long = {
    val s = text.toString
    var h = 0L
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      h = (h * Base + cp) % Mod
      i += Character.charCount(cp)
    }
    h
  }
}

/** SQL: `rolling_hash(text)` -> BIGINT polynomial fingerprint. */
case class RollingHashExpr(child: Expression) extends StringKernelExpr {
  override def prettyName: String = "rolling_hash"
  override lazy val replacement: Expression =
    StaticInvoke(RollingHash.getClass, LongType, "hash", Seq(child), returnNullable = false)
  override protected def withNewChildInternal(newChild: Expression): RollingHashExpr =
    copy(child = newChild)
}
