package graft.operators

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String

/** 60-bit md5-prefix hash: numerically equal to
  * `CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT)` / Spark's
  * `conv(substring(md5(s), 1, 15), 16, 10)` — the engine-portable hash the
  * dedup pipelines' `portable` mode uses — but computed straight from the
  * digest bytes (the composed form round-trips through a 32-char hex
  * string, a substring, and a decimal string).
  */
object PortableHash {
  private val md = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** Static-callable from generated code. */
  def md5Prefix64(s: UTF8String): Long = {
    val d = md.get()
    d.reset()
    val digest = d.digest(s.getBytes)
    // first 15 hex chars = bytes 0..6 in full + the high nibble of byte 7
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (digest(i) & 0xffL); i += 1 }
    (v << 4) | ((digest(7) & 0xf0L) >>> 4)
  }
}

/** SQL: `md5_prefix64(text)` -> BIGINT (60 effective bits, non-negative). */
case class Md5Prefix64Expr(child: Expression) extends StringKernelExpr {
  override def prettyName: String = "md5_prefix64"
  override lazy val replacement: Expression =
    StaticInvoke(PortableHash.getClass, LongType, "md5Prefix64", Seq(child), returnNullable = false)
  override protected def withNewChildInternal(newChild: Expression): Md5Prefix64Expr =
    copy(child = newChild)
}
