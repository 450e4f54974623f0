package graft.operators

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.core.Hashing

/** Fused per-document MinHash: token array -> full signature in ONE codegen
  * expression call, with no shingle explode, no aggregate machinery, and no
  * shuffle. Hash-compatible by construction with the exploded pipeline
  * ([[Dedup.shingleHashes]] + [[MinHashAgg]]):
  *
  *  - fast mode reproduces Spark's `xxhash64(slice(toks, i, s))` exactly —
  *    XXH64 over each token's UTF-8 bytes with the running value as seed,
  *    initial seed 42 (Spark's default) — then the murmur64 remix family;
  *  - portable mode reproduces `md5_prefix64(concat_ws(' ', slice(...)))`
  *    by streaming token bytes + single spaces through one MessageDigest,
  *    then the SQL-replayable affine mod-2^61-1 permutations.
  *
  * Per-document cost is identical arithmetic to the aggregate path
  * (shingles x k permutations); what disappears is the per-shingle row
  * materialization and per-row aggregate eval dispatch — and the widest
  * stage of the near-dup pipeline becomes embarrassingly parallel.
  */
object MinHashKernel {

  private val permCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()

  private def perms(k: Int): (Array[Long], Array[Long]) =
    permCache.computeIfAbsent(k, kk => MinHashPerm.params(kk))

  private val md = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  private val Space = Array[Byte](' ')

  /** Static-callable from generated code; null when fewer than `shingleSize`
    * tokens (the exploded pipeline drops those documents before the agg).
    */
  def signature(toks: ArrayData, shingleSize: Int, k: Int, portable: Boolean): ArrayData = {
    val n = toks.numElements()
    if (n < shingleSize) return null
    val sig = Array.fill(k)(Long.MaxValue)
    if (portable) {
      val (pa, pb) = perms(k)
      val d = md.get()
      // each token is touched by up to shingleSize shingles: materialize its
      // UTF-8 bytes once per document, not once per shingle
      val tb = new Array[Array[Byte]](n)
      var t = 0
      while (t < n) { tb(t) = toks.getUTF8String(t).getBytes; t += 1 }
      var i = 0
      while (i <= n - shingleSize) {
        d.reset()
        var j = i
        while (j < i + shingleSize) {
          if (j > i) d.update(Space)
          d.update(tb(j))
          j += 1
        }
        val digest = d.digest()
        var v = 0L
        var b = 0
        while (b < 7) { v = (v << 8) | (digest(b) & 0xffL); b += 1 }
        val h61 = ((v << 4) | ((digest(7) & 0xf0L) >>> 4)) & Hashing.Mersenne61
        var p = 0
        while (p < k) {
          val hp = Hashing.affineMod61(pa(p), h61, pb(p))
          if (hp < sig(p)) sig(p) = hp
          p += 1
        }
        i += 1
      }
    } else {
      var i = 0
      while (i <= n - shingleSize) {
        var h = 42L // Spark's default xxhash64 seed
        var j = i
        while (j < i + shingleSize) {
          // the exact per-element call Spark's XxHash64 codegen emits
          h = XXH64.hashUTF8String(toks.getUTF8String(j), h)
          j += 1
        }
        var p = 0
        while (p < k) {
          val hp = Hashing.murmur64(h + p * 0x9e3779b97f4a7c15L)
          if (java.lang.Long.compareUnsigned(hp, sig(p)) < 0) sig(p) = hp
          p += 1
        }
        i += 1
      }
    }
    new GenericArrayData(sig)
  }
}

/** SQL: `minhash_signature(toks, shingle_size, k[, portable])` ->
  * ARRAY<BIGINT> full MinHash signature of a token array.
  */
case class MinHashSignatureExpr(child: Expression, shingleSize: Int, numHashes: Int,
    portable: Boolean) extends UnaryExpression with RuntimeReplaceable {

  require(shingleSize > 0, "shingle_size must be positive")
  require(numHashes > 0 && numHashes <= 1024, "k must be in (0, 1024]")

  override def prettyName: String = "minhash_signature"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_signature requires ARRAY<STRING> tokens, got ${other.sql}")
  }

  override lazy val replacement: Expression = StaticInvoke(MinHashKernel.getClass,
    ArrayType(LongType, containsNull = false), "signature",
    Seq(child, Literal(shingleSize), Literal(numHashes), Literal(portable)))

  override protected def withNewChildInternal(newChild: Expression): MinHashSignatureExpr =
    copy(child = newChild)
}
