package graft.core

/** Shared 64-bit hashing / mixing primitives used by the filter cores.
  *
  * These reimplement (bit-exactly) the public-domain kernels the reference
  * engine uses:
  *   - murmur-style 64-bit finalizer (reference: src/vendor/fastfilter/xorfilter.h:45-52,
  *     binaryfusefilter.h:34-41)
  *   - splitmix64 RNG (xorfilter.h:76-81, binaryfusefilter.h:61-66)
  *   - Lemire multiply-shift range reduction (xorfilter.h:62-65)
  *   - unsigned 64x64 -> high 64 multiply (binaryfusefilter.h:82-146)
  *   - the unsigned key sort and dedup of xor and fuse construction
  *
  * All operate on Scala `Long` interpreted as unsigned 64-bit.
  */
object Hashing {

  /** 64-bit murmur finalizer; reference xorfilter.h:45-52. */
  @inline def murmur64(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33
    h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33
    h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  /** mix-split: murmur64(key + seed); reference xorfilter.h:54-56. */
  @inline def mixSplit(key: Long, seed: Long): Long = murmur64(key + seed)

  /** splitmix64 step: advances `state` and returns the next value.
    * Reference xorfilter.h:76-81. Caller owns the state Long.
    */
  final class SplitMix64(var state: Long) {
    def next(): Long = {
      state += 0x9e3779b97f4a7c15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
  }

  /** Lemire reduce: maps a uint32 hash into [0, n); reference xorfilter.h:62-65. */
  @inline def reduce(hash: Int, n: Int): Int =
    (((hash.toLong & 0xffffffffL) * (n.toLong & 0xffffffffL)) >>> 32).toInt

  /** Unsigned 64x64 -> high 64 bits; reference binaryfusefilter.h:82-146.
    * JDK 17 has only the signed Math.multiplyHigh; correct for unsigned here.
    */
  @inline def unsignedMulHi(a: Long, b: Long): Long =
    Math.multiplyHigh(a, b) + ((a >> 63) & b) + ((b >> 63) & a)

  /** rotl64; reference xorfilter.h:58-60. */
  @inline def rotl64(n: Long, c: Int): Long = (n << (c & 63)) | (n >>> ((-c) & 63))

  /** 32/16/8-bit fingerprint source: hash xor (hash >>> 32); xorfilter.h:67-69. */
  @inline def fingerprint64(hash: Long): Long = hash ^ (hash >>> 32)

  /** A copy of `keys(0 until n)` in unsigned ascending order, the order xor
    * and fuse construction dedups into. An LSD radix sort, one byte per pass,
    * orders unsigned values as they are and boxes nothing; a pass over a
    * byte that every key shares is skipped.
    */
  private[core] def sortUnsigned(keys: Array[Long], n: Int): Array[Long] = {
    var src = java.util.Arrays.copyOf(keys, n)
    var dst = new Array[Long](n)
    val offsets = new Array[Int](8 * 256)
    var i = 0
    while (i < n) {
      val k = src(i)
      var b = 0
      while (b < 8) { offsets(b * 256 + ((k >>> (8 * b)).toInt & 0xff)) += 1; b += 1 }
      i += 1
    }
    var b = 0
    while (b < 8) {
      val base = b * 256
      if (n > 0 && offsets(base + ((src(0) >>> (8 * b)).toInt & 0xff)) != n) {
        var sum = 0
        var d = 0
        while (d < 256) { val c = offsets(base + d); offsets(base + d) = sum; sum += c; d += 1 }
        i = 0
        while (i < n) {
          val k = src(i)
          val d = base + ((k >>> (8 * b)).toInt & 0xff)
          dst(offsets(d)) = k
          offsets(d) += 1
          i += 1
        }
        val t = src; src = dst; dst = t
      }
      b += 1
    }
    src
  }

  /** `sorted` with each value once; `sorted` itself when it has no repeat. */
  private[core] def distinctSorted(sorted: Array[Long]): Array[Long] = {
    val out = new Array[Long](sorted.length)
    var m = 0
    var i = 0
    while (i < sorted.length) {
      if (i == 0 || sorted(i) != sorted(i - 1)) { out(m) = sorted(i); m += 1 }
      i += 1
    }
    if (m == sorted.length) sorted else java.util.Arrays.copyOf(out, m)
  }

  /** Mersenne prime 2^61 - 1: the modulus for SQL-portable affine hashing
    * (the largest prime whose products stay inside 128-bit signed math, so
    * other engines can replay it with exact integer arithmetic).
    */
  final val Mersenne61 = (1L << 61) - 1

  /** (a * b) mod (2^61 - 1) for 0 <= a, b < 2^61, branch-light:
    * 2^64 = 8 (mod p) and 2^61 = 1 (mod p) fold the 128-bit product.
    */
  @inline def mulMod61(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b) // signed == unsigned: both < 2^61
    val lo = a * b
    var r = (hi << 3) + (lo >>> 61) + (lo & Mersenne61)
    r = (r >>> 61) + (r & Mersenne61)
    if (r >= Mersenne61) r - Mersenne61 else r
  }

  /** (a * h + b) mod (2^61 - 1); the SQL-portable affine permutation. */
  @inline def affineMod61(a: Long, h: Long, b: Long): Long = {
    val r = mulMod61(a, h) + b
    if (r >= Mersenne61) r - Mersenne61 else r
  }
}
