package graft.core

import java.nio.{ByteBuffer, ByteOrder}

/** Classic Bloom filter, completing the reference's (written but disabled)
  * fifth family: `bloomfilter(capacity, fpr, value)` + merge overload +
  * `bloom_filter_contains` (reference src/bitfilters_bloom_filter.cpp:1-392,
  * disabled at CMakeLists.txt:18-19). The reference never shipped it, so
  * there is no blob-compat target; this is a standard partition-free bloom
  * with the same API shape and the same K=5 hash functions as the
  * reference's boost::bloom::filter<T, 5> (cpp:94).
  *
  * Wire format (little-endian): [u64 capacity_bits][capacity_bits/8 bytes],
  * mirroring the reference's [u64 capacity][array] layout (cpp:148-159).
  */
final class ClassicBloomFilter(val bits: Long, val words: Array[Long]) {
  import ClassicBloomFilter._

  @inline private def setBit(i: Long): Unit =
    words((i >>> 6).toInt) |= 1L << (i & 63)

  /** Insert a pre-hashed 64-bit key (double hashing, K probes). */
  def insert(keyHash: Long): Unit = {
    val h1 = Hashing.murmur64(keyHash)
    val h2 = Hashing.murmur64(keyHash ^ 0x9e3779b97f4a7c15L) | 1L
    var i = 0
    var h = h1
    while (i < K) {
      setBit(java.lang.Long.remainderUnsigned(h, bits))
      h += h2
      i += 1
    }
  }

  def orMerge(other: ClassicBloomFilter): Unit = {
    require(other.bits == bits,
      s"cannot merge bloom filters of different capacities: $bits vs ${other.bits}")
    var i = 0
    while (i < words.length) { words(i) |= other.words(i); i += 1 }
  }

  def serialize(): Array[Byte] = {
    val out = ByteBuffer.allocate(8 + words.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    out.putLong(bits)
    words.foreach(out.putLong)
    out.array()
  }
}

object ClassicBloomFilter {
  /** Fixed probe count, like the reference's boost::bloom::filter<T, 5>. */
  final val K = 5

  /** Bit capacity for `n` expected items at false-positive rate `fpr`:
    * m = -n ln(fpr) / ln(2)^2, rounded up to a whole 64-bit word.
    */
  def capacityFor(n: Long, fpr: Double): Long = {
    require(n > 0, "Bloom filter capacity must be greater than 0")
    require(fpr > 0.0 && fpr < 1.0,
      "Bloom filter false positive rate must be between 0 and 1 (exclusive)")
    val m = math.ceil(-n.toDouble * math.log(fpr) / (math.log(2) * math.log(2))).toLong
    ((math.max(m, 64L) + 63L) / 64L) * 64L
  }

  def create(n: Long, fpr: Double): ClassicBloomFilter = {
    val bits = capacityFor(n, fpr)
    require(bits / 64 <= Int.MaxValue - 8, s"bloom filter too large: $bits bits")
    new ClassicBloomFilter(bits, new Array[Long]((bits / 64).toInt))
  }

  def deserialize(blob: Array[Byte]): ClassicBloomFilter = {
    if (blob.length < 8)
      throw new IllegalArgumentException("Bloom filter data is too short to contain capacity")
    val bb = ByteBuffer.wrap(blob).order(ByteOrder.LITTLE_ENDIAN)
    val bits = bb.getLong
    if (bits <= 0 || bits % 64 != 0 || blob.length < 8 + bits / 8)
      throw new IllegalArgumentException(s"Bloom filter blob invalid for $bits bits")
    val words = new Array[Long]((bits / 64).toInt)
    var i = 0
    while (i < words.length) { words(i) = bb.getLong; i += 1 }
    new ClassicBloomFilter(bits, words)
  }

  /** Zero-copy probe against a serialized blob. */
  def probeBlob(blob: Array[Byte], keyHash: Long): Boolean = {
    val bb = ByteBuffer.wrap(blob).order(ByteOrder.LITTLE_ENDIAN)
    val bits = bb.getLong(0)
    val h1 = Hashing.murmur64(keyHash)
    val h2 = Hashing.murmur64(keyHash ^ 0x9e3779b97f4a7c15L) | 1L
    var i = 0
    var h = h1
    while (i < K) {
      val bit = java.lang.Long.remainderUnsigned(h, bits)
      if ((bb.getLong(8 + ((bit >>> 6) * 8).toInt) & (1L << (bit & 63))) == 0) return false
      h += h2
      i += 1
    }
    true
  }
}
