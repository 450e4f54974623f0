package graft.core

import LittleEndianJ.{getLong, putLong}

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
  * Bit i is bit i&7 of byte 8 + i/8. The state is the blob itself:
  * `insert` and `orMerge` change it in place, `serialize` copies it, and
  * [[ClassicBloomFilter.probeBlob]] is the one membership read.
  */
final class ClassicBloomFilter private (private val blob: Array[Byte]) {
  val bits: Long = getLong(blob, 0)

  /** Insert a pre-hashed 64-bit key (double hashing, K probes). */
  def insert(keyHash: Long): Unit = {
    val h2 = ClassicBloomFilter.step(keyHash)
    var h = Hashing.murmur64(keyHash)
    var i = 0
    while (i < ClassicBloomFilter.K) {
      val bit = java.lang.Long.remainderUnsigned(h, bits)
      val at = 8 + (bit >>> 3).toInt
      blob(at) = (blob(at) | (1 << (bit & 7).toInt)).toByte
      h += h2
      i += 1
    }
  }

  def orMerge(other: ClassicBloomFilter): Unit = {
    require(other.bits == bits,
      s"cannot merge bloom filters of different capacities: $bits vs ${other.bits}")
    val o = other.blob
    var i = 8
    while (i < blob.length) { putLong(blob, i, getLong(blob, i) | getLong(o, i)); i += 8 }
  }

  def serialize(): Array[Byte] = blob.clone()
}

object ClassicBloomFilter {
  /** Fixed probe count, like the reference's boost::bloom::filter<T, 5>. */
  final val K = 5
  private final val Family = "classic bloom filter"

  /** The double-hashing stride: odd, so the K probes differ. */
  @inline private def step(keyHash: Long): Long =
    Hashing.murmur64(keyHash ^ 0x9e3779b97f4a7c15L) | 1L

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
    require(bits / 8 <= Int.MaxValue - 16, s"bloom filter too large: $bits bits")
    val blob = new Array[Byte](8 + (bits / 8).toInt)
    putLong(blob, 0, bits)
    new ClassicBloomFilter(blob)
  }

  /** Refuse a blob whose capacity is not a positive multiple of 64 bits or
    * whose length is not 8 + capacity_bits/8.
    */
  @inline private def check(blob: Array[Byte]): Unit = {
    BlobSize.checkHeader(Family, blob, 8)
    val bits = getLong(blob, 0)
    if (bits <= 0 || (bits & 63) != 0) BlobSize.invalid(Family, s"capacity_bits=$bits")
    BlobSize.check(Family, blob, 8 + (bits >>> 3))
  }

  def deserialize(blob: Array[Byte]): ClassicBloomFilter = {
    check(blob)
    new ClassicBloomFilter(blob.clone())
  }

  /** The membership probe, zero-copy against a serialized blob. */
  def probeBlob(blob: Array[Byte], keyHash: Long): Boolean = {
    check(blob)
    val bits = getLong(blob, 0)
    val h2 = step(keyHash)
    var h = Hashing.murmur64(keyHash)
    var i = 0
    while (i < K) {
      val bit = java.lang.Long.remainderUnsigned(h, bits)
      if ((blob(8 + (bit >>> 3).toInt) & (1 << (bit & 7).toInt)) == 0) return false
      h += h2
      i += 1
    }
    true
  }
}
