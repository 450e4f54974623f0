package graft.core

import java.nio.{ByteBuffer, ByteOrder}
import Hashing._

/** Binary fuse filters (8- and 16-bit fingerprints, arity 3).
  *
  * Semantics, sizing and wire format replicated from the reference
  * (src/vendor/fastfilter/binaryfusefilter.h):
  *  - segmented layout: SegmentCount+2 segments of SegmentLength (a power of
  *    two, capped at 262144); sizing per :184-238
  *  - slot mapping: h = unsignedMulHi(hash, SegmentCountLength) + i*SegmentLength,
  *    xor-perturbed by 18-bit windows of the hash (:154-173)
  *  - member iff fingerprint(hash) ^ fp[h0] ^ fp[h1] ^ fp[h2] == 0 (:176-182)
  *  - construction: deterministic seed sequence from the fixed rng counter
  *    0x726b2b9d438b9d4d (:272), <=100 attempts, duplicate detection and
  *    removal (:346-359,416-418). The removal sorts into the reference's
  *    unsigned order with an unboxed radix sort (`Hashing.sortUnsigned`).
  *  - order: over distinct keys the blob depends only on the key set. The
  *    reference's duplicate check does not: whether it catches every repeat
  *    in an attempt depends on key order, and that decides the seed. So
  *    unless the first attempt succeeds without meeting a repeat, the keys go
  *    on in unsigned order, and if they hold a repeat the build starts over
  *    from the first seed. The blob is then the reference's over the sorted
  *    keys, whatever the input order (Spark's shuffle order is not fixed);
  *    where the reference's blob did not depend on order, it is unchanged.
  *    An attempt that cannot succeed (a repeat still counted twice never
  *    peels) skips its peel.
  *  - serialization (little-endian, 28-byte header): [u64 Seed][u32 Size]
  *    [u32 SegmentLength][u32 SegmentCount][u32 SegmentCountLength]
  *    [u32 ArrayLength][fp array]; SegmentLengthMask is recomputed on load
  *    (:739-794)
  */
final class BinaryFuseFilter(
    val bits: Int,
    val seed: Long,
    val size: Int,
    val segmentLength: Int,
    val segmentCount: Int,
    val segmentCountLength: Int,
    val arrayLength: Int,
    val fingerprints: Array[Char]) {
  require(bits == 8 || bits == 16)

  /** Fuse16 blobs carry 4 trailing zero bytes: the reference's
    * binary_fuse16_serialization_bytes counts SegmentLengthMask
    * (binaryfusefilter.h:725-729) but binary_fuse16_serialize never writes it
    * (:739-753), so the extension's buffer is 4 bytes larger than what is
    * written. Replicated for byte-identical blobs.
    */
  def serializedBytes: Int = BinaryFuseFilter.serializedBytes(bits, arrayLength).toInt

  def serialize(): Array[Byte] = {
    val out = ByteBuffer.allocate(serializedBytes).order(ByteOrder.LITTLE_ENDIAN)
    out.putLong(seed)
    out.putInt(size)
    out.putInt(segmentLength)
    out.putInt(segmentCount)
    out.putInt(segmentCountLength)
    out.putInt(arrayLength)
    var i = 0
    if (bits == 8) while (i < arrayLength) { out.put(fingerprints(i).toByte); i += 1 }
    else while (i < arrayLength) { out.putShort(fingerprints(i).toShort); i += 1 }
    out.array()
  }
}

object BinaryFuseFilter {

  /** Layout parameters; reference binaryfusefilter.h:216-238 (8/16 identical). */
  private[core] final case class Layout(segmentLength: Int, segmentCount: Int,
      segmentCountLength: Int, arrayLength: Int)

  private[core] def layoutFor(size: Int): Layout = {
    val arity = 3
    var segmentLength =
      if (size == 0) 4
      else 1 << math.floor(math.log(size.toDouble) / math.log(3.33) + 2.25).toInt
    if (segmentLength > 262144) segmentLength = 262144
    val sizeFactor =
      if (size <= 1) 0.0
      else math.max(1.125, 0.875 + 0.25 * math.log(1000000.0) / math.log(size.toDouble))
    val capacity = if (size <= 1) 0 else math.round(size.toDouble * sizeFactor).toInt
    val initSegmentCount = (capacity + segmentLength - 1) / segmentLength - (arity - 1)
    var arrayLength = (initSegmentCount + arity - 1) * segmentLength
    var segmentCount = (arrayLength + segmentLength - 1) / segmentLength
    segmentCount = if (segmentCount <= arity - 1) 1 else segmentCount - (arity - 1)
    arrayLength = (segmentCount + arity - 1) * segmentLength
    val segmentCountLength = segmentCount * segmentLength
    Layout(segmentLength, segmentCount, segmentCountLength, arrayLength)
  }

  @inline private def mod3(x: Int): Int = if (x > 2) x - 3 else x

  /** The fixed rng counter every build draws its seeds from (:272). */
  private val RngStart = 0x726b2b9d438b9d4dL

  /** Builds a binary fuse filter (duplicates tolerated); reference :267-445. */
  def build(bits: Int, keys0: Array[Long], n0: Int): BinaryFuseFilter = {
    if (n0 == 0) throw new IllegalArgumentException("cannot build binary fuse filter over 0 keys")
    var keys = keys0
    var size = n0
    val layout = layoutFor(size)
    import layout._
    val segmentLengthMask = segmentLength - 1

    @inline def slot(index: Int, hash: Long): Int = {
      var h = unsignedMulHi(hash, segmentCountLength.toLong & 0xffffffffL)
      h += index.toLong * segmentLength
      val hh = hash & ((1L << 36) - 1)
      (h ^ ((hh >>> (36 - 18 * index)) & segmentLengthMask)).toInt
    }

    var rng = new SplitMix64(RngStart)
    var seed = rng.next()

    val capacity = arrayLength
    val reverseOrder = new Array[Long](size + 1)
    val alone = new Array[Int](capacity)
    val t2count = new Array[Byte](capacity)
    val reverseH = new Array[Byte](size)
    val t2hash = new Array[Long](capacity)

    var blockBits = 1
    while ((1 << blockBits) < segmentCount) blockBits += 1
    val block = 1 << blockBits
    val startPos = new Array[Int](block)
    val h012 = new Array[Int](5)

    reverseOrder(size) = 1
    var finalSize = size
    var ordered = false
    var distinctKeys = size // until a sort counts them
    var loop = 0
    var constructed = false
    while (!constructed) {
      if (loop + 1 > 100)
        throw new IllegalStateException("binary fuse filter construction failed after 100 seeds")
      loop += 1

      var i = 0
      while (i < block) {
        startPos(i) = ((i.toLong * size) >>> blockBits).toInt
        i += 1
      }

      val maskblock = block - 1
      i = 0
      while (i < size) {
        val hash = murmur64(keys(i) + seed)
        var segmentIndex = (hash >>> (64 - blockBits)).toInt
        while (reverseOrder(startPos(segmentIndex)) != 0) {
          segmentIndex = (segmentIndex + 1) & maskblock
        }
        reverseOrder(startPos(segmentIndex)) = hash
        startPos(segmentIndex) += 1
        i += 1
      }

      var error = false
      var duplicates = 0
      i = 0
      while (i < size) {
        val hash = reverseOrder(i)
        val h0 = slot(0, hash)
        t2count(h0) = (t2count(h0) + 4).toByte
        t2hash(h0) ^= hash
        val h1 = slot(1, hash)
        t2count(h1) = (t2count(h1) + 4).toByte
        t2count(h1) = (t2count(h1) ^ 1).toByte
        t2hash(h1) ^= hash
        val h2 = slot(2, hash)
        t2count(h2) = (t2count(h2) + 4).toByte
        t2hash(h2) ^= hash
        t2count(h2) = (t2count(h2) ^ 2).toByte
        if ((t2hash(h0) & t2hash(h1) & t2hash(h2)) == 0) {
          if ((t2hash(h0) == 0 && (t2count(h0) & 0xff) == 8) ||
              (t2hash(h1) == 0 && (t2count(h1) & 0xff) == 8) ||
              (t2hash(h2) == 0 && (t2count(h2) & 0xff) == 8)) {
            duplicates += 1
            t2count(h0) = (t2count(h0) - 4).toByte
            t2hash(h0) ^= hash
            t2count(h1) = (t2count(h1) - 4).toByte
            t2count(h1) = (t2count(h1) ^ 1).toByte
            t2hash(h1) ^= hash
            t2count(h2) = (t2count(h2) - 4).toByte
            t2count(h2) = (t2count(h2) ^ 2).toByte
            t2hash(h2) ^= hash
          }
        }
        if ((t2count(h0) & 0xff) < 4) error = true
        if ((t2count(h1) & 0xff) < 4) error = true
        if ((t2count(h2) & 0xff) < 4) error = true
        i += 1
      }

      // Skip the peel when its outcome cannot matter: a repeat counted twice
      // never peels, and an unsorted multiset starts over anyway.
      val doomed = duplicates < size - distinctKeys || (!ordered && duplicates > 0)
      var stackSize = 0
      if (!error && !doomed) {
        var qSize = 0
        i = 0
        while (i < capacity) {
          alone(qSize) = i
          if (((t2count(i) & 0xff) >> 2) == 1) qSize += 1
          i += 1
        }
        while (qSize > 0) {
          qSize -= 1
          val index = alone(qSize)
          if (((t2count(index) & 0xff) >> 2) == 1) {
            val hash = t2hash(index)
            h012(1) = slot(1, hash)
            h012(2) = slot(2, hash)
            h012(3) = slot(0, hash)
            h012(4) = h012(1)
            val found = t2count(index) & 3
            reverseH(stackSize) = found.toByte
            reverseOrder(stackSize) = hash
            stackSize += 1
            val other1 = h012(found + 1)
            alone(qSize) = other1
            if (((t2count(other1) & 0xff) >> 2) == 2) qSize += 1
            t2count(other1) = (t2count(other1) - 4).toByte
            t2count(other1) = (t2count(other1) ^ mod3(found + 1)).toByte
            t2hash(other1) ^= hash
            val other2 = h012(found + 2)
            alone(qSize) = other2
            if (((t2count(other2) & 0xff) >> 2) == 2) qSize += 1
            t2count(other2) = (t2count(other2) - 4).toByte
            t2count(other2) = (t2count(other2) ^ mod3(found + 2)).toByte
            t2hash(other2) ^= hash
          }
        }
      }

      if (!error && !doomed && stackSize + duplicates == size) {
        finalSize = stackSize
        constructed = true
      } else {
        if (!ordered) {
          // Whether a repeat is caught depends on key order, so the keys go
          // on in unsigned order, and a multiset starts over from seed 1.
          ordered = true
          keys = sortUnsigned(keys, size)
          distinctKeys = distinctSorted(keys).length
          if (distinctKeys < size) {
            rng = new SplitMix64(RngStart)
            loop = 0
          }
        } else if (!error && duplicates > 0) {
          keys = distinctSorted(keys)
          size = keys.length
          distinctKeys = size
        }
        java.util.Arrays.fill(reverseOrder, 0, size, 0L)
        java.util.Arrays.fill(t2count, 0.toByte)
        java.util.Arrays.fill(t2hash, 0L)
        seed = rng.next()
      }
    }

    val fingerprints = new Array[Char](arrayLength)
    val fpMask = if (bits == 8) 0xff else 0xffff
    var i = finalSize - 1
    while (i >= 0) {
      val hash = reverseOrder(i)
      val xor2 = fingerprint64(hash).toInt & fpMask
      val found = reverseH(i) & 0xff
      h012(0) = slot(0, hash)
      h012(1) = slot(1, hash)
      h012(2) = slot(2, hash)
      h012(3) = h012(0)
      h012(4) = h012(1)
      fingerprints(h012(found)) =
        ((xor2 ^ fingerprints(h012(found + 1)) ^ fingerprints(h012(found + 2))) & fpMask).toChar
      i -= 1
    }

    // The header records the original allocation size (n0), matching the
    // reference where filter->Size is set at allocate() time and never
    // updated by populate's dedup path (binaryfusefilter.h:218,416-418).
    new BinaryFuseFilter(bits, seed, n0, segmentLength, segmentCount,
      segmentCountLength, arrayLength, fingerprints)
  }

  /** The blob size: a 28-byte header, the fingerprints, and for fuse16 the
    * reference's 4 trailing bytes.
    */
  def serializedBytes(bits: Int, arrayLength: Long): Long =
    28 + (bits / 8) * arrayLength + (if (bits == 16) 4 else 0)

  private def family(bits: Int): String =
    if (bits == 8) "binary fuse8 filter" else "binary fuse16 filter"

  /** Zero-copy probe against a serialized blob (no fingerprint array copy),
    * after its size check.
    */
  def probeBlob(bits: Int, blob: Array[Byte], key: Long): Boolean = {
    BlobSize.checkHeader(family(bits), blob, 28)
    val bb = ByteBuffer.wrap(blob).order(ByteOrder.LITTLE_ENDIAN)
    BlobSize.check(family(bits), blob, serializedBytes(bits, bb.getInt(24)))
    val seed = bb.getLong(0)
    val segmentLength = bb.getInt(12)
    val segmentCountLength = bb.getInt(20)
    val segmentLengthMask = segmentLength - 1
    val hash = mixSplit(key, seed)
    val hi = unsignedMulHi(hash, segmentCountLength.toLong & 0xffffffffL)
    val h0 = hi.toInt
    var h1 = h0 + segmentLength
    var h2 = h1 + segmentLength
    h1 ^= ((hash >>> 18).toInt & segmentLengthMask)
    h2 ^= (hash.toInt & segmentLengthMask)
    if (bits == 8) {
      val f = (fingerprint64(hash) ^ blob(28 + h0) ^ blob(28 + h1) ^ blob(28 + h2)).toInt & 0xff
      f == 0
    } else {
      val f = (fingerprint64(hash).toInt ^ bb.getShort(28 + 2 * h0) ^ bb.getShort(28 + 2 * h1) ^ bb.getShort(28 + 2 * h2)) & 0xffff
      f == 0
    }
  }
}
