package graft.core

import java.nio.{ByteBuffer, ByteOrder}
import Hashing._

/** Xor filters (8- and 16-bit fingerprints).
  *
  * Wire format and probe semantics replicated from the reference
  * (src/vendor/fastfilter/xorfilter.h):
  *  - layout: 3 blocks of `blockLength` fingerprints; key maps to one slot in
  *    each block via rotl(hash, 0/21/42) + Lemire reduce (xorfilter.h:94-123)
  *  - member iff fingerprint(hash) == fp[h0] ^ fp[h1] ^ fp[h2]
  *  - sizing: capacity = floor(32 + 1.23 n) rounded down to a multiple of 3,
  *    blockLength = capacity / 3 (xorfilter.h:127-149)
  *  - serialization (little-endian): [u64 seed][u64 blockLength][fp array]
  *    (xorfilter.h:1243-1271)
  *
  * Construction is the standard 3-wise peeling with splitmix64 seed retries
  * (xorfilter.h:628-825). We implement the plain (unbuffered) variant: it is
  * deterministic in the key *set* rather than key order, which is strictly
  * better under Spark's nondeterministic shuffle ordering — the reference's
  * own tests disable xor FP golden checks for exactly this reason
  * (test/sql/bitfilters.test:78).
  *
  * Repeated keys: a key present twice adds 2 to the count of each of its
  * slots, so it never peels and every seed fails on a multiset. The
  * reference runs 9 such attempts and dedups at attempt 10. Here a failed
  * attempt 1 dedups at once and, if a key was removed, draws and discards
  * seeds 2-9 and builds with seed 10 over the distinct keys. A failed attempt
  * has no effect but its seed draw, and the blob depends only on the key set
  * and the seed, so the blob is byte-identical to the reference's.
  */
final class XorFilter(val bits: Int, val seed: Long, val blockLength: Int, val fingerprints: Array[Char]) {
  require(bits == 8 || bits == 16)

  def serializedBytes: Int = XorFilter.serializedBytes(bits, blockLength).toInt

  def serialize(): Array[Byte] = {
    val out = ByteBuffer.allocate(serializedBytes).order(ByteOrder.LITTLE_ENDIAN)
    out.putLong(seed)
    out.putLong(blockLength.toLong)
    var i = 0
    if (bits == 8) while (i < fingerprints.length) { out.put(fingerprints(i).toByte); i += 1 }
    else while (i < fingerprints.length) { out.putShort(fingerprints(i).toShort); i += 1 }
    out.array()
  }
}

object XorFilter {

  /** The blob size: [u64 seed][u64 blockLength][3 blocks of fingerprints]. */
  def serializedBytes(bits: Int, blockLength: Long): Long = 16 + (bits / 8) * 3 * blockLength

  private def family(bits: Int): String = if (bits == 8) "xor8 filter" else "xor16 filter"

  /** Zero-copy probe against a serialized blob, after its size check. */
  def probeBlob(bits: Int, blob: Array[Byte], key: Long): Boolean = {
    BlobSize.checkHeader(family(bits), blob, 16)
    val bb = ByteBuffer.wrap(blob).order(ByteOrder.LITTLE_ENDIAN)
    val seed = bb.getLong(0)
    BlobSize.check(family(bits), blob, serializedBytes(bits, bb.getLong(8)))
    val blockLength = bb.getLong(8).toInt
    val hash = mixSplit(key, seed)
    val h0 = reduce(hash.toInt, blockLength)
    val h1 = reduce(rotl64(hash, 21).toInt, blockLength) + blockLength
    val h2 = reduce(rotl64(hash, 42).toInt, blockLength) + 2 * blockLength
    if (bits == 8) {
      val f = (fingerprint64(hash) & 0xff).toInt
      f == (((blob(16 + h0) ^ blob(16 + h1) ^ blob(16 + h2)) & 0xff))
    } else {
      val f = (fingerprint64(hash) & 0xffff).toInt
      val g = bb.getShort(16 + 2 * h0) ^ bb.getShort(16 + 2 * h1) ^ bb.getShort(16 + 2 * h2)
      f == (g & 0xffff)
    }
  }

  /** Builds an xor filter over the given keys (duplicates allowed).
    * Reference sizing xorfilter.h:127-136, construction :628-825.
    */
  def build(bits: Int, keys0: Array[Long], n0: Int): XorFilter = {
    if (n0 == 0) throw new IllegalArgumentException("cannot build xor filter over 0 keys")
    var keys = keys0
    var size = n0
    val capacity = ((32 + 1.23 * size).toLong / 3 * 3).toInt
    val blockLength = capacity / 3
    val arrayLength = 3 * blockLength

    val rng = new SplitMix64(1L)
    var seed = rng.next()

    val setsXor = new Array[Long](arrayLength)
    val setsCnt = new Array[Int](arrayLength)
    // per-block "count == 1" queues
    val qIdx = new Array[Int](arrayLength)
    val qHash = new Array[Long](arrayLength)
    val stackIdx = new Array[Int](size)
    val stackHash = new Array[Long](size)

    var iterations = 0
    var done = false
    while (!done) {
      iterations += 1
      if (iterations > 100)
        throw new IllegalStateException("xor filter construction failed after 100 seeds")

      java.util.Arrays.fill(setsXor, 0L)
      java.util.Arrays.fill(setsCnt, 0)

      var i = 0
      while (i < size) {
        val hash = mixSplit(keys(i), seed)
        val h0 = reduce(hash.toInt, blockLength)
        val h1 = reduce(rotl64(hash, 21).toInt, blockLength) + blockLength
        val h2 = reduce(rotl64(hash, 42).toInt, blockLength) + 2 * blockLength
        setsXor(h0) ^= hash; setsCnt(h0) += 1
        setsXor(h1) ^= hash; setsCnt(h1) += 1
        setsXor(h2) ^= hash; setsCnt(h2) += 1
        i += 1
      }

      // queue boundaries: Q0 at [0, blockLength), Q1 at [blockLength, 2bl), Q2 at [2bl, 3bl)
      var q0 = 0; var q1 = 0; var q2 = 0
      i = 0
      while (i < blockLength) {
        if (setsCnt(i) == 1) { qIdx(q0) = i; qHash(q0) = setsXor(i); q0 += 1 }
        i += 1
      }
      i = blockLength
      while (i < 2 * blockLength) {
        if (setsCnt(i) == 1) { qIdx(blockLength + q1) = i - blockLength; qHash(blockLength + q1) = setsXor(i); q1 += 1 }
        i += 1
      }
      i = 2 * blockLength
      while (i < 3 * blockLength) {
        if (setsCnt(i) == 1) { qIdx(2 * blockLength + q2) = i - 2 * blockLength; qHash(2 * blockLength + q2) = setsXor(i); q2 += 1 }
        i += 1
      }

      var stackSize = 0
      while (q0 + q1 + q2 > 0) {
        while (q0 > 0) {
          q0 -= 1
          val index = qIdx(q0)
          val hash = qHash(q0)
          if (setsCnt(index) != 0) {
            val h1 = reduce(rotl64(hash, 21).toInt, blockLength) + blockLength
            val h2 = reduce(rotl64(hash, 42).toInt, blockLength) + 2 * blockLength
            stackIdx(stackSize) = index; stackHash(stackSize) = hash; stackSize += 1
            setsXor(h1) ^= hash; setsCnt(h1) -= 1
            if (setsCnt(h1) == 1) { qIdx(blockLength + q1) = h1 - blockLength; qHash(blockLength + q1) = setsXor(h1); q1 += 1 }
            setsXor(h2) ^= hash; setsCnt(h2) -= 1
            if (setsCnt(h2) == 1) { qIdx(2 * blockLength + q2) = h2 - 2 * blockLength; qHash(2 * blockLength + q2) = setsXor(h2); q2 += 1 }
          }
        }
        while (q1 > 0) {
          q1 -= 1
          val index = qIdx(blockLength + q1) + blockLength
          val hash = qHash(blockLength + q1)
          if (setsCnt(index) != 0) {
            val h0 = reduce(hash.toInt, blockLength)
            val h2 = reduce(rotl64(hash, 42).toInt, blockLength) + 2 * blockLength
            stackIdx(stackSize) = index; stackHash(stackSize) = hash; stackSize += 1
            setsXor(h0) ^= hash; setsCnt(h0) -= 1
            if (setsCnt(h0) == 1) { qIdx(q0) = h0; qHash(q0) = setsXor(h0); q0 += 1 }
            setsXor(h2) ^= hash; setsCnt(h2) -= 1
            if (setsCnt(h2) == 1) { qIdx(2 * blockLength + q2) = h2 - 2 * blockLength; qHash(2 * blockLength + q2) = setsXor(h2); q2 += 1 }
          }
        }
        while (q2 > 0) {
          q2 -= 1
          val index = qIdx(2 * blockLength + q2) + 2 * blockLength
          val hash = qHash(2 * blockLength + q2)
          if (setsCnt(index) != 0) {
            val h0 = reduce(hash.toInt, blockLength)
            val h1 = reduce(rotl64(hash, 21).toInt, blockLength) + blockLength
            stackIdx(stackSize) = index; stackHash(stackSize) = hash; stackSize += 1
            setsXor(h0) ^= hash; setsCnt(h0) -= 1
            if (setsCnt(h0) == 1) { qIdx(q0) = h0; qHash(q0) = setsXor(h0); q0 += 1 }
            setsXor(h1) ^= hash; setsCnt(h1) -= 1
            if (setsCnt(h1) == 1) { qIdx(blockLength + q1) = h1 - blockLength; qHash(blockLength + q1) = setsXor(h1); q1 += 1 }
          }
        }
      }

      if (stackSize == size) done = true
      else {
        seed = rng.next()
        if (iterations == 1) {
          // The reference dedups before attempt 10, but a repeated key never
          // peels, so over a multiset attempts 1-9 all fail. Dedup now and
          // skip to attempt 10 and its seed: same seed, same keys, same blob.
          val deduped = distinctSorted(sortUnsigned(keys, size))
          if (deduped.length < size) {
            keys = deduped
            size = deduped.length
            while (iterations < 9) { seed = rng.next(); iterations += 1 }
          }
        }
      }
    }

    val fingerprints = new Array[Char](arrayLength)
    val fpMask = if (bits == 8) 0xff else 0xffff
    var s = size
    while (s > 0) {
      s -= 1
      val hash = stackHash(s)
      val ki = stackIdx(s)
      var value = fingerprint64(hash).toInt & fpMask
      val h0 = reduce(hash.toInt, blockLength)
      val h1 = reduce(rotl64(hash, 21).toInt, blockLength) + blockLength
      val h2 = reduce(rotl64(hash, 42).toInt, blockLength) + 2 * blockLength
      if (ki < blockLength) value ^= fingerprints(h1) ^ fingerprints(h2)
      else if (ki < 2 * blockLength) value ^= fingerprints(h0) ^ fingerprints(h2)
      else value ^= fingerprints(h0) ^ fingerprints(h1)
      fingerprints(ki) = (value & fpMask).toChar
    }

    new XorFilter(bits, seed, blockLength, fingerprints)
  }
}
