package graft.core

import LittleEndianJ.{getLong, putLong}

/** DuckDB-compatible cache-sectorized bloom filter.
  *
  * Semantics replicated from the reference (src/bitfilters_duckdb_bloom_filter.cpp):
  *  - state: `num_sectors` (power of two) u64 sectors (cpp:492-530)
  *  - insert: sector = h & (n-1); set 4 bits derived from hash bytes 4-7
  *    (GetMask, cpp:252-260; insert cpp:503-507)
  *  - merge: bitwise OR (cpp:518-529)
  *  - wire format (little-endian): [u64 num_sectors][u64 * num_sectors]
  *    (cpp:509-516)
  *
  * The state is the blob itself: `insert` and `orMerge` change its sectors
  * in place, `serialize` copies it, and [[DuckDbBloomFilter.probeBlob]] is
  * the one membership read. Keys are pre-hashed u64 values (produce them
  * with [[DuckDbHash]]).
  */
final class DuckDbBloomFilter private (private val blob: Array[Byte]) {

  @inline def insert(hash: Long): Unit = {
    val off = DuckDbBloomFilter.sectorOffset(blob, hash)
    putLong(blob, off, getLong(blob, off) | DuckDbBloomFilter.getMask(hash))
  }

  def mightContain(hash: Long): Boolean = DuckDbBloomFilter.probeBlob(blob, hash)

  /** In-place bitwise-OR merge; both sides must have equal sector counts. */
  def orMerge(other: DuckDbBloomFilter): Unit = {
    val o = other.blob
    require(o.length == blob.length,
      s"cannot merge bloom filters with different num_sectors: ${blob.length / 8 - 1} vs ${o.length / 8 - 1}")
    var i = 8
    while (i < blob.length) { putLong(blob, i, getLong(blob, i) | getLong(o, i)); i += 8 }
  }

  def serialize(): Array[Byte] = blob.clone()
}

object DuckDbBloomFilter {
  private final val Family = "duckdb bloom filter"
  private final val MaxSectors = 1L << 28

  /** 4-bit mask from hash bytes 4-7, each byte mod 64 selecting a bit position;
    * reference cpp:252-260.
    */
  @inline def getMask(hash: Long): Long = {
    var mask = 0L
    var byteIdx = 4
    while (byteIdx < 8) {
      val bitPos = ((hash >>> (byteIdx * 8)) & 0x3f).toInt
      mask |= 1L << bitPos
      byteIdx += 1
    }
    mask
  }

  /** Byte offset of `hash`'s sector: sector h & (n-1) after the u64 header. */
  @inline private def sectorOffset(blob: Array[Byte], hash: Long): Int =
    8 + ((hash & ((blob.length >>> 3) - 2)).toInt << 3)

  def create(numSectors: Int): DuckDbBloomFilter = {
    require(numSectors > 0 && (numSectors & (numSectors - 1)) == 0,
      s"num_sectors must be a power of 2, got $numSectors")
    val blob = new Array[Byte](8 * (numSectors + 1))
    putLong(blob, 0, numSectors.toLong)
    new DuckDbBloomFilter(blob)
  }

  /** Refuse a blob whose num_sectors is not a power of two or whose length
    * is not 8·(num_sectors+1).
    */
  @inline private def check(blob: Array[Byte]): Unit = {
    BlobSize.checkHeader(Family, blob, 8)
    val n = getLong(blob, 0)
    if (n <= 0 || n > MaxSectors || (n & (n - 1)) != 0) BlobSize.invalid(Family, s"num_sectors=$n")
    BlobSize.check(Family, blob, 8 * (n + 1))
  }

  def deserialize(blob: Array[Byte]): DuckDbBloomFilter = {
    check(blob)
    new DuckDbBloomFilter(blob.clone())
  }

  /** The membership probe, zero-copy against a serialized blob. */
  def probeBlob(blob: Array[Byte], hash: Long): Boolean = {
    check(blob)
    val mask = getMask(hash)
    (getLong(blob, sectorOffset(blob, hash)) & mask) == mask
  }
}
