package perfbench

import graft.core._

/** The seven filter families, as the benchmark drives them: the SQL that
  * builds and probes a blob, and the direct `graft.core` calls that give the
  * reference blob, the reference probe and the size formula of BASELINE.md.
  * Every family works on 64-bit key hashes; `n` is the number of hashes the
  * build receives, duplicates included, since that is what sizes xor/fuse.
  */
sealed abstract class Family(val name: String) {
  /** SQL aggregate over hash column `h` (classic bloom hashes `key` itself). */
  def buildSql(n: Int, h: String, key: String): String
  /** SQL probe of blob expression `blob` (both blooms' typed probes hash `key` themselves). */
  def probeSql(blob: String, h: String, key: String): String = s"${name}_filter_contains($blob, $h)"
  def build(hashes: Array[Long], n: Int): Array[Byte]
  def probe(blob: Array[Byte], hash: Long): Boolean
  def expectedBytes(n: Int): Long
}

object Family {
  final val Version = "v1.5.1"
  final val QuotientR = 8
  final val BloomFpr = 0.01

  def quotientQ(n: Int): Int = QuotientFilter.qForKeys(n.toLong)
  /** 16 bits per key, rounded to a power of two of 64-bit sectors. */
  def bloomSectors(n: Int): Int = math.max(64, Integer.highestOneBit(math.max(1, n / 4)) * 2)

  final class Xor(bits: Int) extends Family(s"xor$bits") {
    def buildSql(n: Int, h: String, key: String) = s"xor${bits}_filter($h)"
    def build(hashes: Array[Long], n: Int) = XorFilter.build(bits, hashes.clone(), n).serialize()
    def probe(blob: Array[Byte], hash: Long) = XorFilter.probeBlob(bits, blob, hash)
    def expectedBytes(n: Int) = {
      val blockLength = ((32 + 1.23 * n).toLong / 3 * 3) / 3
      16 + (bits / 8) * 3 * blockLength
    }
  }

  final class Fuse(bits: Int) extends Family(s"fuse$bits") {
    def buildSql(n: Int, h: String, key: String) = s"binary_fuse${bits}_filter($h)"
    override def probeSql(blob: String, h: String, key: String) =
      s"binary_fuse${bits}_filter_contains($blob, $h)"
    def build(hashes: Array[Long], n: Int) = BinaryFuseFilter.build(bits, hashes.clone(), n).serialize()
    def probe(blob: Array[Byte], hash: Long) = BinaryFuseFilter.probeBlob(bits, blob, hash)
    /** Segmented sizing of binaryfusefilter.h, restated independently. */
    def expectedBytes(n: Int) = {
      var segmentLength = 1 << math.floor(math.log(n.toDouble) / math.log(3.33) + 2.25).toInt
      segmentLength = math.min(segmentLength, 262144)
      val sizeFactor = math.max(1.125, 0.875 + 0.25 * math.log(1000000.0) / math.log(n.toDouble))
      val capacity = math.round(n * sizeFactor).toInt
      val initSegments = (capacity + segmentLength - 1) / segmentLength - 2
      var arrayLength = (initSegments + 2) * segmentLength
      var segments = (arrayLength + segmentLength - 1) / segmentLength
      segments = if (segments <= 2) 1 else segments - 2
      arrayLength = (segments + 2) * segmentLength
      28L + (bits / 8) * arrayLength + (if (bits == 16) 4 else 0)
    }
  }

  object Quotient extends Family("quotient") {
    def buildSql(n: Int, h: String, key: String) = s"quotient_filter(${quotientQ(n)}, $QuotientR, $h)"
    def build(hashes: Array[Long], n: Int) = {
      val f = QuotientFilter.create(quotientQ(n), QuotientR)
      var i = 0
      while (i < n) { f.insert(hashes(i)); i += 1 }
      f.serialize()
    }
    def probe(blob: Array[Byte], hash: Long) = QuotientFilter.probeBlob(blob, hash)
    def expectedBytes(n: Int) = 40L + ((1L << quotientQ(n)) * (QuotientR + 3) + 7) / 8
  }

  object DuckDbBloom extends Family("duckdb_bloom") {
    def buildSql(n: Int, h: String, key: String) =
      s"bitfilters_duckdb_bloom_filter_create('$Version', ${bloomSectors(n)}, $h)"
    /** The typed probe: hashes `key` itself, so a VARCHAR key runs the string hash. */
    override def probeSql(blob: String, h: String, key: String) =
      s"bitfilters_duckdb_bloom_filter_probe('$Version', $blob, $key)"
    def build(hashes: Array[Long], n: Int) = {
      val f = DuckDbBloomFilter.create(bloomSectors(n))
      var i = 0
      while (i < n) { f.insert(hashes(i)); i += 1 }
      f.serialize()
    }
    def probe(blob: Array[Byte], hash: Long) = DuckDbBloomFilter.probeBlob(blob, hash)
    def expectedBytes(n: Int) = 8L * (bloomSectors(n) + 1)
  }

  object ClassicBloom extends Family("classic_bloom") {
    def buildSql(n: Int, h: String, key: String) = s"bloomfilter($n, $BloomFpr, $key)"
    override def probeSql(blob: String, h: String, key: String) = s"bloom_filter_contains($blob, $key)"
    def build(hashes: Array[Long], n: Int) = {
      val f = ClassicBloomFilter.create(n.toLong, BloomFpr)
      var i = 0
      while (i < n) { f.insert(hashes(i)); i += 1 }
      f.serialize()
    }
    def probe(blob: Array[Byte], hash: Long) = ClassicBloomFilter.probeBlob(blob, hash)
    def expectedBytes(n: Int) = 8L + ClassicBloomFilter.capacityFor(n.toLong, BloomFpr) / 8
  }

  val all: IndexedSeq[Family] =
    IndexedSeq(new Xor(8), new Xor(16), new Fuse(8), new Fuse(16), Quotient, DuckDbBloom, ClassicBloom)

  def hashSql(key: String): String = s"bitfilters_duckdb_hash('$Version', $key)"
}
