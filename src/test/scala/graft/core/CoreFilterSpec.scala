package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Pure-JVM golden tests for the filter cores — no SparkSession needed.
  *
  * Hash golden values are the certified vectors generated against real DuckDB
  * wheels (reference test/generate/hash_values_v1.5.1.json); FP-count goldens
  * come from reference test/sql/bitfilters.test:45-117.
  */
class CoreFilterSpec extends AnyFunSuite {

  private def u(s: String): Long = java.lang.Long.parseUnsignedLong(s)

  // --- DuckDbHash: certified vectors -------------------------------------

  test("duckdb hash: integer vectors") {
    assert(DuckDbHash.hashLong(42L) == u("7199933130570745587"))
    assert(DuckDbHash.hashInt32Like(42) == u("7199933130570745587"))
    assert(DuckDbHash.hashInt32Like(-1) == u("4739667815145166545")) // tinyint/smallint/integer -1
    assert(DuckDbHash.hashLong(-1L) == u("4939931809569846361"))
    assert(DuckDbHash.hashInt32Like(-128) == u("17192691921624903227"))
    // anchors generated by live DuckDB 1.0: SELECT hash(v::BIGINT)
    assert(DuckDbHash.hashLong(2671521945691753783L) == u("15610132216258790398"))
    assert(DuckDbHash.hashLong(-3720958657989204912L) == u("80955607330571406"))
    assert(DuckDbHash.hashLong(-2875293200062377941L) == u("18114528437098465506"))
    assert(DuckDbHash.hashLong(-651203574895259915L) == u("6855432294921172226"))
    assert(DuckDbHash.hashLong(-3026239342489546536L) == u("4901432840579259285"))
  }

  test("duckdb hash: unsigned64 (DECIMAL(20,0) interop) vectors") {
    // anchors generated by live DuckDB: SELECT hash(v::UBIGINT)
    def bi(s: String) = new java.math.BigInteger(s)
    assert(DuckDbHash.hashUnsigned64(bi("42")) == u("7199933130570745587"))
    assert(DuckDbHash.hashUnsigned64(bi("9223372036854775808")) == u("8233824478078409175")) // 2^63
    assert(DuckDbHash.hashUnsigned64(bi("18446744073709551615")) == u("4939931809569846361")) // 2^64-1 == hash(-1::BIGINT)
    assert(DuckDbHash.hashUnsigned64(bi("12345678901234567890")) == u("14454407496768820157"))
    intercept[IllegalArgumentException](DuckDbHash.hashUnsigned64(bi("-1")))
    intercept[IllegalArgumentException](DuckDbHash.hashUnsigned64(bi("18446744073709551616"))) // 2^64
  }

  test("duckdb hash: float/double vectors") {
    assert(DuckDbHash.hashFloat(42.0f) == u("15290891319722589465"))
    assert(DuckDbHash.hashDouble(42.0) == u("870828535671730594"))
    assert(DuckDbHash.hashFloat(0.0f) == 0L)
    assert(DuckDbHash.hashDouble(0.0) == 0L)
    assert(DuckDbHash.hashFloat(-0.0f) == 0L)
    assert(DuckDbHash.hashDouble(-0.0) == 0L)
  }

  test("duckdb hash: string/blob vectors") {
    assert(DuckDbHash.hashBytes("hello".getBytes("UTF-8")) == u("8628213525773890682"))
    assert(DuckDbHash.hashBytes(Array.emptyByteArray) == u("5104928228550385088"))
    // '\xDEAD'::BLOB is byte 0xDE followed by the literal characters "AD"
    assert(DuckDbHash.hashBytes(Array[Byte](0xde.toByte, 'A'.toByte, 'D'.toByte)) == u("5774709339516911511"))
  }

  test("duckdb hash: combine (multi-value) vectors") {
    val h42hello = DuckDbHash.combine(DuckDbHash.hashLong(42L),
      DuckDbHash.hashBytes("hello".getBytes("UTF-8")))
    assert(h42hello == u("17001236256828606196"))
    val h123 = DuckDbHash.combine(DuckDbHash.combine(
      DuckDbHash.hashLong(1L), DuckDbHash.hashLong(2L)), DuckDbHash.hashLong(3L))
    assert(h123 == u("12722334483198565868"))
  }

  // --- DuckDB bloom filter ------------------------------------------------

  test("duckdb bloom: roundtrip, no false negatives, FPR bound, serialized size") {
    val bf = DuckDbBloomFilter.create(16384)
    val hashes = (1L to 1000L).map(DuckDbHash.hashLong).toArray
    hashes.foreach(bf.insert)
    assert(hashes.forall(bf.mightContain))
    val blob = bf.serialize()
    assert(blob.length == 8 * (16384 + 1))
    val back = DuckDbBloomFilter.deserialize(blob)
    assert(hashes.forall(back.mightContain))
    assert(hashes.forall(h => DuckDbBloomFilter.probeBlob(blob, h)))
    // FP bound from reference test/sql/duckdb_bloom_filter.test:364-370
    val fps = (100001L to 110000L).map(DuckDbHash.hashLong).count(back.mightContain)
    assert(fps < 200, s"expected <200 false positives of 10000, got $fps")
  }

  test("duckdb bloom: or-merge equals bulk build") {
    val a = DuckDbBloomFilter.create(1024)
    val b = DuckDbBloomFilter.create(1024)
    val all = DuckDbBloomFilter.create(1024)
    (1L to 500L).map(DuckDbHash.hashLong).foreach { h => a.insert(h); all.insert(h) }
    (501L to 1000L).map(DuckDbHash.hashLong).foreach { h => b.insert(h); all.insert(h) }
    a.orMerge(b)
    assert(a.serialize().sameElements(all.serialize()))
  }

  // --- Quotient filter ----------------------------------------------------

  private def seriesHashes(parity: Int): Array[Long] =
    (1 to 100000).filter(_ % 2 == parity).map(i => DuckDbHash.hashLong(i.toLong)).toArray

  test("quotient: golden FP counts (reference test/sql/bitfilters.test:45-53)") {
    val members0 = seriesHashes(0)
    val members1 = seriesHashes(1)
    val qf0 = QuotientFilter.create(16, 4)
    members0.foreach(h => assert(qf0.insert(h)))
    val qf1 = QuotientFilter.create(16, 4)
    members1.foreach(h => assert(qf1.insert(h)))
    // no false negatives
    assert(members0.forall(qf0.mayContain))
    assert(members1.forall(qf1.mayContain))
    // golden false-positive counts: probe filter with the opposite parity
    val fp0 = members1.count(qf0.mayContain)
    val fp1 = members0.count(qf1.mayContain)
    assert(fp0 == 2264, s"quotient filter (remainder 0) FPs: expected 2264, got $fp0")
    assert(fp1 == 2273, s"quotient filter (remainder 1) FPs: expected 2273, got $fp1")
  }

  test("quotient: qForKeys sizes capacity to the keyset") {
    // load <= maxLoad at the returned q, and q-1 would violate it
    for ((n, load) <- Seq((1500L, 0.5), (150000L, 0.5), (1500000L, 0.5), (1000L, 0.29))) {
      val q = QuotientFilter.qForKeys(n, load, minQ = 1)
      assert((1L << q) * load >= n, s"n=$n q=$q load breached")
      assert(q == 1 || (1L << (q - 1)) * load < n, s"n=$n q=$q not minimal")
    }
    // minQ floor holds (small corpora keep the legacy fixed-q blob shape)
    assert(QuotientFilter.qForKeys(1500, 0.5, minQ = 19) == 19)
    // sf10-scale: 1.5M keys need 2^22 at load 0.5
    assert(QuotientFilter.qForKeys(1500000, 0.5, minQ = 19) == 22)
    // capped at the in-memory q limit
    assert(QuotientFilter.qForKeys(Long.MaxValue / 4, 0.5, minQ = 10) == 28)
    intercept[IllegalArgumentException](QuotientFilter.qForKeys(-1))
    intercept[IllegalArgumentException](QuotientFilter.qForKeys(10, 0.0))
  }

  test("quotient: serialize/deserialize roundtrip and size formula") {
    val qf = QuotientFilter.create(10, 6)
    val hs = (1L to 500L).map(DuckDbHash.hashLong)
    hs.foreach(qf.insert)
    val blob = qf.serialize()
    assert(blob.length == 40 + QuotientFilter.tableSizeBytes(10, 6))
    val back = QuotientFilter.deserialize(blob)
    assert(back.entries == qf.entries)
    assert(hs.forall(back.mayContain))
    assert(back.serialize().sameElements(blob))
  }

  test("quotient: merge is a union") {
    val a = QuotientFilter.create(12, 6)
    val b = QuotientFilter.create(12, 6)
    val ha = (1L to 300L).map(DuckDbHash.hashLong)
    val hb = (301L to 600L).map(DuckDbHash.hashLong)
    ha.foreach(a.insert)
    hb.foreach(b.insert)
    val m = a.merge(b)
    assert((ha ++ hb).forall(m.mayContain))
  }

  test("quotient: strict merge raises on overflow; default merge drops silently (parity)") {
    // fill two same-geometry 16-slot filters from disjoint key ranges
    def fullFilter(seed: Long): QuotientFilter = {
      val f = QuotientFilter.create(4, 8)
      var i = seed
      while (f.entries < f.maxSize) { f.insert(DuckDbHash.hashLong(i)); i += 1 }
      f
    }
    val a = fullFilter(0L)
    val b = fullFilter(1000000L)
    // parity default: merge of two full filters completes, silently
    // dropping b's keys (reference quotient_filter.cpp:399,403)
    val dropped = QuotientFilter.deserialize(a.serialize()).merge(b)
    assert(dropped.entries == a.maxSize)
    // strict: the same merge raises instead of losing keys
    val ex = intercept[IllegalStateException] {
      QuotientFilter.deserialize(a.serialize()).merge(b, strict = true)
    }
    assert(ex.getMessage.contains("strict merge overflow"))
    // strict does NOT raise when nothing is lost: full filter merged with
    // itself re-inserts only already-present fingerprints
    val self = QuotientFilter.deserialize(a.serialize())
      .merge(QuotientFilter.deserialize(a.serialize()), strict = true)
    assert(self.entries == a.maxSize)
  }

  test("quotient: full filter rejects inserts") {
    val qf = QuotientFilter.create(2, 4) // 4 slots
    var inserted = 0
    var i = 0L
    while (inserted < 4) {
      if (qf.insert(DuckDbHash.hashLong(i))) inserted += 1
      i += 1
    }
    assert(!qf.insert(DuckDbHash.hashLong(999999L)))
  }

  // --- Classic bloom filter -----------------------------------------------

  test("classic bloom: no false negatives, golden FP count, or-merge equals bulk build, size") {
    val members0 = seriesHashes(0)
    val members1 = seriesHashes(1)
    val n = members0.length.toLong
    val bulk = ClassicBloomFilter.create(n, 0.01)
    members0.foreach(bulk.insert)
    val blob = bulk.serialize()
    assert(blob.length == 8 + ClassicBloomFilter.capacityFor(n, 0.01) / 8)
    assert(members0.forall(ClassicBloomFilter.probeBlob(blob, _)), "classic bloom false negative")
    val fps = members1.count(ClassicBloomFilter.probeBlob(blob, _))
    assert(fps == 544, s"classic bloom FPs: expected 544, got $fps")
    val a = ClassicBloomFilter.create(n, 0.01)
    val b = ClassicBloomFilter.create(n, 0.01)
    members0.take(20000).foreach(a.insert)
    members0.drop(20000).foreach(b.insert)
    a.orMerge(b)
    assert(a.serialize().sameElements(blob))
  }

  // --- Binary fuse filters ------------------------------------------------

  test("binary fuse: golden FP counts (reference test/sql/bitfilters.test:110-117)") {
    val members0 = seriesHashes(0)
    val members1 = seriesHashes(1)
    for ((bits, exp0, exp1) <- Seq((16, 1, 1), (8, 171, 199))) {
      val f0 = BinaryFuseFilter.build(bits, members0.clone(), members0.length).serialize()
      val f1 = BinaryFuseFilter.build(bits, members1.clone(), members1.length).serialize()
      assert(members0.forall(BinaryFuseFilter.probeBlob(bits, f0, _)), s"fuse$bits false negative in group 0")
      assert(members1.forall(BinaryFuseFilter.probeBlob(bits, f1, _)), s"fuse$bits false negative in group 1")
      val fp0 = members1.count(BinaryFuseFilter.probeBlob(bits, f0, _))
      val fp1 = members0.count(BinaryFuseFilter.probeBlob(bits, f1, _))
      assert(fp0 == exp0, s"fuse$bits group-0 FPs: expected $exp0, got $fp0")
      assert(fp1 == exp1, s"fuse$bits group-1 FPs: expected $exp1, got $fp1")
    }
  }

  test("binary fuse: serialized size formula and blob roundtrip") {
    val keys = (1L to 50000L).map(DuckDbHash.hashLong).toArray
    for (bits <- Seq(8, 16)) {
      val f = BinaryFuseFilter.build(bits, keys.clone(), keys.length)
      val blob = f.serialize()
      assert(blob.length == 28 + (bits / 8) * f.arrayLength + (if (bits == 16) 4 else 0))
      assert(keys.forall(k => BinaryFuseFilter.probeBlob(bits, blob, k)))
    }
  }

  test("binary fuse: 1M-key serialized sizes match published figures (BASELINE.md)") {
    val keys = (1L to 1000000L).map(i => DuckDbHash.hashLong(i)).toArray
    val f8 = BinaryFuseFilter.build(8, keys.clone(), keys.length)
    assert(f8.serializedBytes == 1130524, s"fuse8 1M size: ${f8.serializedBytes}")
    val f16 = BinaryFuseFilter.build(16, keys.clone(), keys.length)
    assert(f16.serializedBytes == 2261024, s"fuse16 1M size: ${f16.serializedBytes}")
  }

  test("binary fuse: duplicates tolerated") {
    val keys = Array.fill(1000)(DuckDbHash.hashLong(7L)) ++ (1L to 1000L).map(DuckDbHash.hashLong)
    val blob = BinaryFuseFilter.build(8, keys.clone(), keys.length).serialize()
    assert(keys.forall(BinaryFuseFilter.probeBlob(8, blob, _)))
  }

  test("binary fuse: hot keys repeated 1000 times build in any order") {
    // 20000 distinct keys plus 8 keys 1000 times each, shuffled. Spread out,
    // the copies of a hot key are not caught as duplicates and overflow its
    // byte slot counts, so every seed failed in this order; the build now
    // runs over the keys in unsigned order, where each hot key's copies are
    // adjacent.
    val hot = (1L to 8L).flatMap(h => Seq.fill(1000)(DuckDbHash.hashLong(-h)))
    val keys = new scala.util.Random(1017).shuffle((1L to 20000L).map(DuckDbHash.hashLong) ++ hot).toArray
    for (bits <- Seq(8, 16)) {
      val blob = BinaryFuseFilter.build(bits, keys.clone(), keys.length).serialize()
      assert(keys.forall(BinaryFuseFilter.probeBlob(bits, blob, _)), s"fuse$bits false negative")
    }
  }

  // --- Xor filters --------------------------------------------------------

  test("xor: duplicates tolerated") {
    val keys = Array.fill(1000)(DuckDbHash.hashLong(7L)) ++ (1L to 1000L).map(DuckDbHash.hashLong)
    for (bits <- Seq(8, 16)) {
      val blob = XorFilter.build(bits, keys.clone(), keys.length).serialize()
      assert(keys.forall(XorFilter.probeBlob(bits, blob, _)), s"xor$bits false negative")
    }
  }

  test("xor: no false negatives, FPR sanity, sizes match published figures") {
    val keys = (1L to 50000L).map(DuckDbHash.hashLong).toArray
    for ((bits, maxFpr, expSize) <- Seq((8, 0.01, 61546), (16, 0.001, 123076))) {
      val f = XorFilter.build(bits, keys.clone(), keys.length)
      assert(f.serializedBytes == expSize, s"xor$bits 50k size: ${f.serializedBytes}")
      val blob = f.serialize()
      assert(keys.forall(XorFilter.probeBlob(bits, blob, _)), s"xor$bits false negative")
      val probes = (1000001L to 1050000L).map(DuckDbHash.hashLong)
      val fpr = probes.count(XorFilter.probeBlob(bits, blob, _)).toDouble / probes.size
      assert(fpr < maxFpr, s"xor$bits FPR $fpr above bound $maxFpr")
    }
  }

  test("xor: 1M-key serialized sizes match published figures") {
    val keys = (1L to 1000000L).map(DuckDbHash.hashLong).toArray
    assert(XorFilter.build(8, keys.clone(), keys.length).serializedBytes == 1230046)
    assert(XorFilter.build(16, keys.clone(), keys.length).serializedBytes == 2460076)
  }

  // --- Golden blob pins (xor and fuse construction) -----------------------

  private def sha256(blob: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(blob).map("%02x".format(_)).mkString

  /** SHA-256 of the xor8, xor16, fuse8 and fuse16 blobs over `keys`. */
  private def blobDigests(keys: Array[Long]): Seq[String] = Seq(
    sha256(XorFilter.build(8, keys.clone(), keys.length).serialize()),
    sha256(XorFilter.build(16, keys.clone(), keys.length).serialize()),
    sha256(BinaryFuseFilter.build(8, keys.clone(), keys.length).serialize()),
    sha256(BinaryFuseFilter.build(16, keys.clone(), keys.length).serialize()))

  /** The pinned digests hold for `keys` as given, reversed and shuffled. */
  private def assertPinned(keys: Array[Long], expected: Seq[String]): Unit = {
    assert(blobDigests(keys) == expected)
    assert(blobDigests(keys.reverse) == expected, "reversed")
    assert(blobDigests(new scala.util.Random(5).shuffle(keys.toSeq).toArray) == expected, "shuffled")
  }

  test("golden blobs: 40k-row multiset, 1 row in 4 a repeat") {
    // row j repeats row (j / 4) * 2 when j % 4 == 3: 30000 distinct keys
    val keys = Array.tabulate(40000)(j =>
      DuckDbHash.hashLong(if (j % 4 == 3) (j / 4) * 2L else j.toLong))
    assertPinned(keys, Seq(
      "8fb846939970ed8b9d28e8498132f28fb791881d811e19bf2a1dffd4376d6928",
      "b61dc1776145fcca99e68a53f99a77ce372e21d25664d403991bf2992525484a",
      "3991d8875ff398bf376bf3ae2bf7ac2602b730723414d8644a153217b603fdf9",
      "ad4c9712de45363f5a4e6379f9e40f9a643fc2e7cc5f695a4b2385de0d71042b"))
  }

  test("golden blobs: 1000 copies of one key plus 1000 distinct keys") {
    val keys = Array.fill(1000)(DuckDbHash.hashLong(7L)) ++ (1L to 1000L).map(DuckDbHash.hashLong)
    // The reference fuse construction's duplicate check depends on key order:
    // it gives other fuse blobs over these keys as given than over them
    // sorted, reversed or shuffled. The fuse pins are its blobs over the keys
    // in unsigned order, which `build` now gives for every order.
    assertPinned(keys, Seq(
      "e1e1025d706431f8c618d5155b692cd041eb05a66885859fcb3c1b2f00286a7f",
      "27a5225aea49ea5f95bd2adb011910e6b318822f84825dac7358c1c30ab2858d",
      "61c9f8e2553cb1e887f643b4f47636bfe50db9489b964be12c9e0f7e2ebf0685",
      "287bd1933a5c05d91779eba01fe6a9f6522ca8a97864331a4c69ce0b30904adc"))
  }

  test("golden blobs: distinct keys whose first xor seed fails to peel (n = 143)") {
    // hash(1..143) is the smallest such prefix of hash(1..n): the xor blob
    // carries a seed other than the first one `build` draws
    val keys = (1L to 143L).map(DuckDbHash.hashLong).toArray
    val firstSeed = new Hashing.SplitMix64(1L).next()
    val xorSeed = java.nio.ByteBuffer.wrap(XorFilter.build(8, keys.clone(), keys.length).serialize())
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong(0)
    assert(xorSeed != firstSeed)
    assertPinned(keys, Seq(
      "852c032d55d2bc0a656802baa0f19859e221d65549b222f795e147acac7e1249",
      "b49587908bce669a2bb6c80f3a753e57906aaab535972b75273a40bb2e693ffa",
      "596da345f1d3b0df67cdd4b7d5844d1e246a289b9a5421d9583484c6843e7ffa",
      "0cfb5d8088bc4d211146c532dab325c720ee690cc3529c56916c5bc81d881887"))
  }

  // --- Golden blob pins (dense families) ----------------------------------

  test("golden blobs: classic bloom, hll, cms and quotient geometries over one seeded key set") {
    val rnd = new scala.util.Random(15)
    val keys = Array.fill(600)(rnd.nextLong())
    def quotient(q: Int, r: Int, n: Int): QuotientFilter = {
      val f = QuotientFilter.create(q, r)
      keys.take(n).foreach(f.insert)
      f
    }
    val classic = ClassicBloomFilter.create(keys.length, 0.01)
    keys.foreach(classic.insert)
    val hll = HllSketch.create(12)
    keys.foreach(hll.add)
    val cms = CountMinSketch.create(4, 10)
    keys.foreach(k => cms.add(k))
    val digests = Seq(
      "classic" -> classic.serialize(),
      "hll" -> hll.serialize(),
      "cms" -> cms.serialize(),
      // 9-bit slots straddle bytes
      "quotient(10,6)" -> quotient(10, 6, 500).serialize(),
      // 58-bit slots spill across 64-bit words
      "quotient(6,55)" -> quotient(6, 55, 40).serialize(),
      // 59-bit slots at an odd bit offset spill past an 8-byte window
      "quotient(6,56)" -> quotient(6, 56, 40).serialize(),
      // 64-bit slots in a full 4-slot table
      "quotient(2,61)" -> quotient(2, 61, 4).serialize(),
      // a merge that grows (8,4) into (10,6)
      "quotient(8,4)+(10,6)" -> quotient(8, 4, 100).merge(quotient(10, 6, 400)).serialize()
    ).map { case (name, blob) => name -> sha256(blob) }
    assert(digests == Seq(
      "classic" -> "39a25691cbfd3f4a1a115d01dd417acabc04683a96b6530cc6c9e50a3cfe2478",
      "hll" -> "7ea9343e5c5033e3c4541cac4f2dba457fd400149fc2495a887d0de79e78201b",
      "cms" -> "c0ed21311f9ef09a158e16076114d3091a22e55f532e1515cc855b6bc205db45",
      "quotient(10,6)" -> "4e925dfbb5fd6d9cbd4b05c4d66751554bdd64b49353f1132b0ea9fd3841614d",
      "quotient(6,55)" -> "2ded8b8a9ffc5e6e09fb6eafa436cb21410e2a1e7404c848c56f3b80a7a1b607",
      "quotient(6,56)" -> "aaca1abf18f82db69465d3524c95859e679930e58b3c150d9e1cad36995746ef",
      "quotient(2,61)" -> "10dfdde13c16a303a88a950972bea635bf0fe45698a20dc8abb2ee7c9d1d8903",
      "quotient(8,4)+(10,6)" -> "aa73b15aac0df83c4d6e3fdcf42a8a461800e8d7cab4e9b717e01a7b60c9bc65"))
  }

  // --- Error paths --------------------------------------------------------

  test("wrong-size blobs of every filter and sketch family raise the named size error, never an index error") {
    val keys = (1L to 200L).map(DuckDbHash.hashLong)
    val built = keys.toArray
    val quotient = QuotientFilter.create(10, 6); keys.foreach(quotient.insert)
    val bloom = DuckDbBloomFilter.create(64); keys.foreach(bloom.insert)
    val classic = ClassicBloomFilter.create(200, 0.01); keys.foreach(classic.insert)
    val hll = HllSketch.create(8); keys.foreach(hll.add)
    val cms = CountMinSketch.create(2, 6); keys.foreach(k => cms.add(k))
    val h = keys.head
    // (family, blob, header bytes, every reader of the blob)
    val dense: Seq[(String, Array[Byte], Int, Seq[Array[Byte] => Any])] = Seq(
      ("quotient filter", quotient.serialize(), 40,
        Seq(QuotientFilter.probeBlob(_, h), QuotientFilter.deserialize)),
      ("duckdb bloom filter", bloom.serialize(), 8,
        Seq(DuckDbBloomFilter.probeBlob(_, h), DuckDbBloomFilter.deserialize)),
      ("classic bloom filter", classic.serialize(), 8,
        Seq(ClassicBloomFilter.probeBlob(_, h), ClassicBloomFilter.deserialize)),
      ("hll sketch", hll.serialize(), 1, Seq(HllSketch.estimateBlob, HllSketch.deserialize)),
      ("cms sketch", cms.serialize(), 2,
        Seq(CountMinSketch.probeBlob(_, h), CountMinSketch.deserialize)))
    val families = dense ++ Seq(8, 16).flatMap(bits => Seq(
      (s"xor$bits filter", XorFilter.build(bits, built, built.length).serialize(), 16,
        Seq[Array[Byte] => Any](XorFilter.probeBlob(bits, _, h))),
      (s"binary fuse$bits filter", BinaryFuseFilter.build(bits, built, built.length).serialize(), 28,
        Seq[Array[Byte] => Any](BinaryFuseFilter.probeBlob(bits, _, h)))))
    for ((family, blob, header, readers) <- families) {
      readers.foreach(read => read(blob))
      val wrong = Seq(
        "header only" -> blob.take(header),
        "half" -> blob.take(header + (blob.length - header) / 2),
        "one byte short" -> blob.dropRight(1),
        "one byte extra" -> (blob :+ 0.toByte))
      for ((what, bad) <- wrong; read <- readers) {
        val e = intercept[IllegalArgumentException](read(bad))
        assert(e.getMessage == s"$family blob: expected ${blob.length} bytes, got ${bad.length} bytes",
          s"$family, $what")
      }
    }
  }

  test("error paths: malformed blobs and impossible builds raise IllegalArgumentException") {
    intercept[IllegalArgumentException](QuotientFilter.deserialize(Array[Byte](1, 2, 3)))
    intercept[IllegalArgumentException](DuckDbBloomFilter.deserialize(Array.fill[Byte](40)(7)))
    intercept[IllegalArgumentException](XorFilter.build(8, Array.empty[Long], 0))
    intercept[IllegalArgumentException](QuotientFilter.create(40, 30)) // q + r > 64
    // an hll blob of the right size whose register exceeds 64-p+1
    val hll = HllSketch.create(12).serialize()
    hll(1) = 100
    for (read <- Seq[Array[Byte] => Any](HllSketch.estimateBlob, HllSketch.deserialize)) {
      val e = intercept[IllegalArgumentException](read(hll))
      assert(e.getMessage == "hll sketch blob has invalid register 0=100")
    }
  }
}
