package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests per SURVEY par.5: no false negatives, serialization
  * roundtrips, merge-is-union, and partition-split invariance (the property
  * Spark's partial aggregation relies on).
  */
class PropertySpec extends AnyFunSuite {

  /** Deterministic sampling loop standing in for the scalatestplus bridge
    * (not on the offline classpath): 40 seeded samples per property.
    */
  private def forAllSeeded[A](gen: Gen[A], n: Int = 40)(body: A => Unit): Unit = {
    val params = Gen.Parameters.default
    (1 to n).foreach { i =>
      gen.apply(params, Seed(i.toLong)).foreach(body)
    }
  }

  private val keySets: Gen[List[Long]] =
    Gen.chooseNum(1, 400).flatMap(n => Gen.listOfN(n, Gen.long)).map(_.distinct)

  /** Multisets: n draws from a pool of at most n/2 + 1 values, so most keys
    * repeat; paired with a seed for shuffling them.
    */
  private val keyMultisets: Gen[(List[Long], Long)] = for {
    n <- Gen.chooseNum(1, 400)
    poolSize <- Gen.chooseNum(1, n / 2 + 1)
    pool <- Gen.listOfN(poolSize, Gen.long)
    keys <- Gen.listOfN(n, Gen.oneOf(pool))
    shuffleSeed <- Gen.long
  } yield (keys, shuffleSeed)

  test("xor/fuse over multisets: shuffle-invariant blobs, no false negatives, sized on n with repeats") {
    forAllSeeded(keyMultisets) { case (keys, shuffleSeed) =>
      val arr = keys.toArray
      val shuffled = new scala.util.Random(shuffleSeed).shuffle(keys).toArray
      val n = arr.length
      for (bits <- Seq(8, 16)) {
        val xf = XorFilter.build(bits, arr.clone(), n).serialize()
        assert(XorFilter.build(bits, shuffled.clone(), n).serialize().sameElements(xf))
        assert(keys.forall(XorFilter.probeBlob(bits, xf, _)))
        val blockLength = ((32 + 1.23 * n).toLong / 3 * 3).toInt / 3
        assert(xf.length == 16 + (bits / 8) * 3 * blockLength)

        val ff = BinaryFuseFilter.build(bits, arr.clone(), n).serialize()
        assert(BinaryFuseFilter.build(bits, shuffled.clone(), n).serialize().sameElements(ff))
        assert(keys.forall(BinaryFuseFilter.probeBlob(bits, ff, _)))
        val arrayLength = BinaryFuseFilter.layoutFor(n).arrayLength
        assert(ff.length == 28 + (bits / 8) * arrayLength + (if (bits == 16) 4 else 0))
      }
    }
  }

  test("sortUnsigned and distinctSorted match a boxed unsigned sort and distinct") {
    val value = Gen.frequency(
      3 -> Gen.long,
      1 -> Gen.chooseNum(0L, 1000L), // most bytes shared: skipped radix passes
      1 -> Gen.oneOf(0L, 1L, -1L, Long.MinValue, Long.MaxValue, 0xff00L))
    forAllSeeded(Gen.chooseNum(0, 300).flatMap(n => Gen.listOfN(n, value))) { xs =>
      val arr = xs.toArray
      val want = arr.sorted(Ordering.fromLessThan[Long](java.lang.Long.compareUnsigned(_, _) < 0))
      val got = Hashing.sortUnsigned(arr :+ 42L, arr.length) // entries past n are not keys
      assert(got.sameElements(want))
      assert(Hashing.distinctSorted(got).sameElements(want.distinct))
    }
  }

  test("no false negatives after serialize/deserialize, all families") {
    forAllSeeded(keySets) { keys0 =>
      if (keys0.nonEmpty) {
        val keys = keys0.map(DuckDbHash.hashLong)
        val arr = keys.toArray

        val bloom = DuckDbBloomFilter.create(256)
        keys.foreach(bloom.insert)
        val bloomBlob = bloom.serialize()
        assert(keys.forall(DuckDbBloomFilter.probeBlob(bloomBlob, _)))

        val qf = QuotientFilter.create(12, 8)
        keys.foreach(qf.insert)
        val qfBlob = qf.serialize()
        assert(keys.forall(QuotientFilter.probeBlob(qfBlob, _)))

        val cb = ClassicBloomFilter.create(1000, 0.01)
        keys.foreach(cb.insert)
        val cbBlob = cb.serialize()
        assert(keys.forall(ClassicBloomFilter.probeBlob(cbBlob, _)))

        for (bits <- Seq(8, 16)) {
          val xf = XorFilter.build(bits, arr.clone(), arr.length).serialize()
          assert(keys.forall(XorFilter.probeBlob(bits, xf, _)))
          val ff = BinaryFuseFilter.build(bits, arr.clone(), arr.length).serialize()
          assert(keys.forall(BinaryFuseFilter.probeBlob(bits, ff, _)))
        }
      }
    }
  }

  test("quotient merge is a union (superset of both inputs)") {
    forAllSeeded(Gen.zip(keySets, keySets)) { case (a0, b0) =>
      if (a0.nonEmpty && b0.nonEmpty) {
        val a = a0.map(DuckDbHash.hashLong)
        val b = b0.map(DuckDbHash.hashLong)
        val qa = QuotientFilter.create(12, 8); a.foreach(qa.insert)
        val qb = QuotientFilter.create(12, 8); b.foreach(qb.insert)
        val m = qa.merge(qb)
        assert((a ++ b).forall(m.mayContain))
      }
    }
  }

  test("partition-split invariance: any split + merge equals bulk build (deterministic families)") {
    forAllSeeded(Gen.zip(keySets, Gen.chooseNum(1, 7))) { case (keys0, splitSeed) =>
      if (keys0.size >= 2) {
        val keys = keys0.map(DuckDbHash.hashLong)
        // simulate Spark's partial aggregation: arbitrary split + arbitrary order
        val parts = keys.zipWithIndex.groupMap(_._2 % splitSeed)(_._1).values.toList

        // duckdb bloom: OR-merge of per-part filters == bulk filter, byte-equal
        val bulk = DuckDbBloomFilter.create(128); keys.foreach(bulk.insert)
        val merged = DuckDbBloomFilter.create(128)
        parts.foreach { p => val f = DuckDbBloomFilter.create(128); p.foreach(f.insert); merged.orMerge(f) }
        assert(merged.serialize().sameElements(bulk.serialize()))

        // xor/fuse: key-buffer concat in any part order -> identical blob to
        // any other concat order (construction is key-set-deterministic)
        for (bits <- Seq(8, 16)) {
          val o1 = parts.flatten.toArray
          val o2 = parts.reverse.flatten.toArray
          assert(BinaryFuseFilter.build(bits, o1.clone(), o1.length).serialize()
            .sameElements(BinaryFuseFilter.build(bits, o2, o2.length).serialize()))
          assert(XorFilter.build(bits, o1.clone(), o1.length).serialize()
            .sameElements(XorFilter.build(bits, o1.reverse, o1.length).serialize()))
        }
      }
    }
  }

  test("hash combine is left-fold (not associative by design) and stable") {
    forAllSeeded(Gen.zip(Gen.long, Gen.long, Gen.long)) { case (a, b, c) =>
      val ab = DuckDbHash.combine(DuckDbHash.hashLong(a), DuckDbHash.hashLong(b))
      val abc = DuckDbHash.combine(ab, DuckDbHash.hashLong(c))
      assert(abc == DuckDbHash.combine(
        DuckDbHash.combine(DuckDbHash.hashLong(a), DuckDbHash.hashLong(b)), DuckDbHash.hashLong(c)))
    }
  }
}
