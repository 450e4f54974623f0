package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Cross-implementation blob round-trip: blobs built THROUGH THE SQL
  * FUNCTIONS are probed by an independent pure-Python reimplementation of
  * each wire format (`tools/probe_blobs.py`), and a Python-built bloom blob
  * is byte-compared and probed back on the JVM side.
  *
  * This is the strongest interop evidence available in this container: the
  * reference DuckDB extension itself cannot be compiled here (its `duckdb/`
  * submodule is empty and there is no cmake/network), so instead of a live
  * extension round-trip we verify the documented wire formats with a second,
  * independently-written implementation in a different language — any
  * byte-layout or probe-semantics divergence fails this spec. Golden
  * FP-count gates (CORRECTNESS q_quotient_golden / q_fuse_golden) tie the
  * same formats to reference-recorded values.
  */
class BlobInteropSpec extends AnyFunSuite with SparkSpec {

  private def writeLongsLE(path: java.nio.file.Path, xs: Array[Long]): Unit = {
    val bb = ByteBuffer.allocate(xs.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    xs.foreach(bb.putLong)
    Files.write(path, bb.array())
  }

  test("SQL-built blobs probe correctly from an independent Python implementation") {
    val dir = Files.createTempDirectory("graft-interop")
    val blobs = spark.sql("""
      SELECT quotient_filter(16, 8, h) AS quotient,
             xor8_filter(h) AS xor8, xor16_filter(h) AS xor16,
             binary_fuse8_filter(h) AS fuse8, binary_fuse16_filter(h) AS fuse16,
             bitfilters_duckdb_bloom_filter_create('v1.5.1', 16384, h) AS bloom
      FROM (SELECT bitfilters_duckdb_hash('v1.5.1', id) AS h FROM range(1, 20001))
      """).head()
    Seq("quotient", "xor8", "xor16", "fuse8", "fuse16", "bloom").zipWithIndex.foreach {
      case (fam, i) => Files.write(dir.resolve(s"$fam.blob"), blobs.getAs[Array[Byte]](i))
    }
    def hashes(lo: Long, hi: Long): Array[Long] = spark.sql(
      s"SELECT bitfilters_duckdb_hash('v1.5.1', id) FROM range($lo, $hi)")
      .collect().map(_.getLong(0))
    writeLongsLE(dir.resolve("members.hashes"), hashes(1, 20001))
    writeLongsLE(dir.resolve("nonmembers.hashes"), hashes(1000001, 1020001))

    val script = new java.io.File("tools/probe_blobs.py").getAbsolutePath
    val out = new StringBuilder
    val code = Process(Seq("python3", script, dir.toString))
      .!(ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n')))
    info(out.toString)
    assert(code == 0, s"python prober failed:\n$out")
    // every family is rebuilt INDEPENDENTLY in Python from the member hashes
    // and must byte-equal the Spark-built blob (all six constructions are
    // order-insensitive for a key set)
    val families = Seq("bloom", "xor8", "xor16", "fuse8", "fuse16", "quotient")
    families.foreach { fam =>
      assert(out.toString.contains(s"$fam-rebuild: byte_equal=True"),
        s"$fam independent rebuild did not byte-match the Spark blob")
    }

    // reverse direction on the JVM side too: the Python-BUILT blobs are
    // byte-identical and probe all members through our core implementations
    val members = hashes(1, 20001)
    families.foreach { fam =>
      val py = Files.readAllBytes(dir.resolve(s"py$fam.blob"))
      val sp = Files.readAllBytes(dir.resolve(s"$fam.blob"))
      assert(java.util.Arrays.equals(py, sp), s"$fam blob bytes differ")
    }
    val pyBloom = Files.readAllBytes(dir.resolve("pybloom.blob"))
    assert(members.forall(graft.core.DuckDbBloomFilter.probeBlob(pyBloom, _)))
    val pyQuotient = Files.readAllBytes(dir.resolve("pyquotient.blob"))
    assert(members.forall(graft.core.QuotientFilter.probeBlob(pyQuotient, _)))
    // both sides refuse a blob one byte short, with the same message
    for ((fam, probe) <- Seq[(String, (Array[Byte], Long) => Boolean)](
        "quotient" -> graft.core.QuotientFilter.probeBlob,
        "bloom" -> graft.core.DuckDbBloomFilter.probeBlob,
        "xor8" -> (graft.core.XorFilter.probeBlob(8, _, _)),
        "xor16" -> (graft.core.XorFilter.probeBlob(16, _, _)),
        "fuse8" -> (graft.core.BinaryFuseFilter.probeBlob(8, _, _)),
        "fuse16" -> (graft.core.BinaryFuseFilter.probeBlob(16, _, _)))) {
      val short = Files.readAllBytes(dir.resolve(s"$fam.blob")).dropRight(1)
      val e = intercept[IllegalArgumentException](probe(short, members.head))
      assert(out.toString.contains(s"$fam-short: rejected=True"), s"python $fam reader took a short blob")
      assert(out.toString.contains(s"$fam-short: ${e.getMessage}"), e.getMessage)
    }
    val pyFuse8 = Files.readAllBytes(dir.resolve("pyfuse8.blob"))
    assert(members.forall(graft.core.BinaryFuseFilter.probeBlob(8, pyFuse8, _)))
    val pyXor8 = Files.readAllBytes(dir.resolve("pyxor8.blob"))
    assert(members.forall(graft.core.XorFilter.probeBlob(8, pyXor8, _)))
  }
}
