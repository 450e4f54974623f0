package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.operators.Telemetry

class InvertedIndexSpec extends AnyFunSuite with SparkSpec {

  test("two capped builds in one query each report their own dropped tokens") {
    val s = spark
    import s.implicits._
    // "the" is in 3 docs (over cap 2); every other token is in one
    val a = Seq((1L, "the cat"), (2L, "the dog"), (3L, "the end")).toDF("id", "text")
    // "x" and "y" are in 2 docs each (over cap 1)
    val b = Seq((4L, "x y"), (5L, "x y z")).toDF("id", "text")
    val both = InvertedIndex.build(a, "text", "id", maxDf = 2)
      .union(InvertedIndex.build(b, "text", "id", maxDf = 1))
    val Seq(runA, runB) = Telemetry.runs("graft_inverted_index").takeRight(2)
    val tokens = both.collect().map(r => r.getAs[String]("token")).sorted.toSeq
    assert(tokens == Seq("cat", "dog", "end", "z"))
    assert((runA.dropped.value, runA.max.value) == ((1L, 3L)))
    assert((runB.dropped.value, runB.max.value) == ((2L, 2L)))
  }
}
