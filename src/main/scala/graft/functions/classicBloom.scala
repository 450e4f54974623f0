package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.types._

import graft.core.ClassicBloomFilter

/** SQL: `bloomfilter(capacity, fpr, value_or_blob)` — the reference's
  * written-but-disabled classic bloom family
  * (src/bitfilters_bloom_filter.cpp, disabled at CMakeLists.txt:18-19),
  * shipped here for surface completeness. Like the reference: capacity/fpr
  * are constants, a BINARY third argument switches to the OR-merge overload
  * (cpp:180-218), typed values are accepted directly (hashed internally, no
  * pre-hash step needed — the only family with that property, cpp:336-345).
  * Sparse buffers hold the 64-bit value hashes (the filter derives its
  * probe positions from that hash, so replay is lossless).
  */
case class ClassicBloomFilterAgg(
    capacityExpr: Expression,
    fprExpr: Expression,
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends DenseKeyBufferAgg[ClassicBloomFilter] {

  override def children: Seq[Expression] = Seq(capacityExpr, fprExpr, child)
  override def prettyName: String = "bloomfilter"

  private lazy val capacity: Long = AggUtil.foldableLong(capacityExpr, "Bloom filter capacity")
  private lazy val fpr: Double = capacityToDouble(fprExpr.eval(null))
  @transient private lazy val hasher: Any => Long =
    HashDispatch.hasherFor(child.dataType, "bloomfilter")

  private def capacityToDouble(v: Any): Double = v match {
    case null => throw new IllegalArgumentException("Bloom false positive rate cannot be NULL")
    case d: Double => d
    case f: Float => f.toDouble
    case d: java.math.BigDecimal => d.doubleValue()
    case d: org.apache.spark.sql.types.Decimal => d.toDouble
    case i: Int => i.toDouble
    case l: Long => l.toDouble
    case other => throw new IllegalArgumentException(s"Bloom false positive rate must be numeric, got $other")
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val f0 = AggUtil.checkFoldable(capacityExpr, "Bloom filter capacity")
    if (f0 != TypeCheckResult.TypeCheckSuccess) return f0
    val f1 = AggUtil.checkFoldable(fprExpr, "Bloom false positive rate")
    if (f1 != TypeCheckResult.TypeCheckSuccess) return f1
    if (child.dataType == BinaryType || HashDispatch.supported(child.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bloomfilter value must be a numeric/string/binary type or BINARY filter blob, got ${child.dataType.sql}")
  }

  /** Keys beyond this outgrow the dense bit array (8 B/key vs bits/8). */
  override protected lazy val denseThreshold: Long =
    math.max(1L, ClassicBloomFilter.capacityFor(capacity, fpr) / 64)

  override protected def keyOf(v: Any): Long = hasher(v)
  override protected def create(): ClassicBloomFilter = ClassicBloomFilter.create(capacity, fpr)
  override protected def insertAll(f: ClassicBloomFilter, keys: Array[Long], n: Int): Unit = {
    var i = 0
    while (i < n) { f.insert(keys(i)); i += 1 }
  }
  override protected def union(f: ClassicBloomFilter, o: ClassicBloomFilter): ClassicBloomFilter = {
    f.orMerge(o); f
  }
  override protected def encode(f: ClassicBloomFilter): Array[Byte] = f.serialize()
  override protected def decode(blob: Array[Byte]): ClassicBloomFilter = ClassicBloomFilter.deserialize(blob)

  override def withNewMutableAggBufferOffset(newOffset: Int): ClassicBloomFilterAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ClassicBloomFilterAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): ClassicBloomFilterAgg =
    copy(capacityExpr = newChildren(0), fprExpr = newChildren(1), child = newChildren(2))
}

/** SQL: `bloom_filter_contains(filter, value)` — typed-value probe for the
  * classic bloom family (reference cpp:246-294): the [[BlobProbe]] of the
  * filter by the value's DuckDB hash, the hash the aggregate inserts.
  */
case class ClassicBloomContains(left: Expression, right: Expression)
  extends BinaryExpression with RuntimeReplaceable {

  override def prettyName: String = "bloom_filter_contains"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(s"bloom_filter_contains filter argument must be BINARY, got ${left.dataType.sql}")
    else if (!HashDispatch.supported(right.dataType))
      TypeCheckResult.TypeCheckFailure(s"bloom_filter_contains: unsupported value type ${right.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess

  override lazy val replacement: Expression =
    BlobProbe(left, DuckDbHashExpr(Seq(Literal(filters.DefaultVersion), right)), ProbeFamily.ClassicBloom)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ClassicBloomContains =
    copy(left = l, right = r)
}
