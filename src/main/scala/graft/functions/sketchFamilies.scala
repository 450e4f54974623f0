package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, RuntimeReplaceable, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

import graft.core._

/** SQL surface for the cardinality/frequency/set sketches (core algorithms
  * in [[graft.core.HllSketch]] / [[graft.core.CountMinSketch]] /
  * [[graft.core.KmvSketch]]). Follows the reference's create-aggregate +
  * probe-scalar model (docs/README.md:5-9) including the quotient filter's
  * one-name-two-overloads convention: a BIGINT last argument inserts
  * hashes, a BINARY last argument union-merges existing sketch blobs
  * (src/bitfilters_quotient_filter.cpp:269-289).
  *
  * HLL and CMS buffer keys sparse-until-dense through
  * [[DenseKeyBufferAgg]]: a dense 8 MB CMS per partial buffer across 32
  * cores would cost 256 MB even for tiny groups. KMV state is already
  * bounded (≤ k entries) and needs no such staging.
  *
  * SQL: `hll_sketch(p, hash_or_blob)` — HyperLogLog register blob over
  * pre-hashed keys, or register-max merge of existing HLL blobs.
  */
case class HllSketchAgg(
    pExpr: Expression,
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends DenseKeyBufferAgg[HllSketch] {

  override def children: Seq[Expression] = Seq(pExpr, child)
  override def prettyName: String = "hll_sketch"

  private lazy val p: Int = {
    val v = AggUtil.foldableLong(pExpr, "hll_sketch p").toInt
    require(v >= HllSketch.MinP && v <= HllSketch.MaxP,
      s"hll_sketch p must be in [${HllSketch.MinP}, ${HllSketch.MaxP}], got $v")
    v
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val f = AggUtil.checkFoldable(pExpr, "hll_sketch p")
    if (f != TypeCheckResult.TypeCheckSuccess) return f
    if (!AggUtil.isIntegral(pExpr.dataType))
      return TypeCheckResult.TypeCheckFailure("hll_sketch p must be a constant integer")
    child.dataType match {
      case LongType | BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"hll_sketch second argument must be BIGINT (hashes) or BINARY (hll blobs), got ${other.sql}")
    }
  }

  // registers are 2^p bytes = 2^p/8 longs-worth; keys cost 8 B each
  override protected lazy val denseThreshold: Long = math.max(1, (1 << p) / 8)
  override protected def create(): HllSketch = HllSketch.create(p)
  override protected def insertAll(sk: HllSketch, keys: Array[Long], n: Int): Unit = {
    var i = 0
    while (i < n) { sk.add(keys(i)); i += 1 }
  }
  override protected def union(sk: HllSketch, o: HllSketch): HllSketch = { sk.mergeMax(o); sk }
  override protected def encode(sk: HllSketch): Array[Byte] = sk.serialize()
  override protected def decode(blob: Array[Byte]): HllSketch = HllSketch.deserialize(blob)

  override def withNewMutableAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): HllSketchAgg =
    copy(pExpr = newChildren(0), child = newChildren(1))
}

/** SQL: `cms_sketch(depth, log2_width, hash_or_blob)` — Count-Min frequency
  * sketch blob over pre-hashed keys, or counter-sum merge of existing blobs.
  */
case class CmsSketchAgg(
    depthExpr: Expression,
    log2wExpr: Expression,
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends DenseKeyBufferAgg[CountMinSketch] {

  override def children: Seq[Expression] = Seq(depthExpr, log2wExpr, child)
  override def prettyName: String = "cms_sketch"

  private lazy val depth: Int = AggUtil.foldableLong(depthExpr, "cms_sketch depth").toInt
  private lazy val log2w: Int = AggUtil.foldableLong(log2wExpr, "cms_sketch log2_width").toInt

  override def checkInputDataTypes(): TypeCheckResult = {
    for ((e, what) <- Seq(depthExpr -> "cms_sketch depth", log2wExpr -> "cms_sketch log2_width")) {
      val f = AggUtil.checkFoldable(e, what)
      if (f != TypeCheckResult.TypeCheckSuccess) return f
      if (!AggUtil.isIntegral(e.dataType))
        return TypeCheckResult.TypeCheckFailure(s"$what must be a constant integer")
    }
    child.dataType match {
      case LongType | BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"cms_sketch third argument must be BIGINT (hashes) or BINARY (cms blobs), got ${other.sql}")
    }
  }

  // one 8 B counter per cell, one 8 B key per row
  override protected lazy val denseThreshold: Long = math.max(1L, depth.toLong << log2w)
  override protected def create(): CountMinSketch = CountMinSketch.create(depth, log2w)
  override protected def insertAll(sk: CountMinSketch, keys: Array[Long], n: Int): Unit = {
    var i = 0
    while (i < n) { sk.add(keys(i)); i += 1 }
  }
  override protected def union(sk: CountMinSketch, o: CountMinSketch): CountMinSketch = {
    sk.addMerge(o); sk
  }
  override protected def encode(sk: CountMinSketch): Array[Byte] = sk.serialize()
  override protected def decode(blob: Array[Byte]): CountMinSketch = CountMinSketch.deserialize(blob)

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): CmsSketchAgg =
    copy(depthExpr = newChildren(0), log2wExpr = newChildren(1), child = newChildren(2))
}

/** Bounded bottom-k distinct state: a TreeSet in UNSIGNED hash order capped
  * at k entries — O(log k) per insert, ≤ 8k B regardless of group size.
  */
final class KmvBuf(val set: java.util.TreeSet[java.lang.Long]) {
  def this() = this(new java.util.TreeSet[java.lang.Long](
    (a: java.lang.Long, b: java.lang.Long) => java.lang.Long.compareUnsigned(a, b)))
  var touched: Boolean = false

  def add(v: Long, k: Int): Unit = {
    touched = true
    if (set.size < k) { set.add(v); () }
    else if (java.lang.Long.compareUnsigned(v, set.last()) < 0 && set.add(v)) {
      set.remove(set.last()); ()
    }
  }
}

/** SQL: `kmv_sketch(k, hash_or_blob)` — k-minimum-values distinct sketch
  * over pre-hashed keys, or bottom-k union of existing KMV blobs.
  */
case class KmvSketchAgg(
    kExpr: Expression,
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KmvBuf] {

  override def children: Seq[Expression] = Seq(kExpr, child)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "kmv_sketch"

  private lazy val k: Int = {
    val v = AggUtil.foldableLong(kExpr, "kmv_sketch k").toInt
    require(v >= 1 && v <= KmvSketch.MaxK, s"kmv_sketch k must be in [1, ${KmvSketch.MaxK}], got $v")
    v
  }
  private lazy val mergeMode: Boolean = child.dataType == BinaryType

  override def checkInputDataTypes(): TypeCheckResult = {
    val f = AggUtil.checkFoldable(kExpr, "kmv_sketch k")
    if (f != TypeCheckResult.TypeCheckSuccess) return f
    if (!AggUtil.isIntegral(kExpr.dataType))
      return TypeCheckResult.TypeCheckFailure("kmv_sketch k must be a constant integer")
    child.dataType match {
      case LongType | BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"kmv_sketch second argument must be BIGINT (hashes) or BINARY (kmv blobs), got ${other.sql}")
    }
  }

  override def createAggregationBuffer(): KmvBuf = new KmvBuf()

  override def update(buf: KmvBuf, input: InternalRow): KmvBuf = {
    val v = child.eval(input)
    if (v != null) {
      if (mergeMode) {
        val sk = KmvSketch.deserialize(v.asInstanceOf[Array[Byte]])
        buf.touched = true
        var i = 0
        while (i < sk.n) { buf.add(sk.values(i), k); i += 1 }
      } else buf.add(v.asInstanceOf[Long], k)
    }
    buf
  }

  override def merge(buf: KmvBuf, other: KmvBuf): KmvBuf = {
    if (other.touched) buf.touched = true
    val it = other.set.iterator()
    while (it.hasNext) buf.add(it.next(), k)
    buf
  }

  private def toSketch(buf: KmvBuf): KmvSketch = {
    val values = new Array[Long](buf.set.size)
    val it = buf.set.iterator()
    var i = 0
    while (it.hasNext) { values(i) = it.next(); i += 1 }
    new KmvSketch(k, values)
  }

  override def eval(buf: KmvBuf): Any =
    if (!buf.touched) null else toSketch(buf).serialize()

  // shuffle wire = the blob format itself (already minimal), plus the
  // touched flag so an all-NULL group still finalizes to NULL
  override def serialize(buf: KmvBuf): Array[Byte] =
    if (!buf.touched) Array.emptyByteArray else toSketch(buf).serialize()

  override def deserialize(bytes: Array[Byte]): KmvBuf =
    if (bytes.isEmpty) new KmvBuf()
    else {
      val sk = KmvSketch.deserialize(bytes)
      val buf = new KmvBuf()
      buf.touched = true
      var i = 0
      while (i < sk.n) { buf.add(sk.values(i), k); i += 1 }
      buf
    }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): KmvSketchAgg =
    copy(kExpr = newChildren(0), child = newChildren(1))
}

/** SQL: `hll_estimate(blob)` → DOUBLE distinct-count estimate. */
case class HllEstimate(child: Expression) extends UnaryExpression with RuntimeReplaceable {
  override def prettyName: String = "hll_estimate"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(s"hll_estimate argument must be BINARY, got ${child.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess
  override lazy val replacement: Expression =
    StaticInvoke(HllSketch.getClass, DoubleType, "estimateBlob", Seq(child), returnNullable = false)
  override protected def withNewChildInternal(c: Expression): HllEstimate = copy(child = c)
}

/** SQL: `hll_registers(blob)` → ARRAY<INT> — the raw registers, so plain
  * SQL can pin sketch CONTENT (zero counts, sums, position checksums) in
  * cross-engine gates rather than trusting a float estimate. Per-group
  * cardinality ⇒ interpreted eval is fine.
  */
case class HllRegisters(child: Expression) extends UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def prettyName: String = "hll_registers"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(s"hll_registers argument must be BINARY, got ${child.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess
  override def nullSafeEval(blob: Any): Any = {
    // the serialized state is [u8 p][u8 register × 2^p]
    val bytes = HllSketch.deserialize(blob.asInstanceOf[Array[Byte]]).serialize()
    new GenericArrayData(Array.tabulate(bytes.length - 1)(i => bytes(i + 1) & 0xff))
  }
  override protected def withNewChildInternal(c: Expression): HllRegisters = copy(child = c)
}

/** SQL: `kmv_estimate(blob)` → DOUBLE distinct-count estimate (exact when
  * fewer than k distinct hashes were seen).
  */
case class KmvEstimate(child: Expression) extends UnaryExpression with RuntimeReplaceable {
  override def prettyName: String = "kmv_estimate"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(s"kmv_estimate argument must be BINARY, got ${child.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess
  override lazy val replacement: Expression =
    StaticInvoke(KmvSketch.getClass, DoubleType, "estimateBlob", Seq(child), returnNullable = false)
  override protected def withNewChildInternal(c: Expression): KmvEstimate = copy(child = c)
}

/** SQL: `kmv_values(blob)` → ARRAY<BIGINT> — the stored bottom-k hashes
  * (ascending unsigned; raw signed-reinterpreted values), for SQL-side
  * composition and gate pinning. Per-group cardinality.
  */
case class KmvValues(child: Expression) extends UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def prettyName: String = "kmv_values"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(s"kmv_values argument must be BINARY, got ${child.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess
  override def nullSafeEval(blob: Any): Any =
    new GenericArrayData(KmvSketch.deserialize(blob.asInstanceOf[Array[Byte]]).values)
  override protected def withNewChildInternal(c: Expression): KmvValues = copy(child = c)
}

/** SQL: `kmv_intersect_count(a, b)` → BIGINT — |L ∩ A ∩ B| for L = bottom
  * min(ka,kb) of A ∪ B; divide by min(ka,kb) for the Jaccard estimate.
  * Exact integer ⇒ tolerance-free cross-engine gates. Per-group-pair
  * cardinality.
  */
case class KmvIntersectCount(left: Expression, right: Expression) extends BinaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def prettyName: String = "kmv_intersect_count"
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType || right.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"kmv_intersect_count arguments must be BINARY kmv blobs, got ${left.dataType.sql}, ${right.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess
  override def nullSafeEval(a: Any, b: Any): Any =
    KmvOps.intersectCount(
      KmvSketch.deserialize(a.asInstanceOf[Array[Byte]]),
      KmvSketch.deserialize(b.asInstanceOf[Array[Byte]]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): KmvIntersectCount =
    copy(left = l, right = r)
}

/** SQL: `cms_inner_product(a, b)` → BIGINT — the AMS/Count-Min equi-join
  * size estimate Σ_key fA(key)·fB(key) ≤ min over rows of Σ_cell a·b. The
  * cardinality-estimation primitive a 100 TB planner wants BEFORE running
  * a join: both sides sketch independently (one narrow pass each, KB-sized
  * mergeable state), the product is O(depth·width) on the driver-sized
  * blobs, and the bound never undercounts.
  */
case class CmsInnerProduct(left: Expression, right: Expression) extends BinaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def prettyName: String = "cms_inner_product"
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType || right.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"cms_inner_product arguments must be BINARY cms blobs, got ${left.dataType.sql}, ${right.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess
  override def nullSafeEval(a: Any, b: Any): Any =
    CountMinSketch.deserialize(a.asInstanceOf[Array[Byte]])
      .innerProduct(CountMinSketch.deserialize(b.asInstanceOf[Array[Byte]]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CmsInnerProduct =
    copy(left = l, right = r)
}

/** Dense-from-first-row histogram state: nbins longs is small by contract
  * (MaxBins 65536 = 512 KB worst case; typical use is a few hundred bins),
  * so no sparse staging is needed.
  */
final class HistBuf(var sketch: HistogramSketch) {
  def isEmpty: Boolean = sketch == null
}

/** SQL: `hist_sketch(nbins, lo, hi, x_or_blob)` — fixed-range equi-width
  * histogram over DOUBLE values, or vector-add merge of existing histogram
  * blobs (same overload-by-last-argument convention as the filter families).
  */
case class HistSketchAgg(
    nbinsExpr: Expression,
    loExpr: Expression,
    hiExpr: Expression,
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[HistBuf] {

  override def children: Seq[Expression] = Seq(nbinsExpr, loExpr, hiExpr, child)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "hist_sketch"

  private lazy val nbins: Int = AggUtil.foldableLong(nbinsExpr, "hist_sketch nbins").toInt
  private def foldableDouble(e: Expression, what: String): Double = e.eval(null) match {
    case null => throw new IllegalArgumentException(s"$what cannot be NULL")
    case d: Double => d
    case f: Float => f.toDouble
    case n: Number => n.doubleValue()
    case d: Decimal => d.toDouble
    case other => throw new IllegalArgumentException(s"$what must be a numeric constant, got $other")
  }
  private lazy val lo: Double = foldableDouble(loExpr, "hist_sketch lo")
  private lazy val hi: Double = foldableDouble(hiExpr, "hist_sketch hi")
  private lazy val mergeMode: Boolean = child.dataType == BinaryType

  override def checkInputDataTypes(): TypeCheckResult = {
    for ((e, what) <- Seq(nbinsExpr -> "hist_sketch nbins", loExpr -> "hist_sketch lo",
        hiExpr -> "hist_sketch hi")) {
      val f = AggUtil.checkFoldable(e, what)
      if (f != TypeCheckResult.TypeCheckSuccess) return f
    }
    if (!AggUtil.isIntegral(nbinsExpr.dataType))
      return TypeCheckResult.TypeCheckFailure("hist_sketch nbins must be a constant integer")
    child.dataType match {
      case DoubleType | FloatType | LongType | IntegerType | ShortType | ByteType | BinaryType =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"hist_sketch fourth argument must be numeric (values) or BINARY (hist blobs), got ${other.sql}")
    }
  }

  override def createAggregationBuffer(): HistBuf = new HistBuf(null)

  private def toDouble(v: Any): Double = v match {
    case d: Double => d
    case f: Float => f.toDouble
    case n: Number => n.doubleValue()
    case other => throw new IllegalStateException(s"unexpected histogram input $other")
  }

  override def update(buf: HistBuf, input: InternalRow): HistBuf = {
    val v = child.eval(input)
    if (v != null) {
      if (buf.sketch == null) buf.sketch = HistogramSketch.create(nbins, lo, hi)
      if (mergeMode)
        buf.sketch.addMerge(HistogramSketch.deserialize(v.asInstanceOf[Array[Byte]]))
      else buf.sketch.add(toDouble(v))
    }
    buf
  }

  override def merge(buf: HistBuf, other: HistBuf): HistBuf = {
    if (other.sketch != null) {
      if (buf.sketch == null) buf.sketch = HistogramSketch.create(nbins, lo, hi)
      buf.sketch.addMerge(other.sketch)
    }
    buf
  }

  override def eval(buf: HistBuf): Any =
    if (buf.sketch == null) null else buf.sketch.serialize()

  // shuffle wire = the blob format itself
  override def serialize(buf: HistBuf): Array[Byte] =
    if (buf.sketch == null) Array.emptyByteArray else buf.sketch.serialize()

  override def deserialize(bytes: Array[Byte]): HistBuf =
    if (bytes.isEmpty) new HistBuf(null)
    else new HistBuf(HistogramSketch.deserialize(bytes))

  override def withNewMutableAggBufferOffset(newOffset: Int): HistSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HistSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): HistSketchAgg =
    copy(nbinsExpr = newChildren(0), loExpr = newChildren(1), hiExpr = newChildren(2),
      child = newChildren(3))
}

/** SQL: `hist_counts(blob)` → ARRAY<BIGINT> of length nbins+2:
  * `[below, bin_0 .. bin_{n-1}, above]` — the raw state, so cross-engine
  * gates pin CONTENT (exact per-bin counts), not just interpolated
  * estimates. Per-group cardinality ⇒ interpreted eval is fine.
  */
case class HistCounts(child: Expression) extends UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def prettyName: String = "hist_counts"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(s"hist_counts requires a BINARY histogram blob, got ${child.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(input: Any): Any = {
    val sk = HistogramSketch.deserialize(input.asInstanceOf[Array[Byte]])
    val out = new Array[Long](sk.nbins + 2)
    out(0) = sk.below
    System.arraycopy(sk.counts, 0, out, 1, sk.nbins)
    out(sk.nbins + 1) = sk.above
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): HistCounts =
    copy(child = newChild)
}

/** SQL: `hist_quantile(blob, q)` → DOUBLE interpolated quantile over the
  * in-range values (NULL when the histogram holds none or q is out of
  * [0, 1]). Per-group cardinality ⇒ interpreted eval is fine.
  */
case class HistQuantile(left: Expression, right: Expression) extends BinaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def prettyName: String = "hist_quantile"
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(s"hist_quantile requires a BINARY histogram blob, got ${left.dataType.sql}")
    else if (right.dataType != DoubleType && right.dataType != FloatType &&
      !right.dataType.isInstanceOf[DecimalType] && !AggUtil.isIntegral(right.dataType))
      TypeCheckResult.TypeCheckFailure(s"hist_quantile q must be numeric, got ${right.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess

  override def nullable: Boolean = true

  override def nullSafeEval(blob: Any, qv: Any): Any = {
    val q = qv match {
      case d: Decimal => d.toDouble
      case n: Number => n.doubleValue()
      case other => throw new IllegalStateException(s"unexpected quantile argument $other")
    }
    val est = HistogramSketch.deserialize(blob.asInstanceOf[Array[Byte]]).quantile(q)
    if (java.lang.Double.isNaN(est)) null else est
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): HistQuantile =
    copy(left = newLeft, right = newRight)
}
