package graft.functions

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core._

/** The one partial-aggregation buffer of every hash-keyed filter and
  * sketch family: a growable unboxed list of 64-bit keys and, once the
  * family has densified (see [[DenseKeyBufferAgg]]), its dense structure.
  */
final class KeyBuffer(var keys: Array[Long], var n: Int) {
  /** The family's dense structure; null while the buffer is sparse. */
  var dense: AnyRef = null

  def this() = this(KeyBuffer.NoKeys, 0)

  def isEmpty: Boolean = dense == null && n == 0

  def add(v: Long): Unit = {
    if (n == keys.length) grow(n + 1L)
    keys(n) = v
    n += 1
  }

  def addAll(src: Array[Long], m: Int): Unit = {
    if (n + m > keys.length) grow(n.toLong + m)
    System.arraycopy(src, 0, keys, n, m)
    n += m
  }

  private def grow(min: Long): Unit = {
    if (min > KeyBuffer.MaxKeys) throw new IllegalStateException(
      "filter aggregate key buffer exceeds 2^31 keys per group; split the group")
    val target = math.min(math.max(math.max(keys.length * 2L, 16L), min), KeyBuffer.MaxKeys)
    keys = java.util.Arrays.copyOf(keys, target.toInt)
  }

  /** Drop the keys; a list longer than one staging batch is released. */
  def clear(): Unit = {
    n = 0
    if (keys.length > KeyBuffer.Batch) keys = KeyBuffer.NoKeys
  }

  /** `prefix` zero bytes, then the keys as little-endian u64s. */
  def toBytes(prefix: Int): Array[Byte] = {
    val out = new Array[Byte](prefix + 8 * n)
    ByteBuffer.wrap(out, prefix, 8 * n).order(ByteOrder.LITTLE_ENDIAN).asLongBuffer().put(keys, 0, n)
    out
  }
}

object KeyBuffer {
  private val NoKeys = new Array[Long](0)
  private val MaxKeys = Int.MaxValue - 8L

  /** Keys a dense buffer stages before one family `insertAll` call. */
  val Batch = 256

  def fromBytes(bytes: Array[Byte], offset: Int): KeyBuffer = {
    val n = (bytes.length - offset) / 8
    val keys = new Array[Long](n)
    ByteBuffer.wrap(bytes, offset, 8 * n).order(ByteOrder.LITTLE_ENDIAN).asLongBuffer().get(keys, 0, n)
    new KeyBuffer(keys, n)
  }
}

private[graft] object AggUtil {
  /** Evaluate a required-foldable constructor argument. */
  def foldableLong(e: Expression, what: String): Long = e.eval(null) match {
    case null => throw new IllegalArgumentException(s"$what cannot be NULL")
    case i: Int => i.toLong
    case l: Long => l
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case other => throw new IllegalArgumentException(s"$what must be an integer constant, got $other")
  }

  /** Evaluate a required-foldable boolean constructor argument. */
  def foldableBoolean(e: Expression, what: String): Boolean = e.eval(null) match {
    case null => throw new IllegalArgumentException(s"$what cannot be NULL")
    case b: Boolean => b
    case other => throw new IllegalArgumentException(s"$what must be a boolean constant, got $other")
  }

  def foldableString(e: Expression, what: String): String = e.eval(null) match {
    case null => throw new IllegalArgumentException(s"$what cannot be NULL")
    case s: UTF8String => s.toString
    case s: String => s
    case other => throw new IllegalArgumentException(s"$what must be a string constant, got $other")
  }

  def checkFoldable(e: Expression, what: String): TypeCheckResult =
    if (!e.foldable) TypeCheckResult.TypeCheckFailure(s"$what must be a foldable constant expression")
    else TypeCheckResult.TypeCheckSuccess

  def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  def checkHashInput(prettyName: String, child: Expression): TypeCheckResult =
    if (child.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a BIGINT hash argument, got ${child.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess
}

/** Base of every aggregate that buffers 64-bit keys and finalizes to a
  * blob. This level alone is the xor/fuse families: construction happens
  * only at finalize, so the partial state is the raw keys and the shuffle
  * wire is the bare little-endian key list (reference buffers identically:
  * src/bitfilters_xor_filter.cpp:127-132).
  */
abstract class KeyBufferAgg extends TypedImperativeAggregate[KeyBuffer] {
  def child: Expression

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def createAggregationBuffer(): KeyBuffer = new KeyBuffer()

  /** The 64-bit key of a non-NULL input value. */
  protected def keyOf(v: Any): Long = v.asInstanceOf[Long]

  protected def add(buf: KeyBuffer, v: Any): Unit = buf.add(keyOf(v))

  override def update(buf: KeyBuffer, input: InternalRow): KeyBuffer = {
    val v = child.eval(input)
    if (v != null) add(buf, v) // aggregates ignore NULL inputs
    buf
  }

  override def merge(buf: KeyBuffer, other: KeyBuffer): KeyBuffer = {
    buf.addAll(other.keys, other.n); buf
  }

  override def serialize(buf: KeyBuffer): Array[Byte] = buf.toBytes(0)
  override def deserialize(bytes: Array[Byte]): KeyBuffer = KeyBuffer.fromBytes(bytes, 0)
}

/** SPARSE-UNTIL-DENSE key buffering, shared by every family whose dense
  * state is a fixed-size structure (quotient, DuckDB bloom, classic bloom,
  * hll, cms). Rationale: dense state is allocated per partial-aggregation
  * buffer — i.e. PER CORE — so at 2^26 bloom sectors every core holds
  * 512 MB during the partial phase (16 GB on a 32-core executor, an OOM
  * observed in the 50M-key smoke, graft.tools.BigGroupSmoke). Buffers
  * therefore start as the raw key list (8 B per inserted key — also far
  * smaller on the shuffle wire for small groups) and DENSIFY once the list
  * reaches `denseThreshold`, capping partial memory at min(8*keys, dense
  * size) + O(1). A dense buffer keeps appending keys and inserts them in
  * batches of at most [[KeyBuffer.Batch]]. Insertion order never affects
  * the final bits (set union / OR / max / sum), so results are
  * byte-identical on every path.
  *
  * A BINARY input selects the family's merge overload: each row is a blob,
  * unioned into the dense state.
  */
abstract class DenseKeyBufferAgg[D <: AnyRef] extends KeyBufferAgg {
  /** Key count at which the raw list outgrows the dense structure. */
  protected def denseThreshold: Long
  protected def create(): D
  /** Insert `keys(0 until n)`; the per-key loop stays in the family. */
  protected def insertAll(d: D, keys: Array[Long], n: Int): Unit
  /** Union `other` into `d`; returns the result. */
  protected def union(d: D, other: D): D
  protected def encode(d: D): Array[Byte]
  protected def decode(blob: Array[Byte]): D
  /** A dense buffer on the partial-aggregation wire: any first byte but 0
    * (the raw-key mode). By default mode 1, then the blob.
    */
  protected def encodePartial(d: D): Array[Byte] = {
    val blob = encode(d)
    val out = new Array[Byte](1 + blob.length)
    out(0) = 1.toByte
    System.arraycopy(blob, 0, out, 1, blob.length)
    out
  }
  protected def decodePartial(bytes: Array[Byte]): D =
    decode(java.util.Arrays.copyOfRange(bytes, 1, bytes.length))

  /** BINARY input: the family's merge overload. */
  protected lazy val mergeMode: Boolean = child.dataType == BinaryType
  private lazy val stageLimit: Long = math.min(denseThreshold, KeyBuffer.Batch.toLong)

  /** Insert the pending keys into the dense state, creating it if the buffer is sparse. */
  private def densify(buf: KeyBuffer): D = {
    if (buf.dense == null) buf.dense = create()
    val d = buf.dense.asInstanceOf[D]
    insertAll(d, buf.keys, buf.n)
    buf.clear()
    d
  }

  override protected final def add(buf: KeyBuffer, v: Any): Unit =
    if (mergeMode) buf.dense = union(densify(buf), decode(v.asInstanceOf[Array[Byte]]))
    else {
      buf.add(keyOf(v))
      if (buf.n >= (if (buf.dense == null) denseThreshold else stageLimit)) densify(buf)
    }

  override final def merge(buf: KeyBuffer, other: KeyBuffer): KeyBuffer = {
    if (other.dense != null) {
      // a merge into an empty buffer takes over the other side's dense state
      buf.dense = if (buf.isEmpty) densify(other) else union(densify(buf), densify(other))
    } else if (buf.dense != null) insertAll(buf.dense.asInstanceOf[D], other.keys, other.n)
    else {
      buf.addAll(other.keys, other.n)
      if (buf.n >= denseThreshold) densify(buf)
    }
    buf
  }

  override final def eval(buf: KeyBuffer): Any =
    if (buf.isEmpty) null // empty group finalizes to NULL, like every family
    else encode(densify(buf))

  // shuffle wire: [mode:1][mode=0: raw keys ×8 | otherwise: dense form]
  override final def serialize(buf: KeyBuffer): Array[Byte] =
    if (buf.isEmpty) Array.emptyByteArray
    else if (buf.dense == null) buf.toBytes(1)
    else encodePartial(densify(buf))

  override final def deserialize(bytes: Array[Byte]): KeyBuffer =
    if (bytes.isEmpty) new KeyBuffer()
    else if (bytes(0) == 0) {
      val buf = KeyBuffer.fromBytes(bytes, 1)
      if (buf.n >= denseThreshold) densify(buf)
      buf
    } else {
      val buf = new KeyBuffer()
      buf.dense = decodePartial(bytes)
      buf
    }
}

/** SQL: `xor8_filter(hash)` / `xor16_filter(hash)` — aggregates pre-hashed
  * u64 keys into a serialized xor filter BLOB.
  * Reference: src/bitfilters_xor_filter.cpp:104-183,263-289.
  */
case class XorFilterAgg(
    child: Expression,
    bits: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends KeyBufferAgg {

  override def children: Seq[Expression] = child :: Nil
  override def checkInputDataTypes(): TypeCheckResult = AggUtil.checkHashInput(prettyName, child)
  override def prettyName: String = s"xor${bits}_filter"

  override def eval(buf: KeyBuffer): Any =
    if (buf.n == 0) null // empty group finalizes to NULL
    else XorFilter.build(bits, java.util.Arrays.copyOf(buf.keys, buf.n), buf.n).serialize()

  override def withNewMutableAggBufferOffset(newOffset: Int): XorFilterAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): XorFilterAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): XorFilterAgg =
    copy(child = newChildren.head)
}

/** SQL: `binary_fuse8_filter(hash)` / `binary_fuse16_filter(hash)`.
  * Reference: src/bitfilters_binary_fuse_filter.cpp:104-184,265-291.
  */
case class BinaryFuseFilterAgg(
    child: Expression,
    bits: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends KeyBufferAgg {

  override def children: Seq[Expression] = child :: Nil
  override def checkInputDataTypes(): TypeCheckResult = AggUtil.checkHashInput(prettyName, child)
  override def prettyName: String = s"binary_fuse${bits}_filter"

  override def eval(buf: KeyBuffer): Any =
    if (buf.n == 0) null
    else BinaryFuseFilter.build(bits, java.util.Arrays.copyOf(buf.keys, buf.n), buf.n).serialize()

  override def withNewMutableAggBufferOffset(newOffset: Int): BinaryFuseFilterAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BinaryFuseFilterAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): BinaryFuseFilterAgg =
    copy(child = newChildren.head)
}

/** SQL: `quotient_filter(q, r, hash_or_blob[, strict])` — like the
  * reference, a single name with two overloads resolved by the third
  * argument's type (src/bitfilters_quotient_filter.cpp:269-289): LongType
  * input inserts hashes; BinaryType input union-merges existing filter
  * blobs. `strict` (default false = reference parity) makes a merge that
  * overflows the destination table RAISE instead of silently dropping
  * keys (the reference ignores insert() failures during merge,
  * quotient_filter.cpp:399,403). Sparse buffers hold raw keys: insert
  * only uses the low q+r bits, so raw keys replay losslessly (a dense 2^q
  * table per partial buffer is per-core memory: q=28, r=8 is ~370 MB).
  */
case class QuotientFilterAgg(
    qExpr: Expression,
    rExpr: Expression,
    child: Expression,
    strict: Boolean = false,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends DenseKeyBufferAgg[QuotientFilter] {

  override def children: Seq[Expression] = Seq(qExpr, rExpr, child)
  override def prettyName: String = "quotient_filter"

  private lazy val q: Int = AggUtil.foldableLong(qExpr, "quotient_filter q").toInt
  private lazy val r: Int = AggUtil.foldableLong(rExpr, "quotient_filter r").toInt

  override def checkInputDataTypes(): TypeCheckResult = {
    val f1 = AggUtil.checkFoldable(qExpr, "quotient_filter q")
    if (f1 != TypeCheckResult.TypeCheckSuccess) return f1
    val f2 = AggUtil.checkFoldable(rExpr, "quotient_filter r")
    if (f2 != TypeCheckResult.TypeCheckSuccess) return f2
    if (!AggUtil.isIntegral(qExpr.dataType) || !AggUtil.isIntegral(rExpr.dataType))
      return TypeCheckResult.TypeCheckFailure("quotient_filter q and r must be integers")
    child.dataType match {
      case LongType | BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"quotient_filter third argument must be BIGINT (hashes) or BINARY (filter blobs), got ${other.sql}")
    }
  }

  /** Key list longer than this outgrows the dense table (8 B/key vs
    * 2^q*(r+3)/8 table bytes); tiny q floors at 1 so a full table still
    * fails the query.
    */
  override protected lazy val denseThreshold: Long = math.max(1L, ((1L << q) * (r + 3)) / 64)

  private def insertOrThrow(f: QuotientFilter, h: Long): Unit =
    if (!f.insert(h))
      throw new IllegalStateException(
        "Failed to insert item into quotient filter, likely it is full")

  override protected def create(): QuotientFilter = QuotientFilter.create(q, r)
  override protected def insertAll(f: QuotientFilter, keys: Array[Long], n: Int): Unit = {
    var i = 0
    while (i < n) { insertOrThrow(f, keys(i)); i += 1 }
  }
  // hash input: a full table fails the query, whichever partial densified
  // first; the merge overload keeps the reference's silent drop unless strict
  override protected def union(f: QuotientFilter, o: QuotientFilter): QuotientFilter =
    if (mergeMode) f.merge(o, strict)
    else {
      val it = new QuotientFilterIterator(o)
      while (!it.done) insertOrThrow(f, it.next())
      f
    }
  override protected def encode(f: QuotientFilter): Array[Byte] = f.serialize()
  override protected def decode(blob: Array[Byte]): QuotientFilter = QuotientFilter.deserialize(blob)

  // Dense form on the partial wire: compact [u8 q][u8 r][u64 values...] of
  // the stored (quotient<<r | remainder) values, q >= 1 doubling as the
  // mode byte — NOT the dense table blob: a near-full q=24 filter is ~22MB
  // dense but entries*8 bytes compact. The (q,r) header carries the grown
  // geometry of merge-overload partials.
  override protected def encodePartial(f: QuotientFilter): Array[Byte] = {
    val out = ByteBuffer.allocate(2 + 8 * f.entries.toInt).order(ByteOrder.LITTLE_ENDIAN)
    out.put(f.qbits.toByte).put(f.rbits.toByte)
    val it = new QuotientFilterIterator(f)
    while (!it.done) out.putLong(it.next())
    out.array()
  }
  override protected def decodePartial(bytes: Array[Byte]): QuotientFilter = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val f = QuotientFilter.create(bb.get() & 0xff, bb.get() & 0xff)
    while (bb.remaining() >= 8) f.insert(bb.getLong())
    f
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): QuotientFilterAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QuotientFilterAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): QuotientFilterAgg =
    copy(qExpr = newChildren(0), rExpr = newChildren(1), child = newChildren(2))
}

/** SQL: `bitfilters_duckdb_bloom_filter_create(version, num_sectors, hash)`.
  * Reference: src/bitfilters_duckdb_bloom_filter.cpp:474-626.
  */
case class DuckDbBloomFilterCreateAgg(
    versionExpr: Expression,
    sectorsExpr: Expression,
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends DenseKeyBufferAgg[DuckDbBloomFilter] {

  override def children: Seq[Expression] = Seq(versionExpr, sectorsExpr, child)
  override def prettyName: String = "bitfilters_duckdb_bloom_filter_create"

  private lazy val numSectors: Int = {
    val n = AggUtil.foldableLong(sectorsExpr, "num_sectors")
    if (n <= 0 || (n & (n - 1)) != 0)
      throw new IllegalArgumentException(
        s"bitfilters_duckdb_bloom_filter_create: num_sectors must be a power of 2, got $n")
    n.toInt
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val f0 = AggUtil.checkFoldable(versionExpr, "version")
    if (f0 != TypeCheckResult.TypeCheckSuccess) return f0
    if (versionExpr.dataType != StringType)
      return TypeCheckResult.TypeCheckFailure("version must be a constant string")
    DuckDbHash.requireSupported(AggUtil.foldableString(versionExpr, "version"))
    val f1 = AggUtil.checkFoldable(sectorsExpr, "num_sectors")
    if (f1 != TypeCheckResult.TypeCheckSuccess) return f1
    if (!AggUtil.isIntegral(sectorsExpr.dataType))
      return TypeCheckResult.TypeCheckFailure("num_sectors must be a constant integer")
    if (child.dataType != LongType)
      return TypeCheckResult.TypeCheckFailure(
        s"hash argument must be BIGINT (use bitfilters_duckdb_hash), got ${child.dataType.sql}")
    TypeCheckResult.TypeCheckSuccess
  }

  // a sector is 8 B, a key is 8 B
  override protected def denseThreshold: Long = numSectors
  override protected def create(): DuckDbBloomFilter = DuckDbBloomFilter.create(numSectors)
  override protected def insertAll(f: DuckDbBloomFilter, keys: Array[Long], n: Int): Unit = {
    var i = 0
    while (i < n) { f.insert(keys(i)); i += 1 }
  }
  override protected def union(f: DuckDbBloomFilter, o: DuckDbBloomFilter): DuckDbBloomFilter = {
    f.orMerge(o); f
  }
  override protected def encode(f: DuckDbBloomFilter): Array[Byte] = f.serialize()
  override protected def decode(blob: Array[Byte]): DuckDbBloomFilter = DuckDbBloomFilter.deserialize(blob)

  override def withNewMutableAggBufferOffset(newOffset: Int): DuckDbBloomFilterCreateAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): DuckDbBloomFilterCreateAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): DuckDbBloomFilterCreateAgg =
    copy(versionExpr = newChildren(0), sectorsExpr = newChildren(1), child = newChildren(2))
}
