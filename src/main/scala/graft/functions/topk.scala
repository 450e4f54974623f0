package graft.functions

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, RuntimeReplaceable, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{col, lit, posexplode}
import org.apache.spark.sql.types._

import graft.operators.ColumnBridge

/** Bounded-heap per-group top-k state: a TreeSet of (ord, payload) pairs
  * ordered by (ord DESC, payload ASC), capped at k entries — O(log k) per
  * insert, ≤ 16k B per group regardless of group size.
  */
final class TopKBuf(val set: java.util.TreeSet[(Long, Long)]) {
  def this() = this(new java.util.TreeSet[(Long, Long)](
    (a: (Long, Long), b: (Long, Long)) => {
      val c = java.lang.Long.compare(b._1, a._1) // ord DESC
      if (c != 0) c else java.lang.Long.compare(a._2, b._2) // payload ASC
    }))
  var touched: Boolean = false

  def add(ord: Long, payload: Long, k: Int): Unit = {
    touched = true
    if (set.size < k) { set.add((ord, payload)); () }
    else {
      val last = set.last()
      // strictly better than the current worst (by the DESC/ASC order)
      val c = java.lang.Long.compare(last._1, ord)
      if (c < 0 || (c == 0 && payload < last._2)) {
        if (set.add((ord, payload))) { set.remove(set.last()); () }
      }
    }
  }
}

/** SQL: `topk_agg(k, ord, payload)` → ARRAY<STRUCT<ord BIGINT, payload
  * BIGINT>> — the k largest `ord` values per group with a deterministic
  * `(ord DESC, payload ASC)` order and tie-break, as a bounded-heap
  * aggregate.
  *
  * Why not a window function: `row_number() OVER (PARTITION BY g ORDER BY
  * v DESC) <= k` shuffles and SORTS every row of every group. This
  * aggregate keeps k entries per group through the partial phase (map-side
  * combine), ships ≤ k pairs per (partition, group) across the shuffle,
  * and never sorts the full group — the per-group analogue of
  * TakeOrderedAndProject. Duplicate (ord, payload) pairs collapse (set
  * semantics); distinct payloads with equal ord keep k distinct entries,
  * matching the window-function replay exactly.
  */
case class TopKAgg(
    kExpr: Expression,
    ordExpr: Expression,
    payloadExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuf] {

  override def children: Seq[Expression] = Seq(kExpr, ordExpr, payloadExpr)
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("ord", LongType), StructField("payload", LongType))),
    containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "topk_agg"

  private lazy val k: Int = {
    val v = AggUtil.foldableLong(kExpr, "topk_agg k").toInt
    require(v >= 1 && v <= TopKAgg.MaxK, s"topk_agg k must be in [1, ${TopKAgg.MaxK}], got $v")
    v
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val f = AggUtil.checkFoldable(kExpr, "topk_agg k")
    if (f != TypeCheckResult.TypeCheckSuccess) return f
    if (!AggUtil.isIntegral(kExpr.dataType))
      return TypeCheckResult.TypeCheckFailure("topk_agg k must be a constant integer")
    for ((e, what) <- Seq(ordExpr -> "ord", payloadExpr -> "payload"))
      if (e.dataType != LongType)
        return TypeCheckResult.TypeCheckFailure(
          s"topk_agg $what must be BIGINT, got ${e.dataType.sql}")
    TypeCheckResult.TypeCheckSuccess
  }

  override def createAggregationBuffer(): TopKBuf = new TopKBuf()

  override def update(buf: TopKBuf, input: InternalRow): TopKBuf = {
    val o = ordExpr.eval(input)
    val p = payloadExpr.eval(input)
    if (o != null && p != null) buf.add(o.asInstanceOf[Long], p.asInstanceOf[Long], k)
    buf
  }

  override def merge(buf: TopKBuf, other: TopKBuf): TopKBuf = {
    if (other.touched) buf.touched = true
    val it = other.set.iterator()
    while (it.hasNext) { val e = it.next(); buf.add(e._1, e._2, k) }
    buf
  }

  override def eval(buf: TopKBuf): Any = {
    if (!buf.touched) return null
    val rows = new Array[Any](buf.set.size)
    val it = buf.set.iterator()
    var i = 0
    while (it.hasNext) {
      val e = it.next()
      rows(i) = InternalRow(e._1, e._2)
      i += 1
    }
    new GenericArrayData(rows)
  }

  // shuffle wire: [i32 n][(i64 ord, i64 payload) × n]; empty-but-touched
  // groups serialize n=0 (distinct from the all-NULL empty buffer)
  override def serialize(buf: TopKBuf): Array[Byte] = {
    if (!buf.touched) return Array.emptyByteArray
    val out = ByteBuffer.allocate(4 + 16 * buf.set.size).order(ByteOrder.LITTLE_ENDIAN)
    out.putInt(buf.set.size)
    val it = buf.set.iterator()
    while (it.hasNext) { val e = it.next(); out.putLong(e._1).putLong(e._2) }
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuf = {
    val buf = new TopKBuf()
    if (bytes.isEmpty) return buf
    buf.touched = true
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val n = bb.getInt
    var i = 0
    while (i < n) { buf.add(bb.getLong, bb.getLong, k); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): TopKAgg =
    copy(kExpr = newChildren(0), ordExpr = newChildren(1), payloadExpr = newChildren(2))
}

object TopKAgg {
  val MaxK = 1 << 20

  /** The one bounded top-k ranking stage: the `k` best rows per group of
    * `df` by [[TopKAgg]], one output row per kept entry. Returns the
    * grouping columns plus `rank` (INT, 1-based), `ord` and `payload`
    * (both BIGINT), in `(ord DESC, payload ASC)` order, so it ranks
    * exactly like `row_number() OVER (PARTITION BY groups ORDER BY ord
    * DESC, payload) <= k`. Callers map their sort key into `ord` (a
    * negated distance, [[SortableBits]] of a similarity) and carry an
    * integral id as `payload`.
    *
    * A row whose `ord` or `payload` is NULL is skipped, where the window
    * would rank it; a caller that must keep such rows maps the NULL to a
    * BIGINT sentinel first. Duplicate `(ord, payload)` pairs in one group
    * collapse to one entry.
    */
  def rank(df: DataFrame, groupCols: Seq[Column], k: Int, ord: Column,
      payload: Column): DataFrame = {
    val tk = ColumnBridge.column(TopKAgg(ColumnBridge.expression(lit(k)),
      ColumnBridge.expression(ord), ColumnBridge.expression(payload)).toAggregateExpression())
    val agg = df.groupBy(groupCols: _*).agg(tk.as("__tk"))
    val keys = agg.columns.toSeq.init.map(agg.col)
    agg.select(keys :+ posexplode(col("__tk")).as(Seq("__pos", "__e")): _*)
      .select(keys ++ Seq((col("__pos") + 1).cast("int").as("rank"),
        col("__e.ord").as("ord"), col("__e.payload").as("payload")): _*)
  }
}

/** Order-preserving DOUBLE <-> BIGINT involution used to ride doubles
  * through [[TopKAgg]]'s BIGINT `ord` slot: `b = doubleToLongBits(d);
  * b ^ ((b >> 63) & Long.MaxValue)` maps every double to a long whose
  * SIGNED order equals the IEEE total order (negatives reverse-magnitude
  * flipped, positives untouched), and the same bit transform decodes. The
  * map is strictly monotone, so `topk_agg(k, sortable_bits(sim), id)`
  * ranks EXACTLY like `row_number() OVER (ORDER BY sim DESC, id)` —
  * equal sims, and only equal sims, fall to the payload tie-break.
  * Edge semantics: NaN encodes above +Infinity (Spark's sort order);
  * -0.0 encodes strictly below 0.0 (a distinction Spark's comparator
  * collapses — callers' sims are dot/norm quotients, never -0.0 with a
  * 0.0 twin in the same group).
  */
object SortableBits {
  def encode(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(d)
    b ^ ((b >> 63) & Long.MaxValue)
  }
  def decode(l: Long): Double =
    java.lang.Double.longBitsToDouble(l ^ ((l >> 63) & Long.MaxValue))
}

/** SQL: `sortable_bits(d DOUBLE) -> BIGINT` — see [[SortableBits]]. */
case class SortableDoubleBits(child: Expression) extends UnaryExpression with RuntimeReplaceable {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sortable_bits requires DOUBLE, got ${other.sql}")
  }
  override lazy val replacement: Expression =
    StaticInvoke(SortableBits.getClass, LongType, "encode", Seq(child), returnNullable = false)
  override def prettyName: String = "sortable_bits"
  override protected def withNewChildInternal(newChild: Expression): SortableDoubleBits =
    copy(child = newChild)
}

/** SQL: `sortable_bits_double(l BIGINT) -> DOUBLE` — inverse of
  * [[SortableDoubleBits]] (the transform is an involution on the bits).
  */
case class SortableBitsDouble(child: Expression) extends UnaryExpression with RuntimeReplaceable {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sortable_bits_double requires BIGINT, got ${other.sql}")
  }
  override lazy val replacement: Expression =
    StaticInvoke(SortableBits.getClass, DoubleType, "decode", Seq(child), returnNullable = false)
  override def prettyName: String = "sortable_bits_double"
  override protected def withNewChildInternal(newChild: Expression): SortableBitsDouble =
    copy(child = newChild)
}
