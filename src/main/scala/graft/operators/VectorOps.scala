package graft.operators

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, RuntimeReplaceable, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native vector kernels for embedding columns.
  *
  * The composable form — `aggregate(zip_with(a, b, _*_), 0d, _+_)` —
  * materializes an intermediate array per row pair and walks it with
  * per-element lambda dispatch; on an all-pairs similarity join that is
  * ~22 us/pair (measured: 45 s for 2M pairs at sf0.1). These kernels are a
  * single fused loop (~50 ns/pair) with identical IEEE semantics: strictly
  * sequential left-to-right double accumulation, so results are bit-equal
  * to the HOF form and to DuckDB's list_cosine_similarity decomposition.
  */
object VectorOps {

  def isVec(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  /** The kernels' `aFloat` argument: whether `vec` is ARRAY<FLOAT>. */
  def floatFlag(vec: Expression): Literal = Literal(vec.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  })

  def mayHaveNullElems(dt: DataType): Boolean = dt match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  }

  /** Sequential dot product over min(|a|, |b|) elements. Elements must be
    * non-null (used when the static type says containsNull=false).
    */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  /** Like `dot`, but any NULL element yields SQL NULL — matching
    * `aggregate(zip_with(a, b, _*_), 0d, _+_)`, where a null product
    * poisons the running sum. Parquet-read arrays carry containsNull=true
    * even when no nulls exist, so the hot loop keeps the predictable
    * never-taken branch instead of rejecting the type outright.
    */
  def dotChecked(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  /** sqrt of the sequential sum of squares. Elements must be non-null. */
  def norm(a: ArrayData, aFloat: Boolean): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      acc += x * x
      i += 1
    }
    math.sqrt(acc)
  }

  /** Like `norm`, but any NULL element yields SQL NULL (HOF semantics). */
  def normChecked(a: ArrayData, aFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      acc += x * x
      i += 1
    }
    math.sqrt(acc)
  }
}

/** SQL: `vec_dot(a, b)` -> DOUBLE. `dot` when neither array can hold a
  * NULL element; otherwise `dotChecked`, whose NULL result makes the output
  * nullable.
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression
    with RuntimeReplaceable {

  override def prettyName: String = "vec_dot"

  override def checkInputDataTypes(): TypeCheckResult =
    if (!VectorOps.isVec(left.dataType) || !VectorOps.isVec(right.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"vec_dot requires ARRAY<FLOAT>/ARRAY<DOUBLE> arguments, got ${left.dataType.sql}, ${right.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess

  override lazy val replacement: Expression = {
    val checked = VectorOps.mayHaveNullElems(left.dataType) || VectorOps.mayHaveNullElems(right.dataType)
    StaticInvoke(VectorOps.getClass, DoubleType, if (checked) "dotChecked" else "dot",
      Seq(left, right, VectorOps.floatFlag(left), VectorOps.floatFlag(right)),
      returnNullable = checked)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
    copy(left = l, right = r)
}

/** SQL: `sig_match_count(a, b)` -> INT: positions where two ARRAY<BIGINT>
  * minhash signatures agree, over min(|a|, |b|). The fused replacement for
  * `aggregate(zip_with(a, b, (x,y) -> IF(x=y,1,0)), 0, +)` in the LSH
  * estimate join (~20 us/pair of lambda dispatch and intermediate arrays
  * vs ~100 ns fused — at 50M candidate pairs that is minutes vs seconds).
  * NULL elements never occur in signatures (aggregate output), but a null
  * element would compare as not-equal rather than poisoning the count —
  * estimates must stay total.
  */
case class SigMatchCount(left: Expression, right: Expression) extends BinaryExpression
    with RuntimeReplaceable {

  override def prettyName: String = "sig_match_count"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"sig_match_count requires two ARRAY<BIGINT> arguments, got ${l.sql}, ${r.sql}")
  }

  override lazy val replacement: Expression =
    StaticInvoke(SigMatchCount.getClass, IntegerType, "count", Seq(left, right), returnNullable = false)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SigMatchCount =
    copy(left = l, right = r)
}

object SigMatchCount {
  def count(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }
}

/** SQL: `binary_quantize(vec)` -> ARRAY<BIGINT>: 1-bit sign quantization.
  * Bit `i % 64` (LSB-first) of word `i / 64` is set iff `vec[i] > 0` —
  * ceil(dim/64) words, so a dim-64 embedding packs into ONE 8-byte long
  * (32x smaller than FLOAT, 256x smaller than DOUBLE). The standard
  * memory-bound scale path for vector search: at 100 TB the packed
  * signatures of a billion-vector corpus fit executor memory where the
  * float vectors never could, and Hamming distance over the words
  * ([[WordHamming]]) is a popcount — a proven proxy for cosine distance
  * on normalized embeddings (sign(x) is the 1-bit hyperplane LSH with
  * axis-aligned planes). The layout is plain integer arithmetic, so a
  * DuckDB oracle rebuilds the exact words from `embedding[j] > 0` tests.
  *
  * NULL elements quantize to 0 bits (stay total, like [[SigMatchCount]]).
  * NaN also quantizes to 0 (Java `NaN > 0` is false); note DuckDB orders
  * NaN ABOVE zero, so cross-engine replay of the layout assumes NaN-free
  * vectors (the oracle's data is).
  */
case class BinaryQuantize(child: Expression) extends UnaryExpression with RuntimeReplaceable {

  override def prettyName: String = "binary_quantize"

  override def checkInputDataTypes(): TypeCheckResult =
    if (!VectorOps.isVec(child.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"binary_quantize requires an ARRAY<FLOAT>/ARRAY<DOUBLE> argument, got ${child.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess

  override lazy val replacement: Expression = StaticInvoke(BinaryQuantize.getClass,
    ArrayType(LongType, containsNull = false), "pack", Seq(child, VectorOps.floatFlag(child)),
    returnNullable = false)

  override protected def withNewChildInternal(newChild: Expression): BinaryQuantize =
    copy(child = newChild)
}

object BinaryQuantize {
  def pack(a: ArrayData, aFloat: Boolean): ArrayData = {
    val n = a.numElements()
    val words = new Array[Long]((n + 63) / 64)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val v = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
        if (v > 0.0) words(i / 64) |= 1L << (i % 64)
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(words)
  }
}

/** SQL: `word_hamming(a, b)` -> INT: popcount of xor over two packed
  * ARRAY<BIGINT> bit signatures ([[BinaryQuantize]] output), over
  * min(|a|, |b|) words. The fused replacement for
  * `aggregate(zip_with(a, b, (x,y) -> bit_count(x ^ y)), 0, +)` — one
  * Long.bitCount per word, no intermediate array. NULL words compare
  * as 0L (totality, as [[SigMatchCount]]).
  */
case class WordHamming(left: Expression, right: Expression) extends BinaryExpression
    with RuntimeReplaceable {

  override def prettyName: String = "word_hamming"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"word_hamming requires two ARRAY<BIGINT> arguments, got ${l.sql}, ${r.sql}")
  }

  override lazy val replacement: Expression =
    StaticInvoke(WordHamming.getClass, IntegerType, "distance", Seq(left, right), returnNullable = false)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): WordHamming =
    copy(left = l, right = r)
}

object WordHamming {
  def distance(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      val x = if (a.isNullAt(i)) 0L else a.getLong(i)
      val y = if (b.isNullAt(i)) 0L else b.getLong(i)
      c += java.lang.Long.bitCount(x ^ y)
      i += 1
    }
    c
  }
}

/** SQL: `vec_norm(a)` -> DOUBLE, through `norm` or `normChecked` as
  * [[VecDot]] chooses.
  */
case class VecNorm(child: Expression) extends UnaryExpression with RuntimeReplaceable {

  override def prettyName: String = "vec_norm"

  override def checkInputDataTypes(): TypeCheckResult =
    if (!VectorOps.isVec(child.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"vec_norm requires an ARRAY<FLOAT>/ARRAY<DOUBLE> argument, got ${child.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess

  override lazy val replacement: Expression = {
    val checked = VectorOps.mayHaveNullElems(child.dataType)
    StaticInvoke(VectorOps.getClass, DoubleType, if (checked) "normChecked" else "norm",
      Seq(child, VectorOps.floatFlag(child)), returnNullable = checked)
  }

  override protected def withNewChildInternal(newChild: Expression): VecNorm =
    copy(child = newChild)
}
