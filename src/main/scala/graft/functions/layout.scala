package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._

/** SQL: `zorder_key(bits, c1, c2, ...)` — Morton (Z-order) interleave of the
  * lowest `bits` bits of each integral column into one BIGINT sort key.
  *
  * Purpose: multi-column data CLUSTERING for scan pruning at scale. Sorting
  * a 100 TB table by `(a, b)` gives perfect parquet min/max pruning on `a`
  * and none on `b`; sorting by `zorder_key(bits, a, b)` keeps rows that are
  * close in BOTH dimensions inside the same row groups, so predicates on
  * either column (or both) skip most files. Pair with
  * `graft.sources.DataLayout.clusterByZOrder` for the write path.
  *
  * Semantics: bit `j` of dimension `i` lands at output bit `j * ndims + i`
  * (dimension 0 owns the least-significant interleaved bit). Only the
  * lowest `bits` bits of each value participate — callers normalize each
  * dimension into `[0, 2^bits)` first (e.g. `x % 1024`, a bucketed rank, or
  * a fixed-point scaling). NULL in any dimension yields NULL.
  *
  * No reference counterpart (the reference is a filter library); the
  * interleave itself follows the standard Morton construction.
  */
case class ZOrderKey(children: Seq[Expression]) extends Expression {

  override def nullable: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "zorder_key"

  private def bitsExpr = children.head
  private def dims = children.tail

  lazy val bits: Int = {
    val v = bitsExpr.eval(InternalRow.empty)
    require(v != null, "zorder_key bits must not be NULL")
    v.asInstanceOf[Number].intValue()
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    if (children.size < 2)
      return TypeCheckResult.TypeCheckFailure(
        "zorder_key requires bits plus at least one dimension column")
    if (!bitsExpr.foldable || !isIntegral(bitsExpr.dataType))
      return TypeCheckResult.TypeCheckFailure(
        "zorder_key bits must be a foldable integer")
    val nd = dims.size
    val b = bits
    if (b < 1 || nd.toLong * b > 63)
      return TypeCheckResult.TypeCheckFailure(
        s"zorder_key needs 1 <= bits and dims * bits <= 63, got $nd dims x $b bits")
    dims.zipWithIndex.collectFirst {
      case (d, i) if !isIntegral(d.dataType) =>
        TypeCheckResult.TypeCheckFailure(
          s"zorder_key dimension ${i + 1} must be integral, got ${d.dataType.sql}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)
  }

  private def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  override def eval(input: InternalRow): Any = {
    val nd = dims.size
    var z = 0L
    var i = 0
    while (i < nd) {
      val v = dims(i).eval(input)
      if (v == null) return null
      val x = v.asInstanceOf[Number].longValue()
      var j = 0
      while (j < bits) {
        z |= ((x >>> j) & 1L) << (j * nd + i)
        j += 1
      }
      i += 1
    }
    z
  }

  // Hand-written: one constant-bound interleave loop per argument of the variadic call.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val nd = dims.size
    val z = ctx.freshName("z")
    val evals = dims.map(_.genCode(ctx))
    // per-dimension: null check then a constant-bound interleave loop
    val body = evals.zipWithIndex.map { case (e, i) =>
      val x = ctx.freshName("x")
      s"""
         |${e.code}
         |if (${e.isNull}) { ${ev.isNull} = true; } else if (!${ev.isNull}) {
         |  long $x = (long) ${e.value};
         |  for (int j = 0; j < $bits; j++) {
         |    $z |= (($x >>> j) & 1L) << (j * $nd + $i);
         |  }
         |}
       """.stripMargin
    }.mkString("\n")
    ev.copy(code = code"""
      |boolean ${ev.isNull} = false;
      |long $z = 0L;
      |$body
      |long ${ev.value} = $z;
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}
