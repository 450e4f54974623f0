package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core._

/** Leaf-whitelist test for "safe to evaluate once per task": the expression
  * is deterministic, not foldable (a plain Literal needs no cache), and
  * every leaf is a Literal or a subquery result (`PlanExpression` covers
  * both the analyzed ScalarSubquery and the planned ExecSubqueryExpression;
  * a correlated subquery exposes its outer Attributes as children, so those
  * leaves fail the whitelist as they must). A whitelist rather than an
  * attribute blacklist: column reads appear as Attribute pre-binding and
  * BoundReference post-binding (`references.isEmpty` is TRUE for
  * BoundReference, so it is NOT a usable test), and per-row context leaves
  * such as input_file_name() contain neither and would slip through any
  * blacklist — under the whitelist they simply aren't Literal/subquery
  * leaves, so they are never cached once per task.
  */
object RowIndependent {
  import org.apache.spark.sql.catalyst.expressions.{Literal, PlanExpression}
  def apply(e: Expression): Boolean =
    e.deterministic && !e.foldable && e.collectLeaves().forall {
      case _: Literal => true
      case _: PlanExpression[_] => true
      case _: BroadcastBlob => true // executor-shared bytes, row-independent by construction
      case _ => false
    }
}

/** Leaf expression yielding a broadcast filter blob.
  *
  * A big blob inlined as a LITERAL is serialized into the task binary and
  * deserialized BY EVERY TASK: 32 concurrent tasks probing a 512 MB bloom
  * filter allocate 16 GB of copies — an executor OOM observed in the
  * 50M-key smoke (graft.tools.BigGroupSmoke). Wrapping the blob in a Spark
  * broadcast stores the bytes ONCE per executor in the block manager; the
  * expression ships only the broadcast handle and every task reads the
  * shared array (zero-copy probes never mutate it). Use for blobs above a
  * few MB — see [[graft.sources.FilterStore.broadcastBlobColumn]].
  */
case class BroadcastBlob(bc: org.apache.spark.broadcast.Broadcast[Array[Byte]])
  extends org.apache.spark.sql.catalyst.expressions.LeafExpression {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "broadcast_blob"

  /** One block-manager lookup per expression instance, then a field read. */
  @transient lazy val bytes: Array[Byte] = bc.value

  override def eval(input: InternalRow): Any = bytes

  // Hand-written: generated code reads this expression's once-per-executor bytes by reference.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBcastBlob", this, classOf[BroadcastBlob].getName)
    ev.copy(
      code = code"byte[] ${ev.value} = $ref.bytes();",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }
}

/** A broadcast CATALOG of filter blobs, looked up by a per-row key: the
  * zero-copy probe path for "one filter per group" stores. Joining the blob
  * column onto the big side instead means every probe re-copies the blob
  * out of the joined row — the blob grows with the group's key count, so
  * the copy bill scales as |rows| × |blob| (measured 197×/decade on the
  * sf10 sweep's per-nation xor16 catalog). Here the map is broadcast once,
  * each lookup returns the SAME byte array reference, and the contains
  * probe reads it in place — one codegen'd scan, no join, no copies.
  *
  * A key with no catalog entry yields NULL, which the contains expression
  * propagates — a `WHERE` on the probe then drops the row, matching the
  * inner probe-join's semantics.
  */
case class BroadcastBlobMap(
    bc: org.apache.spark.broadcast.Broadcast[Map[String, Array[Byte]]],
    child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "broadcast_blob_map"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName key argument must be STRING, got " + child.dataType.sql)

  /** One block-manager fetch per expression instance; UTF8String keys so
    * per-row lookups skip the String decode.
    */
  @transient lazy val byKey: java.util.HashMap[UTF8String, Array[Byte]] = {
    val m = new java.util.HashMap[UTF8String, Array[Byte]]()
    bc.value.foreach { case (k, v) => m.put(UTF8String.fromString(k), v) }
    m
  }

  def lookup(key: UTF8String): Array[Byte] = byKey.get(key)

  override def eval(input: InternalRow): Any = {
    val k = child.eval(input)
    if (k == null) null else lookup(k.asInstanceOf[UTF8String])
  }

  // Hand-written: generated code looks up in this expression's broadcast map by reference.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBcastBlobMap", this, classOf[BroadcastBlobMap].getName)
    nullSafeCodeGen(ctx, ev, k =>
      s"""
         |${ev.value} = $ref.lookup($k);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): BroadcastBlobMap =
    copy(child = c)
}

/** One family's probe of a serialized blob by a 64-bit hash: the SQL name,
  * the blob argument's name in type errors, the result type, and the
  * family's `probeBlob` as a call (interpreted path) and as Java source of
  * the same static call (generated path).
  */
sealed abstract class ProbeFamily(val sqlName: String, val dataType: DataType, owner: String,
    bits: String = "", val blobArg: String = "filter") extends Serializable {
  def probe(blob: Array[Byte], hash: Long): Any
  def javaCall(blob: String, hash: String): String = s"graft.core.$owner.probeBlob($bits$blob, $hash)"
}

object ProbeFamily {
  /** Reference src/bitfilters_quotient_filter.cpp:246-267. */
  case object Quotient extends ProbeFamily("quotient_filter_contains", BooleanType, "QuotientFilter") {
    def probe(blob: Array[Byte], hash: Long): Any = QuotientFilter.probeBlob(blob, hash)
  }
  /** Reference src/bitfilters_xor_filter.cpp:214-245. */
  case class Xor(bits: Int) extends ProbeFamily(s"xor${bits}_filter_contains", BooleanType, "XorFilter", s"$bits, ") {
    def probe(blob: Array[Byte], hash: Long): Any = XorFilter.probeBlob(bits, blob, hash)
  }
  /** Reference src/bitfilters_binary_fuse_filter.cpp:215-246. */
  case class Fuse(bits: Int)
    extends ProbeFamily(s"binary_fuse${bits}_filter_contains", BooleanType, "BinaryFuseFilter", s"$bits, ") {
    def probe(blob: Array[Byte], hash: Long): Any = BinaryFuseFilter.probeBlob(bits, blob, hash)
  }
  /** Reference src/bitfilters_duckdb_bloom_filter.cpp:327-468. */
  case object DuckDbBloom
    extends ProbeFamily("bitfilters_duckdb_bloom_filter_probe", BooleanType, "DuckDbBloomFilter") {
    def probe(blob: Array[Byte], hash: Long): Any = DuckDbBloomFilter.probeBlob(blob, hash)
  }
  /** Reference src/bitfilters_bloom_filter.cpp:246-294. */
  case object ClassicBloom extends ProbeFamily("bloom_filter_contains", BooleanType, "ClassicBloomFilter") {
    def probe(blob: Array[Byte], hash: Long): Any = ClassicBloomFilter.probeBlob(blob, hash)
  }
  /** Frequency upper bound of a Count-Min sketch. */
  case object Cms extends ProbeFamily("cms_estimate", LongType, "CountMinSketch", blobArg = "sketch") {
    def probe(blob: Array[Byte], hash: Long): Any = CountMinSketch.probeBlob(blob, hash)
  }
}

/** The probe of a serialized filter or sketch blob by a 64-bit hash:
  * (blob BINARY, hash BIGINT) -> the family's result, NULL when either is
  * NULL. Every `*_contains`, `cms_estimate`, and the two typed bloom probes
  * (through their hash) are this expression.
  *
  * All probes are ZERO-COPY against the serialized blob bytes (no filter
  * materialization per row) and implement `doGenCode`, so `WHERE
  * xyz_contains(...)` predicates stay inside whole-stage codegen. This
  * matters twice at scale: (a) the probe is a handful of inlined integer ops,
  * and (b) an expression that falls back to interpreted mode would eject its
  * whole operator from codegen, forcing joined rows (which carry the filter
  * blobs) to be materialized at stage boundaries — at 100k+ rows x 100KB+
  * blobs that is gigabytes of row copies.
  *
  * A blob argument that is row-independent (see [[RowIndependent]]) but not
  * a plain literal — e.g. a scalar subquery, or a struct field of a MERGED
  * scalar subquery — is evaluated ONCE per task, on both paths: evaluating
  * it per row would copy the whole serialized blob out of its container for
  * every probe (measured ~2 ms/row for a 120 KB fuse16 blob — turns a
  * sub-second scan into minutes at scale). This is the Spark-native mirror
  * of the reference's constant-vector fast path
  * (src/bitfilters_xor_filter.cpp:223-232).
  */
case class BlobProbe(blob: Expression, hash: Expression, family: ProbeFamily) extends BinaryExpression {

  override def left: Expression = blob
  override def right: Expression = hash
  override def prettyName: String = family.sqlName
  override def dataType: DataType = family.dataType
  // plans print the two arguments, not the family
  override protected def stringArgs: Iterator[Any] = Iterator(blob, hash)

  override def checkInputDataTypes(): TypeCheckResult =
    if (blob.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName ${family.blobArg} argument must be BINARY, got " + blob.dataType.sql)
    else if (hash.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName hash argument must be BIGINT, got " + hash.dataType.sql)
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val oncePerTask: Boolean = RowIndependent(blob)

  // benign-race cache for the interpreted path (value write precedes flag)
  @transient private var cachedBlob: Array[Byte] = _
  @transient @volatile private var cachedBlobSet = false

  override def eval(input: InternalRow): Any = {
    val h = hash.eval(input)
    if (h == null) return null
    if (oncePerTask && !cachedBlobSet) {
      cachedBlob = blob.eval(input).asInstanceOf[Array[Byte]]
      cachedBlobSet = true
    }
    val b = if (oncePerTask) cachedBlob else blob.eval(input).asInstanceOf[Array[Byte]]
    if (b == null) null else family.probe(b, h.asInstanceOf[Long])
  }

  // Hand-written: a row-independent blob is evaluated once per task into a generated field.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = blob.genCode(ctx)
    val blobVar = ctx.freshName("probeBlob")
    // a row-independent blob reads no input column, so its code can run
    // once, inside an init guard, into mutable state
    val blobCode = if (oncePerTask) {
      val cached = ctx.addMutableState("byte[]", "graftConstBlob")
      val init = ctx.addMutableState("boolean", "graftConstBlobInit")
      code"""
      if (!$init) {
        ${b.code}
        $cached = ${b.isNull} ? null : ${b.value};
        $init = true;
      }
      byte[] $blobVar = $cached;"""
    } else code"""
      ${b.code}
      byte[] $blobVar = ${b.isNull} ? null : ${b.value};"""
    val h = hash.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""$blobCode
      ${h.code}
      boolean ${ev.isNull} = ${h.isNull} || $blobVar == null;
      $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      if (!${ev.isNull}) {
        ${ev.value} = ${family.javaCall(blobVar, h.value.toString)};
      }
    """)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BlobProbe =
    copy(blob = l, hash = r)
}

private[functions] object HashDispatch {
  /** Per-type hasher matching DuckDB physical-type dispatch
    * (reference src/bitfilters_duckdb_bloom_filter.cpp:193-235). NULL inputs
    * never reach these: the expressions propagate NULL first, matching
    * DuckDB's default scalar null handling
    * (test/sql/duckdb_bloom_filter.test:137-141).
    */
  def hasherFor(dt: DataType, name: String): Any => Long = dt match {
    case BooleanType => v => DuckDbHash.hashBoolean(v.asInstanceOf[Boolean])
    case ByteType => v => DuckDbHash.hashInt32Like(v.asInstanceOf[Byte].toInt)
    case ShortType => v => DuckDbHash.hashInt32Like(v.asInstanceOf[Short].toInt)
    case IntegerType => v => DuckDbHash.hashInt32Like(v.asInstanceOf[Int])
    case LongType => v => DuckDbHash.hashLong(v.asInstanceOf[Long])
    case FloatType => v => DuckDbHash.hashFloat(v.asInstanceOf[Float])
    case DoubleType => v => DuckDbHash.hashDouble(v.asInstanceOf[Double])
    case _: StringType => v => DuckDbHash.hashBytes(v.asInstanceOf[UTF8String].getBytes)
    case BinaryType => v => DuckDbHash.hashBytes(v.asInstanceOf[Array[Byte]])
    // DuckDB UBIGINT parquet columns surface as DECIMAL(20,0) in Spark:
    // hash the exact integer's low 64 bits (range-checked), matching
    // DuckDB's uint64 path (reference cpp:113-115)
    case dt: DecimalType if dt.scale == 0 && dt.precision == 20 =>
      v => DuckDbHash.hashUnsigned64(
        v.asInstanceOf[Decimal].toJavaBigDecimal.toBigIntegerExact)
    case other => throw new IllegalArgumentException(s"$name: unsupported type ${other.sql}")
  }

  /** Java source computing the hash of a (non-null) value term of type dt. */
  def hashCallJava(dt: DataType, v: String): String = dt match {
    case BooleanType => s"graft.core.DuckDbHash.hashBoolean($v)"
    case ByteType | ShortType | IntegerType => s"graft.core.DuckDbHash.hashInt32Like((int) $v)"
    case LongType => s"graft.core.DuckDbHash.hashLong($v)"
    case FloatType => s"graft.core.DuckDbHash.hashFloat($v)"
    case DoubleType => s"graft.core.DuckDbHash.hashDouble($v)"
    case _: StringType => s"graft.core.DuckDbHash.hashBytes($v.getBytes())"
    case BinaryType => s"graft.core.DuckDbHash.hashBytes($v)"
    case dt: DecimalType if dt.scale == 0 && dt.precision == 20 =>
      s"graft.core.DuckDbHash.hashUnsigned64($v.toJavaBigDecimal().toBigIntegerExact())"
    case other => throw new IllegalArgumentException(s"unsupported type ${other.sql}")
  }

  def supported(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         BinaryType => true
    case _: StringType => true
    case dt: DecimalType => dt.scale == 0 && dt.precision == 20
    case _ => false
  }

  /** Generate Java leaving the combined hash in `hVar` and the NULL flag in
    * `anyNullVar` (any NULL value argument -> NULL result, like DuckDB's
    * default scalar null handling).
    */
  def genCombinedHash(ctx: CodegenContext, values: Seq[Expression],
      hVar: String, anyNullVar: String): String = {
    val pieces = values.zipWithIndex.map { case (child, i) =>
      val c = child.genCode(ctx)
      val hashed = hashCallJava(child.dataType, c.value.toString)
      val combineStmt =
        if (i == 0) s"$hVar = $hashed;"
        else s"$hVar = graft.core.DuckDbHash.combine($hVar, $hashed);"
      val guarded =
        if (child.nullable) s"if (${c.isNull}) { $anyNullVar = true; } else { $combineStmt }"
        else combineStmt
      c.code.toString + "\n" + guarded
    }
    s"long $hVar = 0L;\nboolean $anyNullVar = false;\n" + pieces.mkString("\n")
  }
}

/** SQL: `bitfilters_duckdb_hash(version, v1[, v2, ...])` -> BIGINT carrying
  * the unsigned 64-bit DuckDB hash. Multi-value hashing folds left with
  * CombineHash. Reference src/bitfilters_duckdb_bloom_filter.cpp:263-321.
  */
case class DuckDbHashExpr(children: Seq[Expression]) extends Expression {

  override def prettyName: String = "bitfilters_duckdb_hash"
  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)

  private def versionExpr = children.head
  private def valueExprs = children.tail

  override def checkInputDataTypes(): TypeCheckResult = {
    if (children.size < 2)
      return TypeCheckResult.TypeCheckFailure(
        "bitfilters_duckdb_hash requires at least 2 arguments: version and value(s)")
    if (!versionExpr.foldable || !versionExpr.dataType.isInstanceOf[StringType])
      return TypeCheckResult.TypeCheckFailure("bitfilters_duckdb_hash: version must be a constant string")
    DuckDbHash.requireSupported(AggUtil.foldableString(versionExpr, "version"))
    valueExprs.find(e => !HashDispatch.supported(e.dataType)) match {
      case Some(bad) => TypeCheckResult.TypeCheckFailure(
        s"bitfilters_duckdb_hash: unsupported type ${bad.dataType.sql}")
      case None => TypeCheckResult.TypeCheckSuccess
    }
  }

  @transient private lazy val hashers: Array[Any => Long] =
    valueExprs.map(e => HashDispatch.hasherFor(e.dataType, "bitfilters_duckdb_hash")).toArray
  @transient private lazy val valueArr: Array[Expression] = valueExprs.toArray

  override def eval(input: InternalRow): Any = {
    var h = 0L
    var i = 0
    while (i < valueArr.length) {
      val v = valueArr(i).eval(input)
      if (v == null) return null // NULL propagates (duckdb_bloom_filter.test:137-141)
      h = if (i == 0) hashers(0)(v) else DuckDbHash.combine(h, hashers(i)(v))
      i += 1
    }
    h
  }

  // Hand-written: one unrolled hash-combine step per argument of the variadic call.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val hVar = ctx.freshName("ddbHash")
    val nullVar = ctx.freshName("ddbAnyNull")
    val hashCode = HashDispatch.genCombinedHash(ctx, valueExprs, hVar, nullVar)
    ev.copy(code = code"""
        $hashCode
        boolean ${ev.isNull} = $nullVar;
        long ${ev.value} = $hVar;
      """)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): DuckDbHashExpr =
    copy(children = newChildren)
}

/** SQL: `bitfilters_duckdb_bloom_filter_probe(version, filter, v1[, v2, ...])`:
  * the [[BlobProbe]] of the filter by `bitfilters_duckdb_hash(version, v1,
  * ...)`, so the values hash exactly like at build time (CombineHash for
  * multi-key). Unlike the reference (which rejects non-constant filter
  * vectors, src/bitfilters_duckdb_bloom_filter.cpp:444-446) we also accept
  * a per-row filter column. Reference cpp:327-468.
  */
case class DuckDbBloomFilterProbe(children: Seq[Expression]) extends Expression with RuntimeReplaceable {

  override def prettyName: String = "bitfilters_duckdb_bloom_filter_probe"

  private def versionExpr = children.head
  private def filterExpr = children(1)
  private def valueExprs = children.drop(2)

  override def checkInputDataTypes(): TypeCheckResult = {
    if (children.size < 3)
      return TypeCheckResult.TypeCheckFailure(
        "bitfilters_duckdb_bloom_filter_probe requires at least 3 arguments: version, filter, value(s)")
    if (!versionExpr.foldable || !versionExpr.dataType.isInstanceOf[StringType])
      return TypeCheckResult.TypeCheckFailure(
        "bitfilters_duckdb_bloom_filter_probe: version must be a constant string")
    DuckDbHash.requireSupported(AggUtil.foldableString(versionExpr, "version"))
    if (filterExpr.dataType != BinaryType)
      return TypeCheckResult.TypeCheckFailure(
        s"bitfilters_duckdb_bloom_filter_probe: filter must be BINARY, got ${filterExpr.dataType.sql}")
    valueExprs.find(e => !HashDispatch.supported(e.dataType)) match {
      case Some(bad) => TypeCheckResult.TypeCheckFailure(
        s"bitfilters_duckdb_bloom_filter_probe: unsupported type ${bad.dataType.sql}")
      case None => TypeCheckResult.TypeCheckSuccess
    }
  }

  override lazy val replacement: Expression =
    BlobProbe(filterExpr, DuckDbHashExpr(versionExpr +: valueExprs), ProbeFamily.DuckDbBloom)

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): DuckDbBloomFilterProbe =
    copy(children = newChildren)
}
