package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodeGenerator, CodegenContext, ExprCode}
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

/** The once-per-task blob evaluation shared by every probe scalar
  * (`*_contains`, `bitfilters_duckdb_bloom_filter_probe`, `cms_estimate`),
  * for both `eval` and `doGenCode`. A blob argument that is row-independent
  * (see [[RowIndependent]]) but not a plain literal — e.g. a scalar
  * subquery, or a struct field of a MERGED scalar subquery — is evaluated
  * ONCE per task: evaluating it per row would copy the whole serialized
  * blob out of its container for every probe (measured ~2 ms/row for a
  * 120 KB fuse16 blob — turns a sub-second scan into minutes at scale).
  * This is the Spark-native mirror of the reference's constant-vector fast
  * path (src/bitfilters_xor_filter.cpp:223-232).
  */
trait OncePerTaskBlob extends Expression {
  /** The argument yielding the serialized blob. */
  protected def blobExpr: Expression

  protected def rowIndependentBlob: Boolean = RowIndependent(blobExpr)

  // benign-race cache for the interpreted path (value write precedes flag)
  @transient private var cachedBlob: Array[Byte] = _
  @transient @volatile private var cachedBlobSet = false

  protected def evalBlob(input: InternalRow): Array[Byte] =
    if (!rowIndependentBlob) blobExpr.eval(input).asInstanceOf[Array[Byte]]
    else {
      if (!cachedBlobSet) {
        cachedBlob = blobExpr.eval(input).asInstanceOf[Array[Byte]]
        cachedBlobSet = true
      }
      cachedBlob
    }

  /** Java for the blob: the code, and a term holding the blob or null. A
    * row-independent blob's code runs inside an init-once guard (it reads
    * no input columns, so this is safe) and lands in mutable state `state`.
    */
  protected def genBlob(ctx: CodegenContext, state: String): (Block, String) =
    if (rowIndependentBlob) {
      val blobVar = ctx.addMutableState("byte[]", state)
      val initVar = ctx.addMutableState("boolean", state + "Init")
      val f = blobExpr.genCode(ctx)
      (code"""
      if (!$initVar) {
        ${f.code}
        $blobVar = ${f.isNull} ? null : ${f.value};
        $initVar = true;
      }""", blobVar)
    } else {
      val f = blobExpr.genCode(ctx)
      (f.code, s"(${f.isNull} ? null : ${f.value})")
    }

  /** Java for a row-independent (blob, key) probe of BOOLEAN or BIGINT
    * result: NULL when the key or the blob is NULL, else `call(blob, key)`.
    * Locals are named `<local>IsNull` and `<local>Value`.
    */
  protected def genKeyedProbe(ctx: CodegenContext, ev: ExprCode, key: Expression,
      state: String, local: String)(call: (String, String) => String): ExprCode = {
    val (blobCode, blob) = genBlob(ctx, state)
    val h = key.genCode(ctx)
    val isNullVar = ctx.freshName(local + "IsNull")
    val valueVar = ctx.freshName(local + "Value")
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""$blobCode
      ${h.code}
      boolean $isNullVar = true;
      $javaType $valueVar = ${if (dataType == BooleanType) "false" else "0L"};
      if (!(${h.isNull}) && $blob != null) {
        $isNullVar = false;
        $valueVar = ${call(blob, h.value.toString)};
      }
      boolean ${ev.isNull} = $isNullVar;
      $javaType ${ev.value} = $valueVar;
    """)
  }
}

/** Base for the `*_contains` probe expressions: (filter BLOB, hash BIGINT) ->
  * BOOLEAN with standard null propagation.
  *
  * All probes are ZERO-COPY against the serialized blob bytes (no filter
  * materialization per row) and implement `doGenCode`, so `WHERE
  * xyz_contains(...)` predicates stay inside whole-stage codegen. This
  * matters twice at scale: (a) the probe is a handful of inlined integer ops,
  * and (b) an expression that falls back to interpreted mode would eject its
  * whole operator from codegen, forcing joined rows (which carry the filter
  * blobs) to be materialized at stage boundaries — at 100k+ rows x 100KB+
  * blobs that is gigabytes of row copies. Mirrors the reference's
  * constant-vector fast path intent (src/bitfilters_xor_filter.cpp:223-232)
  * with Spark's compilation model.
  */
abstract class FilterContainsExpression extends BinaryExpression with OncePerTaskBlob {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName filter argument must be BINARY, got " + left.dataType.sql)
    else if (right.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName hash argument must be BIGINT, got " + right.dataType.sql)
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = left.nullable || right.nullable
  override protected def blobExpr: Expression = left

  /** Probe a serialized filter blob (zero-copy). */
  protected def probe(blob: Array[Byte], hash: Long): Boolean

  /** Java source for the static probe call used by codegen. */
  protected def probeCall(blobTerm: String, hashTerm: String): String

  /** Map the evaluated right-hand value to the 64-bit probe hash (identity
    * for the pre-hashed BIGINT probes; ClassicBloomContains hashes typed
    * values here).
    */
  protected def hashOf(v: Any): Long = v.asInstanceOf[Long]

  /** Java source mapping the right-hand value term to the probe hash. */
  protected def hashCall(term: String): String = term

  override def eval(input: InternalRow): Any = {
    val h = right.eval(input)
    if (h == null) return null
    val blob = evalBlob(input)
    if (blob == null) return null
    probe(blob, hashOf(h))
  }

  // Hand-written: a row-independent blob is evaluated once per task into a generated field.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val call = (f: String, h: String) => probeCall(f, hashCall(h))
    if (rowIndependentBlob) genKeyedProbe(ctx, ev, right, "graftConstBlob", "probe")(call)
    else defineCodeGen(ctx, ev, call)
  }
}

/** SQL: `quotient_filter_contains(filter, hash)`;
  * reference src/bitfilters_quotient_filter.cpp:246-267. */
case class QuotientFilterContains(left: Expression, right: Expression)
  extends FilterContainsExpression {
  override def prettyName: String = "quotient_filter_contains"
  override protected def probe(blob: Array[Byte], hash: Long): Boolean =
    QuotientFilter.probeBlob(blob, hash)
  override protected def probeCall(f: String, h: String): String =
    s"graft.core.QuotientFilter.probeBlob($f, $h)"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): QuotientFilterContains =
    copy(left = l, right = r)
}

/** SQL: `xor8_filter_contains` / `xor16_filter_contains`;
  * reference src/bitfilters_xor_filter.cpp:214-245. */
case class XorFilterContains(left: Expression, right: Expression, bits: Int)
  extends FilterContainsExpression {
  override def prettyName: String = s"xor${bits}_filter_contains"
  override protected def probe(blob: Array[Byte], hash: Long): Boolean =
    XorFilter.probeBlob(bits, blob, hash)
  override protected def probeCall(f: String, h: String): String =
    s"graft.core.XorFilter.probeBlob($bits, $f, $h)"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): XorFilterContains =
    copy(left = l, right = r)
}

/** SQL: `binary_fuse8_filter_contains` / `binary_fuse16_filter_contains`;
  * reference src/bitfilters_binary_fuse_filter.cpp:215-246. */
case class BinaryFuseFilterContains(left: Expression, right: Expression, bits: Int)
  extends FilterContainsExpression {
  override def prettyName: String = s"binary_fuse${bits}_filter_contains"
  override protected def probe(blob: Array[Byte], hash: Long): Boolean =
    BinaryFuseFilter.probeBlob(bits, blob, hash)
  override protected def probeCall(f: String, h: String): String =
    s"graft.core.BinaryFuseFilter.probeBlob($bits, $f, $h)"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): BinaryFuseFilterContains =
    copy(left = l, right = r)
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

/** SQL: `bitfilters_duckdb_bloom_filter_probe(version, filter, v1[, v2, ...])`.
  * Hashes the value arguments with the versioned algorithm (CombineHash for
  * multi-key) and probes the serialized bloom filter. Unlike the reference
  * (which rejects non-constant filter vectors,
  * src/bitfilters_duckdb_bloom_filter.cpp:444-446) we also accept a
  * per-row filter column. Reference cpp:327-468.
  */
case class DuckDbBloomFilterProbe(children: Seq[Expression]) extends Expression with OncePerTaskBlob {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true

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

  @transient private lazy val hashers: Array[Any => Long] =
    valueExprs.map(e => HashDispatch.hasherFor(e.dataType, "bitfilters_duckdb_bloom_filter_probe")).toArray
  @transient private lazy val valueArr: Array[Expression] = valueExprs.toArray

  override protected def blobExpr: Expression = filterExpr

  override def eval(input: InternalRow): Any = {
    val blob = evalBlob(input)
    if (blob == null) return null
    var h = 0L
    var i = 0
    while (i < valueArr.length) {
      val v = valueArr(i).eval(input)
      if (v == null) return null // NULL propagates like the hash function
      h = if (i == 0) hashers(0)(v) else DuckDbHash.combine(h, hashers(i)(v))
      i += 1
    }
    DuckDbBloomFilter.probeBlob(blob, h)
  }

  // Hand-written: the once-per-task blob plus one unrolled hash step per variadic argument.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val blobCode = genBlob(ctx, "graftConstBlob")
    val hVar = ctx.freshName("ddbHash")
    val nullVar = ctx.freshName("ddbAnyNull")
    val hashCode = HashDispatch.genCombinedHash(ctx, valueExprs, hVar, nullVar)
    val isNullVar = ctx.freshName("probeIsNull")
    val valueVar = ctx.freshName("probeValue")
    val blobVal = ctx.freshName("probeBlob")
    ev.copy(code = code"""
      ${blobCode._1}
      byte[] $blobVal = ${blobCode._2};
      boolean $isNullVar = true;
      boolean $valueVar = false;
      if ($blobVal != null) {
        $hashCode
        if (!$nullVar) {
          $isNullVar = false;
          $valueVar = graft.core.DuckDbBloomFilter.probeBlob($blobVal, $hVar);
        }
      }
      boolean ${ev.isNull} = $isNullVar;
      boolean ${ev.value} = $valueVar;
    """)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): DuckDbBloomFilterProbe =
    copy(children = newChildren)
}
