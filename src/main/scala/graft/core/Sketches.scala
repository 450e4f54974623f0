package graft.core

import java.nio.{ByteBuffer, ByteOrder}

/** Cardinality / frequency / set-operation sketches for the training-data
  * pipeline, following the reference's "probabilistic structure as a SQL
  * BLOB" model (aggregate finalizes to a serialized blob; scalar functions
  * probe it — docs/README.md:5-9): HyperLogLog for distinct counts,
  * Count-Min for frequency estimates, KMV (bottom-k) for distinct counts
  * with exact set-operation composition. All three are small, mergeable,
  * order-insensitive states — the shape that partial-aggregates efficiently
  * at 100 TB (a per-group HLL at p=12 is 4 KB regardless of group size).
  *
  * Every definition here is chosen to be REPLAYABLE IN PLAIN SQL with exact
  * integer arithmetic (given the same 64-bit key hash), so cross-engine
  * oracles can verify sketch contents bit-for-bit, not just "estimate looks
  * close":
  *  - HLL buckets come from the TOP p hash bits, rho from the bit length of
  *    the remaining low bits (`64-p-bitlength+1` — computable in SQL as
  *    `length(bin(rem))` with no floating log2).
  *  - Count-Min row hashes are `DuckDbHash.hashLong(key ^ rowSeed)` — the
  *    versioned engine hash applied to an XOR-perturbed key, replayable
  *    with the host engine's own `hash()`/`xor()`.
  *  - KMV keeps the k smallest DISTINCT hashes in UNSIGNED order, which is
  *    a `DISTINCT ... ORDER BY ... LIMIT k` in any engine with unsigned
  *    64-bit values.
  */
object HllSketch {
  val MinP = 4
  val MaxP = 18
  private final val Family = "hll sketch"

  def create(p: Int): HllSketch = {
    require(p >= MinP && p <= MaxP, s"hll_sketch p must be in [$MinP, $MaxP], got $p")
    val blob = new Array[Byte](1 + (1 << p))
    blob(0) = p.toByte
    new HllSketch(blob)
  }

  /** Refuse a blob whose p is out of range, whose length is not 1+2^p, or
    * with a register above 64-p+1 (the largest rho `add` can write).
    */
  private def check(bytes: Array[Byte]): Unit = {
    BlobSize.checkHeader(Family, bytes, 1)
    val p = bytes(0) & 0xff
    if (p < MinP || p > MaxP) BlobSize.invalid(Family, s"p=$p")
    BlobSize.check(Family, bytes, 1 + (1 << p))
    var i = 1
    while (i < bytes.length) {
      if ((bytes(i) & 0xff) > 64 - p + 1) BlobSize.invalid(Family, s"register ${i - 1}=${bytes(i) & 0xff}")
      i += 1
    }
  }

  /** Blob: [u8 p][u8 register × 2^p], little-endian (single-byte fields). */
  def deserialize(bytes: Array[Byte]): HllSketch = {
    check(bytes)
    new HllSketch(bytes.clone())
  }

  /** Flajolet HLL estimate with linear-counting small-range correction,
    * read straight off the blob's registers.
    *
    * The harmonic sum is computed as an EXACT integer numerator
    * num = sum_j 2^(64-p+1-M_j) (BigInt; each term a power of two, exponent
    * in [0, 64-p+1]), rounded to double ONCE — so the value is independent
    * of summation order and bit-identical to any engine that forms the same
    * integer and divides in the same expression order.
    */
  def estimateBlob(bytes: Array[Byte]): Double = {
    check(bytes)
    val p = bytes(0) & 0xff
    val q1 = 64 - p + 1
    // histogram the (<= 64 distinct) register values first, then form the
    // numerator from at most 64 BigInt terms — identical integer (same sum,
    // associativity-free), ~100x cheaper than a BigInt op per register
    val hist = new Array[Int](q1 + 1)
    var i = 1
    while (i < bytes.length) { hist(bytes(i) & 0xff) += 1; i += 1 }
    var num = BigInt(0)
    var r = 0
    while (r <= q1) {
      if (hist(r) > 0) num += BigInt(hist(r)) << (q1 - r)
      r += 1
    }
    val md = (1 << p).toDouble
    val alpha = 0.7213 / (1.0 + 1.079 / md)
    val pow2q1 = java.lang.Math.scalb(1.0, q1)
    val raw = alpha * md * md * pow2q1 / num.doubleValue
    val z = hist(0)
    if (raw <= 2.5 * md && z > 0) md * math.log(md / z.toDouble) else raw
  }
}

/** The state is the blob itself, [u8 p][u8 register × 2^p]: `add` and
  * `mergeMax` change its registers in place, `serialize` copies it, and
  * [[HllSketch.estimateBlob]] is the one estimate read.
  */
final class HllSketch private (private val blob: Array[Byte]) {
  val p: Int = blob(0) & 0xff

  /** rho = leading-zero count of the low (64-p) bits + 1; a zero remainder
    * saturates at 64-p+1 (all observable bits zero).
    */
  def add(hash: Long): Unit = {
    val at = 1 + (hash >>> (64 - p)).toInt
    val rem = hash & ((1L << (64 - p)) - 1)
    val q = 64 - p
    val rho = if (rem == 0L) q + 1 else q - (64 - java.lang.Long.numberOfLeadingZeros(rem)) + 1
    if (rho > (blob(at) & 0xff)) blob(at) = rho.toByte
  }

  def mergeMax(o: HllSketch): Unit = {
    require(o.p == p, s"cannot merge hll sketches with p=$p and p=${o.p}")
    var i = 1
    while (i < blob.length) {
      if ((o.blob(i) & 0xff) > (blob(i) & 0xff)) blob(i) = o.blob(i)
      i += 1
    }
  }

  def serialize(): Array[Byte] = blob.clone()
}

object CountMinSketch {
  /** Per-row XOR perturbations of the key before the engine hash: row i
    * hashes DuckDbHash.hashLong(key ^ RowSeeds(i)). Fixed public constants
    * (digits of pi scaled; any fixed values work) so SQL oracles can inline
    * them as literals. Depth is capped at their count.
    */
  val RowSeeds: Array[Long] = Array(
    0L,
    0x243f6a8885a308d3L,
    0x13198a2e03707344L,
    0xa4093822299f31d0L,
    0x082efa98ec4e6c89L,
    0x452821e638d01377L,
    0xbe5466cf34e90c6cL,
    0xc0ac29b7c97c50ddL)

  val MaxDepth: Int = RowSeeds.length
  val MinLog2W = 4
  val MaxLog2W = 24
  private final val Family = "cms sketch"

  def create(depth: Int, log2w: Int): CountMinSketch = {
    require(depth >= 1 && depth <= MaxDepth, s"cms_sketch depth must be in [1, $MaxDepth], got $depth")
    require(log2w >= MinLog2W && log2w <= MaxLog2W,
      s"cms_sketch log2_width must be in [$MinLog2W, $MaxLog2W], got $log2w")
    val blob = new Array[Byte](2 + 8 * (depth << log2w))
    blob(0) = depth.toByte
    blob(1) = log2w.toByte
    new CountMinSketch(blob)
  }

  /** Byte offset of `keyHash`'s counter in row `row`: the row's
    * `DuckDbHash.hashLong(key ^ RowSeeds(row))` modulo the 2^log2w width.
    */
  @inline private def counterOffset(row: Int, log2w: Int, keyHash: Long): Int = {
    val g = DuckDbHash.hashLong(keyHash ^ RowSeeds(row))
    2 + 8 * ((row << log2w) + (g & ((1 << log2w) - 1)).toInt)
  }

  /** Refuse a blob whose depth or log2_width is out of range or whose
    * length is not 2 + 8·depth·2^log2w.
    */
  private def check(bytes: Array[Byte]): Unit = {
    BlobSize.checkHeader(Family, bytes, 2)
    val depth = bytes(0) & 0xff
    val log2w = bytes(1) & 0xff
    if (depth < 1 || depth > MaxDepth) BlobSize.invalid(Family, s"depth=$depth")
    if (log2w < MinLog2W || log2w > MaxLog2W) BlobSize.invalid(Family, s"log2_width=$log2w")
    BlobSize.check(Family, bytes, 2 + 8L * (depth << log2w))
  }

  /** Point-frequency upper bound, min over the depth rows, zero-copy off
    * the serialized blob — the per-row probe path (`cms_estimate` over a
    * scanned column) must not materialize depth·2^log2w counters per row.
    */
  def probeBlob(bytes: Array[Byte], keyHash: Long): Long = {
    check(bytes)
    val depth = bytes(0) & 0xff
    val log2w = bytes(1) & 0xff
    var best = Long.MaxValue
    var r = 0
    while (r < depth) {
      val c = LittleEndianJ.getLong(bytes, counterOffset(r, log2w, keyHash))
      if (c < best) best = c
      r += 1
    }
    best
  }

  /** Blob: [u8 depth][u8 log2w][u64 × depth·2^log2w counters], LE. */
  def deserialize(bytes: Array[Byte]): CountMinSketch = {
    check(bytes)
    new CountMinSketch(bytes.clone())
  }
}

/** The state is the blob itself, [u8 depth][u8 log2w][u64 counters]: `add`
  * and `addMerge` change its counters in place, `serialize` copies it, and
  * [[CountMinSketch.probeBlob]] is the one estimate read.
  */
final class CountMinSketch private (private val blob: Array[Byte]) {
  import LittleEndianJ.{getLong, putLong}

  val depth: Int = blob(0) & 0xff
  val log2w: Int = blob(1) & 0xff
  def width: Int = 1 << log2w

  def add(keyHash: Long, inc: Long = 1L): Unit = {
    var r = 0
    while (r < depth) {
      val off = CountMinSketch.counterOffset(r, log2w, keyHash)
      putLong(blob, off, getLong(blob, off) + inc)
      r += 1
    }
  }

  private def requireShape(o: CountMinSketch, what: String): Unit =
    require(o.depth == depth && o.log2w == log2w,
      s"cannot $what cms sketches with (depth=$depth,log2w=$log2w) and (depth=${o.depth},log2w=${o.log2w})")

  def addMerge(o: CountMinSketch): Unit = {
    requireShape(o, "merge")
    var i = 2
    while (i < blob.length) { putLong(blob, i, getLong(blob, i) + getLong(o.blob, i)); i += 8 }
  }

  /** Equi-join size upper bound (AMS/CM inner product): min over the depth
    * rows of Σ_cell this·other — each row's sum ≥ Σ_key fA(k)·fB(k), the
    * true join cardinality, with collisions only ADDING mass. Saturates at
    * Long.MaxValue (a row sum can reach |A|·|B|; the min of the remaining
    * rows usually recovers, but a genuinely astronomical join size
    * saturates cleanly instead of wrapping).
    */
  def innerProduct(o: CountMinSketch): Long = {
    requireShape(o, "inner-product")
    var best = Long.MaxValue
    var r = 0
    while (r < depth) {
      var s = 0L
      var saturated = false
      var i = 2 + 8 * (r << log2w)
      val end = 2 + 8 * ((r + 1) << log2w)
      while (i < end && !saturated) {
        try s = Math.addExact(s, Math.multiplyExact(getLong(blob, i), getLong(o.blob, i)))
        catch { case _: ArithmeticException => saturated = true }
        i += 8
      }
      if (!saturated && s < best) best = s
      r += 1
    }
    best
  }

  def serialize(): Array[Byte] = blob.clone()
}

object KmvSketch {
  val MaxK = 1 << 20

  /** Correctly-rounded unsigned-long-to-double (a raw (double) cast of the
    * reinterpreted signed value would be wrong for the top bit, and
    * add-after-convert double-rounds).
    */
  def unsignedToDouble(v: Long): Double =
    if (v >= 0) v.toDouble
    else new java.math.BigInteger(java.lang.Long.toUnsignedString(v)).doubleValue

  def estimateBlob(bytes: Array[Byte]): Double = deserialize(bytes).estimate

  /** Blob: [i32 k][i32 n][i64 × n, ascending unsigned], LE. */
  def deserialize(bytes: Array[Byte]): KmvSketch = {
    require(bytes.length >= 8, "kmv blob is too short")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val k = bb.getInt
    val n = bb.getInt
    require(k >= 1 && k <= MaxK, s"kmv blob has invalid k=$k")
    require(n >= 0 && n <= k, s"kmv blob has invalid n=$n for k=$k")
    require(bytes.length == 8 + 8L * n, s"kmv blob length ${bytes.length} != ${8 + 8L * n}")
    val values = new Array[Long](n)
    bb.asLongBuffer().get(values)
    new KmvSketch(k, values)
  }
}

/** `values` = up to k smallest DISTINCT hashes seen, ascending UNSIGNED. */
final class KmvSketch(val k: Int, val values: Array[Long]) {
  def n: Int = values.length

  /** Distinct-count estimate: exact below k (all distinct hashes are
    * retained), else the classic (k-1) / kth-minimum-as-fraction-of-2^64.
    */
  def estimate: Double =
    if (n < k) n.toDouble
    else (k - 1).toDouble * 18446744073709551616.0 / KmvSketch.unsignedToDouble(values(k - 1))

  def serialize(): Array[Byte] = {
    val out = ByteBuffer.allocate(8 + 8 * values.length).order(ByteOrder.LITTLE_ENDIAN)
    out.putInt(k).putInt(values.length)
    var i = 0
    while (i < values.length) { out.putLong(values(i)); i += 1 }
    out.array()
  }
}

object KmvOps {
  /** |L ∩ A ∩ B| where L = the min(ka,kb) smallest distinct hashes of
    * A ∪ B — the numerator of the KMV Jaccard estimator (shared / k). An
    * exact integer, so cross-engine comparison needs no tolerance.
    */
  def intersectCount(a: KmvSketch, b: KmvSketch): Long = {
    val k = math.min(a.k, b.k)
    // merge the two ascending-unsigned lists, stopping after k distinct
    var ia = 0; var ib = 0; var taken = 0; var shared = 0L
    while (taken < k && (ia < a.n || ib < b.n)) {
      val c =
        if (ia >= a.n) 1
        else if (ib >= b.n) -1
        else java.lang.Long.compareUnsigned(a.values(ia), b.values(ib))
      if (c == 0) { shared += 1; ia += 1; ib += 1 }
      else if (c < 0) ia += 1
      else ib += 1
      taken += 1
    }
    shared
  }
}

object HistogramSketch {
  val MaxBins = 1 << 16

  def create(nbins: Int, lo: Double, hi: Double): HistogramSketch = {
    require(nbins >= 1 && nbins <= MaxBins,
      s"hist_sketch nbins must be in [1, $MaxBins], got $nbins")
    require(java.lang.Double.isFinite(lo) && java.lang.Double.isFinite(hi) && lo < hi,
      s"hist_sketch needs finite lo < hi, got [$lo, $hi)")
    new HistogramSketch(nbins, lo, hi, 0L, 0L, new Array[Long](nbins))
  }

  /** Blob: [i32 nbins][f64 lo][f64 hi][i64 below][i64 above][i64 × nbins], LE. */
  def deserialize(bytes: Array[Byte]): HistogramSketch = {
    require(bytes.length >= 36, "hist blob is too short")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val nbins = bb.getInt
    require(nbins >= 1 && nbins <= MaxBins, s"hist blob has invalid nbins=$nbins")
    require(bytes.length == 36 + 8L * nbins,
      s"hist blob length ${bytes.length} != ${36 + 8L * nbins}")
    val lo = bb.getDouble; val hi = bb.getDouble
    val below = bb.getLong; val above = bb.getLong
    val counts = new Array[Long](nbins)
    bb.asLongBuffer().get(counts)
    new HistogramSketch(nbins, lo, hi, below, above, counts)
  }
}

/** Fixed-range equi-width histogram: the one-pass, mergeable (vector-add)
  * numeric-distribution state. At 100 TB it answers quantile/shape questions
  * with a few KB per group and no sort — the scale path next to the exact
  * sorted percentile. Bin placement is plain IEEE double arithmetic
  * (`min(nbins-1, floor((x-lo)/width))` — the clamp makes `x = hi-ulp`
  * rounding up to `nbins` part of the contract), so an engine-independent
  * SQL replay produces identical counts; quantile interpolation is a pure
  * function of the counts, replayable with a window cumsum.
  */
final class HistogramSketch(val nbins: Int, val lo: Double, val hi: Double,
    var below: Long, var above: Long, val counts: Array[Long]) {

  private val width: Double = (hi - lo) / nbins

  def add(x: Double): Unit = {
    if (java.lang.Double.isNaN(x)) return // NaN is neither below nor above
    if (x < lo) below += 1
    else if (x >= hi) above += 1
    else {
      val b = math.min(nbins - 1, ((x - lo) / width).toInt)
      counts(b) += 1
    }
  }

  def addMerge(other: HistogramSketch): Unit = {
    require(other.nbins == nbins && other.lo == lo && other.hi == hi,
      s"cannot merge histograms with different shapes: " +
        s"[$lo,$hi)x$nbins vs [${other.lo},${other.hi})x${other.nbins}")
    below += other.below; above += other.above
    var i = 0
    while (i < nbins) { counts(i) += other.counts(i); i += 1 }
  }

  def inRange: Long = { var s = 0L; var i = 0; while (i < nbins) { s += counts(i); i += 1 }; s }

  /** Interpolated quantile over IN-RANGE values: rank `q*N` walked through
    * the cumulative counts, uniform within the landing bin. q=0 gives the
    * start of the first occupied bin, q=1 the end of the last. NULL-ish
    * (NaN) when no in-range values or q outside [0,1].
    */
  def quantile(q: Double): Double = {
    val n = inRange
    if (n == 0 || q < 0.0 || q > 1.0 || java.lang.Double.isNaN(q)) return Double.NaN
    val rank = q * n
    var cum = 0L
    var b = 0
    while (b < nbins) {
      val c = counts(b)
      if (c > 0) {
        val cumAfter = cum + c
        if (cumAfter >= rank) {
          val within = (rank - cum) / c
          return lo + width * (b + math.max(0.0, within))
        }
        cum = cumAfter
      }
      b += 1
    }
    hi // unreachable for q <= 1, defensive
  }

  def serialize(): Array[Byte] = {
    val out = ByteBuffer.allocate(36 + 8 * nbins).order(ByteOrder.LITTLE_ENDIAN)
    out.putInt(nbins).putDouble(lo).putDouble(hi).putLong(below).putLong(above)
    var i = 0
    while (i < nbins) { out.putLong(counts(i)); i += 1 }
    out.array()
  }
}
