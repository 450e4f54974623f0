package graft.core

import java.nio.{ByteBuffer, ByteOrder}

/** Quotient filter (Bender et al. style, 3 metadata bits per slot).
  *
  * Behaviour and wire format replicated from the reference's vendor
  * implementation (src/vendor/quotient-filter/quotient_filter.{hpp,cpp}):
  *  - 2^q slots of (r+3) bits: [is_occupied][is_continuation][is_shifted]
  *    metadata plus an r-bit remainder (quotient_filter.cpp:99-157)
  *  - insert keeps runs sorted by remainder; duplicates are no-ops
  *    (quotient_filter.cpp:204-258)
  *  - wire format: a 40-byte little-endian header mirroring the C struct
  *    `QuotientFilterValues` INCLUDING its alignment padding byte
  *    (u8 q, u8 r, u8 elem_bits, u8 pad, u32 entries, u64 index_mask,
  *    u64 rmask, u64 elem_mask, u64 max_size; quotient_filter.hpp:14-28,91-98)
  *    followed by ceil(2^q * (r+3) / 8) table bytes.
  *  - merge: new filter with q = max(q1,q2), r = max(r1,r2), all stored
  *    (quotient<<r | remainder) values reinserted (quotient_filter.cpp:388-406).
  *    NOTE the reference ignores insert() overflow during merge (cpp:399,403),
  *    silently dropping keys; we replicate that for bit-compatibility.
  *
  * Only the lowest q+r bits of a hash participate.
  */
final class QuotientFilter private (
    val qbits: Int,
    val rbits: Int,
    private var _entries: Long,
    val table: Array[Long]) {

  import QuotientFilter._

  private val elemBits: Int = rbits + 3
  private val indexMask: Long = lowMask(qbits)
  private val rMask: Long = lowMask(rbits)
  private val elemMask: Long = lowMask(elemBits)
  val maxSize: Long = 1L << qbits

  def entries: Long = _entries

  /** Read slot idx (low `elemBits` bits); reference quotient_filter.cpp:60-73. */
  @inline private[core] def getElem(idx: Long): Long = {
    val bitpos = elemBits * idx
    val tabpos = (bitpos >>> 6).toInt
    val slotpos = (bitpos & 63).toInt
    val spill = slotpos + elemBits - 64
    var elt = (table(tabpos) >>> slotpos) & elemMask
    if (spill > 0) {
      val x = table(tabpos + 1) & lowMask(spill)
      elt |= x << (elemBits - spill)
    }
    elt
  }

  /** Write slot idx; reference quotient_filter.cpp:76-89. */
  @inline private def setElem(idx: Long, elt0: Long): Unit = {
    val bitpos = elemBits * idx
    val tabpos = (bitpos >>> 6).toInt
    val slotpos = (bitpos & 63).toInt
    val spill = slotpos + elemBits - 64
    val elt = elt0 & elemMask
    table(tabpos) &= ~(elemMask << slotpos)
    table(tabpos) |= elt << slotpos
    if (spill > 0) {
      table(tabpos + 1) &= ~lowMask(spill)
      table(tabpos + 1) |= elt >>> (elemBits - spill)
    }
  }

  @inline private def incr(idx: Long): Long = (idx + 1) & indexMask
  @inline private def decr(idx: Long): Long = (idx - 1) & indexMask

  @inline private def hashToQuotient(hash: Long): Long = (hash >>> rbits) & indexMask
  @inline private def hashToRemainder(hash: Long): Long = hash & rMask

  /** Find start of the run for quotient fq; reference cpp:160-179. */
  private def findRunIndex(fq: Long): Long = {
    var b = fq
    while (isShifted(getElem(b))) b = decr(b)
    var s = b
    while (b != fq) {
      do s = incr(s) while (isContinuation(getElem(s)))
      do b = incr(b) while (!isOccupied(getElem(b)))
    }
    s
  }

  /** Insert elt at s, shifting the cluster right; reference cpp:182-202. */
  private def insertInto(s0: Long, elt: Long): Unit = {
    var s = s0
    var curr = elt
    var empty = false
    do {
      var prev = getElem(s)
      empty = isEmptyElement(prev)
      if (!empty) {
        prev = setShifted(prev)
        if (isOccupied(prev)) {
          curr = setOccupied(curr)
          prev = clrOccupied(prev)
        }
      }
      setElem(s, curr)
      curr = prev
      s = incr(s)
    } while (!empty)
  }

  /** Returns false iff the filter is full; reference cpp:204-258. */
  def insert(hash: Long): Boolean = {
    if (_entries >= maxSize) return false
    val fq = hashToQuotient(hash)
    val fr = hashToRemainder(hash)
    val tFq = getElem(fq)
    var entry = (fr << 3) & ~7L

    if (isEmptyElement(tFq)) {
      setElem(fq, setOccupied(entry))
      _entries += 1
      return true
    }

    if (!isOccupied(tFq)) setElem(fq, setOccupied(tFq))

    val start = findRunIndex(fq)
    var s = start

    if (isOccupied(tFq)) {
      var continue = true
      while (continue) {
        val rem = getRemainder(getElem(s))
        if (rem == fr) return true // duplicate
        else if (java.lang.Long.compareUnsigned(rem, fr) > 0) continue = false
        else {
          s = incr(s)
          if (!isContinuation(getElem(s))) continue = false
        }
      }
      if (s == start) {
        val oldHead = getElem(start)
        setElem(start, setContinuation(oldHead))
      } else {
        entry = setContinuation(entry)
      }
    }

    if (s != fq) entry = setShifted(entry)

    insertInto(s, entry)
    _entries += 1
    true
  }

  /** No false negatives for inserted (q+r)-bit values; reference cpp:260-282. */
  def mayContain(hash: Long): Boolean = {
    val fq = hashToQuotient(hash)
    val fr = hashToRemainder(hash)
    if (!isOccupied(getElem(fq))) return false
    var s = findRunIndex(fq)
    var continue = true
    while (continue) {
      val rem = getRemainder(getElem(s))
      if (rem == fr) return true
      else if (java.lang.Long.compareUnsigned(rem, fr) > 0) return false
      s = incr(s)
      continue = isContinuation(getElem(s))
    }
    false
  }

  /** Union-merge; reference cpp:388-406 (including its drop-on-overflow
    * quirk: insert() failures during merge are ignored, silently dropping
    * keys once the destination table fills). `strict = true` raises on the
    * first dropped key instead — the reference has no such mode (SURVEY §7
    * flagged "replicate or raise"; we ship both, replicate as the parity
    * default, so blob compatibility is unchanged unless opted in).
    */
  def merge(other: QuotientFilter, strict: Boolean = false): QuotientFilter = {
    if (qbits == other.qbits && rbits == other.rbits) {
      // in-place absorb: same layout means this table IS the output layout.
      // The reference rebuilds a fresh filter and reinserts both sides on
      // every combine; under Spark's 32-way partial aggregation that would
      // re-copy the accumulated state once per partition merge (O(P * n)
      // inserts + P table allocations). Absorbing costs only other.entries
      // inserts and is bit-identical: insert() is the same operation the
      // rebuild would perform, in a table of the same geometry.
      absorb(other, strict)
      this
    } else {
      val out = QuotientFilter.create(math.max(qbits, other.qbits), math.max(rbits, other.rbits))
      val it1 = new QuotientFilterIterator(this)
      while (!it1.done) out.mergeInsert(it1.next(), strict)
      val it2 = new QuotientFilterIterator(other)
      while (!it2.done) out.mergeInsert(it2.next(), strict)
      out
    }
  }

  /** Insert every stored value of `other` (same q,r) into this filter,
    * ignoring overflow like the reference's merge (cpp:399,403) unless
    * `strict`.
    */
  private def absorb(other: QuotientFilter, strict: Boolean): Unit = {
    val it = new QuotientFilterIterator(other)
    while (!it.done) mergeInsert(it.next(), strict)
  }

  /** A merge-path insert: non-strict replicates the reference's silent
    * drop-on-overflow; strict raises on the first key genuinely LOST —
    * insert() rejects any key once the table is full, including
    * already-present duplicates, so the mayContain check keeps strict
    * from raising when nothing was actually dropped (e.g. merging a full
    * filter with itself).
    */
  private def mergeInsert(hash: Long, strict: Boolean): Unit =
    if (!insert(hash) && strict && !mayContain(hash))
      throw new IllegalStateException(
        s"quotient filter strict merge overflow: destination table q=$qbits r=$rbits " +
          s"is full at $entries entries; the reference (and strict=false) would " +
          "silently drop this key")

  /** Wire format: 40-byte header + table bytes; reference hpp:91-98. */
  def serialize(): Array[Byte] = {
    val tableBytes = QuotientFilter.tableSizeBytes(qbits, rbits)
    val out = ByteBuffer.allocate(40 + tableBytes).order(ByteOrder.LITTLE_ENDIAN)
    out.put(qbits.toByte)
    out.put(rbits.toByte)
    out.put(elemBits.toByte)
    out.put(0.toByte) // struct alignment padding
    out.putInt(_entries.toInt) // u32 entries
    out.putLong(indexMask)
    out.putLong(rMask)
    out.putLong(elemMask)
    out.putLong(maxSize)
    // table payload: first `tableBytes` bytes of the little-endian u64 array
    var i = 0
    while (i < tableBytes) {
      out.put(((table(i >>> 3) >>> ((i & 7) * 8)) & 0xff).toByte)
      i += 1
    }
    out.array()
  }
}

object QuotientFilter {

  @inline private def lowMask(n: Int): Long = if (n >= 64) -1L else (1L << n) - 1L

  @inline private[core] def isOccupied(elt: Long): Boolean = (elt & 1) != 0
  @inline private[core] def setOccupied(elt: Long): Long = elt | 1
  @inline private[core] def clrOccupied(elt: Long): Long = elt & ~1L
  @inline private[core] def isContinuation(elt: Long): Boolean = (elt & 2) != 0
  @inline private[core] def setContinuation(elt: Long): Long = elt | 2
  @inline private[core] def isShifted(elt: Long): Boolean = (elt & 4) != 0
  @inline private[core] def setShifted(elt: Long): Long = elt | 4
  @inline private[core] def getRemainder(elt: Long): Long = elt >>> 3
  @inline private[core] def isEmptyElement(elt: Long): Boolean = (elt & 7) == 0
  @inline private[core] def isClusterStart(elt: Long): Boolean =
    isOccupied(elt) && !isContinuation(elt) && !isShifted(elt)
  @inline private[core] def isRunStart(elt: Long): Boolean =
    !isContinuation(elt) && (isOccupied(elt) || isShifted(elt))

  /** Smallest q whose 2^q slot capacity keeps load ≤ `maxLoad` for `n`
    * keys. Capacity is a BUILD parameter the caller must size to the
    * keyset (reference semantics): past ~0.6 load inserts degrade to
    * O(cluster) linear shifting, and at load 1 a merge silently drops
    * keys — measured as a single task quadratically shifting for 15+
    * minutes when a fixed q=19 met a 1.5M-key corpus at sf10. Callers
    * whose key count scales with data MUST derive q from a count, not
    * hard-code it.
    */
  def qForKeys(n: Long, maxLoad: Double = 0.5, minQ: Int = 10): Int = {
    require(n >= 0, s"key count must be >= 0, got $n")
    require(maxLoad > 0 && maxLoad <= 1, s"maxLoad must be in (0,1], got $maxLoad")
    require(minQ >= 1 && minQ <= 28, s"minQ must be in [1,28], got $minQ")
    var q = minQ
    while (q < 28 && (1L << q) * maxLoad < n) q += 1
    q
  }

  /** Serialized table payload size; reference quotient_filter.cpp:419-423. */
  def tableSizeBytes(q: Int, r: Int): Int = {
    val bits = (1L << q) * (r + 3)
    val bytes = bits / 8
    (if (bits % 8 != 0) bytes + 1 else bytes).toInt
  }

  def create(q: Int, r: Int): QuotientFilter = {
    require(q > 0, "Quotient filter q must be > 0")
    require(r > 0, "Quotient filter r must be > 0")
    require(q + r <= 64, "Quotient filter q + r must be <= 64")
    require(q <= 28, s"Quotient filter q=$q too large for in-memory table")
    val bits = (1L << q) * (r + 3)
    val words = ((bits + 63) / 64).toInt
    new QuotientFilter(q, r, 0L, new Array[Long](words))
  }

  /** Zero-copy membership probe directly against a serialized blob: reads
    * packed (r+3)-bit slots straight out of the blob bytes, allocating
    * nothing. Semantics identical to [[QuotientFilter.mayContain]]
    * (reference quotient_filter.cpp:260-282) — this is the hot path for the
    * `quotient_filter_contains` SQL expression where the filter column is not
    * constant and a per-row table materialization would dominate.
    */
  def probeBlob(blob: Array[Byte], hash: Long): Boolean = {
    val r = blob(1) & 0xff
    val q = blob(0) & 0xff
    val elemBits = r + 3
    val indexMask = lowMask(q)
    val rMask = lowMask(r)
    val elemMask = lowMask(elemBits)

    // read the element at slot idx from the packed table starting at byte 40
    def elem(idx: Long): Long = {
      val bitpos = elemBits * idx
      val bytePos = 40 + (bitpos >>> 3).toInt
      val shift = (bitpos & 7).toInt
      // gather up to (shift + elemBits) <= 71 bits, little-endian
      var lo = 0L
      var i = 0
      val end = math.min(8, blob.length - bytePos)
      while (i < end) { lo |= (blob(bytePos + i) & 0xffL) << (8 * i); i += 1 }
      var elt = (lo >>> shift) & elemMask
      val got = 64 - shift
      if (got < elemBits && bytePos + 8 < blob.length) {
        val hi = blob(bytePos + 8) & 0xffL
        elt |= (hi << got) & elemMask
      }
      elt
    }

    def incr(i: Long): Long = (i + 1) & indexMask
    def decr(i: Long): Long = (i - 1) & indexMask

    val fq = (hash >>> r) & indexMask
    val fr = hash & rMask
    if (!isOccupied(elem(fq))) return false

    // find run start
    var b = fq
    while (isShifted(elem(b))) b = decr(b)
    var s = b
    while (b != fq) {
      do s = incr(s) while (isContinuation(elem(s)))
      do b = incr(b) while (!isOccupied(elem(b)))
    }
    // scan the sorted run
    var continue = true
    while (continue) {
      val rem = getRemainder(elem(s))
      if (rem == fr) return true
      else if (java.lang.Long.compareUnsigned(rem, fr) > 0) return false
      s = incr(s)
      continue = isContinuation(elem(s))
    }
    false
  }

  def deserialize(blob: Array[Byte]): QuotientFilter = {
    if (blob.length < 40)
      throw new IllegalArgumentException("Data size is too small to contain QuotientFilter header")
    val bb = ByteBuffer.wrap(blob).order(ByteOrder.LITTLE_ENDIAN)
    val q = bb.get(0) & 0xff
    val r = bb.get(1) & 0xff
    val entries = bb.getInt(4).toLong & 0xffffffffL
    val tableBytes = tableSizeBytes(q, r)
    if (blob.length < 40 + tableBytes)
      throw new IllegalArgumentException("Data size is too small to contain QuotientFilter table")
    val words = new Array[Long]((tableBytes + 7) / 8)
    var i = 0
    while (i < tableBytes) {
      words(i >>> 3) |= (blob(40 + i) & 0xffL) << ((i & 7) * 8)
      i += 1
    }
    new QuotientFilter(q, r, entries, words)
  }
}

/** Enumerates stored (quotient << r | remainder) values in cluster order;
  * reference quotient_filter.cpp:425-477. Used by merge.
  */
final class QuotientFilterIterator(qf: QuotientFilter) {
  import QuotientFilter._

  private var visited: Long = qf.entries
  private var index: Long = 0L
  private var quotient: Long = 0L

  // locate the first cluster start
  if (qf.entries > 0) {
    var start = 0L
    var found = false
    while (start < qf.maxSize && !found) {
      if (isClusterStart(qf.getElem(start))) found = true else start += 1
    }
    visited = 0
    index = start
  }

  @inline private def incr(i: Long): Long = (i + 1) & (qf.maxSize - 1)

  def done: Boolean = qf.entries == visited

  def next(): Long = {
    while (!done) {
      val elt = qf.getElem(index)
      if (isClusterStart(elt)) quotient = index
      else if (isRunStart(elt)) {
        var quot = quotient
        do quot = incr(quot) while (!isOccupied(qf.getElem(quot)))
        quotient = quot
      }
      index = incr(index)
      if (!isEmptyElement(elt)) {
        visited += 1
        return (quotient << qf.rbits) | getRemainder(elt)
      }
    }
    throw new IllegalStateException("QuotientFilterIterator exhausted")
  }
}
