package graft.core

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
  * Only the lowest q+r bits of a hash participate. The state is the blob
  * itself: `insert` and merge change its slots in place, `serialize` writes
  * the u32 `entries` and copies it, and [[QuotientFilter.probeBlob]] is the
  * one membership read.
  */
final class QuotientFilter private (private val blob: Array[Byte], private var _entries: Long) {

  import QuotientFilter._

  val qbits: Int = blob(0) & 0xff
  val rbits: Int = blob(1) & 0xff
  private val elemBits: Int = rbits + 3
  private val indexMask: Long = lowMask(qbits)
  private val rMask: Long = lowMask(rbits)
  val maxSize: Long = 1L << qbits

  def entries: Long = _entries

  @inline private[core] def slot(idx: Long): Long = readSlot(blob, elemBits, idx)
  @inline private def setSlot(idx: Long, elt: Long): Unit = writeSlot(blob, elemBits, idx, elt)

  @inline private def incr(idx: Long): Long = (idx + 1) & indexMask

  /** Insert elt at s, shifting the cluster right; reference cpp:182-202. */
  private def insertInto(s0: Long, elt: Long): Unit = {
    var s = s0
    var curr = elt
    var empty = false
    do {
      var prev = slot(s)
      empty = isEmptyElement(prev)
      if (!empty) {
        prev = setShifted(prev)
        if (isOccupied(prev)) {
          curr = setOccupied(curr)
          prev = clrOccupied(prev)
        }
      }
      setSlot(s, curr)
      curr = prev
      s = incr(s)
    } while (!empty)
  }

  /** Returns false iff the filter is full; reference cpp:204-258. */
  def insert(hash: Long): Boolean = {
    if (_entries >= maxSize) return false
    val fq = (hash >>> rbits) & indexMask
    val fr = hash & rMask
    val tFq = slot(fq)
    var entry = (fr << 3) & ~7L

    if (isEmptyElement(tFq)) {
      setSlot(fq, setOccupied(entry))
      _entries += 1
      return true
    }

    if (!isOccupied(tFq)) setSlot(fq, setOccupied(tFq))

    val start = runStart(blob, elemBits, indexMask, fq)
    var s = start

    if (isOccupied(tFq)) {
      var continue = true
      while (continue) {
        val rem = getRemainder(slot(s))
        if (rem == fr) return true // duplicate
        else if (java.lang.Long.compareUnsigned(rem, fr) > 0) continue = false
        else {
          s = incr(s)
          if (!isContinuation(slot(s))) continue = false
        }
      }
      if (s == start) setSlot(start, setContinuation(slot(start)))
      else entry = setContinuation(entry)
    }

    if (s != fq) entry = setShifted(entry)

    insertInto(s, entry)
    _entries += 1
    true
  }

  /** No false negatives for inserted (q+r)-bit values; reference cpp:260-282. */
  def mayContain(hash: Long): Boolean = probeBlob(blob, hash)

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

  /** Wire format: 40-byte header + table bytes; reference hpp:91-98. The
    * state already is this blob but for its u32 `entries`.
    */
  def serialize(): Array[Byte] = {
    LittleEndianJ.putLong(blob, 0, (LittleEndianJ.getLong(blob, 0) & 0xffffffffL) | (_entries << 32))
    blob.clone()
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
    require(r <= 61, s"Quotient filter r=$r leaves no 64-bit slot for r + 3 bits")
    require(q <= 28, s"Quotient filter q=$q too large for in-memory table")
    val blob = new Array[Byte](Header + tableSizeBytes(q, r))
    blob(0) = q.toByte
    blob(1) = r.toByte
    blob(2) = (r + 3).toByte // blob(3) is the C struct's alignment padding
    LittleEndianJ.putLong(blob, 8, lowMask(q))
    LittleEndianJ.putLong(blob, 16, lowMask(r))
    LittleEndianJ.putLong(blob, 24, lowMask(r + 3))
    LittleEndianJ.putLong(blob, 32, 1L << q)
    new QuotientFilter(blob, 0L)
  }

  private final val Header = 40
  private final val Family = "quotient filter"

  /** Slot `idx` of the packed (r+3)-bit table: one little-endian 8-byte
    * window at the slot's first byte, moved back to the blob's last 8 bytes
    * near the end of the table (a slot there lies wholly inside them). A
    * slot wider than 57 bits can end past the window; it then also reads
    * the next byte.
    */
  @inline private[core] def readSlot(blob: Array[Byte], elemBits: Int, idx: Long): Long = {
    val bitpos = elemBits * idx
    val at = Header + (bitpos >>> 3).toInt
    val win = math.min(at, blob.length - 8)
    val shift = (bitpos & 7).toInt + ((at - win) << 3)
    val elemMask = -1L >>> (64 - elemBits)
    val elt = (LittleEndianJ.getLong(blob, win) >>> shift) & elemMask
    if (shift + elemBits <= 64) elt
    else elt | ((blob(win + 8) & 0xffL) << (64 - shift)) & elemMask
  }

  /** Write slot `idx` through the same window as [[readSlot]]. */
  @inline private def writeSlot(blob: Array[Byte], elemBits: Int, idx: Long, elt0: Long): Unit = {
    val bitpos = elemBits * idx
    val at = Header + (bitpos >>> 3).toInt
    val win = math.min(at, blob.length - 8)
    val shift = (bitpos & 7).toInt + ((at - win) << 3)
    val elemMask = -1L >>> (64 - elemBits)
    val elt = elt0 & elemMask
    val word = LittleEndianJ.getLong(blob, win)
    LittleEndianJ.putLong(blob, win, (word & ~(elemMask << shift)) | (elt << shift))
    if (shift + elemBits > 64) {
      val spill = (1 << (shift + elemBits - 64)) - 1
      blob(win + 8) = ((blob(win + 8) & ~spill) | ((elt >>> (64 - shift)).toInt & spill)).toByte
    }
  }

  /** First slot of the run of quotient `fq`; reference cpp:160-179. */
  private def runStart(blob: Array[Byte], elemBits: Int, indexMask: Long, fq: Long): Long = {
    var b = fq
    while (isShifted(readSlot(blob, elemBits, b))) b = (b - 1) & indexMask
    var s = b
    while (b != fq) {
      do s = (s + 1) & indexMask while (isContinuation(readSlot(blob, elemBits, s)))
      do b = (b + 1) & indexMask while (!isOccupied(readSlot(blob, elemBits, b)))
    }
    s
  }

  /** Refuse a blob whose (q, r) no filter can have or whose length is not
    * 40 + ceil(2^q (r+3) / 8). No blob reaches 2^31 bytes, so q <= 31.
    */
  @inline private def check(blob: Array[Byte]): Unit = {
    BlobSize.checkHeader(Family, blob, Header)
    val q = blob(0) & 0xff
    val r = blob(1) & 0xff
    if (q < 1 || q > 31 || r < 1 || r > 61 || q + r > 64) BlobSize.invalid(Family, s"q=$q, r=$r")
    BlobSize.check(Family, blob, Header + ((((r + 3).toLong << q) + 7) >>> 3))
  }

  /** The membership probe, zero-copy against a serialized blob; reference
    * quotient_filter.cpp:260-282. The hot path of `quotient_filter_contains`.
    */
  def probeBlob(blob: Array[Byte], hash: Long): Boolean = {
    check(blob)
    val q = blob(0) & 0xff
    val r = blob(1) & 0xff
    val elemBits = r + 3
    val indexMask = lowMask(q)
    val fq = (hash >>> r) & indexMask
    val fr = hash & lowMask(r)
    if (!isOccupied(readSlot(blob, elemBits, fq))) return false
    var s = runStart(blob, elemBits, indexMask, fq)
    // scan the sorted run
    while (true) {
      val rem = getRemainder(readSlot(blob, elemBits, s))
      if (rem == fr) return true
      else if (java.lang.Long.compareUnsigned(rem, fr) > 0) return false
      s = (s + 1) & indexMask
      if (!isContinuation(readSlot(blob, elemBits, s))) return false
    }
    false
  }

  /** A filter over a copy of `blob`'s table, with the header `create` writes. */
  def deserialize(blob: Array[Byte]): QuotientFilter = {
    check(blob)
    val f = create(blob(0) & 0xff, blob(1) & 0xff)
    System.arraycopy(blob, Header, f.blob, Header, blob.length - Header)
    f._entries = LittleEndianJ.getLong(blob, 0) >>> 32 // u32 entries at byte 4
    f
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
      if (isClusterStart(qf.slot(start))) found = true else start += 1
    }
    visited = 0
    index = start
  }

  @inline private def incr(i: Long): Long = (i + 1) & (qf.maxSize - 1)

  def done: Boolean = qf.entries == visited

  def next(): Long = {
    while (!done) {
      val elt = qf.slot(index)
      if (isClusterStart(elt)) quotient = index
      else if (isRunStart(elt)) {
        var quot = quotient
        do quot = incr(quot) while (!isOccupied(qf.slot(quot)))
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
