#!/usr/bin/env python3
"""Independent (pure-Python) prober for the graft filter blob wire formats.

This is a from-scratch reimplementation of the PROBE side of every blob
format the library's SQL functions emit, written against the documented
formats (which themselves replicate the reference extension's vendor
formats):

  quotient  40-byte header [u8 q][u8 r][u8 elem_bits][u8 pad][u32 entries]
            [u64 index_mask][u64 rmask][u64 elem_mask][u64 max_size] +
            packed (r+3)-bit slots, little-endian bit order
  xor8/16   [u64 seed][u64 blockLength][fp array]
  fuse8/16  [u64 Seed][u32 Size][u32 SegmentLength][u32 SegmentCount]
            [u32 SegmentCountLength][u32 ArrayLength][fp array]
  bloom     [u64 num_sectors][u64 * num_sectors]

Driven by BlobInteropSpec: the Scala side builds blobs THROUGH THE SQL
FUNCTIONS, dumps them plus member/non-member hash sets, and this script
verifies (1) every member hash is found — cross-implementation
no-false-negatives — and (2) the false-positive rate is within each
family's design bound. It then BUILDS every family independently from the
member hashes and byte-compares with the Spark-built blobs: all six
constructions are order-insensitive for a key set (bloom: commutative
sector ORs; xor/fuse: fixed splitmix64 seed sequence + symmetric xor
counting + ascending-index peel queues; quotient: runs kept sorted by
remainder), so byte equality must hold regardless of Spark's shuffle
order. This is the full-strength interop proof: any divergence in
sizing, seed schedule, peel semantics, bit packing, or serialization
between the two implementations fails the compare.

Every reader checks the blob length against its BASELINE.md formula
first and refuses a wrong-size blob with the JVM readers' message; a blob
one byte short must be refused by each.

Exit 0 iff everything passes; prints one summary line per family.
"""
import json
import os
import struct
import sys

M64 = (1 << 64) - 1


def murmur64(h):
    h ^= h >> 33
    h = (h * 0xFF51AFD7ED558CCD) & M64
    h ^= h >> 33
    h = (h * 0xC4CEB9FE1A85EC53) & M64
    h ^= h >> 33
    return h


def mixsplit(key, seed):
    return murmur64((key + seed) & M64)


def rotl64(n, c):
    return ((n << c) | (n >> (64 - c))) & M64


def reduce32(h32, n):
    return (h32 * n) >> 32


def fingerprint64(h):
    return h ^ (h >> 32)


def probe_xor(blob, key, bits):
    check_header(f"xor{bits} filter", blob, 16)
    seed, block_len = struct.unpack_from("<Qq", blob, 0)
    check_size(f"xor{bits} filter", blob, 16 + (bits // 8) * 3 * block_len)
    h = mixsplit(key, seed)
    h0 = reduce32(h & 0xFFFFFFFF, block_len)
    h1 = reduce32(rotl64(h, 21) & 0xFFFFFFFF, block_len) + block_len
    h2 = reduce32(rotl64(h, 42) & 0xFFFFFFFF, block_len) + 2 * block_len
    if bits == 8:
        f = fingerprint64(h) & 0xFF
        return f == blob[16 + h0] ^ blob[16 + h1] ^ blob[16 + h2]
    f = fingerprint64(h) & 0xFFFF
    u16 = lambda i: struct.unpack_from("<H", blob, 16 + 2 * i)[0]
    return f == u16(h0) ^ u16(h1) ^ u16(h2)


def probe_fuse(blob, key, bits):
    check_header(f"binary fuse{bits} filter", blob, 28)
    seed, size, seg_len, seg_cnt, seg_cnt_len, arr_len = struct.unpack_from(
        "<QIIIIi", blob, 0)
    check_size(f"binary fuse{bits} filter", blob,
               28 + (bits // 8) * arr_len + (4 if bits == 16 else 0))
    seg_mask = seg_len - 1
    h = mixsplit(key, seed)
    fp_mask = 0xFF if bits == 8 else 0xFFFF
    f = fingerprint64(h) & fp_mask
    h0 = (h * seg_cnt_len) >> 64
    h1 = h0 + seg_len
    h2 = h1 + seg_len
    h1 ^= (h >> 18) & seg_mask
    h2 ^= h & seg_mask
    if bits == 8:
        g = blob[28 + h0] ^ blob[28 + h1] ^ blob[28 + h2]
    else:
        u16 = lambda i: struct.unpack_from("<H", blob, 28 + 2 * i)[0]
        g = u16(h0) ^ u16(h1) ^ u16(h2)
    return (f ^ g) & fp_mask == 0


def check_header(family, blob, header):
    """A blob must hold the header bytes its size formula reads."""
    if len(blob) < header:
        raise ValueError(f"{family} blob: expected at least {header} bytes, got {len(blob)} bytes")


def check_size(family, blob, expected):
    """The size check every reader shares with the JVM side: a blob whose
    length is not its layout's formula (BASELINE.md) is refused."""
    if len(blob) != expected:
        raise ValueError(f"{family} blob: expected {expected} bytes, got {len(blob)} bytes")


def probe_quotient(blob, h):
    check_header("quotient filter", blob, 40)
    q, r = blob[0], blob[1]
    check_size("quotient filter", blob, 40 + ((1 << q) * (r + 3) + 7) // 8)
    elem_bits = r + 3
    index_mask = (1 << q) - 1
    r_mask = (1 << r) - 1
    elem_mask = (1 << elem_bits) - 1
    table = int.from_bytes(blob[40:], "little")

    def elem(idx):
        return (table >> (elem_bits * idx)) & elem_mask

    occupied = lambda e: e & 1
    continuation = lambda e: e & 2
    shifted = lambda e: e & 4

    fq = (h >> r) & index_mask
    fr = h & r_mask
    if not occupied(elem(fq)):
        return False
    b = fq
    while shifted(elem(b)):
        b = (b - 1) & index_mask
    s = b
    while b != fq:
        while True:
            s = (s + 1) & index_mask
            if not continuation(elem(s)):
                break
        while True:
            b = (b + 1) & index_mask
            if occupied(elem(b)):
                break
    while True:
        rem = elem(s) >> 3
        if rem == fr:
            return True
        if rem > fr:  # hashes are < 2^(q+r) here, plain compare is unsigned-safe
            return False
        s = (s + 1) & index_mask
        if not continuation(elem(s)):
            return False


def bloom_mask(h):
    m = 0
    for byte_idx in range(4, 8):
        m |= 1 << ((h >> (byte_idx * 8)) & 0x3F)
    return m


def probe_bloom(blob, h):
    check_header("duckdb bloom filter", blob, 8)
    n = struct.unpack_from("<Q", blob, 0)[0]
    check_size("duckdb bloom filter", blob, 8 * (n + 1))
    mask = bloom_mask(h)
    sector = struct.unpack_from("<Q", blob, 8 + 8 * (h & (n - 1)))[0]
    return sector & mask == mask


def build_bloom(hashes, num_sectors):
    sectors = [0] * num_sectors
    for h in hashes:
        sectors[h & (num_sectors - 1)] |= bloom_mask(h)
    return struct.pack("<Q", num_sectors) + b"".join(
        struct.pack("<Q", s) for s in sectors)


class SplitMix64:
    def __init__(self, state):
        self.state = state & M64

    def next(self):
        self.state = (self.state + 0x9E3779B97F4A7C15) & M64
        z = self.state
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & M64
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & M64
        return z ^ (z >> 31)


def _unsigned_sorted_distinct(keys):
    return sorted(set(k & M64 for k in keys))


def build_xor(bits, keys0, n0):
    """Independent xor8/16 construction: standard 3-wise peeling with the
    splitmix64(1) seed schedule, per-block count==1 queues scanned in
    ascending slot order. Order-insensitive in the key set."""
    keys = list(keys0)
    size = n0
    capacity = int(int(32 + 1.23 * size) // 3 * 3)
    block_len = capacity // 3
    arr_len = 3 * block_len
    rng = SplitMix64(1)
    seed = rng.next()

    stack_idx = [0] * size
    stack_hash = [0] * size
    iterations = 0
    while True:
        iterations += 1
        if iterations == 10:
            keys = _unsigned_sorted_distinct(keys[:size])
            size = len(keys)
        if iterations > 100:
            raise RuntimeError("xor construction failed after 100 seeds")
        sets_xor = [0] * arr_len
        sets_cnt = [0] * arr_len
        q_idx = [0] * arr_len
        q_hash = [0] * arr_len

        for i in range(size):
            h = mixsplit(keys[i], seed)
            h0 = reduce32(h & 0xFFFFFFFF, block_len)
            h1 = reduce32(rotl64(h, 21) & 0xFFFFFFFF, block_len) + block_len
            h2 = reduce32(rotl64(h, 42) & 0xFFFFFFFF, block_len) + 2 * block_len
            sets_xor[h0] ^= h
            sets_cnt[h0] += 1
            sets_xor[h1] ^= h
            sets_cnt[h1] += 1
            sets_xor[h2] ^= h
            sets_cnt[h2] += 1

        q0 = q1 = q2 = 0
        for i in range(block_len):
            if sets_cnt[i] == 1:
                q_idx[q0] = i
                q_hash[q0] = sets_xor[i]
                q0 += 1
        for i in range(block_len, 2 * block_len):
            if sets_cnt[i] == 1:
                q_idx[block_len + q1] = i - block_len
                q_hash[block_len + q1] = sets_xor[i]
                q1 += 1
        for i in range(2 * block_len, 3 * block_len):
            if sets_cnt[i] == 1:
                q_idx[2 * block_len + q2] = i - 2 * block_len
                q_hash[2 * block_len + q2] = sets_xor[i]
                q2 += 1

        stack_size = 0
        while q0 + q1 + q2 > 0:
            while q0 > 0:
                q0 -= 1
                index = q_idx[q0]
                h = q_hash[q0]
                if sets_cnt[index] != 0:
                    h1 = reduce32(rotl64(h, 21) & 0xFFFFFFFF, block_len) + block_len
                    h2 = reduce32(rotl64(h, 42) & 0xFFFFFFFF, block_len) + 2 * block_len
                    stack_idx[stack_size] = index
                    stack_hash[stack_size] = h
                    stack_size += 1
                    sets_xor[h1] ^= h
                    sets_cnt[h1] -= 1
                    if sets_cnt[h1] == 1:
                        q_idx[block_len + q1] = h1 - block_len
                        q_hash[block_len + q1] = sets_xor[h1]
                        q1 += 1
                    sets_xor[h2] ^= h
                    sets_cnt[h2] -= 1
                    if sets_cnt[h2] == 1:
                        q_idx[2 * block_len + q2] = h2 - 2 * block_len
                        q_hash[2 * block_len + q2] = sets_xor[h2]
                        q2 += 1
            while q1 > 0:
                q1 -= 1
                index = q_idx[block_len + q1] + block_len
                h = q_hash[block_len + q1]
                if sets_cnt[index] != 0:
                    h0 = reduce32(h & 0xFFFFFFFF, block_len)
                    h2 = reduce32(rotl64(h, 42) & 0xFFFFFFFF, block_len) + 2 * block_len
                    stack_idx[stack_size] = index
                    stack_hash[stack_size] = h
                    stack_size += 1
                    sets_xor[h0] ^= h
                    sets_cnt[h0] -= 1
                    if sets_cnt[h0] == 1:
                        q_idx[q0] = h0
                        q_hash[q0] = sets_xor[h0]
                        q0 += 1
                    sets_xor[h2] ^= h
                    sets_cnt[h2] -= 1
                    if sets_cnt[h2] == 1:
                        q_idx[2 * block_len + q2] = h2 - 2 * block_len
                        q_hash[2 * block_len + q2] = sets_xor[h2]
                        q2 += 1
            while q2 > 0:
                q2 -= 1
                index = q_idx[2 * block_len + q2] + 2 * block_len
                h = q_hash[2 * block_len + q2]
                if sets_cnt[index] != 0:
                    h0 = reduce32(h & 0xFFFFFFFF, block_len)
                    h1 = reduce32(rotl64(h, 21) & 0xFFFFFFFF, block_len) + block_len
                    stack_idx[stack_size] = index
                    stack_hash[stack_size] = h
                    stack_size += 1
                    sets_xor[h0] ^= h
                    sets_cnt[h0] -= 1
                    if sets_cnt[h0] == 1:
                        q_idx[q0] = h0
                        q_hash[q0] = sets_xor[h0]
                        q0 += 1
                    sets_xor[h1] ^= h
                    sets_cnt[h1] -= 1
                    if sets_cnt[h1] == 1:
                        q_idx[block_len + q1] = h1 - block_len
                        q_hash[block_len + q1] = sets_xor[h1]
                        q1 += 1
        if stack_size == size:
            break
        seed = rng.next()

    fp_mask = 0xFF if bits == 8 else 0xFFFF
    fingerprints = [0] * arr_len
    for s in range(size - 1, -1, -1):
        h = stack_hash[s]
        ki = stack_idx[s]
        value = fingerprint64(h) & fp_mask
        h0 = reduce32(h & 0xFFFFFFFF, block_len)
        h1 = reduce32(rotl64(h, 21) & 0xFFFFFFFF, block_len) + block_len
        h2 = reduce32(rotl64(h, 42) & 0xFFFFFFFF, block_len) + 2 * block_len
        if ki < block_len:
            value ^= fingerprints[h1] ^ fingerprints[h2]
        elif ki < 2 * block_len:
            value ^= fingerprints[h0] ^ fingerprints[h2]
        else:
            value ^= fingerprints[h0] ^ fingerprints[h1]
        fingerprints[ki] = value & fp_mask

    hdr = struct.pack("<QQ", seed, block_len)
    if bits == 8:
        return hdr + bytes(fingerprints)
    return hdr + b"".join(struct.pack("<H", f) for f in fingerprints)


def _fuse_layout(size):
    import math
    arity = 3
    if size == 0:
        seg_len = 4
    else:
        seg_len = 1 << int(math.floor(math.log(size) / math.log(3.33) + 2.25))
    seg_len = min(seg_len, 262144)
    if size <= 1:
        capacity = 0
    else:
        size_factor = max(1.125, 0.875 + 0.25 * math.log(1000000.0) / math.log(size))
        capacity = int(math.floor(size * size_factor + 0.5))  # JVM round-half-up
    init_seg_cnt = (capacity + seg_len - 1) // seg_len - (arity - 1)
    arr_len = (init_seg_cnt + arity - 1) * seg_len
    seg_cnt = (arr_len + seg_len - 1) // seg_len
    seg_cnt = 1 if seg_cnt <= arity - 1 else seg_cnt - (arity - 1)
    arr_len = (seg_cnt + arity - 1) * seg_len
    return seg_len, seg_cnt, seg_cnt * seg_len, arr_len


def build_fuse(bits, keys0, n0):
    """Independent binary fuse 8/16 construction: fixed rng counter
    0x726b2b9d438b9d4d, segmented slot mapping, duplicate back-out, and
    ascending-index degree-1 peel — then the reference's serialization
    (incl. fuse16's 4 trailing zero bytes). Order-insensitive."""
    keys = list(keys0)
    size = n0
    seg_len, seg_cnt, seg_cnt_len, arr_len = _fuse_layout(size)
    seg_mask = seg_len - 1

    def slot(index, h):
        hi = (h * seg_cnt_len) >> 64
        hh = h & ((1 << 36) - 1)
        return (hi + index * seg_len) ^ ((hh >> (36 - 18 * index)) & seg_mask)

    def mod3(x):
        return x - 3 if x > 2 else x

    rng = SplitMix64(0x726B2B9D438B9D4D)
    seed = rng.next()

    capacity = arr_len
    reverse_order = [0] * (size + 1)
    alone = [0] * capacity
    t2count = [0] * capacity  # byte semantics: every write masked & 0xFF
    reverse_h = [0] * size
    t2hash = [0] * capacity

    block_bits = 1
    while (1 << block_bits) < seg_cnt:
        block_bits += 1
    block = 1 << block_bits
    start_pos = [0] * block
    h012 = [0] * 5

    reverse_order[size] = 1
    final_size = size
    loop = 0
    while True:
        loop += 1
        if loop > 100:
            raise RuntimeError("fuse construction failed after 100 seeds")
        for i in range(block):
            start_pos[i] = (i * size) >> block_bits
        maskblock = block - 1
        for i in range(size):
            h = mixsplit(keys[i], seed)
            seg_idx = h >> (64 - block_bits)
            while reverse_order[start_pos[seg_idx]] != 0:
                seg_idx = (seg_idx + 1) & maskblock
            reverse_order[start_pos[seg_idx]] = h
            start_pos[seg_idx] += 1

        error = False
        duplicates = 0
        for i in range(size):
            h = reverse_order[i]
            h0 = slot(0, h)
            t2count[h0] = (t2count[h0] + 4) & 0xFF
            t2hash[h0] ^= h
            h1 = slot(1, h)
            t2count[h1] = ((t2count[h1] + 4) ^ 1) & 0xFF
            t2hash[h1] ^= h
            h2 = slot(2, h)
            t2count[h2] = (t2count[h2] + 4) & 0xFF
            t2hash[h2] ^= h
            t2count[h2] = (t2count[h2] ^ 2) & 0xFF
            if (t2hash[h0] & t2hash[h1] & t2hash[h2]) == 0:
                if ((t2hash[h0] == 0 and t2count[h0] == 8)
                        or (t2hash[h1] == 0 and t2count[h1] == 8)
                        or (t2hash[h2] == 0 and t2count[h2] == 8)):
                    duplicates += 1
                    t2count[h0] = (t2count[h0] - 4) & 0xFF
                    t2hash[h0] ^= h
                    t2count[h1] = ((t2count[h1] - 4) ^ 1) & 0xFF
                    t2hash[h1] ^= h
                    t2count[h2] = ((t2count[h2] - 4) ^ 2) & 0xFF
                    t2hash[h2] ^= h
            if t2count[h0] < 4 or t2count[h1] < 4 or t2count[h2] < 4:
                error = True

        if error:
            for i in range(size):
                reverse_order[i] = 0
            t2count = [0] * capacity
            t2hash = [0] * capacity
            seed = rng.next()
            continue

        q_size = 0
        for i in range(capacity):
            alone[q_size] = i
            if (t2count[i] >> 2) == 1:
                q_size += 1
        stack_size = 0
        while q_size > 0:
            q_size -= 1
            index = alone[q_size]
            if (t2count[index] >> 2) == 1:
                h = t2hash[index]
                h012[1] = slot(1, h)
                h012[2] = slot(2, h)
                h012[3] = slot(0, h)
                h012[4] = h012[1]
                found = t2count[index] & 3
                reverse_h[stack_size] = found
                reverse_order[stack_size] = h
                stack_size += 1
                other1 = h012[found + 1]
                alone[q_size] = other1
                if (t2count[other1] >> 2) == 2:
                    q_size += 1
                t2count[other1] = ((t2count[other1] - 4) ^ mod3(found + 1)) & 0xFF
                t2hash[other1] ^= h
                other2 = h012[found + 2]
                alone[q_size] = other2
                if (t2count[other2] >> 2) == 2:
                    q_size += 1
                t2count[other2] = ((t2count[other2] - 4) ^ mod3(found + 2)) & 0xFF
                t2hash[other2] ^= h
        if stack_size + duplicates == size:
            final_size = stack_size
            break
        if duplicates > 0:
            keys = _unsigned_sorted_distinct(keys[:size])
            size = len(keys)
        for i in range(size):
            reverse_order[i] = 0
        t2count = [0] * capacity
        t2hash = [0] * capacity
        seed = rng.next()

    fp_mask = 0xFF if bits == 8 else 0xFFFF
    fingerprints = [0] * arr_len
    for i in range(final_size - 1, -1, -1):
        h = reverse_order[i]
        xor2 = fingerprint64(h) & fp_mask
        found = reverse_h[i]
        h012[0] = slot(0, h)
        h012[1] = slot(1, h)
        h012[2] = slot(2, h)
        h012[3] = h012[0]
        h012[4] = h012[1]
        fingerprints[h012[found]] = (
            xor2 ^ fingerprints[h012[found + 1]] ^ fingerprints[h012[found + 2]]
        ) & fp_mask

    hdr = struct.pack("<QIIIII", seed, n0, seg_len, seg_cnt, seg_cnt_len, arr_len)
    if bits == 8:
        return hdr + bytes(fingerprints)
    # fuse16 blobs carry 4 trailing zero bytes (reference serialization quirk)
    return hdr + b"".join(struct.pack("<H", f) for f in fingerprints) + b"\x00" * 4


def build_quotient(q, r, hashes):
    """Independent quotient filter construction: 2^q slots of (r+3) bits,
    runs kept sorted by remainder (order-insensitive), 40-byte header +
    packed little-endian table."""
    elem_bits = r + 3
    index_mask = (1 << q) - 1
    r_mask = (1 << r) - 1
    elem_mask = (1 << elem_bits) - 1
    max_size = 1 << q
    total_bits = max_size * elem_bits
    words = [0] * ((total_bits + 63) // 64)
    entries = 0

    def get_elem(idx):
        bitpos = elem_bits * idx
        tabpos = bitpos >> 6
        slotpos = bitpos & 63
        spill = slotpos + elem_bits - 64
        elt = (words[tabpos] >> slotpos) & elem_mask
        if spill > 0:
            elt |= (words[tabpos + 1] & ((1 << spill) - 1)) << (elem_bits - spill)
        return elt

    def set_elem(idx, elt):
        bitpos = elem_bits * idx
        tabpos = bitpos >> 6
        slotpos = bitpos & 63
        spill = slotpos + elem_bits - 64
        elt &= elem_mask
        words[tabpos] = (words[tabpos] & ~(elem_mask << slotpos) & M64) | ((elt << slotpos) & M64)
        if spill > 0:
            words[tabpos + 1] = (words[tabpos + 1] & ~((1 << spill) - 1)) | (elt >> (elem_bits - spill))

    def find_run(fq):
        b = fq
        while get_elem(b) & 4:
            b = (b - 1) & index_mask
        s = b
        while b != fq:
            while True:
                s = (s + 1) & index_mask
                if not (get_elem(s) & 2):
                    break
            while True:
                b = (b + 1) & index_mask
                if get_elem(b) & 1:
                    break
        return s

    def insert_into(s, curr):
        while True:
            prev = get_elem(s)
            empty = (prev & 7) == 0
            if not empty:
                prev |= 4
                if prev & 1:
                    curr |= 1
                    prev &= ~1
            set_elem(s, curr)
            curr = prev
            s = (s + 1) & index_mask
            if empty:
                return

    for h in hashes:
        if entries >= max_size:
            continue  # reference merge semantics: silent drop when full
        fq = (h >> r) & index_mask
        fr = h & r_mask
        t_fq = get_elem(fq)
        entry = fr << 3
        if (t_fq & 7) == 0:
            set_elem(fq, entry | 1)
            entries += 1
            continue
        if not (t_fq & 1):
            set_elem(fq, t_fq | 1)
        start = find_run(fq)
        s = start
        dup = False
        if t_fq & 1:
            while True:
                rem = get_elem(s) >> 3
                if rem == fr:
                    dup = True
                    break
                if rem > fr:
                    break
                s = (s + 1) & index_mask
                if not (get_elem(s) & 2):
                    break
            if dup:
                continue
            if s == start:
                set_elem(start, get_elem(start) | 2)
            else:
                entry |= 2
        if s != fq:
            entry |= 4
        insert_into(s, entry)
        entries += 1

    hdr = struct.pack("<BBBBIQQQQ", q, r, elem_bits, 0, entries,
                      index_mask, r_mask, elem_mask, max_size)
    table_bytes = total_bits // 8 + (1 if total_bits % 8 else 0)
    body = bytearray(table_bytes)
    for i in range(table_bytes):
        body[i] = (words[i >> 3] >> ((i & 7) * 8)) & 0xFF
    return hdr + bytes(body)


def read_hashes(path):
    raw = open(path, "rb").read()
    return [x & M64 for (x,) in struct.iter_unpack("<q", raw)]


def main(d):
    members = read_hashes(os.path.join(d, "members.hashes"))
    nonmembers = read_hashes(os.path.join(d, "nonmembers.hashes"))
    probes = {
        "quotient": probe_quotient,
        "xor8": lambda b, h: probe_xor(b, h, 8),
        "xor16": lambda b, h: probe_xor(b, h, 16),
        "fuse8": lambda b, h: probe_fuse(b, h, 8),
        "fuse16": lambda b, h: probe_fuse(b, h, 16),
        "bloom": probe_bloom,
    }
    fpr_bound = {"quotient": 0.01, "xor8": 0.01, "xor16": 0.0005,
                 "fuse8": 0.01, "fuse16": 0.0005, "bloom": 0.005}
    failures = []
    for fam, probe in probes.items():
        blob = open(os.path.join(d, fam + ".blob"), "rb").read()
        found = sum(1 for h in members if probe(blob, h))
        fps = sum(1 for h in nonmembers if probe(blob, h))
        fpr = fps / len(nonmembers)
        ok = found == len(members) and fpr <= fpr_bound[fam]
        print(f"{fam}: members {found}/{len(members)} "
              f"fps {fps}/{len(nonmembers)} (fpr {fpr:.5f}) "
              f"{'OK' if ok else 'FAIL'}")
        if not ok:
            failures.append(fam)

    # every reader refuses a blob one byte short
    for fam in probes:
        blob = open(os.path.join(d, fam + ".blob"), "rb").read()
        try:
            probes[fam](blob[:-1], members[0])
            rejected = False
        except ValueError as e:
            rejected = True
            print(f"{fam}-short: {e}")
        print(f"{fam}-short: rejected={rejected}")
        if not rejected:
            failures.append(fam + "-short")

    # reverse direction: build every family independently and byte-compare.
    # Geometry parameters are read back out of the Spark blobs' own headers
    # so the script stays agnostic to the spec's choices.
    spark_blobs = {fam: open(os.path.join(d, fam + ".blob"), "rb").read()
                   for fam in probes}
    num_sectors = struct.unpack_from("<Q", spark_blobs["bloom"], 0)[0]
    qf_q, qf_r = spark_blobs["quotient"][0], spark_blobs["quotient"][1]
    n = len(members)
    rebuilds = {
        "bloom": lambda: build_bloom(members, num_sectors),
        "xor8": lambda: build_xor(8, members, n),
        "xor16": lambda: build_xor(16, members, n),
        "fuse8": lambda: build_fuse(8, members, n),
        "fuse16": lambda: build_fuse(16, members, n),
        "quotient": lambda: build_quotient(qf_q, qf_r, members),
    }
    for fam, rebuild in rebuilds.items():
        py_blob = rebuild()
        eq = py_blob == spark_blobs[fam]
        print(f"{fam}-rebuild: byte_equal={eq} "
              f"(py {len(py_blob)} bytes, spark {len(spark_blobs[fam])} bytes)")
        if not eq:
            failures.append(fam + "-rebuild")
        with open(os.path.join(d, "py" + fam + ".blob"), "wb") as f:
            f.write(py_blob)

    print(json.dumps({"failures": failures}))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
