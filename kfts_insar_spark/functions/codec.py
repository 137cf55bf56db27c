"""Gorilla-style time-series compression: delta-of-delta timestamps +
XOR-packed float values (Facebook Gorilla, VLDB'15 — public algorithm).

Role in the engine (SURVEY.md §2.10): rolled-up series are packed per
(source, coarse-bucket) into binary columns for the retention tiers. This is
the principled replacement for the reference's *lossy* state compression
(it discards covariance cross-terms and keeps only diag σ,
/root/reference/kf/KF_class.py:353-369 — comment at :227 admits the
approximation); our tier encoding is bit-exact lossless.

Encode runs inside an Arrow-batched grouped UDF — once per bucket, never per
row. Decode is the verification path (tests + time-travel reads).

Bit layout
----------
timestamps (int64 seconds, monotone within bucket):
  header: t0 (64b), d0 = t1−t0 (zigzag 64b)  [n from the column count]
  then per point: dod = (t_k − t_{k−1}) − (t_{k−1} − t_{k−2}) in buckets
    '0'                      dod == 0
    '10'  + 7b  zigzag       −63 … 64
    '110' + 9b  zigzag       −255 … 256
    '1110'+ 12b zigzag       −2047 … 2048
    '1111'+ 64b zigzag       otherwise
values (float64 bit patterns):
  header: v0 (64b)
  then per point, x = bits(v_k) XOR bits(v_{k−1}):
    '0'                      x == 0
    '10'  + meaningful bits  leading/trailing-zero window ⊇ previous window
    '11'  + 6b lead + 6b len + bits   new window
"""

from __future__ import annotations

import numpy as np

# ------------------------------------------------------------- bit plumbing
class BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.nbits += nbits
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def getvalue(self) -> bytes:
        if self.nbits:
            return bytes(self.buf) + bytes([(self.acc << (8 - self.nbits)) & 0xFF])
        return bytes(self.buf)


class BitReader:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0

    def read(self, nbits: int) -> int:
        out = 0
        for _ in range(nbits):
            byte = self.data[self.pos >> 3]
            bit = (byte >> (7 - (self.pos & 7))) & 1
            out = (out << 1) | bit
            self.pos += 1
        return out


def _zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v < 0 else (v << 1)


def _unzigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


# ---------------------------------------------------------------- timestamps
def encode_timestamps(ts: np.ndarray) -> bytes:
    ts = np.asarray(ts, dtype=np.int64)
    w = BitWriter()
    n = len(ts)
    if n == 0:
        return b""
    w.write(int(ts[0]) & ((1 << 64) - 1), 64)
    if n == 1:
        return w.getvalue()
    d0 = int(ts[1]) - int(ts[0])
    w.write(_zigzag(d0), 64)
    deltas = np.diff(ts)
    dods = np.diff(deltas)
    for dod in dods:
        dod = int(dod)
        z = _zigzag(dod)
        if dod == 0:
            w.write(0b0, 1)
        elif -63 <= dod <= 64:
            w.write(0b10, 2)
            w.write(z, 7 + 1)  # zigzag of ±64 needs 8 bits
        elif -255 <= dod <= 256:
            w.write(0b110, 3)
            w.write(z, 10)
        elif -2047 <= dod <= 2048:
            w.write(0b1110, 4)
            w.write(z, 13)
        else:
            w.write(0b1111, 4)
            w.write(z, 64)
    return w.getvalue()


def decode_timestamps(data: bytes, n: int) -> np.ndarray:
    if n == 0:
        return np.empty(0, dtype=np.int64)
    r = BitReader(data)
    t0 = r.read(64)
    if t0 >= 1 << 63:
        t0 -= 1 << 64
    out = [t0]
    if n == 1:
        return np.asarray(out, dtype=np.int64)
    delta = _unzigzag(r.read(64))
    out.append(t0 + delta)
    for _ in range(n - 2):
        if r.read(1) == 0:
            dod = 0
        elif r.read(1) == 0:
            dod = _unzigzag(r.read(8))
        elif r.read(1) == 0:
            dod = _unzigzag(r.read(10))
        elif r.read(1) == 0:
            dod = _unzigzag(r.read(13))
        else:
            dod = _unzigzag(r.read(64))
        delta += dod
        out.append(out[-1] + delta)
    return np.asarray(out, dtype=np.int64)


# -------------------------------------------------------------------- values
def encode_values(vals: np.ndarray) -> bytes:
    bits = np.asarray(vals, dtype=np.float64).view(np.uint64)
    w = BitWriter()
    n = len(bits)
    if n == 0:
        return b""
    w.write(int(bits[0]), 64)
    prev = int(bits[0])
    lead, tail = 65, 0  # sentinel: no previous window
    for i in range(1, n):
        cur = int(bits[i])
        x = prev ^ cur
        prev = cur
        if x == 0:
            w.write(0b0, 1)
            continue
        cl = 64 - x.bit_length()  # leading zeros
        ct = (x & -x).bit_length() - 1  # trailing zeros
        cl = min(cl, 31)  # cap so 5/6-bit headers suffice (Gorilla spec)
        if cl >= lead and ct >= tail:
            w.write(0b10, 2)
            w.write(x >> tail, 64 - lead - tail)
        else:
            lead, tail = cl, ct
            sig = 64 - lead - tail
            w.write(0b11, 2)
            w.write(lead, 6)
            w.write(sig - 1, 6)  # store len−1 so sig=64 fits in 6 bits
            w.write(x >> tail, sig)
    return w.getvalue()


def decode_values(data: bytes, n: int) -> np.ndarray:
    if n == 0:
        return np.empty(0, dtype=np.float64)
    r = BitReader(data)
    prev = r.read(64)
    out = [prev]
    lead, tail = 65, 0
    for _ in range(n - 1):
        if r.read(1) == 0:
            out.append(prev)
            continue
        if r.read(1) == 0:
            sig = 64 - lead - tail
            x = r.read(sig) << tail
        else:
            lead = r.read(6)
            sig = r.read(6) + 1
            tail = 64 - lead - sig
            x = r.read(sig) << tail
        prev ^= x
        out.append(prev)
    return np.asarray(out, dtype=np.uint64).view(np.float64)


# --------------------------------------------------------------- vectorized
def _pack_fields(vals: np.ndarray, nbits: np.ndarray) -> bytes:
    """Concatenate variable-width big-endian bit fields, fully vectorized.

    Word-based: each field lands at bit offset cumsum(nbits) and so
    contributes to at most TWO 64-bit output words; contributions to the
    same word are consecutive in field order per slot, so one
    bitwise_or.reduceat per slot combines them. Replaces the earlier
    (F, 64) bit-matrix + packbits formulation, which streamed 64 B of
    DRAM per field and was the compress stage's scaling floor (this form
    moves ~16 B/field; measured 4-9× faster at 2M fields)."""
    if len(vals) == 0:
        return b""
    nbits = nbits.astype(np.int64, copy=False)
    full = nbits >= 64
    width = np.where(full, 0, nbits).astype(np.uint64)  # shift-safe
    mask = np.where(full, ~np.uint64(0), (np.uint64(1) << width) - np.uint64(1))
    vals = vals.astype(np.uint64, copy=True)
    vals &= mask
    ends = np.cumsum(nbits)
    starts = ends - nbits
    total = int(ends[-1])
    w0 = starts >> 6
    r = starts & 63
    fits = (r + nbits) <= 64
    hi = np.where(
        fits,
        vals << np.where(fits, 64 - r - nbits, 0).astype(np.uint64),
        vals >> np.where(fits, 0, r + nbits - 64).astype(np.uint64),
    )
    spill = ~fits
    lo = vals[spill] << (128 - r[spill] - nbits[spill]).astype(np.uint64)
    out = np.zeros((total + 63) >> 6, dtype=np.uint64)
    for idx_arr, contrib in ((w0, hi), (w0[spill] + 1, lo)):
        if not len(idx_arr):
            continue
        bounds = np.concatenate([[0], np.flatnonzero(np.diff(idx_arr)) + 1])
        out[idx_arr[bounds]] |= np.bitwise_or.reduceat(contrib, bounds)
    # big-endian byte order == the BitWriter's MSB-first stream
    return out.byteswap().tobytes()[: (total + 7) >> 3]


def encode_values_vec(vals: np.ndarray) -> bytes:
    """Vectorized Gorilla value encoder (wire-compatible with
    :func:`decode_values`). Sacrifices the '10' reuse-window form — every
    changed value is emitted as an explicit-window '11' block — so each
    point is independent and the whole bucket encodes in a handful of numpy
    ops (~30× the Python bit-writer's throughput; ~1.5 extra bytes per
    changed point, still ≲½ of raw)."""
    bits = np.asarray(vals, dtype=np.float64).view(np.uint64)
    n = len(bits)
    if n == 0:
        return b""
    x = bits[1:] ^ bits[:-1]
    same = x == 0
    # leading zeros via bit_length (float64 mantissa can't express >2^53
    # exactly → compute on the two 32-bit halves)
    hi = (x >> np.uint64(32)).astype(np.uint32)
    lo = x.astype(np.uint32)  # truncates to low 32 bits
    def _bl(a32):  # bit_length of uint32 via float64 log2 (exact: a < 2^32)
        out = np.zeros(a32.shape, dtype=np.int64)
        nz = a32 != 0
        out[nz] = np.floor(np.log2(a32[nz].astype(np.float64))).astype(np.int64) + 1
        return out
    bl = np.where(hi != 0, 32 + _bl(hi), _bl(lo))
    lead = np.minimum(64 - bl, 31)
    # trailing zeros: bit_length of (x & -x) minus 1
    low = x & (~x + np.uint64(1))
    lhi = (low >> np.uint64(32)).astype(np.uint32)
    llo = low.astype(np.uint32)
    tbl = np.where(lhi != 0, 32 + _bl(lhi), _bl(llo))
    tail = np.where(same, 0, tbl - 1)
    sig = 64 - lead - tail

    # fields: [header v0] + per point either ('0',1) or
    # (('11'<<12)|(lead<<6)|(sig-1), 14) + (x>>tail, sig)
    f_vals = np.empty(1 + 2 * (n - 1), dtype=np.uint64)
    f_bits = np.empty(1 + 2 * (n - 1), dtype=np.int64)
    f_vals[0], f_bits[0] = bits[0], 64
    ctrl = (np.uint64(0b11) << np.uint64(12)) | (
        lead.astype(np.uint64) << np.uint64(6)
    ) | (sig - 1).astype(np.uint64)
    f_vals[1::2] = np.where(same, np.uint64(0), ctrl)
    f_bits[1::2] = np.where(same, 1, 14)
    f_vals[2::2] = np.where(same, np.uint64(0), x >> tail.astype(np.uint64))
    f_bits[2::2] = np.where(same, 0, sig)
    keep = f_bits > 0
    return _pack_fields(f_vals[keep], f_bits[keep])


def encode_timestamps_vec(ts: np.ndarray) -> bytes:
    """Vectorized delta-of-delta timestamp encoder (wire-compatible with
    :func:`decode_timestamps`)."""
    ts = np.asarray(ts, dtype=np.int64)
    n = len(ts)
    if n == 0:
        return b""
    if n == 1:
        return _pack_fields(
            np.array([ts[0]], dtype=np.int64).view(np.uint64),
            np.array([64]),
        )
    d0 = int(ts[1]) - int(ts[0])
    dods = np.diff(np.diff(ts))
    z = ((dods << 1) ^ (dods >> 63)).astype(np.uint64)  # zigzag
    b1 = (dods >= -63) & (dods <= 64)
    b2 = ~b1 & (dods >= -255) & (dods <= 256)
    b3 = ~b1 & ~b2 & (dods >= -2047) & (dods <= 2048)
    b4 = ~(b1 | b2 | b3)
    zero = dods == 0

    m = n - 2
    f_vals = np.empty(2 + 2 * m, dtype=np.uint64)
    f_bits = np.empty(2 + 2 * m, dtype=np.int64)
    # negative ints must wrap, not raise → go through a view
    f_vals[0] = np.array([ts[0]], dtype=np.int64).view(np.uint64)[0]
    f_bits[0] = 64
    f_vals[1] = np.array([(d0 << 1) ^ (d0 >> 63)], dtype=np.int64).view(np.uint64)[0]
    f_bits[1] = 64
    # main field: control+payload fused (except the 68-bit b4 case → 2 fields)
    v = np.zeros(m, dtype=np.uint64)
    w = np.zeros(m, dtype=np.int64)
    v[zero], w[zero] = 0, 1
    s1 = b1 & ~zero
    v[s1] = (np.uint64(0b10) << np.uint64(8)) | z[s1]
    w[s1] = 10
    v[b2] = (np.uint64(0b110) << np.uint64(10)) | z[b2]
    w[b2] = 13
    v[b3] = (np.uint64(0b1110) << np.uint64(13)) | z[b3]
    w[b3] = 17
    v[b4], w[b4] = np.uint64(0b1111), 4  # payload in the second field
    f_vals[2::2], f_bits[2::2] = v, w
    f_vals[3::2] = np.where(b4, z, np.uint64(0))
    f_bits[3::2] = np.where(b4, 64, 0)
    keep = f_bits > 0
    return _pack_fields(f_vals[keep], f_bits[keep])


# ------------------------------------------------------- chunked vectorized
def _emit_chunked(
    f_vals: np.ndarray,
    f_bits: np.ndarray,
    point_of_field: np.ndarray,
    starts: np.ndarray,
    n_points: int,
) -> list[bytes]:
    """Pack per-point variable fields for MANY chunks in ONE packbits call:
    pad each chunk's bit stream to a byte boundary, pack the concatenation,
    slice the result by per-chunk byte offsets. Removes the per-chunk fixed
    cost that dominates when chunks are small (measured ~0.6 ms/chunk with
    per-chunk encode calls vs ~µs here)."""
    keep = f_bits > 0
    f_vals, f_bits = f_vals[keep], f_bits[keep]
    pof = point_of_field[keep]
    # bits per chunk
    chunk_of_field = np.searchsorted(starts, pof, side="right") - 1
    C = len(starts)
    bits_per_chunk = np.bincount(chunk_of_field, weights=f_bits, minlength=C).astype(
        np.int64
    )
    pad = (-bits_per_chunk) % 8
    # append one pad field at the end of each chunk's field run
    ends = np.searchsorted(chunk_of_field, np.arange(C), side="right")
    ins_vals = np.zeros(C, dtype=np.uint64)
    f_vals = np.insert(f_vals, ends, ins_vals)
    f_bits = np.insert(f_bits, ends, pad)
    keep2 = f_bits > 0
    packed = _pack_fields(f_vals[keep2], f_bits[keep2])
    nbytes = ((bits_per_chunk + pad) // 8).astype(np.int64)
    offs = np.concatenate([[0], np.cumsum(nbytes)])
    return [packed[offs[c] : offs[c + 1]] for c in range(C)]


def encode_values_chunked(vals: np.ndarray, starts: np.ndarray) -> list[bytes]:
    """Vectorized Gorilla value encoding of MANY chunks at once.
    ``starts`` = sorted start indices of each chunk in ``vals``.
    Wire-compatible with :func:`decode_values` per chunk.

    Per chunk the encoder picks the cheaper of two valid layouts (the
    decoder accepts both — same wire format):

    - explicit: every changed value is a '11' block with its own window
      (14 bits header + its significant bits);
    - pooled: one '11' block opens a window pooled over the chunk
      (lead = min lead, tail = min tail of its changed values — a
      superset of every per-value window, so the '10' reuse form is
      valid), then every later changed value is '10' + pooled-width bits.

    The greedy per-value window walk of the original Gorilla encoder is a
    sequential dependence chain; the pooled form recovers most of its
    '10'-reuse savings with pure segment reductions."""
    bits = np.asarray(vals, dtype=np.float64).view(np.uint64)
    N = len(bits)
    starts = np.asarray(starts, dtype=np.int64)
    if N == 0:
        return [b""] * len(starts)
    first = np.zeros(N, dtype=bool)
    first[starts] = True
    prev = np.empty_like(bits)
    prev[1:] = bits[:-1]
    prev[0] = 0
    x = bits ^ prev
    x[first] = 0
    same = (x == 0) & ~first

    hi = (x >> np.uint64(32)).astype(np.uint32)
    lo = x.astype(np.uint32)

    def _bl(a32):
        out = np.zeros(a32.shape, dtype=np.int64)
        nz = a32 != 0
        out[nz] = np.floor(np.log2(a32[nz].astype(np.float64))).astype(np.int64) + 1
        return out

    bl = np.where(hi != 0, 32 + _bl(hi), _bl(lo))
    lead = np.minimum(64 - bl, 31)
    low = x & (~x + np.uint64(1))
    lhi = (low >> np.uint64(32)).astype(np.uint32)
    llo = low.astype(np.uint32)
    tail = np.where(same | first, 0, _bl_pair(lhi, llo, _bl) - 1)
    sig = 64 - lead - tail
    changed = ~first & ~same

    # ---- per-chunk pooled window + layout choice (segment reductions)
    chunk_of = np.searchsorted(starts, np.arange(N), side="right") - 1
    lead_pool_c = np.minimum.reduceat(np.where(changed, lead, 64), starts)
    tail_pool_c = np.minimum.reduceat(np.where(changed, tail, 64), starts)
    n_changed_c = np.add.reduceat(changed.astype(np.int64), starts)
    sum_sig_c = np.add.reduceat(np.where(changed, sig, 0), starts)
    sig_pool_c = 64 - lead_pool_c - tail_pool_c
    cost_explicit = 14 * n_changed_c + sum_sig_c
    cost_pooled = np.where(
        n_changed_c > 0,
        14 + n_changed_c * sig_pool_c + (n_changed_c - 1) * 2,
        0,
    )
    pooled_pt = (cost_pooled < cost_explicit)[chunk_of] & changed
    # first changed value of each chunk (opens the pooled window)
    cum = np.cumsum(changed)
    cum_before_c = np.where(starts > 0, cum[np.maximum(starts - 1, 0)], 0)
    first_changed = changed & ((cum - cum_before_c[chunk_of]) == 1)

    lead_p = lead_pool_c[chunk_of]
    tail_p = tail_pool_c[chunk_of]
    sig_p = sig_pool_c[chunk_of]
    use_tail = np.where(pooled_pt, tail_p, tail)
    use_sig = np.where(pooled_pt, sig_p, sig)
    ctrl = (
        (np.uint64(0b11) << np.uint64(12))
        | (np.where(pooled_pt, lead_p, lead).astype(np.uint64) << np.uint64(6))
        | (use_sig - 1).astype(np.uint64)
    )
    f_vals = np.empty(2 * N, dtype=np.uint64)
    f_bits = np.zeros(2 * N, dtype=np.int64)
    # slot 0: header | '0' | '10' (pooled reuse) | '11'+window ctrl
    reuse = pooled_pt & ~first_changed
    f_vals[0::2] = np.where(
        first,
        bits,
        np.where(same, np.uint64(0), np.where(reuse, np.uint64(0b10), ctrl)),
    )
    f_bits[0::2] = np.where(first, 64, np.where(same, 1, np.where(reuse, 2, 14)))
    # slot 1: significant bits (changed values only)
    f_vals[1::2] = np.where(changed, x >> use_tail.astype(np.uint64), np.uint64(0))
    f_bits[1::2] = np.where(changed, use_sig, 0)
    pof = np.repeat(np.arange(N), 2)
    return _emit_chunked(f_vals, f_bits, pof, starts, N)


def _bl_pair(hi32, lo32, _bl):
    return np.where(hi32 != 0, 32 + _bl(hi32), _bl(lo32))


def _bl32(a32: np.ndarray) -> np.ndarray:
    """bit_length of uint32 via float64 log2 (exact: a < 2^32 < 2^53)."""
    out = np.zeros(a32.shape, dtype=np.int64)
    nz = a32 != 0
    out[nz] = np.floor(np.log2(a32[nz].astype(np.float64))).astype(np.int64) + 1
    return out


def encode_ints_chunked(vals: np.ndarray, starts: np.ndarray) -> list[bytes]:
    """Per-chunk fixed-width zigzag-delta packing of int64 series (the
    DELTA_BINARY_PACKED idea from the public Parquet format, single block
    per chunk). Wire layout per chunk:

      v0 (64b) | w (6b) | (n-1) × zigzag(v_k − v_{k−1}) fields of w bits

    w = bit length of the chunk's largest zigzag delta (0 → constant
    series, no delta fields). Built for near-integer VALUE streams whose
    deltas need 10-20 bits — the Gorilla XOR form spends ~45 bits on the
    same pair of close integer doubles, and the timestamp dod buckets
    (8/10/13/64) escape to 68 bits above ±2048."""
    iv = np.asarray(vals, dtype=np.int64)
    N = len(iv)
    starts = np.asarray(starts, dtype=np.int64)
    if N == 0:
        return [b""] * len(starts)
    n_chunks = len(starts)
    counts = np.diff(np.append(starts, N))
    chunk_id = np.repeat(np.arange(n_chunks), counts)
    first = np.zeros(N, dtype=bool)
    first[starts] = True
    d = np.empty(N, dtype=np.int64)
    d[1:] = iv[1:] - iv[:-1]
    d[0] = 0
    d[first] = 0
    z = ((d << 1) ^ (d >> 63)).astype(np.uint64)
    zmax = np.maximum.reduceat(np.where(first, np.uint64(0), z), starts)
    w_c = _bl_pair(
        (zmax >> np.uint64(32)).astype(np.uint32),
        zmax.astype(np.uint32),
        _bl32,
    )
    if w_c.max(initial=0) > 63:
        # the width lives in a 6-bit field; a 64-bit zigzag delta
        # (|delta| >= 2^62) would silently wrap it and corrupt the chunk
        raise ValueError(
            "encode_ints_chunked: chunk delta needs a 64-bit field; inputs "
            "must satisfy |v_k - v_{k-1}| < 2^62 (compress_tier guards "
            "|v| < 2^53 and never hits this)"
        )
    f_vals = np.empty(2 * N, dtype=np.uint64)
    f_bits = np.zeros(2 * N, dtype=np.int64)
    f_vals[0::2] = np.where(first, iv.view(np.uint64), z)
    f_bits[0::2] = np.where(first, 64, w_c[chunk_id])
    f_vals[1::2] = np.where(first, w_c[chunk_id].astype(np.uint64), np.uint64(0))
    f_bits[1::2] = np.where(first, 6, 0)
    return _emit_chunked(
        f_vals, f_bits, np.repeat(np.arange(N), 2), starts, N
    )


def decode_ints_lockstep(datas: list[bytes], ns: np.ndarray) -> np.ndarray:
    """Decode C fixed-width zigzag-delta streams in lockstep → (C, max_n)
    int64 (entries past each stream's n are undefined). Branch-free: every
    point i of stream c sits at bit 70 + (i−1)·w_c, so each step is one
    per-row-width gather — no control-bit walk at all."""
    C = len(datas)
    ns = np.asarray(ns, dtype=np.int64)
    max_n = int(ns.max(initial=0))
    out = np.zeros((C, max(max_n, 1)), dtype=np.int64)
    if C == 0 or max_n == 0:
        return out[:, :max_n]
    bits = _unpack_streams(datas)
    rows = np.arange(C)
    a0 = rows[ns > 0]
    v0 = _u64_to_i64(_gather(bits, a0, np.zeros(len(a0), dtype=np.int64), 64))
    w = np.zeros(C, dtype=np.int64)
    w[a0] = _u64_to_i64(
        _gather(bits, a0, np.full(len(a0), 64, dtype=np.int64), 6)
    )
    # Fixed-width fields need no per-index walk at all: delta j of stream c
    # sits at bit 70 + j*w_c, so EVERY delta of every stream gathers in one
    # call (the previous per-point-index loop paid ~10 numpy dispatches per
    # grid index); its temporaries are O(total points), in one shot.
    cnt = np.maximum(ns - 1, 0)
    P = int(cnt.sum())
    d = np.zeros((C, max(max_n, 1)), dtype=np.int64)
    if P:
        rep = np.repeat(rows, cnt)
        offs = np.concatenate([[0], np.cumsum(cnt)[:-1]])
        j = np.arange(P, dtype=np.int64) - np.repeat(offs, cnt)
        pos = 70 + j * w[rep]
        d[rep, j + 1] = _unzigzag_vec(_gather(bits, rep, pos, w[rep]))
    out = np.cumsum(d, axis=1)
    out[a0] += v0[:, None]
    return out[:, :max_n]


def encode_timestamps_chunked(ts: np.ndarray, starts: np.ndarray) -> list[bytes]:
    """Vectorized delta-of-delta encoding of MANY chunks at once."""
    ts = np.asarray(ts, dtype=np.int64)
    N = len(ts)
    starts = np.asarray(starts, dtype=np.int64)
    if N == 0:
        return [b""] * len(starts)
    idx_in_chunk = np.arange(N) - starts[
        np.searchsorted(starts, np.arange(N), side="right") - 1
    ]
    first = idx_in_chunk == 0
    second = idx_in_chunk == 1

    d = np.empty(N, dtype=np.int64)
    d[1:] = ts[1:] - ts[:-1]
    d[0] = 0
    d[first] = 0
    dod = np.empty(N, dtype=np.int64)
    dod[1:] = d[1:] - d[:-1]
    dod[0] = 0

    z = ((dod << 1) ^ (dod >> 63)).astype(np.uint64)
    zd = ((d << 1) ^ (d >> 63)).astype(np.uint64)
    rest = ~first & ~second
    zero = rest & (dod == 0)
    b1 = rest & ~zero & (dod >= -63) & (dod <= 64)
    b2 = rest & (dod >= -255) & (dod <= 256) & ~zero & ~b1
    b3 = rest & (dod >= -2047) & (dod <= 2048) & ~zero & ~b1 & ~b2
    b4 = rest & ~zero & ~b1 & ~b2 & ~b3

    v0 = np.zeros(N, dtype=np.uint64)
    w0 = np.zeros(N, dtype=np.int64)
    v0[first] = ts.view(np.uint64)[first]
    w0[first] = 64
    v0[second] = zd[second]
    w0[second] = 64
    w0[zero] = 1
    v0[b1] = (np.uint64(0b10) << np.uint64(8)) | z[b1]
    w0[b1] = 10
    v0[b2] = (np.uint64(0b110) << np.uint64(10)) | z[b2]
    w0[b2] = 13
    v0[b3] = (np.uint64(0b1110) << np.uint64(13)) | z[b3]
    w0[b3] = 17
    v0[b4] = np.uint64(0b1111)
    w0[b4] = 4

    f_vals = np.empty(2 * N, dtype=np.uint64)
    f_bits = np.zeros(2 * N, dtype=np.int64)
    f_vals[0::2], f_bits[0::2] = v0, w0
    f_vals[1::2] = np.where(b4, z, np.uint64(0))
    f_bits[1::2] = np.where(b4, 64, 0)
    pof = np.repeat(np.arange(N), 2)
    return _emit_chunked(f_vals, f_bits, pof, starts, N)


# ------------------------------------------------------- lockstep decode
# Variable-length codes decode sequentially WITHIN a stream, but thousands
# of streams decode in LOCKSTEP: at each point index every active stream
# reads its own control bits / payload via vectorized gathers into one
# shared bit matrix. ~50× the per-bit Python readers above (which remain
# the reference implementation and the per-stream API).


def _unpack_streams(datas: list[bytes]) -> np.ndarray:
    """(C, maxlen+9) uint8 BYTE matrix, zero-padded so any in-stream bit
    field can be read through a 9-byte window (see :func:`_gather`).

    Built with one join + one boolean scatter: a per-stream python loop
    costs ~2 µs/stream, which dominated decode when a batch carries a
    million ~10-point chunks (the fine-grained compressed tier)."""
    C = len(datas)
    lens = np.fromiter(map(len, datas), count=C, dtype=np.int64)
    maxlen = int(lens.max(initial=0))
    buf = np.zeros((C, maxlen + 9), dtype=np.uint8)
    if maxlen:
        whole = np.frombuffer(b"".join(datas), dtype=np.uint8)
        mask = np.arange(maxlen)[None, :] < lens[:, None]
        buf[:, :maxlen][mask] = whole
    return buf


def _gather(bits: np.ndarray, rows: np.ndarray, pos: np.ndarray, widths) -> np.ndarray:
    """Per-row big-endian bit-field gather: rows[i] reads widths[i] bits at
    pos[i]. widths may be scalar or (len(rows),); each must be ≤ 64.
    Returns uint64 values.

    Implementation: load the 9-byte window covering [pos, pos+64+7), build
    the aligned u64 with one byteswap view plus shifts — per-field cost is
    width-INDEPENDENT (9 gathered bytes + a few vector ops), versus the
    previous per-bit fancy-index gather whose (fields × width) index matrix
    made wide fields ~170 ns/bit (measured 996 ms for 236k 25-bit fields;
    this form is ~100× cheaper and also speeds every control-bit walk)."""
    if len(rows) == 0:
        return np.zeros(0, dtype=np.uint64)
    widths = np.broadcast_to(np.asarray(widths, dtype=np.int64), rows.shape)
    W = bits.shape[1]
    off = np.minimum(pos >> 3, W - 9)
    s = (pos & 7).astype(np.uint64)
    # ONE u64 gather per field: a byte-strided u64 view over the flattened
    # matrix reads the (unaligned) 8-byte window in a single fancy-index,
    # vs 9 separate byte gathers (measured 690 ns/field that way on
    # million-chunk batches). byteswap converts the little-endian load to
    # the stream's big-endian bit order.
    flat = bits.reshape(-1)
    u64v = np.ndarray(
        (flat.size - 7,), dtype="<u8", buffer=flat.data, strides=(1,)
    )
    base = rows * W + off
    hi = u64v[base].byteswap()
    lo = flat[base + 8].astype(np.uint64)
    # x = the 64 bits starting at pos (top-aligned)
    x = (hi << s) | (lo >> (np.uint64(8) - s))
    # top `widths` bits of x; shift clamped to [0, 63] (width 64 → clamp to
    # 0 is exact; width 0 → masked to 0)
    sh = np.clip(64 - widths, 0, 63).astype(np.uint64)
    return np.where(widths == 0, np.uint64(0), x >> sh)


def _u64_to_i64(u: np.ndarray) -> np.ndarray:
    return u.astype(np.uint64).view(np.int64)


def _unzigzag_vec(u: np.ndarray) -> np.ndarray:
    s = _u64_to_i64(u >> np.uint64(1))
    return s ^ -(_u64_to_i64(u & np.uint64(1)))


def decode_values_lockstep(datas: list[bytes], ns: np.ndarray) -> np.ndarray:
    """Decode C Gorilla value streams in lockstep → (C, max_n) float64
    (entries past each stream's n are undefined)."""
    C = len(datas)
    ns = np.asarray(ns, dtype=np.int64)
    max_n = int(ns.max(initial=0))
    out = np.zeros((C, max(max_n, 1)), dtype=np.uint64)
    if C == 0 or max_n == 0:
        return out[:, :max_n].view(np.float64)
    bits = _unpack_streams(datas)
    rows_all = np.arange(C)
    pos = np.zeros(C, dtype=np.int64)
    prev = np.zeros(C, dtype=np.uint64)
    lead = np.full(C, 65, dtype=np.int64)  # sentinel: no window yet
    tail = np.zeros(C, dtype=np.int64)

    a0 = rows_all[ns > 0]
    prev[a0] = _gather(bits, a0, pos[a0], 64)
    pos[a0] += 64
    out[a0, 0] = prev[a0]

    for i in range(1, max_n):
        act = rows_all[ns > i]
        b0 = _gather(bits, act, pos[act], 1)
        pos[act] += 1
        ch = act[b0 == 1]
        if len(ch):
            b1 = _gather(bits, ch, pos[ch], 1)
            pos[ch] += 1
            nw = ch[b1 == 1]
            if len(nw):
                hdr = _gather(bits, nw, pos[nw], 12)
                pos[nw] += 12
                lead[nw] = _u64_to_i64(hdr >> np.uint64(6))
                sig_nw = _u64_to_i64(hdr & np.uint64(63)) + 1
                tail[nw] = 64 - lead[nw] - sig_nw
            sig = 64 - lead[ch] - tail[ch]
            x = _gather(bits, ch, pos[ch], sig) << tail[ch].astype(np.uint64)
            pos[ch] += sig
            prev[ch] ^= x
        out[act, i] = prev[act]
    return out[:, :max_n].view(np.float64)


def decode_timestamps_lockstep(datas: list[bytes], ns: np.ndarray) -> np.ndarray:
    """Decode C delta-of-delta timestamp streams in lockstep → (C, max_n)
    int64 (entries past each stream's n are undefined)."""
    C = len(datas)
    ns = np.asarray(ns, dtype=np.int64)
    max_n = int(ns.max(initial=0))
    out = np.zeros((C, max(max_n, 1)), dtype=np.int64)
    if C == 0 or max_n == 0:
        return out[:, :max_n]
    bits = _unpack_streams(datas)
    rows_all = np.arange(C)
    pos = np.zeros(C, dtype=np.int64)
    delta = np.zeros(C, dtype=np.int64)

    a0 = rows_all[ns > 0]
    out[a0, 0] = _u64_to_i64(_gather(bits, a0, pos[a0], 64))
    pos[a0] += 64
    a1 = rows_all[ns > 1]
    if a1.size:  # a batch of ONLY single-point chunks has max_n == 1:
        # out is width-1 and even an empty fancy index into column 1
        # raises (bounds are checked before the selection)
        delta[a1] = _unzigzag_vec(_gather(bits, a1, pos[a1], 64))
        pos[a1] += 64
        out[a1, 1] = out[a1, 0] + delta[a1]

    widths = (8, 10, 13, 64)
    for i in range(2, max_n):
        act = rows_all[ns > i]
        dod = np.zeros(len(act), dtype=np.int64)
        pending = np.arange(len(act))  # positions into act
        for depth in range(4):
            if not len(pending):
                break
            rows = act[pending]
            b = _gather(bits, rows, pos[rows], 1)
            pos[rows] += 1
            stop = pending[b == 0]  # '0' terminator at this depth
            if depth < 3:
                take = stop  # bucket `depth` payload
                pending = pending[b == 1]
            else:
                # depth 3: b==0 → bucket 3 (13 bits); b==1 → bucket 4 (64)
                take = stop
                pending = pending[b == 1]
            if depth == 0:
                continue  # '0' == dod 0, no payload
            w = widths[depth - 1]
            r = act[take]
            if len(r):
                dod[take] = _unzigzag_vec(_gather(bits, r, pos[r], w))
                pos[r] += w
        if len(pending):
            r = act[pending]
            dod[pending] = _unzigzag_vec(_gather(bits, r, pos[r], 64))
            pos[r] += 64
        delta[act] += dod
        out[act, i] = out[act, i - 1] + delta[act]
    return out[:, :max_n]


def gorilla_roundtrip_ok(ts: np.ndarray, vals: np.ndarray) -> bool:
    """decode∘encode == identity, bitwise (FIXTURES.md F5 property)."""
    n = len(ts)
    t2 = decode_timestamps(encode_timestamps(ts), n)
    v2 = decode_values(encode_values(vals), n)
    return bool(
        np.array_equal(t2, np.asarray(ts, dtype=np.int64))
        and np.array_equal(
            v2.view(np.uint64), np.asarray(vals, dtype=np.float64).view(np.uint64)
        )
    )
