"""Lossless time-series codecs for the compressed retention tier:
delta-of-delta and grid-bitmap timestamps, Gorilla XOR floats (Facebook
Gorilla, VLDB'15 — public algorithm), and delta or frame-of-reference
fixed-width ints.

Role in the engine (SURVEY.md §2.10): rolled-up series are packed per
(source, coarse-bucket) into binary columns for the retention tiers. This is
the principled replacement for the reference's *lossy* state compression
(it discards covariance cross-terms and keeps only diag σ, the reference
implementation's kf/KF_class.py:353-369 — comment at :227 admits the
approximation); our tier encoding is bit-exact lossless.

Every encoder packs MANY chunks at once (``starts`` = sorted start index of
each chunk in the flat input) and every decoder unpacks MANY streams in
lockstep; each chunk's stream is padded to a byte boundary. Timestamp and
int streams have two modes each, picked per chunk by exact byte cost and
named by the stream's FIRST BIT, so the container around a stream (the tag
byte of ``operators/compress.py``) does not change with the mode.

Bit layout (format v3)
----------------------
timestamps (int64, non-decreasing within a chunk):
  mode 0, delta-of-delta:
    '0' | t0 (64b) | zigzag(t1 − t0) (64b)      [n from the column count]
    then per point: dod = (t_k − t_{k−1}) − (t_{k−1} − t_{k−2}) in buckets
      '0'                      dod == 0
      '10'  + 8b  zigzag       −63 … 64
      '110' + 10b zigzag       −255 … 256
      '1110'+ 13b zigzag       −2047 … 2048
      '1111'+ 64b zigzag       otherwise
  mode 1, presence bitmap (strictly increasing chunks only):
    '1' | t0 (64b) | one bit per slot t0, t0+1, …, t_last (1 = present)
    Grid-aligned series are GCD-scaled to unit steps first (compress.py),
    so a day of the 300 s grid is a 288-slot bitmap.
ints (int64, |v_k − v_{k−1}| < 2^62):
  mode 0, delta:               '0' | w (6b) | v0 (64b)  | (n−1) × w-bit zigzag(v_k − v_{k−1})
  mode 1, frame of reference:  '1' | w (6b) | min (64b) | n × w-bit (v_k − min)
values (float64 bit patterns; unchanged since v2):
  header: v0 (64b)
  then per point, x = bits(v_k) XOR bits(v_{k−1}):
    '0'                      x == 0
    '10'  + meaningful bits  leading/trailing-zero window ⊇ previous window
    '11'  + 6b lead + 6b (len − 1) + bits   new window

Every lockstep decoder checks that the bits it consumed fit the stream (for
a bitmap: that its set-bit count equals n) and raises :class:`StreamError`
naming the rows that do not, instead of decoding the zero padding past a
truncated stream's end as data.
"""

from __future__ import annotations

import numpy as np


class StreamError(ValueError):
    """Streams that end before the points their rows promise; ``rows`` are
    the offending indices into the decoder's input list."""

    def __init__(self, kind: str, rows: np.ndarray):
        self.rows = rows
        super().__init__(
            f"{kind} stream {int(rows[0])} (of {len(rows)} bad) is truncated "
            "or corrupt: it does not hold its n_points"
        )


# ------------------------------------------------------------ bit packing
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
    # big-endian byte order == an MSB-first bit stream
    return out.byteswap().tobytes()[: (total + 7) >> 3]


def _emit_chunked(
    f_vals: np.ndarray,
    f_bits: np.ndarray,
    point_of_field: np.ndarray,
    starts: np.ndarray,
) -> list[bytes]:
    """Pack per-point variable fields for MANY chunks in ONE pack call:
    pad each chunk's bit stream to a byte boundary, pack the concatenation,
    slice the result by per-chunk byte offsets. Removes the per-chunk fixed
    cost that dominates when chunks are small (measured ~0.6 ms/chunk with
    per-chunk encode calls vs ~µs here). Fields of zero width are dropped,
    so a caller may pass ``starts`` of a subset of the chunks and zero the
    widths of every other chunk's fields."""
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
    f_vals = np.insert(f_vals, ends, np.zeros(C, dtype=np.uint64))
    f_bits = np.insert(f_bits, ends, pad)
    keep2 = f_bits > 0
    packed = _pack_fields(f_vals[keep2], f_bits[keep2])
    nbytes = ((bits_per_chunk + pad) // 8).astype(np.int64)
    offs = np.concatenate([[0], np.cumsum(nbytes)])
    return [packed[offs[c] : offs[c + 1]] for c in range(C)]


def _chunks(N: int, starts: np.ndarray):
    """(points per chunk, chunk of each point, first-point mask)."""
    counts = np.diff(np.append(starts, N))
    first = np.zeros(N, dtype=bool)
    first[starts] = True
    return counts, np.repeat(np.arange(len(starts)), counts), first


def _sub_starts(counts: np.ndarray) -> np.ndarray:
    """Chunk starts of the flat concatenation of chunks with these counts."""
    return np.concatenate([[0], np.cumsum(counts)[:-1]]).astype(np.int64)


def _bl32(a32: np.ndarray) -> np.ndarray:
    """bit_length of uint32 via float64 log2 (exact: a < 2^32 < 2^53)."""
    out = np.zeros(a32.shape, dtype=np.int64)
    nz = a32 != 0
    out[nz] = np.floor(np.log2(a32[nz].astype(np.float64))).astype(np.int64) + 1
    return out


def _bl64(x: np.ndarray) -> np.ndarray:
    """bit_length of uint64 (float64 log2 is exact only below 2^53, so the
    two 32-bit halves go separately)."""
    hi = (x >> np.uint64(32)).astype(np.uint32)
    return np.where(hi != 0, 32 + _bl32(hi), _bl32(x.astype(np.uint32)))


def _zigzag_vec(d: np.ndarray) -> np.ndarray:
    return ((d << 1) ^ (d >> 63)).astype(np.uint64)


def _nbytes(bits: np.ndarray) -> np.ndarray:
    return (bits + 7) // 8


# ------------------------------------------------------------ encoders
def encode_values_chunked(vals: np.ndarray, starts: np.ndarray) -> list[bytes]:
    """Vectorized Gorilla value encoding of MANY chunks at once.

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
    _, chunk_of, first = _chunks(N, starts)
    prev = np.empty_like(bits)
    prev[1:] = bits[:-1]
    prev[0] = 0
    x = bits ^ prev
    x[first] = 0
    same = (x == 0) & ~first

    lead = np.minimum(64 - _bl64(x), 31)  # cap so 6-bit headers suffice
    low = x & (~x + np.uint64(1))
    tail = np.where(same | first, 0, _bl64(low) - 1)
    sig = 64 - lead - tail
    changed = ~first & ~same

    # ---- per-chunk pooled window + layout choice (segment reductions)
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
    return _emit_chunked(f_vals, f_bits, np.repeat(np.arange(N), 2), starts)


def encode_ints_chunked(vals: np.ndarray, starts: np.ndarray) -> list[bytes]:
    """Per-chunk fixed-width packing of int64 series (the
    DELTA_BINARY_PACKED and frame-of-reference ideas of the public Parquet
    and PFOR formats, one block per chunk). Each chunk takes whichever of
    the two modes costs fewer bytes (ties keep delta):

    - delta: v0 + (n−1) zigzag deltas of w_d bits, w_d = bit length of the
      chunk's largest zigzag delta (0 → constant series, no fields);
    - frame of reference: min + n fields (v_k − min) of w_f bits, cheaper
      when the values swing inside a narrow band (a delta spans up to
      twice the band, plus the zigzag sign bit).

    Built for near-integer VALUE streams whose deltas need 10-20 bits — the
    Gorilla XOR form spends ~45 bits on the same pair of close integer
    doubles, and the timestamp dod buckets (8/10/13/64) escape to 68 bits
    above ±2048."""
    iv = np.asarray(vals, dtype=np.int64)
    N = len(iv)
    starts = np.asarray(starts, dtype=np.int64)
    if N == 0:
        return [b""] * len(starts)
    counts, chunk_of, first = _chunks(N, starts)
    d = np.empty(N, dtype=np.int64)
    d[1:] = iv[1:] - iv[:-1]
    d[0] = 0
    d[first] = 0
    z = _zigzag_vec(d)
    w_d = _bl64(np.maximum.reduceat(z, starts))
    if w_d.max(initial=0) > 63:
        # the width lives in a 6-bit field; a 64-bit zigzag delta
        # (|delta| >= 2^62) would silently wrap it and corrupt the chunk
        raise ValueError(
            "encode_ints_chunked: chunk delta needs a 64-bit field; inputs "
            "must satisfy |v_k - v_{k-1}| < 2^62 (compress_tier guards "
            "|v| < 2^53 and never hits this)"
        )
    lo = np.minimum.reduceat(iv, starts)
    f = (iv - lo[chunk_of]).view(np.uint64)  # exact: 0 <= v − min < 2^64
    w_f = _bl64(np.maximum.reduceat(f, starts))
    use_for = (w_f <= 63) & (
        _nbytes(71 + counts * w_f) < _nbytes(71 + (counts - 1) * w_d)
    )
    w = np.where(use_for, w_f, w_d)
    pt_for = use_for[chunk_of]
    f_vals = np.empty(3 * N, dtype=np.uint64)
    f_bits = np.zeros(3 * N, dtype=np.int64)
    # slot 0 (first point): mode bit + width; slot 1 (first): base
    hdr = (use_for.astype(np.uint64) << np.uint64(6)) | w.astype(np.uint64)
    f_vals[0::3] = hdr[chunk_of]
    f_bits[0::3] = np.where(first, 7, 0)
    f_vals[1::3] = np.where(use_for, lo, iv[starts]).view(np.uint64)[chunk_of]
    f_bits[1::3] = np.where(first, 64, 0)
    # slot 2: the point's fixed-width field (a delta chunk has none for v0)
    f_vals[2::3] = np.where(pt_for, f, z)
    f_bits[2::3] = np.where(pt_for | ~first, w[chunk_of], 0)
    return _emit_chunked(f_vals, f_bits, np.repeat(np.arange(N), 3), starts)


def encode_timestamps_chunked(ts: np.ndarray, starts: np.ndarray) -> list[bytes]:
    """Timestamp encoding of MANY chunks at once. Each chunk takes the
    presence bitmap when it is strictly increasing and the bitmap costs no
    more bytes than its delta-of-delta stream (ties go to the bitmap, which
    decodes without a per-point loop); otherwise delta-of-delta, which also
    holds repeated timestamps and spans of any width."""
    ts = np.asarray(ts, dtype=np.int64)
    N = len(ts)
    starts = np.asarray(starts, dtype=np.int64)
    if N == 0:
        return [b""] * len(starts)
    counts, chunk_of, first = _chunks(N, starts)
    second = (np.arange(N) - starts[chunk_of]) == 1

    d = np.empty(N, dtype=np.int64)
    d[1:] = ts[1:] - ts[:-1]
    d[0] = 0
    d[first] = 0
    dod = np.empty(N, dtype=np.int64)
    dod[1:] = d[1:] - d[:-1]
    dod[0] = 0

    z = _zigzag_vec(dod)
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
    v0[second] = _zigzag_vec(d)[second]
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
    w1 = np.where(b4, 64, 0)

    # ---- per-chunk mode by exact byte cost (both pay the 1-bit marker)
    dod_bits = 1 + np.add.reduceat(w0 + w1, starts)
    last = starts + counts - 1
    rising = np.ones(N, dtype=bool)
    rising[1:] = ts[1:] > ts[:-1]  # a comparison, so no int64 wrap
    span_f = ts[last].astype(np.float64) - ts[starts].astype(np.float64)
    bitmap = np.logical_and.reduceat(rising | first, starts) & (span_f < 2.0**40)
    bm_bits = 66 + np.where(bitmap, ts[last] - ts[starts], 0)
    bitmap &= _nbytes(bm_bits) <= _nbytes(dod_bits)

    out: list[bytes] = [b""] * len(starts)
    dod_c = np.flatnonzero(~bitmap)
    if len(dod_c):
        dod_pt = ~bitmap[chunk_of]
        f_vals = np.zeros(3 * N, dtype=np.uint64)  # slot 0: the '0' marker
        f_bits = np.zeros(3 * N, dtype=np.int64)
        f_bits[0::3] = first & dod_pt
        f_vals[1::3], f_bits[1::3] = v0, np.where(dod_pt, w0, 0)
        f_vals[2::3], f_bits[2::3] = z, np.where(dod_pt, w1, 0)
        enc = _emit_chunked(f_vals, f_bits, np.repeat(np.arange(N), 3), starts[dod_c])
        for j, c in zip(dod_c, enc):
            out[j] = c
    bm_c = np.flatnonzero(bitmap)
    if len(bm_c):
        pts = bitmap[chunk_of]
        enc = _emit_bitmaps(ts[pts], _sub_starts(counts[bm_c]), bm_bits[bm_c])
        for j, c in zip(bm_c, enc):
            out[j] = c
    return out


def _emit_bitmaps(ts: np.ndarray, starts: np.ndarray, nbits: np.ndarray) -> list[bytes]:
    """'1' | t0 | slot bits for strictly increasing chunks (``nbits`` = each
    chunk's 66 + span bits), built as one bit vector and one packbits."""
    counts, chunk_of, _ = _chunks(len(ts), starts)
    t0 = ts[starts]
    nbytes = _nbytes(nbits)
    byte_off = np.concatenate([[0], np.cumsum(nbytes)])
    off = byte_off[:-1] * 8
    buf = np.zeros(int(byte_off[-1]) * 8, dtype=np.uint8)
    buf[off] = 1
    hdr = np.unpackbits(t0.astype(">i8").view(np.uint8).reshape(-1, 8), axis=1)
    buf[off[:, None] + 1 + np.arange(64)[None, :]] = hdr
    buf[off[chunk_of] + 65 + (ts - t0[chunk_of])] = 1
    packed = np.packbits(buf).tobytes()
    return [packed[byte_off[c] : byte_off[c + 1]] for c in range(len(starts))]


# ------------------------------------------------------- lockstep decode
# Variable-length codes decode sequentially WITHIN a stream, but thousands
# of streams decode in LOCKSTEP: at each point index every active stream
# reads its own control bits / payload via vectorized gathers into one
# shared byte matrix. Fixed-width fields and bitmaps need no per-point
# walk at all.


def _unpack_streams(datas: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """(C, maxlen+9) uint8 BYTE matrix, zero-padded so any in-stream bit
    field can be read through a 9-byte window (see :func:`_gather`), and
    each stream's length in BITS.

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
    return buf, 8 * lens


def _gather(bits: np.ndarray, rows: np.ndarray, pos: np.ndarray, widths) -> np.ndarray:
    """Per-row big-endian bit-field gather: rows[i] reads widths[i] bits at
    pos[i]. widths may be scalar or (len(rows),); each must be ≤ 64.
    Returns uint64 values. A read past a row's padding is clamped (it can
    only happen on a corrupt stream, which the callers' fit check rejects).

    Implementation: load the 9-byte window covering [pos, pos+64+7), build
    the aligned u64 with one byteswap view plus shifts — per-field cost is
    width-INDEPENDENT (9 gathered bytes + a few vector ops), versus the
    previous per-bit fancy-index gather whose (fields × width) index matrix
    made wide fields ~170 ns/bit (measured 996 ms for 236k 25-bit fields;
    this form is ~100× cheaper and also speeds every control-bit walk)."""
    if len(rows) == 0:
        return np.zeros(0, dtype=np.uint64)
    pos = np.broadcast_to(np.asarray(pos, dtype=np.int64), rows.shape)
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


def _check_fit(kind: str, rows: np.ndarray, used: np.ndarray, have: np.ndarray):
    bad = rows[used > have[rows]]
    if len(bad):
        raise StreamError(kind, bad)


def _decode_start(datas: list[bytes], ns, dtype):
    """Shared prologue: (ns, zeroed (C, max_n) output, byte matrix, bit
    lengths, rows with points); the matrix is None when nothing decodes."""
    ns = np.asarray(ns, dtype=np.int64)
    max_n = int(ns.max(initial=0))
    out = np.zeros((len(datas), max_n), dtype=dtype)
    if max_n == 0:
        return ns, out, None, None, None
    buf, have = _unpack_streams(datas)
    return ns, out, buf, have, np.flatnonzero(ns > 0)


def decode_ints_lockstep(datas: list[bytes], ns: np.ndarray) -> np.ndarray:
    """Decode C fixed-width int streams (either mode) → (C, max_n) int64
    (entries past each stream's n are undefined). Branch-free: field j of
    stream c sits at bit 71 + j·w_c, so EVERY field of every stream gathers
    in one call — no control-bit walk and no per-point-index loop."""
    ns, out, buf, have, live = _decode_start(datas, ns, np.int64)
    if buf is None:
        return out
    hdr = _gather(buf, live, 0, 7)
    is_for = (hdr >> np.uint64(6)) == 1
    w = _u64_to_i64(hdr & np.uint64(63))
    base = _gather(buf, live, 7, 64)
    cnt = np.where(is_for, ns[live], ns[live] - 1)
    _check_fit("int", live, 71 + cnt * w, have)
    P = int(cnt.sum())
    if P:
        rep = np.repeat(np.arange(len(live)), cnt)
        j = np.arange(P, dtype=np.int64) - np.repeat(_sub_starts(cnt), cnt)
        field = _gather(buf, live[rep], 71 + j * w[rep], w[rep])
        # FOR fields are v − min; delta fields land one column right and
        # are summed below
        col = np.where(is_for[rep], j, j + 1)
        out[live[rep], col] = np.where(
            is_for[rep], _u64_to_i64(field), _unzigzag_vec(field)
        )
    dl = live[~is_for]
    out[dl] = np.cumsum(out[dl], axis=1)
    out[live] = _u64_to_i64(out[live].view(np.uint64) + base[:, None])
    return out


def decode_values_lockstep(datas: list[bytes], ns: np.ndarray) -> np.ndarray:
    """Decode C Gorilla value streams in lockstep → (C, max_n) float64
    (entries past each stream's n are undefined)."""
    ns, out, buf, have, a0 = _decode_start(datas, ns, np.uint64)
    if buf is None:
        return out.view(np.float64)
    C = len(datas)
    pos = np.zeros(C, dtype=np.int64)
    prev = np.zeros(C, dtype=np.uint64)
    lead = np.full(C, 65, dtype=np.int64)  # sentinel: no window yet
    tail = np.zeros(C, dtype=np.int64)

    prev[a0] = _gather(buf, a0, 0, 64)
    pos[a0] = 64
    out[a0, 0] = prev[a0]
    for i in range(1, out.shape[1]):
        act = a0[ns[a0] > i]
        b0 = _gather(buf, act, pos[act], 1)
        pos[act] += 1
        ch = act[b0 == 1]
        if len(ch):
            b1 = _gather(buf, ch, pos[ch], 1)
            pos[ch] += 1
            nw = ch[b1 == 1]
            if len(nw):
                hdr = _gather(buf, nw, pos[nw], 12)
                pos[nw] += 12
                lead[nw] = _u64_to_i64(hdr >> np.uint64(6))
                sig_nw = _u64_to_i64(hdr & np.uint64(63)) + 1
                tail[nw] = 64 - lead[nw] - sig_nw
            sig = 64 - lead[ch] - tail[ch]
            x = _gather(buf, ch, pos[ch], sig) << tail[ch].astype(np.uint64)
            pos[ch] += sig
            prev[ch] ^= x
        out[act, i] = prev[act]
    _check_fit("value", a0, pos[a0], have)
    return out.view(np.float64)


def decode_timestamps_lockstep(datas: list[bytes], ns: np.ndarray) -> np.ndarray:
    """Decode C timestamp streams (either mode) → (C, max_n) int64 (entries
    past each stream's n are undefined). Bitmap rows decode in one
    nonzero scan over their set bits; the lockstep dod loop runs only over
    the dod rows, up to their largest n."""
    ns, out, buf, have, live = _decode_start(datas, ns, np.int64)
    if buf is None:
        return out
    out[live, 0] = _u64_to_i64(_gather(buf, live, 1, 64))
    is_bm = (buf[live, 0] >> 7) == 1
    bm, dd = live[is_bm], live[~is_bm]
    if len(bm):
        _decode_bitmaps(buf, bm, ns, out)
    if len(dd):
        _decode_dod(buf, dd, ns, out, have)
    return out


def _decode_bitmaps(buf, bm, ns, out) -> None:
    sub = buf[bm]
    sub[:, :8] = 0  # the marker and t0: the slots start at bit 65
    sub[:, 8] &= 0x7F
    rb, cb = np.nonzero(sub)  # row-major, so slots come out in order
    k, j = np.nonzero(np.unpackbits(sub[rb, cb][:, None], axis=1))
    r, slot = rb[k], cb[k] * 8 + j - 65
    bad = bm[np.bincount(r, minlength=len(bm)) != ns[bm]]
    if len(bad):
        raise StreamError("bitmap timestamp", bad)
    mat = np.zeros((len(bm), out.shape[1]), dtype=np.int64)
    mat[np.arange(out.shape[1])[None, :] < ns[bm][:, None]] = out[bm[r], 0] + slot
    out[bm] = mat


def _decode_dod(buf, dd, ns, out, have) -> None:
    C = len(out)
    pos = np.zeros(C, dtype=np.int64)
    delta = np.zeros(C, dtype=np.int64)
    pos[dd] = 65
    a1 = dd[ns[dd] > 1]
    if a1.size:
        delta[a1] = _unzigzag_vec(_gather(buf, a1, pos[a1], 64))
        pos[a1] += 64
        out[a1, 1] = out[a1, 0] + delta[a1]
    widths = (0, 8, 10, 13)  # payload after a '0' terminator at each depth
    for i in range(2, int(ns[dd].max())):
        act = dd[ns[dd] > i]
        dod = np.zeros(len(act), dtype=np.int64)
        pending = np.arange(len(act))  # positions into act
        for depth, w in enumerate(widths):
            if not len(pending):
                break
            rows = act[pending]
            b = _gather(buf, rows, pos[rows], 1)
            pos[rows] += 1
            take, pending = pending[b == 0], pending[b == 1]
            if w and len(take):
                r = act[take]
                dod[take] = _unzigzag_vec(_gather(buf, r, pos[r], w))
                pos[r] += w
        if len(pending):  # '1111': 64-bit payload
            r = act[pending]
            dod[pending] = _unzigzag_vec(_gather(buf, r, pos[r], 64))
            pos[r] += 64
        delta[act] += dod
        out[act, i] = out[act, i - 1] + delta[act]
    _check_fit("dod timestamp", dd, pos[dd], have)
