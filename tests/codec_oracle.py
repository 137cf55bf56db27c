"""Reference codec for the tests: per-bit scalar encoders/decoders of the
v3 wire format in ``kfts_insar_spark.functions.codec``, written for
clarity, not speed. The engine encodes and decodes only through the
chunked encoders and lockstep decoders; these are the oracle they are
checked against.

- ``encode_timestamps`` / ``encode_timestamps_vec`` write the
  delta-of-delta mode only; ``decode_timestamps`` reads both modes.
- ``encode_ints_delta`` writes the delta int mode only; ``decode_ints``
  reads both modes.
- ``encode_values`` is the greedy Gorilla window walk; ``encode_values_vec``
  writes every changed value with an explicit window.
"""

from __future__ import annotations

import numpy as np

from kfts_insar_spark.functions.codec import _pack_fields


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


def _signed(u: int) -> int:
    return u - (1 << 64) if u >= 1 << 63 else u


# ---------------------------------------------------------------- timestamps
def encode_timestamps(ts: np.ndarray) -> bytes:
    ts = np.asarray(ts, dtype=np.int64)
    w = BitWriter()
    n = len(ts)
    if n == 0:
        return b""
    w.write(0, 1)  # mode 0: delta-of-delta
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
    bitmap = r.read(1)
    t0 = _signed(r.read(64))
    out = [t0]
    if bitmap:
        slot = 0
        assert r.read(1) == 1  # t0's own slot
        while len(out) < n:
            slot += 1
            if r.read(1):
                out.append(t0 + slot)
        return np.asarray(out, dtype=np.int64)
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


def encode_timestamps_vec(ts: np.ndarray) -> bytes:
    """Vectorized delta-of-delta timestamp encoder (wire-compatible with
    :func:`decode_timestamps`)."""
    ts = np.asarray(ts, dtype=np.int64)
    n = len(ts)
    if n == 0:
        return b""
    # negative ints must wrap, not raise → go through a view
    t0 = np.array([ts[0]], dtype=np.int64).view(np.uint64)[0]
    if n == 1:
        return _pack_fields(np.array([0, t0], dtype=np.uint64), np.array([1, 64]))
    d0 = int(ts[1]) - int(ts[0])
    dods = np.diff(np.diff(ts))
    z = ((dods << 1) ^ (dods >> 63)).astype(np.uint64)  # zigzag
    b1 = (dods >= -63) & (dods <= 64)
    b2 = ~b1 & (dods >= -255) & (dods <= 256)
    b3 = ~b1 & ~b2 & (dods >= -2047) & (dods <= 2048)
    b4 = ~(b1 | b2 | b3)
    zero = dods == 0

    m = n - 2
    f_vals = np.empty(3 + 2 * m, dtype=np.uint64)
    f_bits = np.empty(3 + 2 * m, dtype=np.int64)
    f_vals[0], f_bits[0] = 0, 1  # mode 0
    f_vals[1], f_bits[1] = t0, 64
    f_vals[2] = np.array([(d0 << 1) ^ (d0 >> 63)], dtype=np.int64).view(np.uint64)[0]
    f_bits[2] = 64
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
    f_vals[3::2], f_bits[3::2] = v, w
    f_vals[4::2] = np.where(b4, z, np.uint64(0))
    f_bits[4::2] = np.where(b4, 64, 0)
    keep = f_bits > 0
    return _pack_fields(f_vals[keep], f_bits[keep])


# ---------------------------------------------------------------------- ints
def encode_ints_delta(vals: np.ndarray) -> bytes:
    """Delta-mode int stream: '0' | w | v0 | (n−1) zigzag deltas."""
    iv = [int(v) for v in np.asarray(vals, dtype=np.int64)]
    if not iv:
        return b""
    z = [_zigzag(b - a) for a, b in zip(iv, iv[1:])]
    width = max(z, default=0).bit_length()
    w = BitWriter()
    w.write(0, 1)
    w.write(width, 6)
    w.write(iv[0] & ((1 << 64) - 1), 64)
    for x in z:
        w.write(x, width)
    return w.getvalue()


def decode_ints(data: bytes, n: int) -> np.ndarray:
    if n == 0:
        return np.empty(0, dtype=np.int64)
    r = BitReader(data)
    frame = r.read(1)
    width = r.read(6)
    base = _signed(r.read(64))
    if frame:
        out = [base + r.read(width) for _ in range(n)]
    else:
        out = [base]
        for _ in range(n - 1):
            out.append(out[-1] + _unzigzag(r.read(width)))
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


def encode_values_vec(vals: np.ndarray) -> bytes:
    """Vectorized Gorilla value encoder (wire-compatible with
    :func:`decode_values`). Sacrifices the '10' reuse-window form — every
    changed value is emitted as an explicit-window '11' block — so each
    point is independent and the whole bucket encodes in a handful of numpy
    ops."""
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
