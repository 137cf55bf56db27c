"""Compressed retention tiers: pack each (source, coarse bucket) series into
Gorilla binary columns, and unpack for verification / time-travel reads.

groupBy(source, chunk).applyInPandas — one codec call per bucket, Arrow
batched; zero per-row Python. Chunk width defaults to 1 day of raw points
(288 × 300 s), the same granularity the retention policy expires at, so
dropping an expired chunk is a partition delete, never a rewrite.

val_codec wire format: 1 tag byte + stream.

- tag 0x01 — fixed-width int stream: the chunk's values are all exactly
  int64-representable (token SUMS are — they're sums of integer counts
  carried in float64, exact below 2^53), so they are cast to int64 and
  packed by :func:`~..functions.codec.encode_ints_chunked` as zigzag
  deltas from v0 or, when cheaper, frame-of-reference offsets from the
  chunk's min (the stream's first bit names the mode). XOR-packing
  near-integer doubles wastes ~3× the bits: two close integer doubles
  differ across most of the mantissa (~45 meaningful bits), while their
  integer delta fits 10-20 bits. Decode is branch-free (no control-bit
  walk).
- tag 0x00 — Gorilla XOR float stream, used whenever any value in the
  chunk is fractional / NaN / ≥ 2^53 (e.g. the seq_gorilla_roundtrip_frac
  oracle's fractional values).

ts_codec wire format: 1 tag byte + stream.

- tag 0x00 — the timestamp stream of the series as is.
- tag 0x02 — GCD-scaled: 4-byte big-endian g (> 1, the GCD of the chunk's
  timestamp deltas), then the timestamp stream of the SCALED series
  t0 + (ts − t0)/g. Bucket timestamps sit on a coarse grid (300 s raw
  tier), so the scaled series has unit steps.

Either tag's stream is :func:`~..functions.codec.encode_timestamps_chunked`
output, whose first bit names its mode: delta-of-delta, or — for a
strictly increasing chunk whose bitmap costs no more bytes — a presence
bitmap of one bit per unit step from t0 to t_last. A scaled day of the
300 s grid is then 288 bits however its points fill it (1.7 and 2.8
bits/pt on the perfbench tiers, against 4.6 and 6.6 for their scaled dod
streams), and decodes with one scan over the set bits instead of a
per-point lockstep walk.

The tag is per CHUNK, so mixed tiers (integer sums next to fractional
averages, regular next to irregular grids) pick the right codec row by
row; the stream modes sit inside the streams, so the tags (and any tool
that classifies chunks by them) are the same as in format v2. Decode
dispatches on the tag, runs each subset through its lockstep decoder, and
raises ``ValueError`` naming the chunk's source and bucket_es when a
stream is truncated or corrupt.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.codec import (
    StreamError,
    decode_ints_lockstep,
    decode_timestamps_lockstep,
    decode_values_lockstep,
    encode_ints_chunked,
    encode_timestamps_chunked,
    encode_values_chunked,
)
from ..schema import COMPRESSED_TIER

CHUNK_SECONDS = 86400
PACK_BUCKETS = 256  # hash buckets of (source, chunk): one codec call each

# Wire-format version of the per-chunk tagged codec streams. Bumped when the
# byte layout changes (v2 = tagged streams; v3 = a mode bit at the head of
# every timestamp and int stream, for the bitmap and frame-of-reference
# modes). Older tiers are rejected at read time: a v2 stream read as v3
# would parse its first bit as a mode. Recorded in the compressed tier's
# snapshot properties by the pipeline and checked by ``Pipeline.read_tier``.
CODEC_FORMAT = 3

# (column, tag byte) → lockstep decoder of the stream after the tag header
_DECODERS = {
    ("ts_codec", 0x00): decode_timestamps_lockstep,
    ("ts_codec", 0x02): decode_timestamps_lockstep,
    ("val_codec", 0x00): decode_values_lockstep,
    ("val_codec", 0x01): decode_ints_lockstep,
}


def compress_tier(
    tier: DataFrame,
    value_col: str = "sum_tok",
    chunk_seconds: int = CHUNK_SECONDS,
) -> DataFrame:
    """tier(source, bucket_es, <value_col>, …) → COMPRESSED_TIER rows.

    Grouping key is a coarse hash bucket of (source, chunk) — NOT the chunk
    itself — so each applyInPandas call packs thousands of chunks through
    the chunk-vectorized encoders (one packbits per stream per call). A
    per-chunk grouping pays ~0.3 ms of pandas overhead per call, which
    dominates everything when chunks are small."""

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        # vectorized across ALL chunks in the group: one lexsort, one
        # boundary scan, one packbits per stream — per-chunk Python cost
        # (pandas groupby slices + per-chunk encoders) dominated when chunks
        # are small (measured 0.6 ms/chunk → ~µs/chunk here)
        src = pdf["source"].to_numpy()
        chunk = pdf["_chunk"].to_numpy(np.int64)
        ts = pdf["bucket_es"].to_numpy(np.int64)
        vals = pdf["_v"].to_numpy(np.float64)
        order = np.lexsort((ts, chunk, src))
        src, chunk, ts, vals = src[order], chunk[order], ts[order], vals[order]
        boundary = np.empty(len(src), dtype=bool)
        boundary[0] = True
        boundary[1:] = (src[1:] != src[:-1]) | (chunk[1:] != chunk[:-1])
        starts = np.flatnonzero(boundary)
        counts = np.diff(np.append(starts, len(src)))
        n_chunks = len(starts)
        chunk_id = np.repeat(np.arange(n_chunks), counts)

        # ---- timestamps: per-chunk GCD scaling (tag 0x02) when g > 1
        first = np.zeros(len(ts), dtype=bool)
        first[starts] = True
        d = np.empty(len(ts), dtype=np.int64)
        d[1:] = ts[1:] - ts[:-1]
        d[0] = 0
        d[first] = 0
        g_c = np.gcd.reduceat(np.abs(d), starts)  # gcd(0, x) == x
        scaled_c = (g_c > 1) & (g_c < 2**32)  # g is a 4-byte field
        g_pt = np.where(scaled_c, g_c, 1)[chunk_id]
        t0_pt = ts[starts][chunk_id]
        enc = encode_timestamps_chunked(t0_pt + (ts - t0_pt) // g_pt, starts)
        ts_codecs = [
            (b"\x02" + int(g).to_bytes(4, "big") if sc else b"\x00") + c
            for sc, g, c in zip(scaled_c, g_c, enc)
        ]

        # per-chunk codec choice: fixed-width ints (tag 0x01) when every
        # value is exactly int64-representable, Gorilla XOR (tag 0x00)
        # otherwise
        exact = (
            np.isfinite(vals)
            & (np.abs(vals) < 2.0**53)
            & (vals == np.rint(vals))
        )
        all_int = np.logical_and.reduceat(exact, starts)
        val_codecs: list[bytes] = [b""] * n_chunks
        for want, tag, enc_fn, cast in (
            (all_int, b"\x01", encode_ints_chunked, np.int64),
            (~all_int, b"\x00", encode_values_chunked, np.float64),
        ):
            if not want.any():
                continue
            pts = want[chunk_id]
            sub_counts = counts[want]
            sub_starts = np.concatenate(
                [[0], np.cumsum(sub_counts)[:-1]]
            ).astype(np.int64)
            for j, c in zip(
                np.flatnonzero(want),
                enc_fn(vals[pts].astype(cast), sub_starts),
            ):
                val_codecs[j] = tag + c
        return pd.DataFrame(
            {
                "source": src[starts],
                "bucket_es": chunk[starts],
                "n_points": counts.astype(np.int32),
                "ts_codec": ts_codecs,
                "val_codec": val_codecs,
            }
        )

    chunked = tier.select(
        "source",
        "bucket_es",
        F.col(value_col).cast("double").alias("_v"),
        (F.floor(F.col("bucket_es") / F.lit(chunk_seconds)) * F.lit(chunk_seconds))
        .cast("long")
        .alias("_chunk"),
    )
    bucketed = chunked.withColumn(
        "_b", F.pmod(F.xxhash64("source", "_chunk"), F.lit(PACK_BUCKETS))
    )
    return bucketed.groupBy("_b").applyInPandas(pack, schema=COMPRESSED_TIER)


def decompress_tier(comp: DataFrame, value_name: str = "value") -> DataFrame:
    """Inverse of :func:`compress_tier` (verification / time-travel reads).

    Decodes ALL chunks in the Arrow batch in LOCKSTEP (vectorized gathers
    into one shared bit matrix) instead of a per-chunk per-bit Python
    reader — variable-length codes are sequential within a stream but
    thousands of streams advance together."""
    schema = f"source string, bucket_es long, {value_name} double"
    import pyarrow as pa

    out_pa = pa.schema(
        [
            pa.field("source", pa.string()),
            pa.field("bucket_es", pa.int64()),
            pa.field(value_name, pa.float64()),
        ]
    )

    def decoded(cols, col, ns, dtype):
        """(chunks, max n) matrix of one codec column: each tag's rows go
        through its lockstep decoder."""
        streams = cols[col].to_pylist()
        for c in streams:
            if not c or (col, c[0]) not in _DECODERS:
                raise ValueError(
                    f"decompress_tier: unknown {col} tag byte {c[:1]!r} — "
                    f"corrupt chunk or pre-v{CODEC_FORMAT} untagged stream "
                    "(re-materialize the compressed tier)"
                )
        tags = np.array([c[0] for c in streams], dtype=np.int64)
        mat = np.zeros((len(streams), int(ns.max(initial=0))), dtype=dtype)
        for tag in np.unique(tags):
            idx = np.flatnonzero(tags == tag)
            scaled = (col, tag) == ("ts_codec", 0x02)
            body = 5 if scaled else 1
            try:
                m = _DECODERS[col, tag]([streams[i][body:] for i in idx], ns[idx])
            except StreamError as e:
                i = int(idx[e.rows[0]])
                raise ValueError(
                    f"decompress_tier: {col} of chunk source="
                    f"{cols['source'][i].as_py()!r} bucket_es="
                    f"{cols['bucket_es'][i].as_py()} is truncated or corrupt"
                ) from e
            if scaled:
                # undo the affine map: ts = t0 + (ts_s - t0)·g
                g = np.array(
                    [int.from_bytes(streams[i][1:5], "big") for i in idx],
                    dtype=np.int64,
                )
                t0 = m[:, :1]
                m = t0 + (m - t0) * g[:, None]
            mat[idx, : m.shape[1]] = m
        return mat

    def unpack(it):
        for rb in it:
            if rb.num_rows == 0:
                continue
            cols = {n: rb.column(i) for i, n in enumerate(rb.schema.names)}
            ns = cols["n_points"].to_numpy().astype(np.int64)
            ts_mat = decoded(cols, "ts_codec", ns, np.int64)
            v_mat = decoded(cols, "val_codec", ns, np.float64)
            mask = np.arange(ts_mat.shape[1])[None, :] < ns[:, None]
            ridx, cidx = np.nonzero(mask)
            # Arrow-native expansion: the source strings replicate through a
            # C-level take on the incoming Arrow column instead of 10^7
            # per-row python string objects through pandas
            yield pa.RecordBatch.from_arrays(
                [
                    pa.compute.take(
                        cols["source"], pa.array(ridx, type=pa.int64())
                    ),
                    pa.array(ts_mat[ridx, cidx], type=pa.int64()),
                    pa.array(v_mat[ridx, cidx], type=pa.float64()),
                ],
                schema=out_pa,
            )

    return comp.mapInArrow(unpack, schema=schema)
