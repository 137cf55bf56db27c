"""Codec round-trip vectors (FIXTURES.md F5): decode∘encode == identity,
bitwise for doubles, across deterministic and adversarial series."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kfts_insar_spark.operators.compress import compress_tier, decompress_tier
from kfts_insar_spark.operators.rollup import rollup_raw
from kfts_insar_spark.synth import sequences
from tests.codec_oracle import (
    decode_timestamps,
    decode_values,
    encode_timestamps,
    encode_values,
    gorilla_roundtrip_ok,
)

CASES = [
    ("empty", np.empty(0, np.int64), np.empty(0, np.float64)),
    ("single", np.array([1767225600], np.int64), np.array([3.14])),
    ("constant", np.arange(100, dtype=np.int64) * 300, np.full(100, 7.5)),
    ("ramp", np.arange(500, dtype=np.int64) * 300 + 10**9, np.arange(500) * 1.25),
    (
        "jitter",
        np.cumsum(np.r_[10**9, np.abs(np.random.default_rng(1).integers(1, 5000, 99))]).astype(np.int64),
        np.random.default_rng(2).normal(0, 1e6, 100),
    ),
    (
        "adversarial",
        np.array([0, 1, 2, 10**12, 10**12 + 1], np.int64),
        np.array([0.0, -0.0, np.inf, -np.inf, 5e-324]),  # denormal + signed inf
    ),
    ("nan", np.arange(4, dtype=np.int64), np.array([1.0, np.nan, np.nan, -1.0])),
]


@pytest.mark.parametrize("name,ts,vals", CASES, ids=[c[0] for c in CASES])
def test_roundtrip_vectors(name, ts, vals):
    assert gorilla_roundtrip_ok(ts, vals)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(-(2**40), 2**40), max_size=60),
    st.lists(
        st.floats(allow_nan=True, allow_infinity=True, width=64), max_size=60
    ),
)
def test_roundtrip_property(ts, vals):
    n = min(len(ts), len(vals))
    ts = np.sort(np.asarray(ts[:n], dtype=np.int64))
    vals = np.asarray(vals[:n], dtype=np.float64)
    t2 = decode_timestamps(encode_timestamps(ts), n)
    v2 = decode_values(encode_values(vals), n)
    assert np.array_equal(t2, ts)
    assert np.array_equal(v2.view(np.uint64), vals.view(np.uint64))


def test_compression_ratio_on_regular_series():
    """Regular grid + smooth values → far below 16 bytes/point."""
    ts = np.arange(2880, dtype=np.int64) * 300
    vals = np.round(1000 + 10 * np.sin(np.arange(2880) / 50), 2)
    nbytes = len(encode_timestamps(ts)) + len(encode_values(vals))
    assert nbytes < 2880 * 16 * 0.45, f"got {nbytes / 2880:.1f} B/point"


def test_spark_compress_roundtrip(spark):
    seq = sequences(spark, 2000)
    raw = rollup_raw(seq)
    comp = compress_tier(raw)
    back = decompress_tier(comp)
    got = sorted(
        (r.source, r.bucket_es, r.value) for r in back.collect()
    )
    want = sorted(
        (r.source, r.bucket_es, float(r.sum_tok)) for r in raw.collect()
    )
    assert got == want


@pytest.mark.parametrize("name,ts,vals", CASES, ids=[c[0] + "_vec" for c in CASES])
def test_vectorized_encoders_roundtrip(name, ts, vals):
    from tests.codec_oracle import encode_timestamps_vec, encode_values_vec

    n = len(ts)
    assert np.array_equal(decode_timestamps(encode_timestamps_vec(ts), n), ts)
    v2 = decode_values(encode_values_vec(vals), n)
    assert np.array_equal(
        v2.view(np.uint64), np.asarray(vals, np.float64).view(np.uint64)
    )


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(-(2**40), 2**40), max_size=60),
    st.lists(st.floats(allow_nan=True, allow_infinity=True, width=64), max_size=60),
)
def test_vectorized_roundtrip_property(ts, vals):
    from tests.codec_oracle import encode_timestamps_vec, encode_values_vec

    n = min(len(ts), len(vals))
    ts = np.sort(np.asarray(ts[:n], dtype=np.int64))
    vals = np.asarray(vals[:n], dtype=np.float64)
    assert np.array_equal(decode_timestamps(encode_timestamps_vec(ts), n), ts)
    v2 = decode_values(encode_values_vec(vals), n)
    assert np.array_equal(v2.view(np.uint64), vals.view(np.uint64))


def test_chunked_encoders_match_single(spark=None):
    from kfts_insar_spark.functions.codec import (
        encode_timestamps_chunked,
        encode_values_chunked,
    )

    rng = np.random.default_rng(5)
    # 50 chunks of varying size incl. 1- and 2-point chunks
    sizes = np.r_[1, 2, rng.integers(1, 40, 48)]
    starts = np.r_[0, np.cumsum(sizes)[:-1]]
    n = sizes.sum()
    ts = np.cumsum(rng.integers(1, 4000, n)).astype(np.int64)
    vals = np.where(rng.random(n) < 0.3, 7.5, rng.normal(0, 1e5, n))
    tcs = encode_timestamps_chunked(ts, starts)
    vcs = encode_values_chunked(vals, starts)
    for c, (s, size) in enumerate(zip(starts, sizes)):
        t_chunk = ts[s : s + size]
        v_chunk = vals[s : s + size]
        assert np.array_equal(decode_timestamps(tcs[c], size), t_chunk), c
        got = decode_values(vcs[c], size)
        assert np.array_equal(got.view(np.uint64), v_chunk.view(np.uint64)), c


def test_lockstep_decoders_match_scalar():
    """Lockstep (vectorized-across-streams) decode == the per-bit scalar
    reference decoders, over streams exercising every control bucket and
    ragged lengths including n=0,1,2."""
    import numpy as np

    from kfts_insar_spark.functions.codec import (
        decode_timestamps_lockstep,
        decode_values_lockstep,
    )
    from tests.codec_oracle import (
        decode_timestamps,
        decode_values,
        encode_timestamps,
        encode_values,
    )

    rng = np.random.default_rng(5)
    ts_streams, val_streams = [], []
    # dod magnitudes hitting all five buckets (0 / ±64 / ±256 / ±2048 / big)
    for n in (1, 2, 3, 7, 50, 288):
        base = rng.integers(-(2**40), 2**40)
        deltas = rng.choice(
            [0, 1, -63, 64, -255, 256, -2047, 2048, 10**7, -(10**9)],
            size=max(n - 1, 0),
        )
        ts = base + np.concatenate([[0], np.cumsum(deltas)]).astype(np.int64)[:n]
        vals = rng.normal(0, 1e3, n)
        vals[rng.random(n) < 0.3] = 0.0  # runs of identical xors
        if n > 2:
            vals[2] = vals[1]  # exact repeat → '0' control
        ts_streams.append((encode_timestamps(ts), ts))
        val_streams.append((encode_values(vals), vals))

    ns = np.array([len(t) for _, t in ts_streams])
    tmat = decode_timestamps_lockstep([d for d, _ in ts_streams], ns)
    vmat = decode_values_lockstep([d for d, _ in val_streams], ns)
    for i, ((_, ts), (_, vals)) in enumerate(zip(ts_streams, val_streams)):
        n = len(ts)
        np.testing.assert_array_equal(tmat[i, :n], ts)
        np.testing.assert_array_equal(
            vmat[i, :n].view(np.uint64), vals.view(np.uint64)
        )
        # and both agree with the scalar readers
        np.testing.assert_array_equal(
            decode_timestamps(ts_streams[i][0], n), ts
        )
        np.testing.assert_array_equal(decode_values(val_streams[i][0], n), vals)


def test_pooled_chunk_layout_never_larger_than_explicit():
    """encode_values_chunked picks pooled-vs-explicit per chunk by exact
    bit cost, so its output can never exceed the explicit-only encoder
    (encode_values_vec) on the same chunks."""
    from kfts_insar_spark.functions.codec import encode_values_chunked
    from tests.codec_oracle import encode_values_vec

    rng = np.random.default_rng(11)
    vals = np.where(rng.random(4000) < 0.4, 42.0, rng.normal(0, 1e4, 4000))
    starts = np.arange(0, 4000, 100)
    pooled = encode_values_chunked(vals, starts)
    for c, s in enumerate(starts):
        chunk = vals[s : s + 100]
        assert len(pooled[c]) <= len(encode_values_vec(chunk)), c
        got = decode_values(pooled[c], len(chunk))
        assert np.array_equal(got.view(np.uint64), chunk.view(np.uint64))


# ------------------------------------------------------- property testing
try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False

if _HYP:
    finite = st.floats(
        allow_nan=False,
        allow_infinity=False,
        width=64,
        min_value=-1e15,
        max_value=1e15,
    )

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.lists(finite, min_size=1, max_size=40), min_size=1, max_size=6
        )
    )
    def test_gorilla_value_roundtrip_property(chunks):
        """Lossless for ANY finite doubles, any chunk shapes — including
        denormal-adjacent magnitudes, sign flips, and repeated values
        (the '10'-window reuse path)."""
        import numpy as np

        from kfts_insar_spark.functions.codec import (
            decode_values_lockstep,
            encode_values_chunked,
        )

        vals = np.array([v for c in chunks for v in c], dtype=np.float64)
        starts = np.cumsum([0] + [len(c) for c in chunks[:-1]])
        ns = np.array([len(c) for c in chunks], dtype=np.int64)
        codecs = encode_values_chunked(vals, np.asarray(starts))
        mat = decode_values_lockstep([bytes(b) for b in codecs], ns)
        off = 0
        for i, n in enumerate(ns):
            got = mat[i, :n]
            want = vals[off : off + n]
            assert np.array_equal(got, want), (i, got, want)
            off += n

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.lists(
                st.integers(min_value=0, max_value=2**40),
                min_size=1,
                max_size=40,
            ),
            min_size=1,
            max_size=6,
        )
    )
    def test_gorilla_timestamp_roundtrip_property(chunks):
        """Delta-of-delta is exact for ANY non-decreasing int64 sequences
        (sorted inside each chunk, arbitrary gaps — the real bucket grid
        is a special case)."""
        import numpy as np

        from kfts_insar_spark.functions.codec import (
            decode_timestamps_lockstep,
            encode_timestamps_chunked,
        )

        chunks = [sorted(c) for c in chunks]
        ts = np.array([v for c in chunks for v in c], dtype=np.int64)
        starts = np.cumsum([0] + [len(c) for c in chunks[:-1]])
        ns = np.array([len(c) for c in chunks], dtype=np.int64)
        codecs = encode_timestamps_chunked(ts, np.asarray(starts))
        mat = decode_timestamps_lockstep([bytes(b) for b in codecs], ns)
        off = 0
        for i, n in enumerate(ns):
            assert np.array_equal(mat[i, :n], ts[off : off + n])
            off += n


def test_int_codec_roundtrip_vectors():
    """Fixed-width zigzag-delta int codec (val_codec tag 0x01): exact for
    constants, single points, noise, big jumps, negatives, ±2^52."""
    from kfts_insar_spark.functions.codec import (
        decode_ints_lockstep,
        encode_ints_chunked,
    )

    rng = np.random.default_rng(7)
    chunks = [
        np.array([5], np.int64),
        np.array([7, 7, 7, 7], np.int64),
        rng.integers(-30000, 30000, 288).astype(np.int64),
        np.cumsum(rng.integers(-24000, 24000, 100)).astype(np.int64),
        np.array([2**52, -(2**52), 0, 1], np.int64),
        rng.integers(0, 2, 50).astype(np.int64),
    ]
    vals = np.concatenate(chunks)
    starts = np.cumsum([0] + [len(c) for c in chunks])[:-1]
    ns = np.array([len(c) for c in chunks], dtype=np.int64)
    enc = encode_ints_chunked(vals, np.asarray(starts))
    dec = decode_ints_lockstep([bytes(b) for b in enc], ns)
    for i, c in enumerate(chunks):
        assert np.array_equal(dec[i, : ns[i]], c), i
    # the headline property: noisy 16-bit-delta ints pack ~4× tighter than
    # the 45-bit XOR form (2 B/pt here vs ~5.6 B/pt gorilla)
    assert sum(len(e) for e in enc) / len(vals) < 2.5


def test_int_codec_roundtrip_property():
    from kfts_insar_spark.functions.codec import (
        decode_ints_lockstep,
        encode_ints_chunked,
    )

    ints = st.integers(min_value=-(2**53), max_value=2**53)

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(st.lists(ints, min_size=1, max_size=40), min_size=1, max_size=6)
    )
    def prop(chunks):
        vals = np.array([v for c in chunks for v in c], dtype=np.int64)
        starts = np.cumsum([0] + [len(c) for c in chunks[:-1]])
        ns = np.array([len(c) for c in chunks], dtype=np.int64)
        enc = encode_ints_chunked(vals, np.asarray(starts))
        mat = decode_ints_lockstep([bytes(b) for b in enc], ns)
        off = 0
        for i, n in enumerate(ns):
            assert np.array_equal(mat[i, :n], vals[off : off + n]), i
            off += n

    prop()


def test_compress_tier_mixed_int_and_frac_chunks(spark):
    """One tier holding integer-sum chunks AND fractional chunks: each
    chunk picks its codec (tag byte) and the roundtrip is bit-exact."""
    import pandas as pd
    from pyspark.sql import functions as F

    rows = []
    rng = np.random.default_rng(11)
    for src, frac in (("ints", False), ("fracs", True), ("mixed_nan", True)):
        for k in range(40):
            v = float(rng.integers(0, 50000)) if not frac else float(rng.normal())
            if src == "mixed_nan" and k % 7 == 0:
                v = float("nan")
            rows.append((src, 1767225600 + 300 * k, v))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["source", "bucket_es", "sum_tok"])
    )
    comp = compress_tier(df)
    tags = {
        r.source: bytes(r.val_codec)[0]
        for r in comp.select("source", "val_codec").collect()
    }
    assert tags["ints"] == 1 and tags["fracs"] == 0 and tags["mixed_nan"] == 0
    back = (
        decompress_tier(comp)
        .toPandas()
        .sort_values(["source", "bucket_es"])
        .reset_index(drop=True)
    )
    want = (
        df.toPandas().sort_values(["source", "bucket_es"]).reset_index(drop=True)
    )
    assert np.array_equal(
        back["value"].to_numpy().view(np.uint64),
        want["sum_tok"].to_numpy().view(np.uint64),
    )
    assert np.array_equal(back["bucket_es"].to_numpy(), want["bucket_es"].to_numpy())


def test_compress_tier_gcd_scaled_timestamps(spark):
    """Gappy 300 s grid → ts_codec tag 0x02 (GCD-scaled dod) and exact
    roundtrip; an irregular (gcd=1) series keeps the plain tag 0x00."""
    import pandas as pd

    rows = []
    # gappy but 300-aligned: deltas {300, 900, 1500} → g = 300
    t = 1767225600
    for k in range(60):
        t += 300 * (1 + 2 * (k % 3))
        rows.append(("grid", t, float(k * 10)))
    # irregular: deltas coprime → g = 1
    t = 1767225600
    for k in range(60):
        t += 301 + k
        rows.append(("jitter", t, float(k)))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["source", "bucket_es", "sum_tok"])
    )
    comp = compress_tier(df)
    tags = {
        r.source: bytes(r.ts_codec)[0]
        for r in comp.select("source", "ts_codec").collect()
    }
    assert tags["grid"] == 2 and tags["jitter"] == 0, tags
    back = (
        decompress_tier(comp)
        .toPandas()
        .sort_values(["source", "bucket_es"])
        .reset_index(drop=True)
    )
    want = (
        df.toPandas().sort_values(["source", "bucket_es"]).reset_index(drop=True)
    )
    assert np.array_equal(
        back["bucket_es"].to_numpy(), want["bucket_es"].to_numpy()
    )
    assert np.array_equal(back["value"].to_numpy(), want["sum_tok"].to_numpy())
    # the point of the scaling: every dod lands in the small buckets
    # (alternating +-600/1200 gaps -> 10-bit scaled vs 13/17-bit plain)
    r = comp.filter(F.col("source") == "grid").select(
        F.octet_length("ts_codec").alias("b"), "n_points"
    ).first()
    assert r.b / r.n_points < 1.8, (r.b, r.n_points)


from pyspark.sql import functions as F  # noqa: E402  (test helper)


def test_decompress_rejects_unknown_tag(spark):
    """ADVICE r4 (medium): an unrecognized tag byte must raise, never
    silently decode the chunk as zeros (or, for a legacy untagged ts
    stream whose first byte happens to be 0x00, as a one-byte-shifted
    garbage series)."""
    import pandas as pd

    rows = [("s", 1767225600 + 300 * k, float(k)) for k in range(10)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["source", "bucket_es", "sum_tok"])
    )
    good = compress_tier(df).toPandas()
    for col in ("ts_codec", "val_codec"):
        bad = good.copy()
        bad[col] = bad[col].map(lambda b: b"\x7f" + bytes(b)[1:])
        with pytest.raises(Exception, match=f"unknown {col} tag"):
            decompress_tier(spark.createDataFrame(bad)).collect()


@pytest.fixture(scope="module")
def three_family_tier(spark):
    """One compressed day per stream mode: 'grid' (bitmap timestamps,
    frame-of-reference ints), 'ramp' (dod timestamps, delta ints) and
    'frac' (xor values)."""
    import pandas as pd

    rng = np.random.default_rng(3)
    day = 1767225600
    slots = np.sort(rng.choice(288, 150, replace=False))
    rows = [("grid", day + 300 * int(k), float(rng.integers(1000, 1100))) for k in slots]
    rows += [("ramp", day + 301 * k + k * k, float(5000 * k)) for k in range(60)]
    rows += [("frac", day + 300 * k, float(rng.normal())) for k in range(60)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["source", "bucket_es", "sum_tok"])
    )
    comp = compress_tier(df).toPandas()
    comp["ts_codec"] = comp["ts_codec"].map(bytes)
    comp["val_codec"] = comp["val_codec"].map(bytes)
    return comp.set_index("source", drop=False)


@pytest.mark.parametrize(
    "source,col,body,mode",
    [
        ("grid", "ts_codec", 5, 1),  # tag 0x02 + g, bitmap
        ("ramp", "ts_codec", 1, 0),  # tag 0x00, delta-of-delta
        ("grid", "val_codec", 1, 1),  # tag 0x01, frame of reference
        ("ramp", "val_codec", 1, 0),  # tag 0x01, delta
        ("frac", "val_codec", 1, None),  # tag 0x00, xor
    ],
    ids=["ts-bitmap", "ts-dod", "int-for", "int-delta", "xor"],
)
def test_decompress_rejects_truncated_stream(
    spark, three_family_tier, source, col, body, mode
):
    """A stream cut to half its bytes must raise naming its chunk, never
    decode the zero padding past its end as data (a cut ts stream used to
    decode its tail as repeats of t0, a cut int stream as a constant)."""
    good = three_family_tier
    if mode is not None:
        assert good.loc[source, col][body] >> 7 == mode
    bad = good.reset_index(drop=True)
    row = int(np.flatnonzero(bad["source"] == source)[0])
    whole = bad.at[row, col]
    bad.at[row, col] = whole[: len(whole) // 2]
    with pytest.raises(
        Exception,
        match=f"{col} of chunk source='{source}' "
        f"bucket_es={bad.at[row, 'bucket_es']} is truncated",
    ):
        decompress_tier(spark.createDataFrame(bad)).collect()


def test_encode_ints_rejects_64bit_delta():
    """ADVICE r4 (low): the delta width lives in a 6-bit field; a delta
    needing 64 bits must raise instead of wrapping the width and
    corrupting the chunk (previously [0, 2^62] roundtripped to [0, 0])."""
    from kfts_insar_spark.functions.codec import encode_ints_chunked

    with pytest.raises(ValueError, match="2\\^62"):
        encode_ints_chunked(
            np.array([0, 2**62], np.int64), np.array([0], np.int64)
        )


# ------------------------------------------------ v3 stream modes
def _flat(chunks):
    vals = np.concatenate([np.asarray(c, dtype=np.int64) for c in chunks])
    starts = np.cumsum([0] + [len(c) for c in chunks[:-1]]).astype(np.int64)
    return vals, starts, np.array([len(c) for c in chunks], dtype=np.int64)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(-(2**40), 2**40),
            st.lists(
                st.integers(0, 3) | st.integers(1, 40) | st.integers(0, 2**33),
                max_size=40,
            ),
        ),
        min_size=1,
        max_size=6,
    )
)
def test_timestamp_modes_roundtrip_property(chunks):
    """Batches mixing bitmap and dod chunks roundtrip through the lockstep
    decoder and the scalar oracle; a chunk with a repeated timestamp must
    pick dod (a bitmap holds each slot once)."""
    from kfts_insar_spark.functions.codec import (
        decode_timestamps_lockstep,
        encode_timestamps_chunked,
    )

    chunks = [t0 + np.concatenate([[0], np.cumsum(steps)]) for t0, steps in chunks]
    ts, starts, ns = _flat(chunks)
    enc = encode_timestamps_chunked(ts, starts)
    mat = decode_timestamps_lockstep(enc, ns)
    for i, c in enumerate(chunks):
        assert np.array_equal(mat[i, : ns[i]], c), i
        assert np.array_equal(decode_timestamps(enc[i], ns[i]), c), i
        if np.any(np.diff(c) == 0):
            assert enc[i][0] >> 7 == 0, i


def test_timestamp_modes_mixed_batch():
    """One batch holding a bitmap chunk, a chunk with duplicates and a
    chunk whose span is far too wide for a bitmap decodes exactly, each in
    the mode its shape calls for."""
    from kfts_insar_spark.functions.codec import (
        decode_timestamps_lockstep,
        encode_timestamps_chunked,
    )

    rng = np.random.default_rng(8)
    chunks = [
        np.sort(rng.choice(288, 120, replace=False)) + 10**9,
        np.array([5, 6, 6, 7, 9]),
        np.array([0, 2**40, 2**41, 2**62]),
        np.array([-(2**63), -(2**62), 0, 2**62, 2**63 - 1]),
        np.array([42]),
    ]
    ts, starts, ns = _flat(chunks)
    enc = encode_timestamps_chunked(ts, starts)
    assert [e[0] >> 7 for e in enc[:4]] == [1, 0, 0, 0]
    mat = decode_timestamps_lockstep(enc, ns)
    for i, c in enumerate(chunks):
        assert np.array_equal(mat[i, : ns[i]], c), i


def test_int_modes_roundtrip_property():
    """Batches mixing frame-of-reference chunks (values in a narrow band)
    and delta chunks (ramps) roundtrip through the lockstep decoder and the
    scalar oracle."""
    from kfts_insar_spark.functions.codec import (
        decode_ints_lockstep,
        encode_ints_chunked,
    )
    from tests.codec_oracle import decode_ints

    band = st.tuples(
        st.integers(-(2**52), 2**52), st.lists(st.integers(0, 5000), min_size=1, max_size=40)
    ).map(lambda t: [t[0] + v for v in t[1]])
    ramp = st.tuples(
        st.integers(-(2**52), 2**52), st.lists(st.integers(-40, 400), max_size=40)
    ).map(lambda t: list(t[0] + np.cumsum([0] + t[1])))

    @settings(max_examples=200, deadline=None)
    @given(st.lists(band | ramp, min_size=1, max_size=6))
    def prop(chunks):
        vals, starts, ns = _flat(chunks)
        enc = encode_ints_chunked(vals, starts)
        mat = decode_ints_lockstep(enc, ns)
        for i, c in enumerate(chunks):
            assert np.array_equal(mat[i, : ns[i]], c), i
            assert np.array_equal(decode_ints(enc[i], ns[i]), c), i

    prop()


def test_mode_pick_never_larger_than_single_mode():
    """The per-chunk pick is by exact byte cost, so a chunk's stream is
    never longer than the dod-only (timestamps) or delta-only (ints)
    encoding of the same chunk."""
    from kfts_insar_spark.functions.codec import (
        encode_ints_chunked,
        encode_timestamps_chunked,
    )
    from tests.codec_oracle import (
        decode_ints,
        encode_ints_delta,
        encode_timestamps_vec,
    )

    rng = np.random.default_rng(12)
    ts_chunks, int_chunks = [], []
    for fill in np.linspace(0.02, 1.0, 25):
        slots = np.sort(rng.choice(288, max(1, int(288 * fill)), replace=False))
        ts_chunks.append(slots + 10**6)
        ts_chunks.append(np.cumsum(rng.integers(0, 3 + int(40 * fill), len(slots))))
        int_chunks.append(rng.integers(0, 1 + int(10**5 * fill), len(slots)))
        int_chunks.append(np.cumsum(rng.integers(-50, 50 + int(900 * fill), len(slots))))
    ts, starts, ns = _flat(ts_chunks)
    for c, e in zip(ts_chunks, encode_timestamps_chunked(ts, starts)):
        assert len(e) <= len(encode_timestamps_vec(c))
        assert np.array_equal(decode_timestamps(e, len(c)), c)
    vals, starts, ns = _flat(int_chunks)
    enc = encode_ints_chunked(vals, starts)
    for c, e in zip(int_chunks, enc):
        assert len(e) <= len(encode_ints_delta(c))
        assert np.array_equal(decode_ints(e, len(c)), c)
    assert {e[0] >> 7 for e in enc} == {0, 1}  # both int modes exercised


def test_compress_tier_grid_chunks_pick_bitmap(spark):
    """Days of the 300 s grid at fill 0.2-0.9 keep tag 0x02 (GCD-scaled)
    and pick the bitmap mode, at under 3 bits/pt for half-full days, and
    roundtrip exactly."""
    import pandas as pd

    rng = np.random.default_rng(4)
    day = 1767225600
    rows = []
    fills = (0.2, 0.4, 0.5, 0.6, 0.8, 0.9)
    for fill in fills:
        for k in np.sort(rng.choice(288, int(288 * fill), replace=False)):
            rows.append((f"fill{fill}", day + 300 * int(k), float(k)))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["source", "bucket_es", "sum_tok"])
    )
    comp = compress_tier(df)
    got = {
        r.source: (bytes(r.ts_codec), r.n_points)
        for r in comp.select("source", "ts_codec", "n_points").collect()
    }
    for fill in fills:
        ts, n = got[f"fill{fill}"]
        assert ts[0] == 2 and ts[5] >> 7 == 1, fill
    ts, n = got["fill0.5"]
    assert 8 * len(ts) / n < 3.0
    back = sorted(
        (r.source, r.bucket_es, r.value) for r in decompress_tier(comp).collect()
    )
    assert back == sorted(rows)
