"""Multimodal binary codecs (REAL PPM/WAV, pure numpy)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from kfts_insar_spark.operators.multimodal import (
    audio_features,
    decode_features,
    decode_ppm,
    decode_wav,
    encode_ppm,
    encode_wav,
    frame_sample,
    resize_ppm,
    synth_audio,
    synth_media,
    synth_video,
)

DOCS = "/root/testdata/sf0.001/documents.parquet"


@pytest.fixture(scope="module")
def media(spark):
    return synth_media(spark.read.parquet(DOCS)).cache()


def test_ppm_roundtrip_and_errors():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (5, 9, 3), dtype=np.uint8)
    buf = encode_ppm(img)
    assert buf.startswith(b"P6\n9 5\n255\n")
    back, nxt = decode_ppm(buf)
    assert nxt == len(buf)
    np.testing.assert_array_equal(back, img)
    # stream walk: two concatenated images decode at running offsets
    img2 = rng.integers(0, 256, (3, 4, 3), dtype=np.uint8)
    stream = buf + encode_ppm(img2)
    a, p = decode_ppm(stream)
    b, q = decode_ppm(stream, p)
    assert q == len(stream)
    np.testing.assert_array_equal(b, img2)
    with pytest.raises(ValueError, match="not a P6"):
        decode_ppm(b"JFIF....")
    with pytest.raises(ValueError, match="truncated"):
        decode_ppm(buf[:-4])


def test_wav_roundtrip_and_errors():
    v = (np.arange(100) * 321 % 4096 - 2048).astype(np.int16)
    buf = encode_wav(v)
    assert buf[:4] == b"RIFF" and buf[8:12] == b"WAVE"
    np.testing.assert_array_equal(decode_wav(buf), v)
    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"OggS" + buf[4:])
    with pytest.raises(ValueError, match="no data chunk"):
        decode_wav(buf[:40])


def test_media_payloads_are_real_ppm(spark, media):
    row = media.orderBy("doc_id").first()
    img, nxt = decode_ppm(bytes(row.payload))
    assert nxt == len(bytes(row.payload))  # payload is exactly one P6 image
    assert img.shape == (row.meta.height, row.meta.width, 3)
    # deterministic: same doc → same payload on recompute
    again = synth_media(spark.read.parquet(DOCS)).orderBy("doc_id").first()
    assert bytes(row.payload) == bytes(again.payload)


def test_decode_features_batch_shape(spark, media):
    feats = decode_features(media).toPandas()
    assert len(feats) == media.count()
    assert set(feats.columns) == {
        "doc_id", "mean_c0", "mean_c1", "mean_c2", "std_all", "hist_fp",
    }
    assert feats["mean_c0"].between(0, 255).all()
    # deterministic fingerprint
    again = decode_features(media).toPandas().set_index("doc_id")["hist_fp"]
    assert (feats.set_index("doc_id")["hist_fp"] == again).all()


def test_resize_emits_valid_ppm(spark, media):
    out = resize_ppm(media.limit(5), target=(8, 8)).toPandas()
    assert (out["width"] == 8).all() and (out["height"] == 8).all()
    for p in out["payload"]:
        small, _ = decode_ppm(bytes(p))
        assert small.shape == (8, 8, 3)


def test_decode_features_matches_rowwise_reference(spark, media):
    """The batch-vectorized feature path (reduceat sums, bincount
    histograms, polynomial fingerprint) must equal a straightforward
    per-image numpy reference, decoding the REAL PPM bytes."""
    from kfts_insar_spark.operators.multimodal import _FP_MOD, _FP_POWS

    sample = media.orderBy("doc_id").limit(50).collect()
    got = (
        decode_features(media.orderBy("doc_id").limit(50))
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    for r in sample:
        img, _ = decode_ppm(bytes(r.payload))
        means = img.mean(axis=(0, 1))
        hist, _ = np.histogram(img, bins=16, range=(0, 256))
        fp = int((hist.astype(np.int64) * _FP_POWS).sum() % _FP_MOD)
        g = got.loc[r.doc_id]
        np.testing.assert_allclose(
            [g.mean_c0, g.mean_c1, g.mean_c2], means, rtol=1e-12
        )
        np.testing.assert_allclose(g.std_all, img.std(), rtol=1e-9)
        assert int(g.hist_fp) == fp


def test_frame_sample_walks_real_ppm_stream(spark):
    video = synth_video(spark.read.parquet(DOCS), frame_ms=1000, max_frames=4)
    frames = frame_sample(video, every_ms=1000, max_frames=4).toPandas()
    meta = video.select(
        "doc_id", "payload", F.col("meta.duration_ms").alias("dur")
    ).toPandas().set_index("doc_id")
    # frame count = min(max_frames, frames present in the stream)
    per_doc = frames.groupby("doc_id").size()
    for doc_id, n in per_doc.items():
        assert n == min(4, int(meta.loc[doc_id, "dur"]) // 1000)
    g0 = frames[frames["doc_id"] == frames["doc_id"].iloc[0]].sort_values(
        "frame_idx"
    )
    assert g0["ts_ms"].tolist() == [i * 1000 for i in range(len(g0))]
    # each emitted frame payload is a standalone valid P6 equal to the
    # stream's k-th frame
    r = g0.iloc[0]
    stream = bytes(meta.loc[r["doc_id"], "payload"])
    want0, p = decode_ppm(stream)
    got0, _ = decode_ppm(bytes(r["payload"]))
    np.testing.assert_array_equal(got0, want0)
    if len(g0) > 1:
        want1, _ = decode_ppm(stream, p)
        got1, _ = decode_ppm(bytes(g0.iloc[1]["payload"]))
        np.testing.assert_array_equal(got1, want1)
        # frames differ (brightness ramp)
        assert not np.array_equal(got0, got1)
    # deterministic across recomputation
    again = frame_sample(video, every_ms=1000, max_frames=4).toPandas()
    key = ["doc_id", "frame_idx"]
    a = frames.sort_values(key).reset_index(drop=True)
    b = again.sort_values(key).reset_index(drop=True)
    assert (a["mean_intensity"] == b["mean_intensity"]).all()


def test_audio_features_against_numpy(spark):
    audio = synth_audio(spark.read.parquet(DOCS))
    out = audio_features(audio).toPandas().set_index("doc_id")
    src = audio.select("doc_id", "payload").toPandas()
    for _, r in src.head(20).iterrows():
        w = decode_wav(bytes(r["payload"])).astype(np.int64)
        got = out.loc[r["doc_id"]]
        assert got["n_samples"] == len(w)
        assert abs(got["rms"] - float(np.sqrt((w * w).mean()))) < 1e-9
        assert got["zero_crossings"] == int(
            np.abs(np.diff((w >= 0).astype(np.int16))).sum()
        )
        assert got["peak"] == int(np.abs(w).max())


def test_rechunk_bounds_chunk_size_and_loses_nothing():
    """The payload UDFs' task-memory bound (r5 sf1-gate fix): every chunk
    handed to the batch feature math must be <= max_docs rows, with all
    rows preserved in order — peak task memory then scales with the chunk,
    not the Arrow batch."""
    import pandas as pd

    from kfts_insar_spark.operators.multimodal import _rechunk

    big = pd.DataFrame({"x": range(5000)})
    outs = list(_rechunk(iter([big, pd.DataFrame({"x": []}), big.iloc[:7]])))
    assert max(len(o) for o in outs) <= 1024
    assert sum(len(o) for o in outs) == 5007
    assert [v for o in outs for v in o["x"]] == list(range(5000)) + list(range(7))


def test_frame_sample_honors_stride_and_native_interval(spark):
    """every_ms coarser than the stream's native frame interval must SKIP
    source frames (ffmpeg -r semantics), with frame_idx = the source frame
    and ts_ms = the sample timestamp — the pre-fix walk returned the first
    max_frames consecutive frames with fabricated timestamps."""
    import pandas as pd

    from kfts_insar_spark.operators.multimodal import frame_sample, synth_video

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [100], "n_chars": [5]})  # 5 % 6 + 1 = 6 frames
    )
    video = synth_video(docs, frame_ms=1000)  # native 1000 ms, dur 6000 ms
    out = (
        frame_sample(video, every_ms=2000, max_frames=8)
        .toPandas()
        .sort_values("ts_ms")
    )
    assert list(out["ts_ms"]) == [0, 2000, 4000]
    assert list(out["frame_idx"]) == [0, 2, 4]
    # finer stride repeats the source frame at distinct timestamps
    out2 = (
        frame_sample(video, every_ms=500, max_frames=4)
        .toPandas()
        .sort_values("ts_ms")
    )
    assert list(out2["ts_ms"]) == [0, 500, 1000, 1500]
    assert list(out2["frame_idx"]) == [0, 0, 1, 1]


def test_decode_wav_rejects_truncation_and_stereo():
    import numpy as np
    import pytest

    from kfts_insar_spark.operators.multimodal import decode_wav, encode_wav

    buf = encode_wav(np.arange(100, dtype=np.int16))
    assert len(decode_wav(buf)) == 100
    with pytest.raises(ValueError, match="truncated WAV data"):
        decode_wav(buf[:-10])
    stereo = bytearray(buf)
    stereo[22:24] = (2).to_bytes(2, "little")  # fmt channels field
    with pytest.raises(ValueError, match="mono"):
        decode_wav(bytes(stereo))


def test_frame_sample_long_stream_uniform_and_ragged(spark):
    """The uniform-tiling fast path (decode only SAMPLED frames of a long
    stream) must match the sequential walk exactly, and a ragged stream
    (per-frame dims differ -> tiling check fails) must fall back to the
    walk and stay correct."""
    import pandas as pd

    from kfts_insar_spark.operators.multimodal import MEDIA_SCHEMA

    # uniform: 500 frames of 8x4, brightness ramp; only ~4 samples needed
    n_frames, w, h = 500, 8, 4
    base = np.arange(w * h * 3, dtype=np.int64) % 256
    stream = b"".join(
        encode_ppm(((base + j) % 256).astype(np.uint8).reshape(h, w, 3))
        for j in range(n_frames)
    )
    # ragged: same frames but frame 1 has different dims (tiling check
    # fails at len(buf) % frame0_size)
    ragged = (
        encode_ppm((base % 256).astype(np.uint8).reshape(h, w, 3))
        + encode_ppm(
            ((base[: w * h * 3 // 4] + 1) % 256)
            .astype(np.uint8)
            .reshape(h // 2, w // 2, 3)
        )
        + encode_ppm(((base + 2) % 256).astype(np.uint8).reshape(h, w, 3))
    )
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "payload": [stream, ragged],
            "media_type": ["video/x-ppm-stream"] * 2,
            "meta": [
                {"width": w, "height": h, "n_channels": 3,
                 "duration_ms": n_frames * 100},  # native 100 ms
                {"width": w, "height": h, "n_channels": 3,
                 "duration_ms": 3000},  # native 1000 ms
            ],
        }
    )
    video = spark.createDataFrame(pdf, schema=MEDIA_SCHEMA)
    out = (
        frame_sample(video, every_ms=1000, max_frames=4)
        .toPandas()
        .sort_values(["doc_id", "ts_ms"])
    )
    u = out[out["doc_id"] == 1]
    # native interval 100 ms, stride 1000 ms -> source frames 0,10,20,30
    assert list(u["frame_idx"]) == [0, 10, 20, 30]
    for _, r in u.iterrows():
        img, _ = decode_ppm(bytes(r["payload"]))
        np.testing.assert_array_equal(
            img.reshape(-1),
            ((base + int(r["frame_idx"])) % 256).astype(np.uint8),
        )
        assert r["mean_intensity"] == img.mean()
    g = out[out["doc_id"] == 2]
    # ragged stream: 3 true frames over 3000 ms -> samples 0,1000,2000 map
    # to source frames 0,1,2 via the sequential walk
    assert list(g["frame_idx"]) == [0, 1, 2]
    shapes = [decode_ppm(bytes(p))[0].shape for p in g["payload"]]
    assert shapes == [(h, w, 3), (h // 2, w // 2, 3), (h, w, 3)]


def test_frame_sample_misfire_keeps_earlier_row_of_same_doc(spark):
    """A fast-path misfire rolls back only the frames of the row being
    decoded: an earlier row with the same doc_id in the same batch keeps
    its frames."""
    import pandas as pd

    from kfts_insar_spark.operators.multimodal import MEDIA_SCHEMA

    def frame(h, w, j=0):
        return encode_ppm(np.full((h, w, 3), j, dtype=np.uint8))

    good = b"".join(frame(4, 8, j) for j in range(3))
    # frame 0 (107 B) tiles the 214 B payload, but offset 107 holds a 4x2
    # frame: the sampled-frame check fails and the row re-decodes by walking
    misfire = frame(4, 8) + frame(2, 4) + frame(2, 4) + frame(2, 2) + frame(1, 1)
    assert len(misfire) == 2 * len(frame(4, 8))
    meta = {"width": 8, "height": 4, "n_channels": 3}
    pdf = pd.DataFrame(
        {
            "doc_id": [7, 7],
            "payload": [good, misfire],
            "media_type": ["video/x-ppm-stream"] * 2,
            "meta": [{**meta, "duration_ms": 3000}, {**meta, "duration_ms": 5000}],
        }
    )
    video = spark.createDataFrame(pdf, schema=MEDIA_SCHEMA).coalesce(1)
    out = frame_sample(video, every_ms=1000, max_frames=4).toPandas()
    shapes = [decode_ppm(bytes(p))[0].shape[:2] for p in out["payload"]]
    assert list(out["frame_idx"]) == [0, 1, 2, 0, 1, 2, 3]
    assert shapes == [(4, 8)] * 4 + [(2, 4), (2, 4), (2, 2)]
