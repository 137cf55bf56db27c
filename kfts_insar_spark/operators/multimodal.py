"""Multimodal columns: REAL binary codecs (PPM / WAV / PPM-stream video)
over opaque `binary` payloads + typed metadata.

A 100 TB training-data pipeline carries image/audio/video as `binary`
columns and runs decode / feature-extract / resize / frame-sample as
Arrow-batched UDFs. No image/audio libraries ship in this container, so —
exactly like `sources/netcdf3.py` did for NetCDF-3/GMT grd — the codecs
here parse PUBLIC fixed-byte-layout formats in pure numpy:

- image: binary PPM (P6) — `P6\\n<w> <h>\\n255\\n` + w·h·3 raw RGB bytes
  (Netpbm spec, public since the 1980s).
- audio: RIFF/WAVE PCM — `RIFF<size>WAVE` + `fmt ` chunk (PCM16, mono)
  + `data` chunk of little-endian int16 samples (Microsoft RIFF spec).
- video: a concatenated-PPM frame stream (`image2pipe`-style ppm stream,
  the rawvideo interchange form) — frame k is the k-th P6 image in the
  byte stream.

The decode step is the per-item codec boundary; everything after it is
batch numpy (one concatenate, reduceat sums, one bincount histogram) —
no per-row Python beyond the codec call, mirroring the engine's kalman /
gorilla kernels.

Synthesis is deterministic FROM TABLE COLUMNS ONLY (doc_id, n_chars), so
every feature query has a closed-form DuckDB oracle over `documents`:
pixel j of doc d is `(n_chars%256 + 37·j) mod 256`; audio sample k is
`((n_chars%256)·31 + 7·k) mod 4096 − 2048`. The Spark side round-trips
through REAL encoded bytes (encode → decode → batch stats); the oracle
replays the generating formula in SQL — value-exact equality proves the
whole codec + batch-feature path.

Reference analogue: KFTS-InSAR's flat-binary raster ingest
(/root/reference/kf/utils/tsio.py:18-98, np.memmap of BIL/BSQ/BIP byte
layouts) — same "public byte layout parsed directly" pattern.

Layout convention:
    payload: binary           -- opaque encoded bytes
    media_type: string        -- 'image/x-portable-pixmap', 'audio/wav', …
    meta: struct<width:int, height:int, n_channels:int, duration_ms:int>
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "doc_id long, payload binary, media_type string, "
    "meta struct<width:int, height:int, n_channels:int, duration_ms:int>"
)

# deterministic pixel / sample generators (shared with the SQL oracles)
PX_STRIDE = 37  # pixel j = (seed + 37 j) mod 256
AU_MULT, AU_STRIDE, AU_MOD, AU_MID = 31, 7, 4096, 2048
WAV_RATE = 8000  # Hz, mono PCM16


# ------------------------------------------------------------------ PPM (P6)
def encode_ppm(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → binary PPM bytes (Netpbm P6, maxval 255)."""
    h, w, c = img.shape
    if c != 3:
        raise ValueError(f"P6 carries exactly 3 channels, got {c}")
    return b"P6\n%d %d\n255\n" % (w, h) + img.astype(np.uint8).tobytes()


def decode_ppm(buf: bytes, offset: int = 0) -> tuple[np.ndarray, int]:
    """Parse one P6 image at ``offset`` → ((h, w, 3) uint8, next offset).

    Real header parse: magic check, whitespace-delimited width/height/
    maxval tokens (comments not emitted by our encoder but the separator
    walk is spec-faithful), then exactly w·h·3 raw bytes. The returned
    offset supports walking concatenated-PPM video streams.
    """
    if buf[offset : offset + 2] != b"P6":
        raise ValueError(
            f"not a P6 PPM at offset {offset}: magic={buf[offset:offset+2]!r}"
        )
    pos = offset + 2
    vals: list[int] = []
    while len(vals) < 3:
        while pos < len(buf) and buf[pos : pos + 1].isspace():
            pos += 1
        start = pos
        while pos < len(buf) and not buf[pos : pos + 1].isspace():
            pos += 1
        vals.append(int(buf[start:pos]))
    pos += 1  # single whitespace after maxval, then raster (spec)
    w, h, maxval = vals
    if maxval != 255:
        raise ValueError(f"only maxval 255 supported, got {maxval}")
    n = w * h * 3
    raster = buf[pos : pos + n]
    if len(raster) != n:
        raise ValueError(f"truncated P6 raster: want {n}, have {len(raster)}")
    return np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3), pos + n


# ------------------------------------------------------------------ WAV PCM
def encode_wav(samples: np.ndarray, rate: int = WAV_RATE) -> bytes:
    """int16 mono samples → RIFF/WAVE PCM bytes (canonical 44-byte header)."""
    pcm = samples.astype("<i2").tobytes()
    n = len(pcm)
    hdr = (
        b"RIFF"
        + (36 + n).to_bytes(4, "little")
        + b"WAVEfmt "
        + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")  # PCM
        + (1).to_bytes(2, "little")  # mono
        + rate.to_bytes(4, "little")
        + (rate * 2).to_bytes(4, "little")  # byte rate
        + (2).to_bytes(2, "little")  # block align
        + (16).to_bytes(2, "little")  # bits/sample
        + b"data"
        + n.to_bytes(4, "little")
    )
    return hdr + pcm


def decode_wav(buf: bytes) -> np.ndarray:
    """RIFF/WAVE PCM16 bytes → int16 numpy samples (real chunk walk)."""
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError(f"not a RIFF/WAVE stream: {buf[:12]!r}")
    pos = 12
    fmt_ok = False
    while pos + 8 <= len(buf):
        cid = buf[pos : pos + 4]
        size = int.from_bytes(buf[pos + 4 : pos + 8], "little")
        body = pos + 8
        if cid == b"fmt ":
            audio_fmt = int.from_bytes(buf[body : body + 2], "little")
            channels = int.from_bytes(buf[body + 2 : body + 4], "little")
            bits = int.from_bytes(buf[body + 14 : body + 16], "little")
            if audio_fmt != 1 or bits != 16 or channels != 1:
                raise ValueError(
                    "only mono PCM16 supported "
                    f"(fmt={audio_fmt}, channels={channels}, bits={bits})"
                )
            fmt_ok = True
        elif cid == b"data":
            if not fmt_ok:
                raise ValueError("WAV data chunk before fmt chunk")
            if body + size > len(buf):
                raise ValueError(
                    f"truncated WAV data chunk: declares {size} bytes, "
                    f"{len(buf) - body} remain"
                )
            return np.frombuffer(buf[body : body + size], dtype="<i2")
        pos = body + size + (size & 1)  # chunks are word-aligned (RIFF spec)
    raise ValueError("WAV stream has no data chunk")


# ------------------------------------------------------------------ synthesis
def _px_series(seed: int, n: int) -> np.ndarray:
    return ((seed + PX_STRIDE * np.arange(n, dtype=np.int64)) % 256).astype(
        np.uint8
    )


def _rechunk(
    batches: Iterator[pd.DataFrame], max_docs: int = 1024
) -> Iterator[pd.DataFrame]:
    """Slice incoming Arrow batches to ≤ max_docs rows. The payload UDFs
    materialize several full copies of every byte in their chunk (encoded
    payload list, concatenated pixel segment, int64 widenings) — a default
    20k-row Arrow batch of ~45 KB image payloads allocates multi-GB
    intermediates per task (measured as a 61× sf1-gate blowup: allocator
    thrash, not compute). Peak memory per task becomes O(max_docs ×
    payload), independent of Arrow batch sizing."""
    for pdf in batches:
        for lo in range(0, len(pdf), max_docs):
            yield pdf.iloc[lo : lo + max_docs]


def synth_media(
    docs: DataFrame, media_type: str = "image/x-portable-pixmap"
) -> DataFrame:
    """documents → one REAL binary-PPM payload per doc.

    Dimensions and pixels derive from `n_chars` only (SQL-replayable):
    w = n_chars%64+16, h = n_chars%48+16, pixel j = (n_chars%256 + 37j)%256.
    The encode is the per-item codec boundary; the j-series is one
    vectorized arange per doc.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _rechunk(batches):
            if not len(pdf):
                continue
            nch = pdf["n_chars"].to_numpy(np.int64)
            w = nch % 64 + 16
            h = nch % 48 + 16
            payloads = [
                encode_ppm(
                    _px_series(int(s % 256), int(wi * hi * 3)).reshape(
                        int(hi), int(wi), 3
                    )
                )
                for s, wi, hi in zip(nch, w, h)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "payload": payloads,
                    "media_type": media_type,
                    "width": w.astype(np.int32),
                    "height": h.astype(np.int32),
                    "n_channels": np.full(len(pdf), 3, np.int32),
                    "duration_ms": (nch * 10).astype(np.int32),
                }
            )

    flat = docs.select("doc_id", "n_chars").mapInPandas(
        gen,
        schema=(
            "doc_id long, payload binary, media_type string, width int, "
            "height int, n_channels int, duration_ms int"
        ),
    )
    return flat.select(
        "doc_id",
        "payload",
        "media_type",
        F.struct("width", "height", "n_channels", "duration_ms").alias("meta"),
    )


def synth_video(
    docs: DataFrame, frame_ms: int = 1000, max_frames: int = 8
) -> DataFrame:
    """documents → concatenated-PPM frame streams (image2pipe-style video).

    Frame k of doc d is the base image brightened by k (pixels +k mod 256)
    — per-frame distinct, SQL-replayable. n_frames = min(max_frames,
    max(1, n_chars % 6 + 1)); duration = n_frames · frame_ms.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _rechunk(batches):
            if not len(pdf):
                continue
            nch = pdf["n_chars"].to_numpy(np.int64)
            w = nch % 64 + 16
            h = nch % 48 + 16
            nf = np.minimum(max_frames, nch % 6 + 1)
            payloads = []
            for s, wi, hi, k in zip(nch, w, h, nf):
                base = _px_series(int(s % 256), int(wi * hi * 3))
                payloads.append(
                    b"".join(
                        encode_ppm(
                            ((base.astype(np.int64) + j) % 256)
                            .astype(np.uint8)
                            .reshape(int(hi), int(wi), 3)
                        )
                        for j in range(int(k))
                    )
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "payload": payloads,
                    "media_type": "video/x-ppm-stream",
                    "width": w.astype(np.int32),
                    "height": h.astype(np.int32),
                    "n_channels": np.full(len(pdf), 3, np.int32),
                    "duration_ms": (nf * frame_ms).astype(np.int32),
                }
            )

    flat = docs.select("doc_id", "n_chars").mapInPandas(
        gen,
        schema=(
            "doc_id long, payload binary, media_type string, width int, "
            "height int, n_channels int, duration_ms int"
        ),
    )
    return flat.select(
        "doc_id",
        "payload",
        "media_type",
        F.struct("width", "height", "n_channels", "duration_ms").alias("meta"),
    )


def synth_audio(docs: DataFrame) -> DataFrame:
    """documents → one REAL RIFF/WAVE PCM16 payload per doc.

    n_samples = n_chars%512+64; sample k = ((n_chars%256)·31 + 7k) mod
    4096 − 2048 (int16-range sawtooth, SQL-replayable).
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _rechunk(batches):
            if not len(pdf):
                continue
            nch = pdf["n_chars"].to_numpy(np.int64)
            n = nch % 512 + 64
            payloads = []
            for s, ni in zip(nch % 256, n):
                k = np.arange(int(ni), dtype=np.int64)
                v = (int(s) * AU_MULT + AU_STRIDE * k) % AU_MOD - AU_MID
                payloads.append(encode_wav(v))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "payload": payloads,
                    "media_type": "audio/wav",
                    "width": np.zeros(len(pdf), np.int32),
                    "height": np.zeros(len(pdf), np.int32),
                    "n_channels": np.ones(len(pdf), np.int32),
                    "duration_ms": (n * 1000 // WAV_RATE).astype(np.int32),
                }
            )

    flat = docs.select("doc_id", "n_chars").mapInPandas(
        gen,
        schema=(
            "doc_id long, payload binary, media_type string, width int, "
            "height int, n_channels int, duration_ms int"
        ),
    )
    return flat.select(
        "doc_id",
        "payload",
        "media_type",
        F.struct("width", "height", "n_channels", "duration_ms").alias("meta"),
    )


# fingerprint = Σ hist[j]·31^j mod 2^31−1 — integer-vectorizable across the
# whole batch (counts ≤ 10^4, powers < 2^31 → products < 2^45, exact int64)
_FP_MOD = 2147483647
_FP_POWS = np.array([pow(31, j, _FP_MOD) for j in range(16)], dtype=np.int64)


def decode_features(media: DataFrame, batch_docs: int = 1024) -> DataFrame:
    """PPM decode → feature-extract as a mapInPandas operator.

    Emits per-doc features: mean per channel, overall std, and a 16-bin
    intensity-histogram fingerprint. Decode is inherently per-item (the
    codec boundary — a real P6 header parse + frombuffer); EVERYTHING
    downstream is batch numpy: segments concatenated once, channel sums
    via np.add.reduceat over the (pixels, channels) view, histograms via
    one bincount over doc_index·16 + (byte >> 4), fingerprints as an
    integer polynomial — no per-row Python beyond the decode call.
    """
    schema = (
        "doc_id long, mean_c0 double, mean_c1 double, mean_c2 double, "
        "std_all double, hist_fp long"
    )
    flat = media.select("doc_id", "payload")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _rechunk(batches, batch_docs):
            yield _decode_chunk(pdf)

    def _decode_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
        B = len(pdf)
        imgs = [decode_ppm(bytes(p))[0] for p in pdf["payload"]]
        sizes = np.array([im.size for im in imgs], dtype=np.int64)
        cc = np.array([im.shape[2] for im in imgs], dtype=np.int64)
        seg = np.concatenate([im.reshape(-1) for im in imgs])
        offs = np.zeros(B + 1, dtype=np.int64)
        np.cumsum(sizes, out=offs[1:])

        means = np.full((B, 3), np.nan)
        stds = np.empty(B)
        seg64 = seg.astype(np.int64)
        segsq = seg64 * seg64
        # P6 is always 3-channel; the per-channel-count loop survives
        # for future formats with c != 3
        for c in np.unique(cc):
            rows = np.flatnonzero(cc == c)
            take = np.concatenate(
                [np.arange(offs[i], offs[i + 1]) for i in rows]
            ) if len(rows) < B else None
            g = seg64 if take is None else seg64[take]
            gsq = segsq if take is None else segsq[take]
            gsizes = sizes[rows]
            goffs = np.zeros(len(rows) + 1, dtype=np.int64)
            np.cumsum(gsizes, out=goffs[1:])
            m2 = g.reshape(-1, c)
            ch_sums = np.add.reduceat(m2, goffs[:-1] // c, axis=0)  # (Bg,c)
            npix = (gsizes // c).astype(np.float64)
            means[rows, : min(c, 3)] = (ch_sums[:, :3] / npix[:, None])[
                :, : min(c, 3)
            ]
            sum_all = ch_sums.sum(axis=1)
            sumsq = np.add.reduceat(gsq, goffs[:-1])
            mean_all = sum_all / gsizes
            var = sumsq / gsizes - mean_all * mean_all
            stds[rows] = np.sqrt(np.maximum(var, 0.0))

        # 16-bin histogram per doc in ONE bincount over a combined key
        doc_idx = np.repeat(np.arange(B, dtype=np.int64), sizes)
        hist = np.bincount(
            doc_idx * 16 + (seg >> 4), minlength=B * 16
        ).reshape(B, 16)
        fp = (hist.astype(np.int64) * _FP_POWS).sum(axis=1) % _FP_MOD

        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].to_numpy(),
                "mean_c0": means[:, 0],
                "mean_c1": means[:, 1],
                "mean_c2": means[:, 2],
                "std_all": stds,
                "hist_fp": fp,
            }
        )

    return flat.mapInPandas(run, schema=schema)


def frame_sample(
    media: DataFrame, every_ms: int = 1000, max_frames: int = 8
) -> DataFrame:
    """Frame sampling for PPM-stream video payloads: one output row per
    sample timestamp (0, every_ms, 2·every_ms, … < duration, ≤ max_frames
    samples), each mapped to its source frame by the stream's native
    interval (duration / frame count) — the standard pre-training video
    treatment (ffmpeg -r style: a stride coarser than the native spacing
    skips frames, a finer one repeats them). `frame_idx` is the SOURCE
    frame index, `ts_ms` the sample timestamp.

    The decoder WALKS the real concatenated-P6 byte stream (header parse
    per frame → next offset), re-encodes each sampled frame as a
    standalone P6 payload, and computes per-frame mean intensity with one
    batch concatenate + reduceat beyond the codec boundary.

    Scale: explode factor is bounded (≤ max_frames per doc) and declared
    up front, so the output row count is predictable; the operator is a
    narrow mapInPandas (no shuffle) and downstream feature extraction
    reuses :func:`decode_features` on the exploded frames."""
    schema = (
        "doc_id long, frame_idx int, ts_ms int, payload binary, "
        "width int, height int, mean_intensity double"
    )
    flat = media.select(
        "doc_id", "payload", F.col("meta.duration_ms").alias("duration_ms")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _rechunk(batches):
            if len(pdf) == 0:
                continue
            out_doc, out_idx, out_ts, out_pay, out_w, out_h = [], [], [], [], [], []
            segs, sizes = [], []
            stride = max(1, every_ms)
            for doc_id, payload, dur in zip(
                pdf["doc_id"], pdf["payload"], pdf["duration_ms"]
            ):
                buf = bytes(payload)
                row_start = len(out_doc)  # rollback point for this row
                # Samples map to source frames through the stream's native
                # interval (duration / frame count) — every_ms ≠ the native
                # spacing skips or repeats frames, exactly like ffmpeg -r
                # resampling. Frame count comes from a uniform-tiling fast
                # path when possible so only SAMPLED frames decode (the
                # full walk decoded every frame of the stream per doc —
                # O(total frames), the sf1 gate's hot spot): frame 0's
                # decoded size must tile the payload exactly, and every
                # sampled offset re-validates magic + dims + size, falling
                # back to the sequential walk on any mismatch. Streams with
                # varying frame sizes therefore still take the exact walk.
                frames = None
                fsz = 0
                try:
                    img0, fsz = decode_ppm(buf, 0)
                    uniform = fsz > 0 and len(buf) % fsz == 0
                except ValueError:
                    uniform = False
                    img0 = None
                if uniform:
                    n_total = len(buf) // fsz
                else:
                    # sequential walk (header parse per frame)
                    frames = []
                    pos = 0
                    while pos < len(buf):
                        img, pos = decode_ppm(buf, pos)  # codec boundary
                        frames.append(img)
                    n_total = len(frames)
                if n_total == 0:
                    continue
                dur = int(dur)
                native = max(1, dur // n_total) if dur > 0 else stride
                cache: dict[int, np.ndarray] = (
                    {0: img0} if uniform and img0 is not None else {}
                )

                def frame_at(i: int) -> np.ndarray:
                    if frames is not None:
                        return frames[i]
                    img = cache.get(i)
                    if img is None:
                        img, nxt = decode_ppm(buf, i * fsz)
                        if nxt - i * fsz != fsz:
                            raise ValueError(
                                "non-uniform frame inside a stream that "
                                "tiled uniformly at frame 0"
                            )
                        cache[i] = img
                    return img

                k = 0
                while k < max_frames:
                    ts = k * stride
                    if k > 0 and dur > 0 and ts >= dur:
                        break
                    i = min(n_total - 1, ts // native)
                    try:
                        img = frame_at(i)
                    except ValueError:
                        if frames is None:
                            # fast-path misfire (pathological stream):
                            # redo this doc with the exact walk
                            frames = []
                            pos = 0
                            while pos < len(buf):
                                img, pos = decode_ppm(buf, pos)
                                frames.append(img)
                            n_total = len(frames)
                            native = (
                                max(1, dur // n_total) if dur > 0 else stride
                            )
                            k = 0
                            # drop anything emitted for this row so far
                            for lst in (
                                out_doc, out_idx, out_ts, out_pay,
                                out_w, out_h, segs, sizes,
                            ):
                                del lst[row_start:]
                            continue
                        raise
                    out_doc.append(doc_id)
                    out_idx.append(i)
                    out_ts.append(ts)
                    out_pay.append(encode_ppm(img))
                    out_h.append(img.shape[0])
                    out_w.append(img.shape[1])
                    segs.append(img.reshape(-1))
                    sizes.append(img.size)
                    k += 1
            if not segs:
                continue
            # batch numpy beyond the decode boundary: one concat + reduceat
            seg = np.concatenate(segs).astype(np.int64)
            offs = np.zeros(len(sizes) + 1, dtype=np.int64)
            np.cumsum(np.asarray(sizes, dtype=np.int64), out=offs[1:])
            sums = np.add.reduceat(seg, offs[:-1])
            means = sums / np.asarray(sizes, dtype=np.float64)
            yield pd.DataFrame(
                {
                    "doc_id": out_doc,
                    "frame_idx": np.asarray(out_idx, dtype=np.int32),
                    "ts_ms": np.asarray(out_ts, dtype=np.int32),
                    "payload": out_pay,
                    "width": np.asarray(out_w, dtype=np.int32),
                    "height": np.asarray(out_h, dtype=np.int32),
                    "mean_intensity": means,
                }
            )

    return flat.mapInPandas(run, schema=schema)


def audio_features(media: DataFrame) -> DataFrame:
    """Audio feature extraction over REAL RIFF/WAVE PCM16 payloads: RMS
    energy, zero-crossing count, and peak amplitude per doc. The codec
    boundary is the real WAV chunk walk (:func:`decode_wav`); every
    feature is computed across the batch with one concatenate + reduceat
    — no per-row Python beyond the decode."""
    schema = "doc_id long, n_samples int, rms double, zero_crossings int, peak int"
    flat = media.select("doc_id", "payload")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _rechunk(batches):
            B = len(pdf)
            if B == 0:
                continue
            waves = [
                decode_wav(bytes(p)).astype(np.int64) for p in pdf["payload"]
            ]
            sizes = np.array([len(w) for w in waves], dtype=np.int64)
            seg = np.concatenate(waves)
            offs = np.zeros(B + 1, dtype=np.int64)
            np.cumsum(sizes, out=offs[1:])
            sq = seg * seg
            rms = np.sqrt(np.add.reduceat(sq, offs[:-1]) / sizes)
            sign = (seg >= 0).astype(np.int8)
            flips = np.abs(np.diff(sign.astype(np.int16)))
            # zero crossings within each doc: total flips minus boundary flips
            total = np.add.reduceat(
                np.concatenate([flips, [0]]), offs[:-1]
            )
            # subtract the flip that straddles each doc boundary (it was
            # counted into the left doc's reduceat bucket)
            boundary = np.zeros(B, dtype=np.int64)
            boundary[:-1] = flips[offs[1:-1] - 1]
            zc = total - boundary
            peak = np.maximum.reduceat(np.abs(seg), offs[:-1])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "n_samples": sizes.astype(np.int32),
                    "rms": rms,
                    "zero_crossings": zc.astype(np.int32),
                    "peak": peak.astype(np.int32),
                }
            )

    return flat.mapInPandas(run, schema=schema)


def resize_ppm(media: DataFrame, target: tuple[int, int] = (32, 32)) -> DataFrame:
    """Resize = decode → nearest-neighbour subsample → RE-ENCODE as real
    P6 bytes; output payloads are themselves valid PPM images (feedable
    back into :func:`decode_features`)."""
    schema = "doc_id long, payload binary, media_type string, width int, height int"
    flat = media.select("doc_id", "payload", "media_type")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        th, tw = target
        for pdf in _rechunk(batches):
            rows = []
            for doc_id, payload, mtype in zip(
                pdf["doc_id"], pdf["payload"], pdf["media_type"]
            ):
                img, _ = decode_ppm(bytes(payload))
                ys = np.linspace(0, img.shape[0] - 1, th).astype(int)
                xs = np.linspace(0, img.shape[1] - 1, tw).astype(int)
                small = img[np.ix_(ys, xs)]
                rows.append((doc_id, encode_ppm(small), mtype, tw, th))
            yield pd.DataFrame(
                rows, columns=["doc_id", "payload", "media_type", "width", "height"]
            )

    return flat.mapInPandas(run, schema=schema)


# kept as an alias for round-4 callers; the stub codec is gone
resize_stub = resize_ppm
