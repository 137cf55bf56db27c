"""Oracle-checked multimodal queries: REAL PPM / WAV / PPM-stream codecs
round-tripped through the Arrow batch feature extractors, replayed in
closed form by DuckDB.

The synthetic media derive from table columns only (doc_id, n_chars) —
see operators/multimodal.py: pixel j = (n_chars%256 + 37j) mod 256,
audio sample k = ((n_chars%256)·31 + 7k) mod 4096 − 2048, video frame k
= base image + k (mod 256). The Spark side goes documents → REAL encoded
bytes → real header-parsing decode → batch numpy stats; the oracle
replays the generating formula with unnest(range(...)) — value-exact
equality therefore pins encode, decode, AND the batch feature math.

Exactness: every aggregate is an exact int64 sum divided once (IEEE
double division, identical in numpy and DuckDB), rounded to 6 dp on both
sides; fingerprints are integer polynomials mod 2^31−1 (< 2^45
intermediates, exact).

Decimation (`doc_id % k = r`) bounds the oracle's unnest explosion so the
sf1 value gate stays tractable; the Spark plan pushes the same filter to
the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.multimodal import (
    _FP_MOD,
    _FP_POWS,
    audio_features,
    decode_features,
    frame_sample,
    synth_audio,
    synth_media,
    synth_video,
)
from .common import load

_POWS_SQL = "[" + ",".join(str(int(p)) for p in _FP_POWS) + "]"


# ------------------------------------------------------------------- image
def q_mm_image_stats(spark, sf_dir):
    """documents → real binary-PPM encode → real P6 decode → per-channel
    means + overall std + 16-bin histogram fingerprint (batch numpy)."""
    docs = load(spark, sf_dir, "documents").filter((F.col("doc_id") % 11) == 3)
    feats = decode_features(synth_media(docs))
    return feats.select(
        "doc_id",
        F.round("mean_c0", 6).alias("mean_c0"),
        F.round("mean_c1", 6).alias("mean_c1"),
        F.round("mean_c2", 6).alias("mean_c2"),
        F.round("std_all", 6).alias("std_all"),
        "hist_fp",
    )


MM_IMAGE_STATS_SQL = f"""
WITH px AS (
  SELECT doc_id, j % 3 AS c,
         ((n_chars % 256) + 37 * j) % 256 AS v
  FROM (
    SELECT doc_id, n_chars,
           unnest(range(0, (n_chars % 64 + 16) * (n_chars % 48 + 16) * 3)) AS j
    FROM documents WHERE doc_id % 11 = 3
  )
), agg AS (
  SELECT doc_id,
         SUM(CASE WHEN c = 0 THEN v END) AS s0,
         COUNT(CASE WHEN c = 0 THEN v END) AS n0,
         SUM(CASE WHEN c = 1 THEN v END) AS s1,
         COUNT(CASE WHEN c = 1 THEN v END) AS n1,
         SUM(CASE WHEN c = 2 THEN v END) AS s2,
         COUNT(CASE WHEN c = 2 THEN v END) AS n2,
         SUM(v) AS sa, SUM(v * v) AS sq, COUNT(*) AS n,
         SUM(({_POWS_SQL})[(v // 16) + 1]) AS fpsum
  FROM px GROUP BY doc_id
)
SELECT doc_id,
       ROUND(s0::DOUBLE / n0, 6) AS mean_c0,
       ROUND(s1::DOUBLE / n1, 6) AS mean_c1,
       ROUND(s2::DOUBLE / n2, 6) AS mean_c2,
       ROUND(SQRT(GREATEST(sq::DOUBLE / n - (sa::DOUBLE / n) * (sa::DOUBLE / n),
                           0.0)), 6) AS std_all,
       CAST(fpsum % {_FP_MOD} AS BIGINT) AS hist_fp
FROM agg ORDER BY doc_id
"""


# ------------------------------------------------------------------- audio
def q_mm_audio_stats(spark, sf_dir):
    """documents → real RIFF/WAVE PCM16 encode → real chunk-walk decode →
    RMS / zero-crossings / peak (batch numpy)."""
    docs = load(spark, sf_dir, "documents").filter((F.col("doc_id") % 11) == 3)
    feats = audio_features(synth_audio(docs))
    return feats.select(
        "doc_id",
        "n_samples",
        F.round("rms", 6).alias("rms"),
        "zero_crossings",
        "peak",
    )


MM_AUDIO_STATS_SQL = """
WITH w AS (
  SELECT doc_id, n,
         ((n_chars % 256) * 31 + 7 * k) % 4096 - 2048 AS v,
         CASE WHEN k > 0
              THEN ((n_chars % 256) * 31 + 7 * (k - 1)) % 4096 - 2048 END AS vp
  FROM (
    SELECT doc_id, n_chars, n_chars % 512 + 64 AS n,
           unnest(range(0, n_chars % 512 + 64)) AS k
    FROM documents WHERE doc_id % 11 = 3
  )
)
SELECT doc_id,
       CAST(ANY_VALUE(n) AS INTEGER) AS n_samples,
       ROUND(SQRT(SUM(v * v)::DOUBLE / ANY_VALUE(n)), 6) AS rms,
       CAST(SUM(CASE WHEN vp IS NOT NULL AND ((v >= 0) <> (vp >= 0))
                     THEN 1 ELSE 0 END) AS INTEGER) AS zero_crossings,
       CAST(MAX(ABS(v)) AS INTEGER) AS peak
FROM w GROUP BY doc_id ORDER BY doc_id
"""


# ------------------------------------------------------------------- video
def q_mm_frame_stats(spark, sf_dir):
    """documents → concatenated-PPM video stream → frame walk (real P6
    header parse per frame) → per-frame mean intensity."""
    docs = load(spark, sf_dir, "documents").filter((F.col("doc_id") % 23) == 5)
    frames = frame_sample(synth_video(docs), every_ms=1000, max_frames=8)
    return frames.select(
        "doc_id",
        "frame_idx",
        "ts_ms",
        F.round("mean_intensity", 6).alias("mean_intensity"),
    )


MM_FRAME_STATS_SQL = """
WITH f AS (
  SELECT doc_id, n_chars,
         (n_chars % 64 + 16) * (n_chars % 48 + 16) * 3 AS npx,
         unnest(range(0, n_chars % 6 + 1)) AS k
  FROM documents WHERE doc_id % 23 = 5
), px AS (
  SELECT doc_id, k, npx,
         ((n_chars % 256) + k + 37 * j) % 256 AS v
  FROM (SELECT doc_id, n_chars, k, npx, unnest(range(0, npx)) AS j FROM f)
)
SELECT doc_id,
       CAST(k AS INTEGER) AS frame_idx,
       CAST(k * 1000 AS INTEGER) AS ts_ms,
       ROUND(SUM(v)::DOUBLE / ANY_VALUE(npx), 6) AS mean_intensity
FROM px GROUP BY doc_id, k ORDER BY doc_id, k
"""


QUERIES = {
    "mm_image_stats": q_mm_image_stats,
    "mm_audio_stats": q_mm_audio_stats,
    "mm_frame_stats": q_mm_frame_stats,
}

ORACLE_SQL = {
    "mm_image_stats": MM_IMAGE_STATS_SQL,
    "mm_audio_stats": MM_AUDIO_STATS_SQL,
    "mm_frame_stats": MM_FRAME_STATS_SQL,
}
