"""Canonical schemas.

The authoritative input shape (BASELINE.json ``input_hint``) is the pre-tokenized
training-sequence table::

    (doc_id: string, tokens: array<int32>, n_tok: int32, source: string)

plus an ingest-time axis for the rollup tiers. The per-doc series and
state shapes re-express the reference's dense HDF5 cube relationally
(SURVEY.md §1.4; reference cube: /root/reference/kf/readinput.py:77-106).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------- sequences
SEQUENCES = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("source", T.StringType(), False),
        # acquisition-time axis for the retention tiers (epoch seconds + ts)
        T.StructField("ingest_es", T.LongType(), False),
        T.StructField("ingest_ts", T.TimestampType(), False),
    ]
)

# ------------------------------------------------------- per-doc observation
# Long-format series: one row per (doc, step) — the relational form of one
# pixel's time series in the reference cube (kf/readinput.py:77-106).
SERIES = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("step", T.IntegerType(), False),
        T.StructField("t", T.DoubleType(), False),  # decimal time (years)
        T.StructField("value", T.DoubleType(), True),  # NULL = gap
    ]
)

# State snapshot — mirrors States.h5 (state, state_cov, indx) per pixel
# (kf/readinput.py:560-575); P stored row-major.
KF_STATE = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("k_done", T.IntegerType(), False),  # steps processed
        T.StructField("idx0", T.IntegerType(), False),  # step idx of m[L]
        T.StructField("m", T.ArrayType(T.DoubleType(), False), False),
        T.StructField("P", T.ArrayType(T.DoubleType(), False), False),
    ]
)

# ------------------------------------------------------------- rollup tiers
# Gorilla-compressed tier buckets: one row per (source, coarse bucket)
COMPRESSED_TIER = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("bucket_es", T.LongType(), False),
        T.StructField("n_points", T.IntegerType(), False),
        T.StructField("ts_codec", T.BinaryType(), False),  # delta-of-delta
        T.StructField("val_codec", T.BinaryType(), False),  # 1 tag byte + stream
    ]
)
