"""kfts_insar_spark — a from-scratch PySpark-native time-series rollup +
downsample + retention engine with the analytics capabilities of
ManonDls/KFTS-InSAR (reference, read-only at /root/reference/).

This is NOT a port: the reference is numpy+h5py+mpi4py scientific code; this
engine re-expresses its data-processing semantics (SURVEY.md §2) as Spark
DataFrame plans, with exactly three vectorized Arrow UDF families
(kalman kernel, gorilla codec, minhash) and zero per-row Python in hot paths.

Layout
------
- session.py     SparkSession builder tuned for local[N] and cluster parity
- schema.py      canonical StructTypes (sequences, series, pairs, state, tiers)
- synth.py       deterministic, oracle-replayable synthetic generators
- operators/     rollup tiers, kalman smoother, reconstruction, dedup,
                 similarity, text stats, multimodal plumbing
- functions/     gorilla/delta-of-delta codec, basis-function DSL, hashes
- sources/       snapshot table (Iceberg-semantics over Parquet), readers
- plans/         relational query builders mirroring SURVEY.md §2 operators
- streaming/     exactly-once micro-batch landing for TierPipeline.run
- zipcache.py    cheap per-task import-cache invalidation in Python workers
"""

from .zipcache import install as _install_zipcache

__version__ = "0.1.0"

# Runs in every Python worker that unpickles an engine UDF (see zipcache).
_install_zipcache()
