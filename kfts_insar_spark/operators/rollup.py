"""Retention-tier rollups: raw (300 s) → 1 h → 1 d continuous aggregates.

The reference's per-pixel outputs are summarized post-hoc by grouped
aggregations (RMS/mean maps, /root/reference/kf2rms.py:143-154 and
checkinnov.py:94-107). This module recasts that summarize-by-group stage as
cascaded time-bucket rollups over the token-sequence table (SURVEY.md §2.4 A9):

- raw tier:  groupBy(source, 300 s bucket)  — partial agg map-side, one shuffle
- 1 h tier:  derived FROM the raw tier (not from the base table) — at 100 TB the
  raw tier is ~3 orders of magnitude smaller than the base table, so cascading
  turns a full re-scan into a metadata-scale job (continuous-aggregate pattern)
- 1 d tier:  derived from the raw tier too, same reasoning; the pipeline
  cascades 1h and 1d side by side from the same affected raw days.

All aggregates here are algebraic (sum/count/min/max decompose into partials),
which is what makes the cascade EXACT, not approximate: sum of sums == sum,
min of mins == min. avg is derived at read time as sum/count. Tests assert
cascade(raw→1h→1d) == direct(base→1d) row-for-row (FIXTURES.md F4).

Scale notes (100 TB / 10^12 rows):
- one wide shuffle on (source, bucket) for the raw tier; `source` has ~5
  values → heavily skewed keys. The raw rollup is a single groupBy: Spark's
  map-side partial aggregation (HashAggregate partial → final) already sends
  at most one partial row per hot key per map task to its reducer, which is
  the skew treatment for algebraic aggs. See `rollup_raw`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RAW_SECONDS = 300
HOUR_SECONDS = 3600
DAY_SECONDS = 86400

def _aggs():
    # built lazily: Column construction requires an active SparkSession
    return [
        F.sum("n_tok").cast("long").alias("sum_tok"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("n_tok").cast("int").alias("min_tok"),
        F.max("n_tok").cast("int").alias("max_tok"),
    ]

TIER_COLS = ["source", "bucket_es", "n_docs", "sum_tok", "min_tok", "max_tok"]


def bucket(es_col, width: int):
    """Tumbling-window floor on epoch seconds (integer-exact, TZ-free)."""
    return (F.floor(F.col(es_col) / F.lit(width)) * F.lit(width)).cast("long")


def rollup_raw(seq: DataFrame, with_max_ingest: bool = False) -> DataFrame:
    """Base table → raw (300 s) tier, one groupBy on (source, bucket).

    ``with_max_ingest`` adds ``max_ies`` (the newest ingest_es inside the
    bucket). The pipeline derives its watermark from this column's parquet
    footer statistics on the files it actually committed — one scan, no
    separate bounds action, and no window for a live source to slip rows
    between a bounds read and the write.
    """
    base = seq.select(
        F.col("source"),
        bucket("ingest_es", RAW_SECONDS).alias("bucket_es"),
        F.col("n_tok"),
        F.col("doc_id"),
        F.col("ingest_es"),
    )
    aggs = _aggs()
    if with_max_ingest:
        aggs = aggs + [F.max("ingest_es").cast("long").alias("max_ies")]
    cols = TIER_COLS + (["max_ies"] if with_max_ingest else [])
    # Two-level aggregation for the skewed sources IS what executes here —
    # Spark's HashAggregate splits every algebraic aggregate into a map-side
    # partial keyed by (source, bucket) within each input task (the task is
    # the deterministic "salt") and a final merge after one exchange, so a
    # hot key contributes at most one partial row per map task to its
    # reducer. An explicit salt column (pmod(xxhash64(doc_id))) would
    # materialize that partial level a second time: at bulk-bench scale the
    # (source, bucket, salt) key had ~as many groups as input rows, so the
    # first exchange carried ~10x the bytes of the partial-row exchange and
    # the whole rollup ran 2x slower (20M docs: 6.1 s salted vs 3.2 s
    # single-stage) while adding no skew protection the partial stage
    # doesn't already provide.
    out = base.groupBy("source", "bucket_es").agg(*aggs)
    return out.select(*cols)


def rollup_series(seq: DataFrame, n_shards: int = 32) -> DataFrame:
    """Base table → the KF-stage series tier: (source, shard, bucket_es)
    partial sums, where shard = hash(doc_id) % n_shards.

    The per-source token series alone has ~5 keys — a hard parallelism
    ceiling of 5 tasks on the gap-fill stage no matter the cluster size.
    Sharding each source's series by a deterministic doc-hash yields
    5 × n_shards independent sub-series whose Kalman recursions run in
    parallel; the per-source view remains recoverable as the shard sum.
    (The same role the reference's pixel dimension plays for its MPI split,
    kf/readinput.py:166-212.)
    """
    return rollup_series_partial(seq, n_shards).select(
        "source", "shard", "bucket_es", "sum_tok", "n_docs"
    )


def rollup_series_partial(
    seq: DataFrame, n_shards: int = 32, with_max_ingest: bool = False
) -> DataFrame:
    """Base table → shard-level partials that serve BOTH tiers of the
    pipeline's ingest in one base scan: project to the series tier
    (sum_tok, n_docs per (source, shard, bucket)), or merge over ``shard``
    with :func:`merge_shard_partials` to get the raw tier exactly.

    The raw tier derived from these partials is a two-stage aggregation
    over the deterministic doc-hash shard, equal to :func:`rollup_raw` row
    for row — the base table is scanned once instead of once per tier (at
    100 TB the base scan is the dominant ingest cost; everything downstream
    of the partials is tier-sized)."""
    aggs = _aggs()
    if with_max_ingest:
        aggs = aggs + [F.max("ingest_es").cast("long").alias("max_ies")]
    return (
        seq.select(
            "source",
            F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)).cast("int").alias("shard"),
            bucket("ingest_es", RAW_SECONDS).alias("bucket_es"),
            F.col("n_tok"),
            F.col("ingest_es"),
        )
        .groupBy("source", "shard", "bucket_es")
        .agg(*aggs)
    )


def merge_shard_partials(partial: DataFrame, with_max_ingest: bool = False) -> DataFrame:
    """(source, shard, bucket) partials → the raw tier rows (exact: all
    tier aggregates are algebraic, so the shard merge is the final stage
    of the two-stage aggregation)."""
    merge = [
        F.sum("sum_tok").cast("long").alias("sum_tok"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.min("min_tok").cast("int").alias("min_tok"),
        F.max("max_tok").cast("int").alias("max_tok"),
    ]
    if with_max_ingest:
        merge.append(F.max("max_ies").cast("long").alias("max_ies"))
    cols = TIER_COLS + (["max_ies"] if with_max_ingest else [])
    return partial.groupBy("source", "bucket_es").agg(*merge).select(*cols)


def rollup_cascade(tier: DataFrame, width: int) -> DataFrame:
    """Finer tier → coarser tier (raw→1h, 1h→1d). Exact for algebraic aggs."""
    return (
        tier.groupBy(
            "source", bucket("bucket_es", width).alias("bucket_es")
        )
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("sum_tok").cast("long").alias("sum_tok"),
            F.min("min_tok").cast("int").alias("min_tok"),
            F.max("max_tok").cast("int").alias("max_tok"),
        )
        .select(*TIER_COLS)
    )


def rollup_direct(seq: DataFrame, width: int) -> DataFrame:
    """Base table → arbitrary tier in one pass (oracle for cascade equality)."""
    return (
        seq.select(
            "source", bucket("ingest_es", width).alias("bucket_es"), "n_tok"
        )
        .groupBy("source", "bucket_es")
        .agg(*_aggs())
        .select(*TIER_COLS)
    )


def tier_sql(inner_sql: str, width: int) -> str:
    """DuckDB oracle for :func:`rollup_direct` over a sequences CTE body."""
    return f"""
WITH seq AS ({inner_sql})
SELECT source,
       CAST((ingest_es // {width}) * {width} AS BIGINT) AS bucket_es,
       CAST(count(*) AS BIGINT)  AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS sum_tok,
       CAST(min(n_tok) AS INT)   AS min_tok,
       CAST(max(n_tok) AS INT)   AS max_tok
FROM seq
GROUP BY 1, 2
"""
