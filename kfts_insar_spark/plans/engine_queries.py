"""Engine-core oracle-checked queries: the synthetic sequences table, the
retention tiers, the codec, and self-checking invariants (SURVEY.md §2.4 A9,
§2.10; BASELINE.json input_hint per-row token-array equality).

Every Spark query here is replayed bit-exactly by DuckDB SQL because the
synthetic table derives from pure integer arithmetic (synth.py).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.compress import compress_tier, decompress_tier
from ..operators.kalman import (
    KFConfig,
    explode_kf_output,
    kalman_gapfill_wide,
    to_wide,
)
from ..operators.rollup import (
    DAY_SECONDS,
    HOUR_SECONDS,
    RAW_SECONDS,
    TIER_COLS,
    rollup_cascade,
    rollup_raw,
    tier_sql,
)
from ..synth import sequences, sequences_sql
from .common import ORACLE_N_DOCS, n_docs_of

P_HASH = 1_000_000_007


def _seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sequences(spark, n_docs_of(sf_dir))


def q_seq_rollup_raw(spark, sf_dir):
    return rollup_raw(_seq(spark, sf_dir))


def q_seq_rollup_raw_salted(spark, sf_dir):
    return rollup_raw(_seq(spark, sf_dir))


def q_seq_rollup_1h(spark, sf_dir):
    return rollup_cascade(rollup_raw(_seq(spark, sf_dir)), HOUR_SECONDS)


def q_seq_rollup_1d(spark, sf_dir):
    return rollup_cascade(
        rollup_cascade(rollup_raw(_seq(spark, sf_dir)), HOUR_SECONDS), DAY_SECONDS
    )


def q_seq_gorilla_roundtrip(spark, sf_dir):
    """Gorilla encode∘decode over the raw tier — value-hash equality against
    the *uncompressed* oracle proves losslessness end-to-end in Spark."""
    raw = rollup_raw(_seq(spark, sf_dir))
    return decompress_tier(compress_tier(raw)).select(
        "source", "bucket_es", F.col("value").alias("sum_tok_d")
    )


def q_seq_gorilla_roundtrip_frac(spark, sf_dir):
    """Fractional-mantissa Gorilla roundtrip: value = sum_tok ∕ 7 is a
    non-terminating binary fraction, so successive XORs carry dense
    mantissa diffs — exercising the codec's wide-window and new-window
    paths that the integer-valued roundtrip (whose XORs concentrate in a
    few exponent/top-mantissa bits) barely touches. Lossless ⇒ bit-equal
    to the uncompressed oracle computing the same division."""
    raw = rollup_raw(_seq(spark, sf_dir)).withColumn(
        "v", F.col("sum_tok").cast("double") / F.lit(7.0)
    )
    return decompress_tier(compress_tier(raw, value_col="v")).select(
        "source", "bucket_es", F.col("value").alias("v")
    )


def q_seq_token_fingerprint(spark, sf_dir):
    """Per-row token-array fingerprint (sum, first, last, rolling hash) —
    the strong form of the token-array-equality invariant, computed entirely
    with Catalyst array expressions (no Python)."""
    seq = _seq(spark, sf_dir)
    return seq.select(
        "doc_id",
        "n_tok",
        F.aggregate("tokens", F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "tok_sum"
        ),
        F.element_at("tokens", 1).cast("int").alias("tok_first"),
        F.element_at("tokens", -1).cast("int").alias("tok_last"),
        F.aggregate(
            "tokens",
            F.lit(0).cast("long"),
            lambda a, x: (a * F.lit(31) + x) % F.lit(P_HASH),
        ).alias("tok_hash"),
    )


def q_seq_invariant_violations(spark, sf_dir):
    """Self-checking invariant: count of rows violating n_tok == size(tokens).
    Oracle is the constant 0 — a mismatch fails the value hash."""
    seq = _seq(spark, sf_dir)
    return seq.agg(
        F.sum(
            F.when(F.col("n_tok") != F.size("tokens"), F.lit(1)).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("violations")
    )


_KF_CFG = KFConfig(model=[("POLY", 1)], sig_y=5e4, sig_i=1e4, sig_a=1e7, t_sep=4)


def _kf_series(spark, sf_dir):
    """(series long-form, t_grid, m) for the per-source raw-tier token
    series — shared by the KF surface queries. ONE bounds action."""
    raw = rollup_raw(_seq(spark, sf_dir))
    lo, hi = raw.agg(F.min("bucket_es"), F.max("bucket_es")).first()
    m = int((hi - lo) // RAW_SECONDS) + 1
    t = np.arange(m) * (RAW_SECONDS / DAY_SECONDS)
    step = ((F.col("bucket_es") - F.lit(int(lo))) / RAW_SECONDS).cast("int")
    ser = raw.select(
        F.col("source").alias("doc_id"),
        step.alias("step"),
        (step * F.lit(RAW_SECONDS / DAY_SECONDS)).alias("t"),
        F.col("sum_tok").cast("double").alias("value"),
    )
    return ser, t, m


def _kf_dense_oracle(ser, t_grid):
    """In-query reference recomputation: the dense explicit-matrix filter
    (kalman_direct_oracle — the reference's per-pixel formulation,
    kf/KF_class.py:251-307) run per doc via applyInPandas."""
    import pandas as pd

    from ..operators.kalman import kalman_direct_oracle

    M = len(t_grid)

    def run(pdf):
        frames = []
        for doc, g in pdf.groupby("doc_id", sort=False):
            y = np.full(M, np.nan)
            y[g["step"].to_numpy(np.int64)] = g["value"].to_numpy(np.float64)
            res = kalman_direct_oracle(y, t_grid, _KF_CFG)
            frames.append(
                pd.DataFrame(
                    {
                        "doc_id": doc,
                        "step": np.arange(M, dtype=np.int32),
                        "phase_o": res["phase"],
                        "std_o": res["std"],
                        "innov_o": res["innov"],
                    }
                )
            )
        return pd.concat(frames, ignore_index=True)

    return ser.groupBy("doc_id").applyInPandas(
        run, "doc_id string, step int, phase_o double, std_o double, innov_o double"
    )


def _rel_mismatch(a, b, tol):
    """1 where |a−b| > tol·max(|b|, 1), treating NULL≠non-NULL as mismatch."""
    diff_ok = F.abs(F.col(a) - F.col(b)) <= F.lit(tol) * F.greatest(
        F.abs(F.col(b)), F.lit(1.0)
    )
    both_null = F.col(a).isNull() & F.col(b).isNull()
    return F.when(both_null | diff_ok, F.lit(0)).otherwise(F.lit(1))


def q_kf_gapfill_phases(spark, sf_dir):
    """KF gap-fill output surface, value-checked (W1/W3): the distributed
    batch kernel's phases/stds per source vs an IN-QUERY dense-oracle
    recomputation — per-source row (n_steps, n_mismatch) with n_steps
    SQL-derivable from the bucket grid and n_mismatch exactly 0."""
    ser, t, m = _kf_series(spark, sf_dir)
    out = explode_kf_output(kalman_gapfill_wide(to_wide(ser), t, _KF_CFG), t)
    ora = _kf_dense_oracle(ser, t)
    j = out.join(ora, ["doc_id", "step"], "inner")
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_steps"),
        F.sum(
            _rel_mismatch("phase", "phase_o", 1e-8)
            + _rel_mismatch("std", "std_o", 1e-6)
        )
        .cast("long")
        .alias("n_mismatch"),
    )


def q_kf_innovation_stats(spark, sf_dir):
    """Innovation whiteness maps (A5, reference checkinnov.py:94-107),
    value-checked: per-series observation/gap counts are SQL-derivable from
    the bucket grid (the innovation exists exactly where a step > 0 has
    data); the non-SQL-expressible stats (mean/median/std innovation) are
    checked against the in-query dense oracle and reported as a mismatch
    count (exactly 0)."""
    ser, t, m = _kf_series(spark, sf_dir)
    out = explode_kf_output(kalman_gapfill_wide(to_wide(ser), t, _KF_CFG), t)
    ora = _kf_dense_oracle(ser, t)
    j = out.join(ora, ["doc_id", "step"], "inner")
    per_doc = j.groupBy("doc_id").agg(
        F.count("innov").cast("long").alias("n_obs"),
        F.sum(F.col("gap_filled").cast("long")).cast("long").alias("n_gaps"),
        F.avg("innov").alias("_mean"),
        F.expr("percentile(innov, 0.5)").alias("_med"),
        F.stddev("innov").alias("_std"),
        F.avg("innov_o").alias("_mean_o"),
        F.expr("percentile(innov_o, 0.5)").alias("_med_o"),
        F.stddev("innov_o").alias("_std_o"),
        F.sum(_rel_mismatch("innov", "innov_o", 1e-6)).cast("long").alias("_row_mm"),
    )
    return per_doc.select(
        "doc_id",
        "n_obs",
        "n_gaps",
        (
            F.col("_row_mm")
            + _rel_mismatch("_mean", "_mean_o", 1e-6)
            + _rel_mismatch("_med", "_med_o", 1e-6)
            + _rel_mismatch("_std", "_std_o", 1e-6)
        )
        .cast("long")
        .alias("stats_mismatch"),
    )


_CHECK_CFG = KFConfig(
    model=[("POLY", 1)], sig_y=3e3, sig_i=1e3, sig_a=1e7, t_sep=4,
    check_eps=1e-4, check_win=5,
)


def q_kf_check_fit(spark, sf_dir):
    """In-loop quality gate (reference ``check_fit``, kf/KF_class.py:319-333),
    value-checked: the kernel's per-doc misfit flag + worst trailing
    weighted-residual mean vs an IN-QUERY dense-oracle recomputation.
    Output per source: n_obs (SQL-derivable — observed update steps are
    exactly the buckets above the global grid origin), whether the doc is
    FLAGGED under a deliberately tight noise config (checked via the
    oracle-mismatch count ≡ 0 — flag disagreement or fit_max divergence
    both trip it). The tight config flags the high-variance sources and
    passes the smooth ones, so the gate is exercised in both directions."""
    import pandas as pd

    from ..operators.kalman import kalman_direct_oracle

    ser, t, m = _kf_series(spark, sf_dir)
    # n_obs = update steps with data = innovations present (NaN elsewhere)
    flags = kalman_gapfill_wide(to_wide(ser), t, _CHECK_CFG).select(
        "doc_id",
        F.size(F.filter("innov", lambda x: ~F.isnan(x))).cast("long").alias("n_obs"),
        "fit_flag",
        "fit_max",
    )

    M = len(t)

    def run(pdf):
        rows = []
        for doc, g in pdf.groupby("doc_id", sort=False):
            y = np.full(M, np.nan)
            y[g["step"].to_numpy(np.int64)] = g["value"].to_numpy(np.float64)
            res = kalman_direct_oracle(y, t, _CHECK_CFG)
            rows.append((doc, bool(res["fit_flag"]), float(res["fit_max"])))
        return pd.DataFrame(rows, columns=["doc_id", "flag_o", "max_o"])

    ora = ser.groupBy("doc_id").applyInPandas(
        run, "doc_id string, flag_o boolean, max_o double"
    )
    j = flags.join(ora, "doc_id")
    return j.select(
        "doc_id",
        "n_obs",
        (
            F.when(F.col("fit_flag") != F.col("flag_o"), F.lit(1)).otherwise(
                F.lit(0)
            )
            + _rel_mismatch("fit_max", "max_o", 1e-9)
        )
        .cast("long")
        .alias("fit_mismatch"),
    )


def q_kf_resume_consistency(spark, sf_dir):
    """Self-checking: |oneshot − (run+resume)| summed over every (doc, step)
    must be exactly 0 (reference update-mode test, split_data_4test.py).
    Oracle: the constant row (0 mismatches)."""
    raw = rollup_raw(_seq(spark, sf_dir))
    lo, hi = raw.agg(F.min("bucket_es"), F.max("bucket_es")).first()
    m = int((hi - lo) // RAW_SECONDS) + 1
    t = np.arange(m) * (RAW_SECONDS / DAY_SECONDS)
    ser = raw.select(
        F.col("source").alias("doc_id"),
        ((F.col("bucket_es") - F.lit(lo)) / RAW_SECONDS).cast("int").alias("step"),
        (
            ((F.col("bucket_es") - F.lit(lo)) / RAW_SECONDS).cast("int")
            * F.lit(RAW_SECONDS / DAY_SECONDS)
        ).alias("t"),
        F.col("sum_tok").cast("double").alias("value"),
    )
    cfg = KFConfig(model=[("POLY", 1)], sig_y=5e4, sig_i=1e4, sig_a=1e7, t_sep=4)
    one = explode_kf_output(kalman_gapfill_wide(to_wide(ser), t, cfg), t)
    k_split = max(cfg.t_sep + 2, m // 2)
    st = kalman_gapfill_wide(
        to_wide(ser.filter(F.col("step") < k_split)), t[:k_split], cfg,
        with_state=True,
    ).select("doc_id", "k_done", "idx0", "m", "P")
    new = to_wide(ser.filter(F.col("step") >= k_split))
    upd = explode_kf_output(
        kalman_gapfill_wide(new.join(st, "doc_id", "full"), t, cfg), t
    )
    j = one.alias("a").join(
        upd.alias("b"), ["doc_id", "step"], "inner"
    )
    return j.agg(
        F.sum(
            F.when(
                (F.abs(F.col("a.phase") - F.col("b.phase")) > 0)
                | (F.abs(F.col("a.std") - F.col("b.std")) > 0),
                F.lit(1),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_mismatch")
    )


def q_seq_tiered_readthrough(spark, sf_dir):
    """The retention-engine READ path: one continuous series routed across
    the tiers by age — raw (300 s) for the newest day, 1 h for the previous
    four days, 1 d for everything older. This is the query shape a
    downsample+retention engine exists to serve (recent data at full
    resolution, history pre-aggregated), and the reason raw partitions can
    be dropped after the retention window (pipeline.expire_raw_before)
    without losing the queryable series. Band cuts are day-aligned so no
    1 h/1 d bucket straddles a boundary — the union is disjoint and
    complete. ONE bounds action; everything else is grouped aggregation +
    unionByName."""
    raw = rollup_raw(_seq(spark, sf_dir))
    hi = raw.agg(F.max("bucket_es")).first()[0]
    c1 = (int(hi) // DAY_SECONDS) * DAY_SECONDS  # start of the newest day
    c2 = c1 - 4 * DAY_SECONDS
    h1 = rollup_cascade(raw, HOUR_SECONDS)
    d1 = rollup_cascade(h1, DAY_SECONDS)
    pick = lambda df, tier, cond: df.filter(cond).select(  # noqa: E731
        F.lit(tier).alias("tier"), *TIER_COLS
    )
    return (
        pick(raw, "raw", F.col("bucket_es") >= c1)
        .unionByName(
            pick(h1, "1h", (F.col("bucket_es") >= c2) & (F.col("bucket_es") < c1))
        )
        .unionByName(pick(d1, "1d", F.col("bucket_es") < c2))
    )


def q_seq_compressed_readthrough(spark, sf_dir):
    """The DEEP read path: the oldest band of the tiered readthrough is
    served FROM THE GORILLA-COMPRESSED TIER — chunk-level pruning first
    (the filter hits the compressed rows' chunk key, so only old chunks
    are ever decoded), then the lockstep vectorized decoder, then an
    on-the-fly day cascade of the decoded points. Newest day from raw,
    previous four days from 1h, everything older decoded from the codec.

    This is the query shape that makes the compressed tier a TIER rather
    than an archive: retention can expire raw/1h partitions and history
    stays queryable through the codec. Value-exactness vs the plain SQL
    replay proves decode-then-aggregate ≡ aggregate-then-never-encode.
    Decoded values are integer-valued doubles (< 2^53), so the day sums
    are order-independent exact and cast back to long."""
    from ..operators.rollup import bucket as _bucket

    raw = rollup_raw(_seq(spark, sf_dir))
    hi = raw.agg(F.max("bucket_es")).first()[0]
    c1 = (int(hi) // DAY_SECONDS) * DAY_SECONDS
    c2 = c1 - 4 * DAY_SECONDS
    h1 = rollup_cascade(raw, HOUR_SECONDS)
    comp = compress_tier(raw)  # day-aligned chunks (CHUNK_SECONDS = 86400)
    old = decompress_tier(comp.filter(F.col("bucket_es") < F.lit(c2)))
    old_1d = (
        old.groupBy(
            "source", _bucket("bucket_es", DAY_SECONDS).alias("bucket_es")
        )
        .agg(F.sum("value").cast("long").alias("sum_tok"))
        .select(
            F.lit("1d").alias("tier"), "source", "bucket_es", "sum_tok"
        )
    )
    band = lambda df, tier, cond: df.filter(cond).select(  # noqa: E731
        F.lit(tier).alias("tier"),
        "source",
        "bucket_es",
        F.col("sum_tok").cast("long").alias("sum_tok"),
    )
    return (
        band(raw, "raw", F.col("bucket_es") >= c1)
        .unionByName(
            band(h1, "1h", (F.col("bucket_es") >= c2) & (F.col("bucket_es") < c1))
        )
        .unionByName(old_1d)
    )


VOCAB_TOPK = 50


def q_tok_vocab_topk(spark, sf_dir):
    """Token-vocabulary statistics: explode every token of every sequence
    and rank the VOCAB_TOPK most frequent token ids (ties by token id) —
    the Zipf head a tokenizer/data-mix audit looks at. The plan is the
    at-scale shape: generate/scan → posexplode → partial hash aggregate
    map-side (the shuffle moves ≤ |vocab| partials per task, not the 10^9
    exploded rows) → final agg → a single top-k."""
    from pyspark.sql import Window as W

    seq = _seq(spark, sf_dir)
    freq = (
        seq.select(F.explode("tokens").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = W.orderBy(F.desc("n"), F.asc("tok"))
    return (
        freq.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= VOCAB_TOPK)
        .select("rk", "tok", "n")
    )


def q_tok_rarity_score(spark, sf_dir):
    """Per-doc token-rarity scoring — the exact-integer analog of the LM
    perplexity quality filter (CCNet-style): rank every token id by global
    corpus frequency (ties by id), then score each document by the
    sum / mean / max rarity rank of its tokens. High mean rank = the doc is
    made of rare tokens (OCR noise, binary spill); low = boilerplate.

    Scale shape: the rank table is VOCAB-BOUNDED — the global row_number
    window runs over ≤ |vocab| rows (one tiny task), never the exploded
    corpus; the exploded stream joins it via BROADCAST, and the per-doc
    re-agg shuffles doc-local keys. All arithmetic integer-exact.
    """
    from pyspark.sql import Window as W

    seq = _seq(spark, sf_dir)
    tok = seq.select("doc_id", F.explode("tokens").alias("tok"))
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = W.orderBy(F.desc("n"), F.asc("tok"))
    rank = freq.select("tok", F.row_number().over(w).cast("long").alias("rank"))
    scored = tok.join(F.broadcast(rank), "tok")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tok_m"),
        F.sum("rank").cast("long").alias("rank_sum"),
        (F.sum("rank").cast("double") / F.count(F.lit(1))).alias("mean_rank"),
        F.max("rank").cast("long").alias("max_rank"),
    )


PACK_BIN = 4096  # training-example capacity (tokens)
PACK_PART = 2048  # docs per scan partition (two-level prefix sum)


def q_seq_pack_bins(spark, sf_dir):
    """Sequence packing — the concat-and-chunk step that turns documents
    into fixed-capacity training examples: documents are concatenated in
    deterministic (source, doc_id) order and split at PACK_BIN token
    boundaries; each doc reports the bin its first token lands in and the
    offset within that bin.

    Scale shape: a naive ``Window.partitionBy(source).orderBy(doc_id)``
    running sum puts each source's ENTIRE corpus through one task (the
    same 5-task ceiling the KF stage had). This uses the textbook
    distributed scan instead: doc_id order is range-split into PACK_PART-
    doc partitions, a window computes the LOCAL prefix sum within each
    (source, part), a tiny per-part total table is prefix-summed and
    broadcast back, and global offset = part offset + local prefix. The
    only full-data shuffle is the per-(source, part) window — ~n_docs/2048
    independent keys."""
    from pyspark.sql import Window as W

    seq = _seq(spark, sf_dir)
    part = F.floor(F.substring("doc_id", 4, 8).cast("long") / PACK_PART).alias(
        "part"
    )
    d = seq.select("source", "doc_id", "n_tok", part)
    w_local = W.partitionBy("source", "part").orderBy("doc_id")
    local = d.withColumn(
        "local_end", F.sum("n_tok").over(w_local).cast("long")
    )
    w_parts = (
        W.partitionBy("source")
        .orderBy("part")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = (
        d.groupBy("source", "part")
        .agg(F.sum("n_tok").cast("long").alias("part_tok"))
        .withColumn(
            "part_off", F.coalesce(F.sum("part_tok").over(w_parts), F.lit(0))
        )
        .select("source", "part", "part_off")
    )
    start = F.col("part_off") + F.col("local_end") - F.col("n_tok")
    return (
        local.join(F.broadcast(offsets), ["source", "part"])
        .select(
            "source",
            "doc_id",
            "n_tok",
            F.floor(start / PACK_BIN).cast("long").alias("bin_id"),
            (start % PACK_BIN).cast("long").alias("bin_offset"),
        )
    )


def _oracle_seq(with_tokens: bool = False) -> str:
    return sequences_sql(ORACLE_N_DOCS, with_tokens=with_tokens)


QUERIES = {
    "seq_rollup_raw": q_seq_rollup_raw,
    "seq_rollup_raw_salted": q_seq_rollup_raw_salted,
    "seq_rollup_1h": q_seq_rollup_1h,
    "seq_rollup_1d": q_seq_rollup_1d,
    "seq_gorilla_roundtrip": q_seq_gorilla_roundtrip,
    "seq_gorilla_roundtrip_frac": q_seq_gorilla_roundtrip_frac,
    "seq_token_fingerprint": q_seq_token_fingerprint,
    "seq_invariant_violations": q_seq_invariant_violations,
    "kf_gapfill_phases": q_kf_gapfill_phases,
    "kf_innovation_stats": q_kf_innovation_stats,
    "kf_resume_consistency": q_kf_resume_consistency,
    "kf_check_fit": q_kf_check_fit,
    "seq_tiered_readthrough": q_seq_tiered_readthrough,
    "seq_compressed_readthrough": q_seq_compressed_readthrough,
    "tok_vocab_topk": q_tok_vocab_topk,
    "tok_rarity_score": q_tok_rarity_score,
    "seq_pack_bins": q_seq_pack_bins,
}

ORACLE_SQL = {
    "seq_rollup_raw": tier_sql(_oracle_seq(), RAW_SECONDS),
    "seq_rollup_raw_salted": tier_sql(_oracle_seq(), RAW_SECONDS),
    "seq_rollup_1h": tier_sql(_oracle_seq(), HOUR_SECONDS),
    "seq_rollup_1d": tier_sql(_oracle_seq(), DAY_SECONDS),
    "seq_gorilla_roundtrip": f"""
WITH seq AS ({_oracle_seq()})
SELECT source,
       CAST((ingest_es // {RAW_SECONDS}) * {RAW_SECONDS} AS BIGINT) AS bucket_es,
       CAST(sum(n_tok) AS DOUBLE) AS sum_tok_d
FROM seq GROUP BY 1, 2
""",
    "seq_gorilla_roundtrip_frac": f"""
WITH seq AS ({_oracle_seq()})
SELECT source,
       CAST((ingest_es // {RAW_SECONDS}) * {RAW_SECONDS} AS BIGINT) AS bucket_es,
       CAST(sum(n_tok) AS DOUBLE) / 7.0 AS v
FROM seq GROUP BY 1, 2
""",
    "seq_token_fingerprint": f"""
WITH seq AS ({sequences_sql(ORACLE_N_DOCS, with_tokens=True)})
SELECT doc_id, n_tok,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(tokens, x -> CAST(x AS BIGINT))),
            (a, x) -> a + x) AS BIGINT)                          AS tok_sum,
       CAST(tokens[1] AS INT)                                    AS tok_first,
       CAST(tokens[-1] AS INT)                                   AS tok_last,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(tokens, x -> CAST(x AS BIGINT))),
            (a, x) -> (a * 31 + x) % {P_HASH}) AS BIGINT)        AS tok_hash
FROM seq
""",
    "seq_invariant_violations": """
SELECT CAST(0 AS BIGINT) AS violations
""",
    # the KF surface queries: per-source grid counts are derivable from the
    # bucket lattice; the stateful stats are self-checked in-query against
    # the dense oracle, so their mismatch columns are the constant 0
    "kf_gapfill_phases": f"""
WITH seq AS ({_oracle_seq()}),
raw AS (SELECT source, CAST((ingest_es // {RAW_SECONDS}) * {RAW_SECONDS} AS BIGINT)
               AS bucket_es
        FROM seq GROUP BY 1, 2),
g AS (SELECT min(bucket_es) AS lo, max(bucket_es) AS hi FROM raw)
SELECT source AS doc_id,
       CAST((SELECT (hi - lo) // {RAW_SECONDS} + 1 FROM g) AS BIGINT) AS n_steps,
       CAST(0 AS BIGINT) AS n_mismatch
FROM raw GROUP BY 1
""",
    "kf_innovation_stats": f"""
WITH seq AS ({_oracle_seq()}),
raw AS (SELECT source, CAST((ingest_es // {RAW_SECONDS}) * {RAW_SECONDS} AS BIGINT)
               AS bucket_es
        FROM seq GROUP BY 1, 2),
g AS (SELECT min(bucket_es) AS lo, max(bucket_es) AS hi FROM raw)
SELECT source AS doc_id,
       CAST(count(DISTINCT CASE WHEN bucket_es > (SELECT lo FROM g)
                                THEN bucket_es END) AS BIGINT) AS n_obs,
       CAST((SELECT (hi - lo) // {RAW_SECONDS} FROM g)
            - count(DISTINCT CASE WHEN bucket_es > (SELECT lo FROM g)
                                  THEN bucket_es END) AS BIGINT) AS n_gaps,
       CAST(0 AS BIGINT) AS stats_mismatch
FROM raw GROUP BY 1
""",
    "kf_resume_consistency": """
SELECT CAST(0 AS BIGINT) AS n_mismatch
""",
    "kf_check_fit": f"""
WITH seq AS ({_oracle_seq()}),
raw AS (SELECT source, CAST((ingest_es // {RAW_SECONDS}) * {RAW_SECONDS} AS BIGINT)
               AS bucket_es
        FROM seq GROUP BY 1, 2),
g AS (SELECT min(bucket_es) AS lo FROM raw)
SELECT source AS doc_id,
       CAST(count(DISTINCT CASE WHEN bucket_es > (SELECT lo FROM g)
                                THEN bucket_es END) AS BIGINT) AS n_obs,
       CAST(0 AS BIGINT) AS fit_mismatch
FROM raw GROUP BY 1
""",
    "seq_tiered_readthrough": f"""
WITH seq AS ({_oracle_seq()}),
raw AS (
  SELECT source,
         CAST((ingest_es // {RAW_SECONDS}) * {RAW_SECONDS} AS BIGINT) AS bucket_es,
         CAST(count(*) AS BIGINT)   AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS sum_tok,
         CAST(min(n_tok) AS INT)    AS min_tok,
         CAST(max(n_tok) AS INT)    AS max_tok
  FROM seq GROUP BY 1, 2
),
g AS (SELECT (max(bucket_es) // {DAY_SECONDS}) * {DAY_SECONDS} AS c1 FROM raw),
h1 AS (
  SELECT source,
         CAST((bucket_es // {HOUR_SECONDS}) * {HOUR_SECONDS} AS BIGINT) AS bucket_es,
         CAST(sum(n_docs) AS BIGINT)  AS n_docs,
         CAST(sum(sum_tok) AS BIGINT) AS sum_tok,
         CAST(min(min_tok) AS INT)    AS min_tok,
         CAST(max(max_tok) AS INT)    AS max_tok
  FROM raw GROUP BY 1, 2
),
d1 AS (
  SELECT source,
         CAST((bucket_es // {DAY_SECONDS}) * {DAY_SECONDS} AS BIGINT) AS bucket_es,
         CAST(sum(n_docs) AS BIGINT)  AS n_docs,
         CAST(sum(sum_tok) AS BIGINT) AS sum_tok,
         CAST(min(min_tok) AS INT)    AS min_tok,
         CAST(max(max_tok) AS INT)    AS max_tok
  FROM h1 GROUP BY 1, 2
)
SELECT 'raw' AS tier, source, bucket_es, n_docs, sum_tok, min_tok, max_tok
FROM raw WHERE bucket_es >= (SELECT c1 FROM g)
UNION ALL
SELECT '1h', source, bucket_es, n_docs, sum_tok, min_tok, max_tok
FROM h1 WHERE bucket_es >= (SELECT c1 - 4 * {DAY_SECONDS} FROM g)
         AND bucket_es < (SELECT c1 FROM g)
UNION ALL
SELECT '1d', source, bucket_es, n_docs, sum_tok, min_tok, max_tok
FROM d1 WHERE bucket_es < (SELECT c1 - 4 * {DAY_SECONDS} FROM g)
""",
    "seq_compressed_readthrough": f"""
WITH seq AS ({_oracle_seq()}),
raw AS (
  SELECT source,
         CAST((ingest_es // {RAW_SECONDS}) * {RAW_SECONDS} AS BIGINT) AS bucket_es,
         CAST(sum(n_tok) AS BIGINT) AS sum_tok
  FROM seq GROUP BY 1, 2
),
g AS (SELECT (max(bucket_es) // {DAY_SECONDS}) * {DAY_SECONDS} AS c1 FROM raw),
h1 AS (
  SELECT source,
         CAST((bucket_es // {HOUR_SECONDS}) * {HOUR_SECONDS} AS BIGINT) AS bucket_es,
         CAST(sum(sum_tok) AS BIGINT) AS sum_tok
  FROM raw GROUP BY 1, 2
),
d1 AS (
  SELECT source,
         CAST((bucket_es // {DAY_SECONDS}) * {DAY_SECONDS} AS BIGINT) AS bucket_es,
         CAST(sum(sum_tok) AS BIGINT) AS sum_tok
  FROM raw GROUP BY 1, 2
)
SELECT 'raw' AS tier, source, bucket_es, sum_tok
FROM raw WHERE bucket_es >= (SELECT c1 FROM g)
UNION ALL
SELECT '1h', source, bucket_es, sum_tok
FROM h1 WHERE bucket_es >= (SELECT c1 - 4 * {DAY_SECONDS} FROM g)
         AND bucket_es < (SELECT c1 FROM g)
UNION ALL
SELECT '1d', source, bucket_es, sum_tok
FROM d1 WHERE bucket_es < (SELECT c1 - 4 * {DAY_SECONDS} FROM g)
""",
    "tok_vocab_topk": f"""
WITH seq AS ({sequences_sql(ORACLE_N_DOCS, with_tokens=True)}),
ex AS (SELECT unnest(tokens) AS tok FROM seq),
freq AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM ex GROUP BY 1)
SELECT CAST(rk AS INT) AS rk, tok, n FROM (
  SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok ASC) AS rk FROM freq
) WHERE rk <= {VOCAB_TOPK}
""",
    "tok_rarity_score": f"""
WITH seq AS ({sequences_sql(ORACLE_N_DOCS, with_tokens=True)}),
ex AS (SELECT doc_id, unnest(tokens) AS tok FROM seq),
freq AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM ex GROUP BY 1),
rnk AS (SELECT tok,
               CAST(row_number() OVER (ORDER BY n DESC, tok ASC) AS BIGINT) AS rank
        FROM freq)
SELECT doc_id,
       CAST(count(*) AS BIGINT)    AS n_tok_m,
       CAST(sum(rank) AS BIGINT)   AS rank_sum,
       CAST(sum(rank) AS DOUBLE) / count(*) AS mean_rank,
       CAST(max(rank) AS BIGINT)   AS max_rank
FROM ex JOIN rnk USING (tok)
GROUP BY doc_id
""",
    # oracle: plain single-window running sum — equals the engine's
    # two-level distributed scan exactly (integer arithmetic)
    "seq_pack_bins": f"""
WITH seq AS ({_oracle_seq()}),
sums AS (
  SELECT source, doc_id, n_tok,
         SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) - n_tok AS start
  FROM seq
)
SELECT source, doc_id, n_tok,
       CAST(start // {PACK_BIN} AS BIGINT) AS bin_id,
       CAST(start % {PACK_BIN} AS BIGINT) AS bin_offset
FROM sums
""",
}
