"""Generator parity (Spark == DuckDB, bit-exact) + tier cascade equality
(FIXTURES.md F1/F4; per-row invariant from BASELINE.json input_hint)."""

import duckdb
import pytest

from kfts_insar_spark.operators.rollup import (
    DAY_SECONDS,
    HOUR_SECONDS,
    rollup_cascade,
    rollup_direct,
    rollup_raw,
    tier_sql,
)
from kfts_insar_spark.synth import sequences, sequences_sql

N = 3000


@pytest.fixture(scope="module")
def seq(spark):
    df = sequences(spark, N).cache()
    df.count()
    yield df
    df.unpersist()


def test_invariant_ntok_equals_size(seq):
    bad = seq.selectExpr(
        "sum(case when n_tok != size(tokens) then 1 else 0 end) as bad"
    ).first().bad
    assert bad == 0


def test_token_arrays_match_duckdb_oracle(seq):
    """Per-row token-array equality vs the independent DuckDB replay."""
    sp = {r.doc_id: list(r.tokens) for r in seq.limit(200).collect()}
    con = duckdb.connect()
    keys = ",".join(repr(k) for k in sp)
    ora = dict(
        con.execute(
            f"SELECT doc_id, tokens FROM ({sequences_sql(N)}) WHERE doc_id IN ({keys})"
        ).fetchall()
    )
    assert all(sp[k] == list(ora[k]) for k in sp)


def test_source_skew_present(seq):
    counts = dict(seq.groupBy("source").count().collect())
    assert counts["web"] > 0.45 * N and counts["chat"] < 0.08 * N


def test_tiers_match_oracle_and_cascade(seq):
    raw = rollup_raw(seq)
    h1 = rollup_cascade(raw, HOUR_SECONDS)
    d1 = rollup_cascade(h1, DAY_SECONDS)
    con = duckdb.connect()
    for df, width in ((raw, 300), (h1, HOUR_SECONDS), (d1, DAY_SECONDS)):
        got = sorted(tuple(r) for r in df.collect())
        want = sorted(
            tuple(r)
            for r in con.execute(
                tier_sql(sequences_sql(N, with_tokens=False), width)
            ).fetchall()
        )
        assert got == want, f"tier width={width} mismatch"
    # cascade == direct
    hd = sorted(tuple(r) for r in rollup_direct(seq, HOUR_SECONDS).collect())
    assert sorted(tuple(r) for r in h1.collect()) == hd
