"""Stateful streaming KF: two micro-batches through
applyInPandasWithState must equal the one-shot batch kernel — the streaming
form of the update-mode consistency test."""

import time

import numpy as np
import pandas as pd

from kfts_insar_spark.operators.kalman import KFConfig, kalman_direct_batch
from kfts_insar_spark.streaming.stateful import stream_kalman
from tests.test_kalman import CFG, M, T, make_series


def test_streaming_kf_matches_batch(spark, tmp_path):
    _, y, _, _ = make_series(6)
    B = y.shape[0]
    k_split = 50

    def write_batch(steps, sub):
        rows = []
        for b in range(B):
            for k in steps:
                v = y[b, k]
                rows.append(
                    (f"d{b:03d}", int(k), float(T[k]),
                     None if np.isnan(v) else float(v))
                )
        pdf = pd.DataFrame(rows, columns=["doc_id", "step", "t", "value"])
        sdf = spark.createDataFrame(pdf).selectExpr(
            "doc_id", "cast(step as int) step", "t", "value"
        )
        sdf.coalesce(1).write.parquet(str(tmp_path / "in" / sub))

    write_batch(range(k_split), "b0")
    time.sleep(1.1)  # mtime ordering
    write_batch(range(k_split, M), "b1")

    stream = (
        spark.readStream.schema("doc_id string, step int, t double, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in" / "*"))
    )
    out = stream_kalman(stream, T, CFG)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("kf_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = spark.sql("SELECT * FROM kf_stream").toPandas()
    # update mode re-emits refined steps: keep the LAST emission per key
    got = got.drop_duplicates(["doc_id", "step"], keep="last").sort_values(
        ["doc_id", "step"]
    )
    one = kalman_direct_batch(y, T, CFG)
    gp = got.pivot(index="doc_id", columns="step", values="phase").to_numpy()
    np.testing.assert_allclose(gp, one["phase"], rtol=1e-9, atol=1e-9)
    gs = got.pivot(index="doc_id", columns="step", values="std").to_numpy()
    np.testing.assert_allclose(gs, one["std"], rtol=1e-9, atol=1e-9)


def test_streaming_to_batch_handover(spark, tmp_path):
    """The advertised contract: a job can hand over from streaming to batch
    resume at any micro-batch boundary. Docs stream at DIFFERENT rates (so
    the state store holds heterogeneous per-doc k_done/idx0 — the round-1
    resume bug scenario), the state is read back via Spark's statestore
    reader, and the Kalman adapter resumes each doc to the full grid,
    matching the one-shot batch run."""
    from pyspark.sql import functions as F

    from kfts_insar_spark.operators.kalman import (
        explode_kf_output,
        kalman_gapfill_wide,
        to_wide,
    )

    _, y, _, _ = make_series(5)
    B = y.shape[0]
    cut = [40 + 4 * b for b in range(B)]  # per-doc stream progress

    def rows_for(rng_of_b):
        rows = []
        for b in range(B):
            for k in rng_of_b(b):
                v = y[b, k]
                rows.append(
                    (f"d{b:03d}", int(k), float(T[k]),
                     None if np.isnan(v) else float(v))
                )
        return pd.DataFrame(rows, columns=["doc_id", "step", "t", "value"])

    sdf = spark.createDataFrame(rows_for(lambda b: range(cut[b]))).selectExpr(
        "doc_id", "cast(step as int) step", "t", "value"
    )
    sdf.coalesce(1).write.parquet(str(tmp_path / "in" / "b0"))

    stream = (
        spark.readStream.schema("doc_id string, step int, t double, value double")
        .parquet(str(tmp_path / "in" / "*"))
    )
    q = (
        stream_kalman(stream, T, CFG)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("kf_handover")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    # hand over: read the streaming state store as the batch resume input
    st = (
        spark.read.format("statestore")
        .load(str(tmp_path / "ckpt"))
        .select(
            F.col("key.doc_id").alias("doc_id"),
            F.col("value.groupState.k_done").alias("k_done"),
            F.col("value.groupState.idx0").alias("idx0"),
            F.col("value.groupState.m").alias("m"),
            F.col("value.groupState.p").alias("P"),
        )
    )
    assert st.select("k_done").distinct().count() == B  # heterogeneous
    rest = spark.createDataFrame(
        rows_for(lambda b: range(cut[b], M))
    ).selectExpr("doc_id", "cast(step as int) step", "t", "value")
    wide = to_wide(rest).join(st, "doc_id", "full")
    upd = explode_kf_output(kalman_gapfill_wide(wide, T, CFG), T).toPandas()

    one = kalman_direct_batch(y, T, CFG)
    for _, r in upd.iterrows():
        b = int(r.doc_id[1:])
        np.testing.assert_allclose(r.phase, one["phase"][b, r.step], rtol=1e-9)
        np.testing.assert_allclose(r["std"], one["std"][b, r.step], rtol=1e-7)
