#!/usr/bin/env python
"""Round-6 profiling harness (bench.py is frozen for measurement; this file
holds the noop-sink isolation probes and per-stage decompositions cited in
OPTIMIZATION_r06.md — guide §1.4).

Usage: SPARK_GRAFT_SF_DIR=... python bench_extra.py [job ...]

Jobs:
  tiers        TierPipeline without gapfill, per-stage wall seconds
  tiers_bulk   same at 10x docs (the q_tiers_bulk shape)
  kf           TierPipeline with gapfill (q_pipeline_kf shape), staged
  incr         90%-committed resume (q_pipeline_incr shape), staged
  kalman       q_kalman shape + noop-sink isolation of scan vs kernel
  decode       q_decode shape + scan-only control
  compress     q_compress shape + agg-only control
  parts        sub-operator probes (sequences scan, rollup agg, writes)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    jobs = set(sys.argv[1:]) or {"tiers", "tiers_bulk", "kf"}
    os.environ["SPARK_GRAFT_STAGE_TIMINGS"] = "1"

    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from kfts_insar_spark.pipeline import TierPipeline
    from kfts_insar_spark.plans.common import n_docs_of, sf_of
    from kfts_insar_spark.session import get_spark
    from kfts_insar_spark.synth import sequences, series_wide

    sf = sf_of(SF_DIR)
    n_docs = n_docs_of(SF_DIR)
    spark = get_spark(
        app_name="bench_extra",
        cores=CPUS,
        shuffle_partitions=CPUS,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": "0",
        },
    )
    # warmup identical in spirit to bench.py
    spark.range(5_000_000).selectExpr("sum(id)").collect()
    spark.range(10000).mapInPandas(
        lambda it: (pdf.assign(x=1.0) for pdf in it), schema="id long, x double"
    ).count()

    out: dict = {"sf": sf, "cpus": CPUS}

    def staged_run(name: str, docs: int, gap: bool, parts: int):
        td = tempfile.mkdtemp(prefix=f"bx_{name}_")
        try:
            pipe = TierPipeline(td, run_gapfill=gap, kf_shards=CPUS)
            t0 = time.perf_counter()
            pipe.run(spark, sequences(spark, docs, partitions=parts))
            total = round(time.perf_counter() - t0, 3)
            out[name] = dict(sorted(pipe.stage_sec.items()), _total=total)
        finally:
            shutil.rmtree(td, ignore_errors=True)

    if "tiers" in jobs:
        staged_run("tiers", n_docs, False, CPUS * 2)
    if "tiers_bulk" in jobs:
        staged_run("tiers_bulk", n_docs * 10, False, CPUS * 4)
    if "kf" in jobs:
        staged_run("kf", n_docs, True, CPUS * 2)
    if "incr" in jobs:
        seq_all = sequences(spark, n_docs, partitions=CPUS * 2)
        split_es = int(seq_all.approxQuantile("ingest_es", [0.9], 0)[0])
        td = tempfile.mkdtemp(prefix="bx_incr_")
        try:
            setup = TierPipeline(td, run_gapfill=True, kf_shards=CPUS)
            setup.run(spark, seq_all.filter(F.col("ingest_es") <= F.lit(split_es)))
            pipe = TierPipeline(td, run_gapfill=True, kf_shards=CPUS)
            t0 = time.perf_counter()
            pipe.run(spark, seq_all)
            out["incr"] = dict(
                sorted(pipe.stage_sec.items()),
                _total=round(time.perf_counter() - t0, 3),
            )
        finally:
            shutil.rmtree(td, ignore_errors=True)

    if "parts" in jobs:
        p: dict = {}
        seq = sequences(spark, n_docs * 10, partitions=CPUS * 4)
        t0 = time.perf_counter()
        noop(seq.select("source", "n_tok", "doc_id", "ingest_es"))
        p["seq_scan_noop_10x"] = round(time.perf_counter() - t0, 3)
        from kfts_insar_spark.operators.rollup import rollup_raw
        from kfts_insar_spark.operators.compress import compress_tier

        t0 = time.perf_counter()
        noop(rollup_raw(seq, with_max_ingest=True))
        p["rollup_plain_noop_10x"] = round(time.perf_counter() - t0, 3)
        raw = rollup_raw(seq).persist()
        raw.count()
        t0 = time.perf_counter()
        noop(compress_tier(raw))
        p["compress_noop_10x"] = round(time.perf_counter() - t0, 3)
        d = tempfile.mkdtemp(prefix="bx_w_")
        try:
            from kfts_insar_spark.pipeline import _pday

            df = raw.withColumn("pday", _pday())
            t0 = time.perf_counter()
            df.repartition(4, "pday").write.partitionBy("pday").mode(
                "overwrite"
            ).parquet(d + "/c4")
            p["raw_write_c4_10x"] = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            df.repartition(CPUS, "pday").write.partitionBy("pday").mode(
                "overwrite"
            ).parquet(d + "/c32")
            p["raw_write_c32_10x"] = round(time.perf_counter() - t0, 3)
            import subprocess

            p["files_c4"] = int(
                subprocess.run(
                    ["bash", "-c", f"find {d}/c4 -name '*.parquet' | wc -l"],
                    capture_output=True,
                    text=True,
                ).stdout
            )
            p["files_c32"] = int(
                subprocess.run(
                    ["bash", "-c", f"find {d}/c32 -name '*.parquet' | wc -l"],
                    capture_output=True,
                    text=True,
                ).stdout
            )
        finally:
            shutil.rmtree(d, ignore_errors=True)
        raw.unpersist()
        out["parts"] = p

    if "kalman" in jobs:
        from kfts_insar_spark.operators.kalman import KFConfig, kalman_gapfill_wide

        p = {}
        M = 92
        t_grid = np.arange(M) * 12.0 / 365.25
        cfg = KFConfig(
            model=[("POLY", 1), ("SIN", 2 * np.pi), ("COS", 2 * np.pi)],
            sig_y=1.0,
            sig_i=0.5,
            sig_a=30.0,
            t_sep=4,
        )
        kf_docs = max(5000, int(1_000_000 * sf))
        kf_cache = f"/tmp/bench_serw_{kf_docs}_{M}"
        if not os.path.exists(kf_cache + "/_SUCCESS"):
            series_wide(spark, kf_docs, M, partitions=CPUS * 4).write.mode(
                "overwrite"
            ).parquet(kf_cache)
        src = spark.read.parquet(kf_cache)
        for _ in range(2):
            t0 = time.perf_counter()
            noop(src)
            p["kf_scan_noop"] = round(time.perf_counter() - t0, 3)
        for _ in range(2):
            t0 = time.perf_counter()
            n = kalman_gapfill_wide(src, t_grid, cfg).count()
            p["kf_full_count"] = round(time.perf_counter() - t0, 3)
        p["rows"] = n
        out["kalman"] = p

    if "decode" in jobs:
        from kfts_insar_spark.operators.compress import decompress_tier

        p = {}
        decode_cache = f"/tmp/bench_comp_v3_{n_docs}"
        if not os.path.exists(decode_cache + "/_SUCCESS"):
            from kfts_insar_spark.operators.compress import compress_tier
            from kfts_insar_spark.operators.rollup import rollup_raw

            compress_tier(
                rollup_raw(
                    sequences(spark, n_docs * 10, docs_per_batch=1, partitions=CPUS * 2)
                ),
                chunk_seconds=6 * 3600,
            ).write.mode("overwrite").parquet(decode_cache)
        src = spark.read.parquet(decode_cache)
        for _ in range(2):
            t0 = time.perf_counter()
            noop(src)
            p["decode_scan_noop"] = round(time.perf_counter() - t0, 3)
        for _ in range(2):
            t0 = time.perf_counter()
            n = decompress_tier(src).count()
            p["decode_full_count"] = round(time.perf_counter() - t0, 3)
        p["rows"] = n
        out["decode"] = p

    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
