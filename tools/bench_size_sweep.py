#!/usr/bin/env python
"""Weak-scaling (data-size) evidence: the same plan at 1× and 4× input on
fixed cores. The cluster-size axis (tools/bench_scaling.py) shows N→4N
core efficiency; this shows the other axis the 100 TB question asks about —
does wall time grow ~linearly with data (constant points/s), or does some
stage (shuffle cardinality, driver state, group explosion) grow faster?

A plan that survives a 100× scale-up must hold throughput flat as input
grows. Size efficiency = T(1×) / (T(4×) / 4): 1.0 means perfectly linear
cost; > 1 means the 4× run is MORE efficient per row (fixed costs
amortizing — expected at these sizes); < 0.8 would flag super-linear cost.

Jobs mirror bench_scaling: kalman wide KF, tier rollup + cascade,
Gorilla compress, HOF fingerprint. Inputs materialized untimed; one warm
run then min of SIZE_TRIALS per point, all at local[32] in one JVM per
size (fresh JVMs would only re-pay JIT identically at both points).

Usage: python tools/bench_size_sweep.py  → JSON + BENCH_SIZE_SWEEP.md
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

INPUT_DIR = os.environ.get("SWEEP_INPUT_DIR", "/tmp/sweep_inputs")
CORES = int(os.environ.get("SWEEP_CORES", "32"))
TRIALS = int(os.environ.get("SIZE_TRIALS", "3"))
M = 92

# 1× sizes; the 4× point multiplies docs by 4
KF_DOCS = int(os.environ.get("SWEEP_KF_DOCS", "320000"))
TIERS_DOCS = int(os.environ.get("SWEEP_TIERS_DOCS", "100000000"))
COMP_DOCS = int(os.environ.get("SWEEP_COMP_DOCS", "6000000"))
FP_DOCS = int(os.environ.get("SWEEP_FP_DOCS", "1000000"))

SPLIT_CONF = {
    "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
    "spark.sql.files.openCostInBytes": "0",
}


def materialize() -> None:
    from kfts_insar_spark.operators.rollup import rollup_raw
    from kfts_insar_spark.session import get_spark
    from kfts_insar_spark.synth import sequences, series_wide

    marker = os.path.join(
        INPUT_DIR, f"OK_{KF_DOCS}_{TIERS_DOCS}_{COMP_DOCS}_{FP_DOCS}"
    )
    if os.path.exists(marker):
        return
    os.makedirs(INPUT_DIR, exist_ok=True)
    spark = get_spark(app_name="sweep-setup", cores=CORES, shuffle_partitions=CORES)
    for mult in (1, 4):
        series_wide(spark, KF_DOCS * mult, M, partitions=64 * mult).write.mode(
            "overwrite"
        ).parquet(f"{INPUT_DIR}/serw_{mult}")
        # fixed ~20k-slot bucket grid at BOTH sizes (the production shape:
        # per-bucket density grows with corpus size)
        sequences(
            spark,
            TIERS_DOCS * mult,
            docs_per_batch=max(50, TIERS_DOCS * mult // 20000),
            partitions=128 * mult,
        ).drop("tokens", "ingest_ts").write.mode("overwrite").parquet(
            f"{INPUT_DIR}/seqmeta_{mult}"
        )
        rollup_raw(
            sequences(spark, COMP_DOCS * mult, docs_per_batch=1, partitions=128)
        ).write.mode("overwrite").parquet(f"{INPUT_DIR}/raw_{mult}")
        sequences(spark, FP_DOCS * mult, partitions=64 * mult).write.mode(
            "overwrite"
        ).parquet(f"{INPUT_DIR}/seq_{mult}")
    spark.stop()
    open(marker, "w").write("ok")


def child(mult: int) -> None:
    import numpy as np
    from pyspark.sql import functions as F

    from kfts_insar_spark.operators.compress import compress_tier
    from kfts_insar_spark.operators.kalman import KFConfig, kalman_gapfill_wide
    from kfts_insar_spark.operators.rollup import (
        HOUR_SECONDS,
        rollup_cascade,
        rollup_raw,
    )
    from kfts_insar_spark.session import get_spark

    spark = get_spark(
        app_name=f"sweep{mult}",
        cores=CORES,
        shuffle_partitions=CORES,
        extra_conf=SPLIT_CONF,
    )
    cfg = KFConfig(
        model=[("POLY", 1), ("SIN", 6.283185307179586), ("COS", 6.283185307179586)],
        sig_y=1.0, sig_i=0.5, sig_a=30.0, t_sep=4,
    )
    t_grid = np.arange(M) * 12.0 / 365.25

    def job_kalman():
        kalman_gapfill_wide(
            spark.read.parquet(f"{INPUT_DIR}/serw_{mult}"), t_grid, cfg
        ).count()

    def job_tiers():
        seq = spark.read.parquet(f"{INPUT_DIR}/seqmeta_{mult}")
        rollup_cascade(rollup_raw(seq), HOUR_SECONDS).count()

    def job_compress():
        raw = spark.read.parquet(f"{INPUT_DIR}/raw_{mult}")
        compress_tier(raw, chunk_seconds=21600).count()

    def job_fingerprint():
        seq = spark.read.parquet(f"{INPUT_DIR}/seq_{mult}")
        seq.select(
            F.aggregate(
                "tokens",
                F.lit(0).cast("long"),
                lambda a, x: (a * 31 + x) % 1_000_000_007,
            ).alias("h")
        ).agg(F.sum("h")).collect()

    timings = {}
    for name, fn in (
        ("kalman", job_kalman),
        ("tiers", job_tiers),
        ("compress", job_compress),
        ("fingerprint", job_fingerprint),
    ):
        fn()
        best = float("inf")
        for _ in range(TRIALS):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        timings[name] = best
    spark.stop()
    print("RESULT " + json.dumps(timings))


def main() -> None:
    if "--mult" in sys.argv:
        child(int(sys.argv[sys.argv.index("--mult") + 1]))
        return
    materialize()
    results: dict[int, dict] = {}
    # interleave 1×/4× rounds and keep per-(job, size) minima: this host
    # shows multi-second one-sided stalls, so any single window can poison
    # one size point and fake a super-linear (or super-efficient) trend
    rounds = int(os.environ.get("SWEEP_ROUNDS", "2"))
    for _ in range(rounds):
        for mult in (1, 4):
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--mult", str(mult)],
                capture_output=True,
                text=True,
                check=True,
                cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            )
            line = [
                l for l in out.stdout.splitlines() if l.startswith("RESULT ")
            ][-1]
            got = json.loads(line[len("RESULT "):])
            results[mult] = (
                {k: min(results[mult][k], got[k]) for k in got}
                if mult in results
                else got
            )

    sizes = {
        "kalman": KF_DOCS * M,
        "tiers": TIERS_DOCS,
        "compress": COMP_DOCS,
        "fingerprint": FP_DOCS,
    }
    report = {"cores": CORES, "jobs": {}}
    for job, t1 in results[1].items():
        t4 = results[4][job]
        report["jobs"][job] = {
            "sec_1x": round(t1, 2),
            "sec_4x": round(t4, 2),
            "size_efficiency": round(t1 / (t4 / 4), 3),
            "units_per_sec_1x": round(sizes[job] / t1, 1),
            "units_per_sec_4x": round(sizes[job] * 4 / t4, 1),
        }
    print(json.dumps(report, indent=2))

    with open("BENCH_SIZE_SWEEP.md", "w") as f:
        f.write(
            "# Weak scaling — same plan, 1× vs 4× data on local[%d]\n\n"
            "size_efficiency = T(1×)/(T(4×)/4): 1.0 = perfectly linear "
            "cost in data; >1 = fixed costs amortizing; <0.8 would flag a "
            "stage whose cost grows super-linearly with input.\n\n"
            "| job | 1× sec | 4× sec | size eff. | units/s @1× | @4× |\n"
            "|---|---|---|---|---|---|\n" % CORES
        )
        for job, r in report["jobs"].items():
            f.write(
                f"| {job} | {r['sec_1x']} | {r['sec_4x']} | "
                f"{r['size_efficiency']} | {r['units_per_sec_1x']} | "
                f"{r['units_per_sec_4x']} |\n"
            )
        f.write(
            "\n1× sizes: kalman %d docs × %d steps, tiers %d docs, "
            "compress %d docs, fingerprint %d docs.\n"
            % (KF_DOCS, M, TIERS_DOCS, COMP_DOCS, FP_DOCS)
        )


if __name__ == "__main__":
    main()
