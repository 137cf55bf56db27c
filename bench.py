#!/usr/bin/env python
"""Headline benchmark — prints ONE JSON line.

Measures the engine's core workloads at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]:

- q_tiers:        full committed pipeline raw→1h→1d→compressed (snapshot
                  commits + lineage; fixed per-stage costs dominate at
                  bench scale — see comment at the job)
- q_pipeline_kf:  the stateful KF gap-fill stage on the committed tiers
                  (series ingest + per-(source, shard) kernel + stitch)
- q_pipeline_incr: resumed full-input run over a 90%-committed pipeline —
                  incremental cost vs history (incremental_vs_full)
- q_rollup_direct: one-pass base→1d aggregation over 10× docs (pure
                  shuffle/agg throughput; the BASELINE rolled-up points path)
- q_compress:     Gorilla chunk-vectorized pack of the raw tier
- q_kalman:       read cached wide series → mapInArrow KF gap-fill (the
                  production kernel path; points/s headline)
- q_fingerprint:  per-row token-array fingerprint (Catalyst array exprs)
- q_pricing / q_hourly / q_sessionize: relational suite over the sf tables

`value` is total wall seconds over the headline queries (unit: sec);
`points_per_sec` fields report the throughput form of the same runs.
Each query reports the MIN of $SPARK_GRAFT_BENCH_REPEATS (default 2) timed
runs — this host shows 3-4× one-sided hypervisor stalls minute-to-minute
(BENCH_SCALING.md), and the min is the reproducible engine cost. Stateful
pipeline queries get a fresh table dir per run (never a warm noop).
Run tools/bench_scaling.py for the N-vs-4N-cores scaling evidence.

Measurement-protocol additions (round 4 — the r3 verdict's top item):

- `host_io_control_sec`: a fixed parquet write + manifest-rename + fsync +
  scan loop (pure pyarrow, zero Spark, code-version-independent) sampled
  at suite start AND end; the commit-heavy jobs live on this path, which
  the ALU control cannot see (r3 showed 6× one-sided IO stalls under a
  flat ALU gauge). `host_io_control_spread` = max/min of the two samples —
  a spread ≫ 1 marks the window itself as IO-unstable.
- `ab_vs_prev`: same-window interleaved A/B against the PREVIOUS round's
  committed code — the prior round's ref (the commit that recorded
  BENCH_r{N-1}.json) is checked out into a throwaway git worktree, its own
  bench.py runs as a subprocess between this suite's first pass and a
  same-process re-run of the commit-heavy jobs, and the block reports
  per-job min ratios (cur/prev). This is the only way to attribute a
  round-over-round delta to code vs host weather on a machine with
  minute-scale stalls. Skip with SPARK_GRAFT_AB=0.
- `SPARK_GRAFT_BENCH_ONLY=q_a,q_b` runs just those jobs and emits a
  reduced JSON (used by future rounds' A/B subprocesses to keep the
  prev-side run short).
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
ONLY = {
    s for s in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",") if s
}
# commit-heavy jobs the A/B harness re-measures against the previous round
AB_JOBS = (
    "q_tiers",
    "q_pipeline_kf",
    "q_pipeline_incr",
    "q_tiers_bulk",
    "q_compress",
    "q_kalman",
)


def _want(name: str) -> bool:
    return not ONLY or name in ONLY


def _io_control() -> float:
    """Fixed IO gauge, zero Spark: write 8 parquet files (pyarrow), rename
    each (the snapshot layer's atomic-publish primitive), fsync a manifest,
    scan everything back. Code-version-independent — compare across rounds
    and across the two in-suite samples to see IO weather the ALU control
    is blind to."""
    import shutil as _sh
    import tempfile as _tmp

    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "a": np.arange(100_000, dtype=np.int64),
            "b": (np.arange(100_000, dtype=np.float64) * 1.5),
            "c": np.arange(100_000, dtype=np.int64) % 97,
        }
    )
    best = None
    for _ in range(2):
        d = _tmp.mkdtemp(prefix="bench_ioctl_")
        t0 = time.perf_counter()
        paths = []
        for i in range(8):
            p = f"{d}/part{i}.staged.parquet"
            pq.write_table(tbl, p)
            q = f"{d}/part{i}.parquet"
            os.replace(p, q)
            paths.append(q)
        mpath = f"{d}/manifest.json.staged"
        with open(mpath, "w") as fh:
            json.dump({"files": paths}, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(mpath, f"{d}/manifest.json")
        n = sum(pq.read_table(p).num_rows for p in paths)
        assert n == 800_000
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
        _sh.rmtree(d, ignore_errors=True)
    return round(best, 3)


def _run_ab(ab_rerun, timed, timings) -> dict:
    """Interleaved A/B vs the previous round's committed code.

    Finds the newest BENCH_r{N}.json, resolves the commit that recorded it
    (`git rev-list -1 HEAD -- <file>` — the driver commits code+bench
    together), checks that ref out into a throwaway worktree, and runs ITS
    bench.py as a subprocess in the same window (SPARK_GRAFT_BENCH_ONLY
    keeps it to the A/B jobs once prev rounds support it; SPARK_GRAFT_AB=0
    stops recursion). Then re-times the A/B jobs in the current process
    (pass 2) and reports min(cur passes)/prev per job. timings[] is
    updated to the cross-pass min so the recorded per-job numbers are the
    most-weatherproof measurement in the window.
    """
    import glob
    import re
    import shutil as _sh
    import subprocess
    import tempfile as _tmp

    repo = os.path.dirname(os.path.abspath(__file__))
    files = {}
    for f in glob.glob(os.path.join(repo, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", f)
        if m:
            files[int(m.group(1))] = os.path.basename(f)
    if not files:
        return {"skipped": "no previous BENCH_r*.json"}
    prev_n = max(files)
    ref = subprocess.run(
        ["git", "rev-list", "-1", "HEAD", "--", files[prev_n]],
        cwd=repo,
        capture_output=True,
        text=True,
    ).stdout.strip()
    if not ref:
        return {"skipped": f"no commit found for {files[prev_n]}"}
    wt = _tmp.mkdtemp(prefix="bench_ab_wt_")
    wtd = os.path.join(wt, "prev")
    try:
        subprocess.run(
            ["git", "worktree", "add", "--detach", wtd, ref],
            cwd=repo,
            check=True,
            capture_output=True,
        )
        env = dict(os.environ)
        env["SPARK_GRAFT_AB"] = "0"
        env["SPARK_GRAFT_BENCH_ONLY"] = ",".join(AB_JOBS)
        env.setdefault("SPARK_GRAFT_SF_DIR", SF_DIR)
        env.setdefault("SPARK_GRAFT_CPUS", str(CPUS))
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, "bench.py"],
            cwd=wtd,
            env=env,
            capture_output=True,
            text=True,
            timeout=2400,
        )
        prev_wall = round(time.perf_counter() - t0, 1)
    finally:
        subprocess.run(
            ["git", "worktree", "remove", "--force", wtd],
            cwd=repo,
            capture_output=True,
        )
        _sh.rmtree(wt, ignore_errors=True)
    prev_json = None
    for line in reversed(proc.stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            try:
                prev_json = json.loads(line)
                break
            except json.JSONDecodeError:
                continue
    if prev_json is None:
        return {
            "error": "prev bench produced no JSON",
            "rc": proc.returncode,
            "stderr_tail": proc.stderr[-400:],
        }
    prev_q = prev_json.get("queries", {})
    pass1 = {k: timings[k] for k in AB_JOBS if k in timings}
    jobs = {}
    for name in AB_JOBS:
        fn, mk = ab_rerun[name]
        timed(name, fn, mk=mk)  # pass 2 — overwrites timings[name]
        p2 = timings.get(name)
        cur = min(x for x in (pass1.get(name), p2) if x is not None)
        timings[name] = cur
        ent = {"cur_pass1": pass1.get(name), "cur_pass2": p2, "cur": cur}
        if name in prev_q:
            ent["prev"] = prev_q[name]
            ent["ratio"] = round(cur / prev_q[name], 3)
        jobs[name] = ent
    return {
        "prev_round": prev_n,
        "prev_ref": ref[:12],
        "prev_suite_wall_sec": prev_wall,
        "prev_host_io_control_sec": prev_json.get("host_io_control_sec"),
        "prev_host_alu_control_sec": prev_json.get("host_alu_control_sec"),
        "jobs": jobs,
    }


def main() -> None:
    from pyspark.sql import functions as F

    from kfts_insar_spark.operators.compress import compress_tier
    from kfts_insar_spark.operators.kalman import KFConfig, kalman_gapfill_wide
    from kfts_insar_spark.operators.rollup import (
        DAY_SECONDS,
        HOUR_SECONDS,
        rollup_cascade,
        rollup_raw,
    )
    from kfts_insar_spark.plans.common import n_docs_of, sf_of
    from kfts_insar_spark.plans.relational_queries import (
        q_events_hourly_rollup,
        q_events_sessionize,
        q_lineitem_pricing_summary,
    )
    from kfts_insar_spark.session import get_spark
    from kfts_insar_spark.synth import sequences, series_wide

    sf = sf_of(SF_DIR)
    n_docs = n_docs_of(SF_DIR)

    spark = get_spark(
        app_name="bench",
        cores=CPUS,
        shuffle_partitions=CPUS,
        extra_conf={
            # bench inputs are small files — split them to ≥cores read tasks
            "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": "0",
        },
    )
    # steady-state warmup: JIT, codegen and the Python worker pool — we are
    # benchmarking the engine, not JVM cold start. Covers the parquet
    # write/read, shuffle, and dynamic-partition-commit paths the tier jobs
    # exercise (cold, these add ~4 s of one-time JVM JIT to the first job).
    spark.range(5_000_000).selectExpr("sum(id)").collect()
    import pandas as _pd

    spark.range(10000).mapInPandas(
        lambda it: (pdf.assign(x=1.0) for pdf in it), schema="id long, x double"
    ).count()
    import shutil as _sh
    import tempfile as _tmp

    _wtd = _tmp.mkdtemp(prefix="bench_warm_")
    _wdf = spark.range(2000).select(
        F.col("id"),
        (F.col("id") % 7).alias("k"),
        F.date_format(
            F.timestamp_seconds(F.col("id") * 300 + 1767225600), "yyyy-MM-dd"
        ).alias("pday"),
    )
    _wdf.groupBy("k", "pday").count().repartition(2).write.partitionBy(
        "pday"
    ).mode("overwrite").parquet(_wtd + "/w")
    spark.read.parquet(_wtd + "/w").filter(F.input_file_name() != "").count()
    _sh.rmtree(_wtd, ignore_errors=True)
    io_start = _io_control()
    timings: dict[str, float] = {}
    counts: dict[str, int] = {}

    # Steady-state protocol: each query is timed REPEATS times and the min
    # is reported. This host shows 3-4× run-to-run swings from one-sided
    # hypervisor stalls (BENCH_SCALING.md "hardware controls"); the min of
    # two runs is the reproducible engine cost, the max is the weather.
    # Stateful pipeline queries get a fresh table dir per run (fn takes no
    # args but closes over a per-run setup via `mk`).
    REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2"))

    def timed(name: str, fn, mk=None):
        if not _want(name):
            return None
        best, out = None, None
        for _ in range(REPEATS):
            arg = mk() if mk is not None else None
            t0 = time.perf_counter()
            out = fn(arg) if mk is not None else fn()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        counts[name] = out
        return out

    # --- tiers: the real materialized cascade (pipeline writes each tier
    # once and derives the next from it — counting each lazily would
    # recompute the whole chain per action). At bench scale the wall is
    # dominated by per-stage fixed costs (plan compile + commit, ~2 s × 5
    # stages) — profiled: the actual writes are ~0.5 s — so
    # ingest_docs_per_sec under-states large-batch throughput.
    import shutil
    import tempfile

    from kfts_insar_spark.pipeline import TierPipeline

    tiers_dirs: list[str] = []

    def mk_tiers_dir():
        td = tempfile.mkdtemp(prefix="bench_tiers_")
        tiers_dirs.append(td)
        return td

    def tiers(td):
        pipe = TierPipeline(td, run_gapfill=False)
        res = pipe.run(spark, sequences(spark, n_docs, partitions=CPUS * 2))
        return sum(res["rows"].values())

    timed("q_tiers", tiers, mk=mk_tiers_dir)

    # --- the stateful KF gap-fill stage, measured as its own increment:
    # resume a committed tiers dir (one fresh dir per repeat, produced by
    # the q_tiers runs) with gap-fill enabled — the committed tiers are a
    # noop, so this times series-ingest + the per-(source, doc-hash shard)
    # Kalman stage (5×kf_shards independent sub-series; the round-1
    # design's per-source keying capped this stage at 5 tasks)
    kf_series_box = [0]
    kf_dirs = iter(tiers_dirs)

    def pipeline_kf(td):
        pipe = TierPipeline(td, run_gapfill=True, kf_shards=CPUS)
        pipe.run(spark, sequences(spark, n_docs, partitions=CPUS * 2))
        kf_series_box[0] = sum(
            e.get("rows", 0) for e in pipe.kf_state.last_commit_files
        )
        return pipe.gap.last_commit_rows()

    def mk_kf_dir():
        # normally resumes a dir committed by the q_tiers runs; when those
        # were filtered out (SPARK_GRAFT_BENCH_ONLY) or exhausted (A/B
        # re-pass), build a committed tiers dir untimed first
        try:
            return next(kf_dirs)
        except StopIteration:
            td = mk_tiers_dir()
            TierPipeline(td, run_gapfill=False).run(
                spark, sequences(spark, n_docs, partitions=CPUS * 2)
            )
            return td

    try:
        timed("q_pipeline_kf", pipeline_kf, mk=mk_kf_dir)
    finally:
        for td in tiers_dirs:
            shutil.rmtree(td, ignore_errors=True)
    kf_state_series = kf_series_box[0]

    # --- incremental resume: commit the pipeline on the first ~90% of
    # ingest slots (untimed setup, fresh per repeat), then time a resumed
    # run over the full input. With committed state the KF stage prunes its
    # scan to the resume window and its kernel loop starts at k_done — the
    # timed run's cost must track the INCREMENT, not total history (the
    # property that makes per-run cost flat at 100 TB). Setup mirrors
    # q_tiers + q_pipeline_kf at 90%, so incr vs q_pipeline_kf is
    # like-for-like.
    seq_all = sequences(spark, n_docs, partitions=CPUS * 2)
    split_es = (
        int(seq_all.approxQuantile("ingest_es", [0.9], 0)[0])
        if (_want("q_pipeline_incr") or _want("q_pipeline_noop"))
        else 0
    )
    incr_dirs: list[str] = []

    def mk_incr_dir():
        td = tempfile.mkdtemp(prefix="bench_incr_")
        incr_dirs.append(td)
        setup = TierPipeline(td, run_gapfill=True, kf_shards=CPUS)
        setup.run(spark, seq_all.filter(F.col("ingest_es") <= F.lit(split_es)))
        return td

    def pipeline_incr(td):
        pipe = TierPipeline(td, run_gapfill=True, kf_shards=CPUS)
        res = pipe.run(spark, seq_all)
        return res["rows"].get("gapfilled", 0)

    # the pure-noop resumed run (same input, everything committed): the
    # fixed floor every resume pays — property reads, heal checks, the
    # empty-increment probe. incr − noop is the data-proportional part.
    def pipeline_noop(td):
        pipe = TierPipeline(td, run_gapfill=True, kf_shards=CPUS)
        res = pipe.run(spark, seq_all)
        assert res["status"] == "noop", res
        return 0

    stage_breakdown: dict = {}
    try:
        timed("q_pipeline_incr", pipeline_incr, mk=mk_incr_dir)
        noop_dirs = iter(incr_dirs)
        timed("q_pipeline_noop", pipeline_noop, mk=lambda: next(noop_dirs))
        # --- one extra UNTIMED instrumented pass (fresh 90%-committed dir,
        # forced kernel materialization) decomposing the resumed run into
        # per-stage wall seconds — where incr's cost goes:
        # fixed floor (heal + property reads + manifest swaps) vs
        # data-proportional work (scans, kernel, writes). The probe changes
        # execution overlap, so its _total exceeds the headline
        # q_pipeline_incr; the stage split, not the total, is the payload.
        if _want("q_pipeline_incr"):
            os.environ["SPARK_GRAFT_STAGE_TIMINGS"] = "1"
            try:
                td = mk_incr_dir()
                for probe in ("q_pipeline_incr", "q_pipeline_noop"):
                    pipe = TierPipeline(td, run_gapfill=True, kf_shards=CPUS)
                    t0 = time.perf_counter()
                    pipe.run(spark, seq_all)
                    stage_breakdown[probe] = dict(
                        sorted(pipe.stage_sec.items()),
                        _total=round(time.perf_counter() - t0, 3),
                    )
            finally:
                os.environ.pop("SPARK_GRAFT_STAGE_TIMINGS", None)
    finally:
        for td in incr_dirs:
            shutil.rmtree(td, ignore_errors=True)

    # --- the committed tier cascade at 10× docs: same stages as q_tiers
    # but with enough data that the per-commit fixed costs amortize — this
    # is the BASELINE "rolled-up points/sec (tier-exact)" number at a batch
    # size that matches how a real deployment feeds the pipeline (large
    # increments), reported as rolled_up_points_per_sec_bulk
    bulk_docs = n_docs * 10
    bulk_dirs: list[str] = []

    def mk_bulk_dir():
        td = tempfile.mkdtemp(prefix="bench_bulk_")
        bulk_dirs.append(td)
        return td

    def tiers_bulk(td):
        pipe = TierPipeline(td, run_gapfill=False)
        res = pipe.run(
            spark, sequences(spark, bulk_docs, partitions=CPUS * 4)
        )
        return sum(res["rows"].values())

    try:
        timed("q_tiers_bulk", tiers_bulk, mk=mk_bulk_dir)
    finally:
        for td in bulk_dirs:
            shutil.rmtree(td, ignore_errors=True)

    # --- pure aggregation throughput: one-pass base→1d rollup over 10×
    # the sf docs (generation is integer-expression-only, tokens pruned) —
    # the shuffle/agg path without commit fixed costs
    big_docs = n_docs * 10

    def rollup_direct_big():
        from kfts_insar_spark.operators.rollup import rollup_direct

        seq = sequences(spark, big_docs, partitions=CPUS * 2)
        return rollup_direct(seq, DAY_SECONDS).count()

    timed("q_rollup_direct", rollup_direct_big)

    comp_box = [0, 0]  # total codec bytes, total points

    def compress():
        seq = sequences(spark, n_docs, partitions=CPUS * 2)
        r = (
            compress_tier(rollup_raw(seq))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.octet_length("ts_codec") + F.octet_length("val_codec")
                ).alias("nbytes"),
                F.sum("n_points").alias("npts"),
            )
            .first()
        )
        comp_box[0], comp_box[1] = int(r.nbytes), int(r.npts)
        return int(r.n)

    timed("q_compress", compress)

    # --- decode throughput: read a materialized compressed tier and run the
    # lockstep Gorilla decoder over every chunk (the deep-read path that
    # serves history after raw/1h retention expiry — seq_compressed_
    # readthrough's oldest band). Input materialized once (untimed): a
    # fine-grained raw tier (1 doc per ingest slot → ~10× points) packed in
    # 6 h chunks.
    # v3: ts_codec and val_codec carry 1-byte format tags since round 4 —
    # old untagged caches would mis-parse
    decode_cache = f"/tmp/bench_comp_v3_{n_docs}"
    if _want("q_decode") and not os.path.exists(decode_cache + "/_SUCCESS"):
        compress_tier(
            rollup_raw(
                sequences(
                    spark, n_docs * 10, docs_per_batch=1, partitions=CPUS * 2
                )
            ),
            chunk_seconds=6 * 3600,
        ).write.mode("overwrite").parquet(decode_cache)

    def decode():
        from kfts_insar_spark.operators.compress import decompress_tier

        return decompress_tier(spark.read.parquet(decode_cache)).count()

    timed("q_decode", decode)

    # --- kalman gap-fill kernel
    M = 92
    t_grid = np.arange(M) * 12.0 / 365.25
    cfg = KFConfig(
        model=[("POLY", 1), ("SIN", 2 * np.pi), ("COS", 2 * np.pi)],
        sig_y=1.0,
        sig_i=0.5,
        sig_a=30.0,
        t_sep=4,
    )

    # wide series input materialized once (generation is interpreted HOF —
    # not the thing being measured); job = read parquet → KF → count, the
    # production shape
    kf_docs = max(5000, int(1_000_000 * sf))
    kf_cache = f"/tmp/bench_serw_{kf_docs}_{M}"
    if _want("q_kalman") and not os.path.exists(kf_cache + "/_SUCCESS"):
        series_wide(spark, kf_docs, M, partitions=CPUS * 4).write.mode(
            "overwrite"
        ).parquet(kf_cache)

    def kalman():
        out = kalman_gapfill_wide(spark.read.parquet(kf_cache), t_grid, cfg)
        return out.count()

    timed("q_kalman", kalman)

    def fingerprint():
        from kfts_insar_spark.plans.engine_queries import q_seq_token_fingerprint

        return q_seq_token_fingerprint(spark, SF_DIR).count()

    timed("q_fingerprint", fingerprint)

    timed("q_pricing", lambda: q_lineitem_pricing_summary(spark, SF_DIR).count())
    timed("q_hourly", lambda: q_events_hourly_rollup(spark, SF_DIR).count())
    timed("q_sessionize", lambda: q_events_sessionize(spark, SF_DIR).count())

    # ---- interleaved A/B vs the previous round's committed code --------
    # cur pass 1 (above) → prev round's own bench.py as a subprocess in a
    # throwaway git worktree → cur pass 2 (below, same process). Per-job
    # ratio = min(cur passes) / prev — the only attribution that survives
    # this host's minute-scale one-sided stalls.
    ab_block = None
    if not ONLY and os.environ.get("SPARK_GRAFT_AB", "1") != "0":
        ab_rerun = {
            "q_tiers": (tiers, mk_tiers_dir),
            "q_pipeline_kf": (pipeline_kf, mk_kf_dir),
            "q_pipeline_incr": (pipeline_incr, mk_incr_dir),
            "q_tiers_bulk": (tiers_bulk, mk_bulk_dir),
            "q_compress": (compress, None),
            "q_kalman": (kalman, None),
        }
        try:
            ab_block = _run_ab(ab_rerun, timed, timings)
        except Exception as e:  # never let the A/B harness sink the bench
            ab_block = {"error": f"{type(e).__name__}: {e}"}
        finally:
            for td in tiers_dirs + bulk_dirs + incr_dirs:
                shutil.rmtree(td, ignore_errors=True)

    # fixed single-core hardware control (pure-Python ALU loop, zero Spark):
    # a weather gauge for this host's 3-4x hypervisor swings. Compare
    # across rounds: engine seconds scale ~linearly with this number when
    # the host (not the code) changed. Run twice (suite start would race
    # JVM warmup), min reported.
    def _alu_control() -> float:
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            s = 7
            for i in range(2_000_000):
                s = (s * 48271 + i) % 2147483647
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 3)

    io_end = _io_control()
    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline suite wall time (tiers+codec+kalman+relational)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": CPUS,
        # distinct (source, shard) sub-series carrying KF state — the
        # gap-fill stage's parallelism unit (round-1 ceiling was 5)
        "kf_stage_series": kf_state_series,
        # Gorilla tier storage: codec bytes per (ts, value) point vs the
        # 16 B/point raw form (pooled-window chunk encoder)
        "compress_bytes_per_point": round(comp_box[0] / max(comp_box[1], 1), 3),
        # single-core ALU reference time (see _alu_control comment):
        # normalizes engine seconds across this host's hypervisor weather
        "host_alu_control_sec": _alu_control(),
        # fixed parquet-write+rename+fsync+scan gauge sampled at suite
        # start and end (see _io_control): the commit-heavy jobs live on
        # this path, invisible to the ALU gauge. spread ≫ 1 marks the
        # window itself as IO-unstable.
        "host_io_control_sec": min(io_start, io_end),
        "host_io_control_start_sec": io_start,
        "host_io_control_end_sec": io_end,
        "host_io_control_spread": round(
            max(io_start, io_end) / max(min(io_start, io_end), 1e-9), 3
        ),
        "rows": counts,
    }

    # throughput forms — each guarded on its job having run (skipped under
    # SPARK_GRAFT_BENCH_ONLY); A/B jobs report the cross-pass min time
    def put(key, f):
        try:
            result[key] = f()
        except KeyError:
            pass

    put(
        "rolled_up_points_per_sec",
        lambda: round(counts["q_tiers"] / timings["q_tiers"], 1),
    )
    # the same committed cascade at 10× docs — fixed costs amortized;
    # docs/s is the input-side form (each doc is one rolled-up point
    # contribution; tier rows are bounded by the bucket grid)
    put(
        "rolled_up_points_per_sec_bulk",
        lambda: round(counts["q_tiers_bulk"] / timings["q_tiers_bulk"], 1),
    )
    put(
        "ingest_docs_per_sec_bulk",
        lambda: round(bulk_docs / timings["q_tiers_bulk"], 1),
    )
    put(
        "gapfilled_points_per_sec",
        lambda: round(counts["q_pipeline_kf"] / timings["q_pipeline_kf"], 1),
    )
    # resumed full-input run over a 90%-committed pipeline vs the cold
    # full run. At bench scale BOTH are commit-fixed-cost-bound (~7
    # snapshot commits each; the resume adds the overlap-stitch joins)
    # so the ratio hovers near 1; the scale property — incremental scan
    # pruned to the resume window via manifest stats, kernel starting
    # at k_done — is structural, and q_pipeline_noop shows the pure
    # resume probe floor (~0.4 s: property reads + one empty-increment
    # scan) that a no-new-data run pays.
    put(
        "incremental_vs_full",
        lambda: round(timings["q_pipeline_incr"] / timings["q_pipeline_kf"], 3),
    )
    # lockstep Gorilla decode of the materialized compressed tier —
    # the deep-read path's throughput (points decoded per second)
    put(
        "decode_points_per_sec",
        lambda: round(counts["q_decode"] / timings["q_decode"], 1),
    )
    put("ingest_docs_per_sec", lambda: round(n_docs / timings["q_tiers"], 1))
    put(
        "rollup_docs_per_sec",
        lambda: round(big_docs / timings["q_rollup_direct"], 1),
    )
    put(
        "kalman_points_per_sec",
        lambda: round((kf_docs * M) / timings["q_kalman"], 1),
    )
    if ab_block is not None:
        result["ab_vs_prev"] = ab_block
    if stage_breakdown:
        result["stage_breakdown"] = stage_breakdown
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
