"""Per-layer metrics of a traced run.

Additive metrics (times, counts, bytes) are per main operation of the
workload — one increment cycle of ``ingest_incremental``, one read round of
``read_analytics`` — so runs of different lengths compare. Rates, shares,
the codec format census and the core timings are not divided.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict

import numpy as np

from perfbench.spans import read_event_log, stage_layer

CODEC_FORMATS = ("int-dod", "xor", "ts-gcd", "ts-plain")

PER_LAYER_UNITS = {
    "pipeline.run_s": "s",
    "pipeline.spark_jobs": "count",
    "pipeline.exec_busy_frac": "frac",
    "snapshot.commits": "count",
    "snapshot.commit_s": "s",
    "snapshot.files_written": "count",
    "snapshot.bytes_written": "B",
    "snapshot.meta_calls": "count",
    "snapshot.meta_s": "s",
    "snapshot.read_files": "count",
    "snapshot.read_pruned_frac": "frac",
    "snapshot.conflicts": "count",
    "rollup.exec_s": "s",
    "rollup.shuffle_bytes": "B",
    "rollup.spill_bytes": "B",
    "codec.encode_exec_s": "s",
    "codec.decode_exec_s": "s",
    "codec.encode_points_per_s_core": "pts/s",
    "codec.decode_points_per_s_core": "pts/s",
    **{f"codec.chunks.{f}": "count" for f in CODEC_FORMATS},
    **{f"codec.bits_per_point.{f}": "bit/pt" for f in CODEC_FORMATS},
    "kalman.points": "pts",
    "kalman.exec_s": "s",
    "kalman.arrow_bytes": "B",
    "kalman.points_per_s_core.wide": "pts/s",
    "kalman.points_per_s_core.long": "pts/s",
    "spark.tasks": "count",
    "spark.sched_delay_s": "s",
    "spark.exec_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "checkpoint.records": "count",
    "checkpoint.bytes": "B",
    "trace.spans": "count",
    "trace.overhead_pct": "%",
}


def _best_of(fn, reps=3):
    """Median wall time of ``fn`` over ``reps`` calls (one call when a
    single call already takes over a second)."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
        if times[-1] > 1.0:
            break
    return statistics.median(times)


# ------------------------------------------------------------ codec
def _format_groups(comp_rows):
    """Chunks of the workload's compressed tier grouped by the format their
    tag bytes name: {format: (streams without tag, point counts, bytes)}."""
    groups = {f: ([], [], 0) for f in CODEC_FORMATS}

    def add(fmt, stream, n, nbytes):
        s, ns, b = groups[fmt]
        s.append(stream)
        ns.append(n)
        groups[fmt] = (s, ns, b + nbytes)

    for n, ts, val in comp_rows:
        if ts[0] == 2:
            add("ts-gcd", ts[5:], n, len(ts))
        else:
            add("ts-plain", ts[1:], n, len(ts))
        add("int-dod" if val[0] == 1 else "xor", val[1:], n, len(val))
    return groups


def codec_core(comp_rows) -> dict:
    from kfts_insar_spark.functions import codec

    groups = _format_groups(comp_rows)
    dec = {
        "ts-plain": codec.decode_timestamps_lockstep,
        "ts-gcd": codec.decode_timestamps_lockstep,
        "int-dod": codec.decode_ints_lockstep,
        "xor": codec.decode_values_lockstep,
    }
    enc = {
        "ts-plain": lambda v, s: codec.encode_timestamps_chunked(v.astype(np.int64), s),
        "ts-gcd": lambda v, s: codec.encode_timestamps_chunked(v.astype(np.int64), s),
        "int-dod": lambda v, s: codec.encode_ints_chunked(v.astype(np.int64), s),
        "xor": lambda v, s: codec.encode_values_chunked(v.astype(np.float64), s),
    }
    inputs = {}
    for f, (streams, ns, _) in groups.items():
        if streams:
            ns = np.asarray(ns, dtype=np.int64)
            mat = dec[f](streams, ns)
            flat = np.concatenate([mat[i, : ns[i]] for i in range(len(ns))])
            starts = np.concatenate([[0], np.cumsum(ns)[:-1]]).astype(np.int64)
            inputs[f] = (streams, ns, flat, starts)
    points = sum(int(n) for n, _, _ in comp_rows)
    t_dec = _best_of(lambda: [dec[f](s, ns) for f, (s, ns, _, _) in inputs.items()])
    t_enc = _best_of(lambda: [enc[f](fl, st) for f, (_, _, fl, st) in inputs.items()])
    out = {
        "codec.decode_points_per_s_core": points / t_dec if t_dec > 0 else 0.0,
        "codec.encode_points_per_s_core": points / t_enc if t_enc > 0 else 0.0,
    }
    for f, (streams, ns, nbytes) in groups.items():
        out[f"codec.chunks.{f}"] = len(streams)
        out[f"codec.bits_per_point.{f}"] = 8.0 * nbytes / sum(ns) if ns else 0.0
    return out


# ----------------------------------------------------------- kalman
def kalman_core(wide, long) -> dict:
    """kalman_direct_batch alone, on the workload's own series: the
    doc-bound wide shape (1000 docs × 92 steps) and the pipeline's resume
    shape (5 × nproc sub-series × the full 300 s grid)."""
    from kfts_insar_spark.operators.kalman import kalman_direct_batch
    from kfts_insar_spark.pipeline import DEFAULT_KF_CFG
    from perfbench.run import RAW_STEP, wide_kf_cfg, wide_t_grid

    cfg, t_w = wide_kf_cfg(), wide_t_grid()
    t_l = np.arange(long.shape[1]) * (RAW_STEP / 86400)
    t_wide = _best_of(lambda: kalman_direct_batch(wide, t_w, cfg))
    t_long = _best_of(lambda: kalman_direct_batch(long, t_l, DEFAULT_KF_CFG))
    return {
        "kalman.points_per_s_core.wide": wide.size / t_wide,
        "kalman.points_per_s_core.long": long.size / t_long,
    }


def core_timings(b) -> dict:
    return {**codec_core(b.comp_rows), **kalman_core(b.kf_wide, b.kf_long)}


# ----------------------------------------------------- attribution
def per_layer(tracer, event_dir, nproc, traced, untraced, core) -> dict:
    """``traced`` / ``untraced``: (samples, work, rates) of the two halves of
    the alternating loop."""
    ev = read_event_log(str(event_dir))
    spans, by_id = tracer.spans, tracer.by_id
    samples, work, _ = traced
    cycles = max(1, len(samples["op"]))
    ops = [s for s in spans if s.get("kind") == "op"]
    runs = [s for s in spans if s["name"] == "pipeline.run"]

    def chain(sid):
        out = []
        while sid is not None and sid in by_id:
            out.append(by_id[sid])
            sid = by_id[sid]["parent"]
        return out

    def within(spans_, t):
        return next((s for s in spans_ if s["start"] <= t <= (s["end"] or t)), None)

    jobs = {}
    for jid, j in ev["jobs"].items():
        ch = chain(j["span"])
        op = next((s for s in ch if s.get("kind") == "op"), None) or within(ops, j["submit"])
        if op is None:
            continue  # warm-up, verification or core-timing jobs
        in_run = any(s["name"] == "pipeline.run" for s in ch) or within(runs, j["submit"])
        jobs[jid] = (ch or [op], bool(in_run))

    tot = defaultdict(float)
    lay = defaultdict(lambda: defaultdict(float))
    pipe_exec = 0.0
    for t in ev["tasks"]:
        jid = ev["stage_job"].get(t["stage"])
        if jid not in jobs:
            continue
        ch, in_run = jobs[jid]
        layer = stage_layer(ev["stage_ops"].get(t["stage"], set()), ch)
        tot["tasks"] += 1
        for k in ("run_s", "cpu_s", "gc_s", "sched_s", "spill", "shuffle_w", "py_bytes"):
            tot[k] += t[k]
            lay[layer][k] += t[k]
        if in_run:
            pipe_exec += t["run_s"]

    def dur(s):
        return (s["end"] or s["start"]) - s["start"]

    writes = [s for s in spans if s.get("kind") == "write"]
    meta = [
        s for s in spans
        if s.get("kind") == "meta"
        and not (s["parent"] in by_id and by_id[s["parent"]].get("kind") == "meta")
    ]
    reads = [s for s in spans if s.get("kind") == "read"]
    files_total = sum(s.get("files_total", 0) for s in reads)
    files_read = sum(s.get("files_read", 0) for s in reads)
    run_wall = sum(dur(s) for s in runs)
    traced_p50 = statistics.median(samples["op"]) if samples["op"] else float("nan")
    untraced_p50 = statistics.median(untraced[0]["op"]) if untraced[0]["op"] else float("nan")

    vals = {
        "pipeline.run_s": run_wall / cycles,
        "pipeline.spark_jobs": sum(1 for _, r in jobs.values() if r) / cycles,
        "pipeline.exec_busy_frac": pipe_exec / (run_wall * nproc) if run_wall else 0.0,
        "snapshot.commits": sum(1 for s in writes if s.get("commit")) / cycles,
        "snapshot.commit_s": sum(dur(s) for s in writes) / cycles,
        "snapshot.files_written": sum(s.get("files", 0) for s in writes) / cycles,
        "snapshot.bytes_written": sum(s.get("bytes", 0) for s in writes) / cycles,
        "snapshot.meta_calls": len(meta) / cycles,
        "snapshot.meta_s": sum(dur(s) for s in meta) / cycles,
        "snapshot.read_files": files_read / cycles,
        "snapshot.read_pruned_frac": 1.0 - files_read / files_total if files_total else 0.0,
        "snapshot.conflicts": sum(1 for s in writes if s.get("error") == "ConcurrentCommitError")
        / cycles,
        "rollup.exec_s": lay["rollup"]["run_s"] / cycles,
        "rollup.shuffle_bytes": lay["rollup"]["shuffle_w"] / cycles,
        "rollup.spill_bytes": lay["rollup"]["spill"] / cycles,
        "codec.encode_exec_s": lay["codec_encode"]["run_s"] / cycles,
        "codec.decode_exec_s": lay["codec_decode"]["run_s"] / cycles,
        "kalman.points": (work.get("kf", 0) + work.get("gapfilled_rows", 0)) / cycles,
        "kalman.exec_s": lay["kalman"]["run_s"] / cycles,
        "kalman.arrow_bytes": lay["kalman"]["py_bytes"] / cycles,
        "spark.tasks": tot["tasks"] / cycles,
        "spark.sched_delay_s": tot["sched_s"] / cycles,
        "spark.exec_cpu_s": tot["cpu_s"] / cycles,
        "spark.gc_s": tot["gc_s"] / cycles,
        "spark.shuffle_write_bytes": tot["shuffle_w"] / cycles,
        "spark.spill_bytes": tot["spill"] / cycles,
        "checkpoint.records": sum(1 for s in spans if s.get("kind") == "checkpoint") / cycles,
        "checkpoint.bytes": tracer.checkpoint_bytes() / cycles,
        "trace.spans": len(spans) / cycles,
        "trace.overhead_pct": 100.0 * (traced_p50 / untraced_p50 - 1.0),
        **core,
    }
    print(f"# traced op_p50_s {traced_p50:.6g} s ({len(samples['op'])} operations) vs "
          f"untraced {untraced_p50:.6g} s ({len(untraced[0]['op'])})")
    for k in PER_LAYER_UNITS:
        print(f"# {k:<36} {vals[k]:.6g} {PER_LAYER_UNITS[k]}")
    return {k: {"value": vals[k], "unit": PER_LAYER_UNITS[k]} for k in PER_LAYER_UNITS}
