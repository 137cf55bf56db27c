"""Traced-run support: spans around the package's public entry points and
per-layer attribution of Spark executor work from the JSON event log.

Nothing in ``kfts_insar_spark`` changes: :class:`Tracer` wraps methods on
the public classes for the duration of the traced pass and restores them
afterwards. Every wrapped call records one span (name, start, end, parent,
thread). Calls that can submit Spark jobs also set the ``kfts.span`` local
property on their own thread, so each job in the event log names the span
that submitted it. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

SPAN_PROP = "kfts.span"

# SnapshotTable methods by role
WRITES = ("append", "overwrite_partitions", "overwrite_all", "stage_all", "upsert")
COMMITS = ("append", "overwrite_partitions", "overwrite_all", "commit_staged", "upsert")
META = ("manifest", "property", "current_snapshot_id", "snapshots")
# tables whose commit jobs are aggregation work (raw/series ingest, cascade)
ROLLUP_TABLES = {"tier_raw", "tier_1h", "tier_1d", "tier_series"}


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.by_id: dict[int, dict] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple] = []
        self.op_span: int | None = None  # parent for spans on pool threads
        self.ckpt_start: dict[str, int] = {}

    @contextmanager
    def span(self, name: str, set_prop: bool = True, **attrs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1] if stack else self.op_span,
            "thread": threading.get_ident(),
            "start": time.time(),
            "end": None,
            **attrs,
        }
        with self._lock:
            self.spans.append(rec)
            self.by_id[rec["id"]] = rec
        prev = None
        if set_prop:
            prev = self.sc.getLocalProperty(SPAN_PROP)
            self.sc.setLocalProperty(SPAN_PROP, str(rec["id"]))
        stack.append(rec["id"])
        try:
            yield rec
        except Exception as e:
            rec["error"] = type(e).__name__
            raise
        finally:
            stack.pop()
            rec["end"] = time.time()
            if set_prop:
                self.sc.setLocalProperty(SPAN_PROP, prev)

    def current(self) -> dict | None:
        """Innermost open span of the calling thread."""
        stack = getattr(self._local, "stack", None)
        return self.by_id[stack[-1]] if stack else None

    @contextmanager
    def op(self, kind: str):
        """Top-level span of one benchmark operation (main thread)."""
        with self.span(f"op.{kind}", kind="op", op=kind) as rec:
            self.op_span = rec["id"]
            try:
                yield rec
            finally:
                self.op_span = None

    # ------------------------------------------------------------ wrapping
    def _patch(self, owner, attr, make):
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def install(self) -> None:
        from pyspark.sql.readwriter import DataFrameReader

        from kfts_insar_spark.checkpoint import CheckpointLog
        from kfts_insar_spark.operators import compress, kalman
        from kfts_insar_spark.pipeline import TierPipeline
        from kfts_insar_spark.sources.snapshot import SnapshotTable

        tr = self

        def table(self_):
            return os.path.basename(self_.path.rstrip("/"))

        for meth in WRITES + ("commit_staged",):
            def make(orig, meth=meth):
                def w(self_, *a, **k):
                    with tr.span(f"snapshot.{meth}", kind="write", table=table(self_)) as rec:
                        out = orig(self_, *a, **k)
                        files = (
                            out["files"] if meth == "stage_all"
                            else self_.last_commit_files if meth in WRITES and out is not None
                            else []
                        )
                        rec["files"] = len(files)
                        rec["bytes"] = sum(e.get("bytes", 0) for e in files)
                        rec["commit"] = meth in COMMITS and out is not None
                        return out
                return w
            self._patch(SnapshotTable, meth, make)

        for meth in META:
            def make(orig, meth=meth):
                def w(self_, *a, **k):
                    caller = tr.current()
                    with tr.span(f"snapshot.{meth}", set_prop=False, kind="meta"):
                        out = orig(self_, *a, **k)
                    if meth == "manifest" and caller and caller.get("kind") == "read":
                        # the manifest a read prunes from
                        caller["files_total"] = len((out or {}).get("files", []))
                    return out
                return w
            self._patch(SnapshotTable, meth, make)

        def make_read(orig):
            def w(self_, *a, **k):
                with tr.span("snapshot.read", kind="read", table=table(self_),
                             files_total=0, files_read=0):
                    return orig(self_, *a, **k)
            return w

        self._patch(SnapshotTable, "read", make_read)

        def make_parquet(orig):
            def w(self_, *paths, **k):
                caller = tr.current()
                if caller and caller.get("kind") == "read":
                    caller["files_read"] += len(paths)  # the files the scan gets
                return orig(self_, *paths, **k)
            return w

        self._patch(DataFrameReader, "parquet", make_parquet)

        def make_record(orig):
            def w(self_, *a, **k):
                with tr._lock:
                    if self_.path not in tr.ckpt_start:
                        tr.ckpt_start[self_.path] = (
                            os.path.getsize(self_.path) if os.path.exists(self_.path) else 0
                        )
                with tr.span("checkpoint.record", set_prop=False, kind="checkpoint"):
                    return orig(self_, *a, **k)
            return w

        self._patch(CheckpointLog, "record", make_record)

        def make_run(orig):
            def w(self_, *a, **k):
                with tr.span("pipeline.run", kind="run") as rec:
                    out = orig(self_, *a, **k)
                    rec["status"] = out.get("status")
                    return out
            return w

        self._patch(TierPipeline, "run", make_run)

        def make_simple(name):
            def make(orig):
                def w(*a, **k):
                    with tr.span(name, kind="call"):
                        return orig(*a, **k)
                return w
            return make

        self._patch(TierPipeline, "read_tier", make_simple("pipeline.read_tier"))
        self._patch(compress, "decompress_tier", make_simple("compress.decompress_tier"))
        self._patch(kalman, "kalman_gapfill_wide", make_simple("kalman.kalman_gapfill_wide"))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def checkpoint_bytes(self) -> int:
        return sum(
            max(0, os.path.getsize(p) - s) for p, s in self.ckpt_start.items()
            if os.path.exists(p)
        )


# ------------------------------------------------------------- event log
def read_event_log(log_dir: str) -> dict:
    """Jobs, stage operators and per-task metrics from a JSON event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_ops: dict[int, set] = {}
    tasks: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))) + sorted(
        p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)
    ):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    span = (e.get("Properties") or {}).get(SPAN_PROP)
                    jobs[e["Job ID"]] = {
                        "submit": e["Submission Time"] / 1000.0,
                        "span": int(span) if span else None,
                    }
                    for s in e["Stage IDs"]:
                        stage_job.setdefault(s, e["Job ID"])
                elif ev == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    ops = stage_ops.setdefault(info["Stage ID"], set())
                    for r in info.get("RDD Info", []):
                        if r.get("Scope"):
                            ops.add(json.loads(r["Scope"])["name"])
                elif ev == "SparkListenerTaskEnd":
                    tm = e.get("Task Metrics") or {}
                    ti = e["Task Info"]
                    acc = {a.get("Name"): a.get("Update", 0) for a in ti.get("Accumulables", [])}
                    run_ms = tm.get("Executor Run Time", 0)
                    dur = ti["Finish Time"] - ti["Launch Time"]
                    sched = dur - run_ms - tm.get("Executor Deserialize Time", 0) - tm.get(
                        "Result Serialization Time", 0
                    ) - ti.get("Getting Result Time", 0)
                    tasks.append(
                        {
                            "stage": e["Stage ID"],
                            "run_s": run_ms / 1000.0,
                            "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                            "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
                            "sched_s": max(0, sched) / 1000.0,
                            "spill": tm.get("Memory Bytes Spilled", 0)
                            + tm.get("Disk Bytes Spilled", 0),
                            "shuffle_w": (tm.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                            "py_bytes": _num(acc.get("data sent to Python workers"))
                            + _num(acc.get("data returned from Python workers")),
                        }
                    )
    return {"jobs": jobs, "stage_job": stage_job, "stage_ops": stage_ops, "tasks": tasks}


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def stage_layer(ops: set, chain: list[dict]) -> str:
    """Layer that did a stage's work, from its operators and the span
    chain (innermost first) of the job that ran it."""
    if "FlatMapGroupsInPandas" in ops:
        return "codec_encode"
    if "MapInPandas" in ops:
        return "kalman"
    if "MapInArrow" in ops:
        return "codec_decode" if any(s.get("op") == "decode" for s in chain) else "kalman"
    if any(s.get("kind") == "write" and s.get("table") in ROLLUP_TABLES for s in chain):
        return "rollup"
    return "other"
