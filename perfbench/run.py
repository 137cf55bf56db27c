#!/usr/bin/env python3
"""Closed-loop benchmark of the kfts_insar_spark tier engine.

    python3 perfbench/run.py --workload ingest_incremental --seed 1 --seconds 10 --trace 0

One client, one process, ``local[nproc]``. Set-up writes the seeded inputs
to parquet and commits the starting history; the timed loop then drives the
package only through ``TierPipeline.run`` / ``read_tier``, ``SnapshotTable``,
``decompress_tier`` and ``kalman_gapfill_wide``, checking every operation's
output. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1`` (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from collections import defaultdict
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

WORKLOADS = ("ingest_incremental", "read_analytics")

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ingest_noop_p50_s": "s",
    "tier_query_p50_s": "s",
    "decode_points_per_s": "pts/s",
    "kf_points_per_s": "pts/s",
    "compressed_bytes_per_point": "B/pt",
    "tier_bytes_per_doc": "B/doc",
}

# input sizes per scale; "tiny" exists for the self-tests
SIZES = {
    "full": dict(
        ingest_docs=20_000, increments=64, ingest_warm_steps=1,
        read_docs=25_000, read_docs_per_batch=5, wide_docs=10_000, read_warm_steps=1,
        verify_repeats=3,
    ),
    "tiny": dict(
        ingest_docs=3_000, increments=12, ingest_warm_steps=1,
        read_docs=4_000, read_docs_per_batch=5, wide_docs=2_000, read_warm_steps=1,
        verify_repeats=1,
    ),
}

# environment switches that change how the engine executes; never set here
FORBIDDEN_ENV = (
    "SPARK_GRAFT_STAGE_TIMINGS",
    "SPARK_GRAFT_SEQUENTIAL",
    "SPARK_GRAFT_WRITE_TASKS",
    "OPENBLAS_CORETYPE",
)

DAY = 86400
RAW_STEP = 300
WIDE_STEPS = 92
KF_RTOL = 1e-6  # KF phases vs the scalar oracle, relative to the series' max |phase|
MIN_OPS = 3  # main operations per timed loop, even when they outlast --seconds


# gauge reading of the host the figures are given for; it only fixes the
# unit, and cancels in every comparison of two runs
GAUGE_REF_S = 0.05


class Gauge:
    """Host-speed gauge: nproc threads each gather 2M random doubles from a
    64 MB array. It is memory-bound and uses every core, as Spark and the
    Arrow workers do, so it slows down with them when other tenants load
    the host. It is timed while the JVM and every process under it are
    stopped (SIGSTOP), so no work the engine leaves running can slow it."""

    def __init__(self, nproc: int):
        import numpy as np
        from concurrent.futures import ThreadPoolExecutor

        rng = np.random.default_rng(0)
        self.a = rng.random(8 << 20)
        self.idx = [rng.integers(0, 8 << 20, 2 << 20) for _ in range(nproc)]
        self.pool = ThreadPoolExecutor(nproc)
        for _ in range(2):  # the first calls fault in their buffers
            self._gather()

    def _gather(self) -> float:
        t0 = time.perf_counter()
        list(self.pool.map(lambda i: float(self.a[i].sum()), self.idx))
        return time.perf_counter() - t0

    def __call__(self) -> float:
        import signal

        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        stopped = []
        try:
            for p in engine_pids(proc.pid) if proc is not None else []:
                try:
                    os.kill(p, signal.SIGSTOP)
                    stopped.append(p)
                except ProcessLookupError:
                    pass
            return self._gather()
        finally:
            for p in stopped:
                try:
                    os.kill(p, signal.SIGCONT)
                except ProcessLookupError:
                    pass

    def close(self) -> None:
        self.pool.shutdown()


def engine_pids(root: int) -> list[int]:
    """``root`` and every process below it."""
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def say(msg: str) -> None:
    print(f"# {msg}", flush=True)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """(percentile, value) of the highest percentile with ≥10 samples
    beyond it, or None when there are fewer than 11 samples."""
    n = len(xs)
    if n < 11:
        return None
    k = n - 11  # index of the value with exactly 10 samples above it
    return round(100.0 * (k + 1) / n, 1), sorted(xs)[k]


# ----------------------------------------------------------------- host
def host_info(nproc: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    cpu = "unknown"
    try:
        with open("/proc/cpuinfo") as f:
            cpu = next(
                (ln.split(":", 1)[1].strip() for ln in f if ln.startswith("model name")),
                cpu,
            )
    except OSError:
        pass
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {
        "nproc": nproc,
        "cpu": cpu,
        "ram_gib": round(ram / 2**30, 1),
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
    }


def prepare_env(tmp: Path) -> None:
    """Keep every file the run makes inside ``tmp`` (and the jar cache
    inside the checkout); size the driver to the host."""
    for var in FORBIDDEN_ENV:
        os.environ.pop(var, None)
    sysdir = tmp / "sys"
    sysdir.mkdir(parents=True)
    os.environ["TMPDIR"] = str(sysdir)
    tempfile.tempdir = str(sysdir)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    # the session compiles a small jar into ~/.cache once; keep it in the checkout
    home = ROOT / ".perfbench_cache"
    home.mkdir(exist_ok=True)
    os.environ["HOME"] = str(home)
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(4, int(ram_gib // 4)))}g"


def start_spark(tmp: Path, nproc: int, event_dir: Path | None = None):
    from kfts_insar_spark.session import get_spark

    conf = {
        "spark.local.dir": str(tmp / "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp / 'sys'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(event_dir),
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark(
        app_name="perfbench", cores=nproc, shuffle_partitions=nproc, extra_conf=conf
    )


def stop_jvm() -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    stop_jvm_session()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# ------------------------------------------------------------ harness
def tally():
    """(samples, work, rates): latency samples and work done per kind, and
    per-operation work ÷ wall."""
    return defaultdict(list), defaultdict(float), defaultdict(list)


class Bench:
    """Counts operations and failures; keeps per-kind latency samples."""

    def __init__(self, spark, tmp: Path, seed: int, size: dict, nproc: int):
        import duckdb

        self.spark, self.tmp, self.seed, self.size, self.nproc = (
            spark, tmp, seed, size, nproc,
        )
        self.rng = random.Random(seed)
        self.duck = duckdb.connect()
        self.attempted = 0
        self.failed = 0
        self.samples, self.work, self.rates = tally()
        self.problems: list[str] = []
        self.tracer = None
        self.last_dt = 0.0
        self.t0 = time.perf_counter()
        self.gauge = Gauge(nproc)
        self.gauges: dict[str, list[float]] = defaultdict(list)  # by phase
        self.in_setup = True

    def op(self, kind, fn, check=None, work=None, record=True):
        """Run one operation; time it, check it, count it. ``check``
        returns None when the output is right, else a description."""
        self.attempted += 1
        if record or self.in_setup:  # between operations, never inside one
            self.gauges["timed" if record else "setup"].append(self.gauge())
        traced = self.tracer.op(kind) if (self.tracer and record) else nullcontext()
        t0 = time.perf_counter()
        try:
            with traced:
                out = fn()
        except Exception as e:  # a raising operation is a failed operation
            return self._fail(kind, f"{type(e).__name__}: {str(e)[:300]}")
        dt = time.perf_counter() - t0
        try:
            problem = check(out) if check else None
        except Exception as e:
            problem = f"check raised {type(e).__name__}: {e}"
        if problem:
            return self._fail(kind, problem)
        self.last_dt = dt
        if record:
            self.samples[kind].append(dt)
            if work is not None:
                self.work[kind] += work(out)
                self.rates[kind].append(work(out) / dt)
        return out

    def phase(self, what: str) -> None:
        say(f"{time.perf_counter() - self.t0:7.2f} s  {what}")

    def _fail(self, kind, msg):
        self.failed += 1
        self.last_dt = 0.0
        if len(self.problems) < 20:
            self.problems.append(f"{kind}: {msg}")
        print(f"# FAILED {kind}: {msg}", file=sys.stderr, flush=True)
        return None

    # --------------------------------------------------------- inputs
    def write_sequences(self, n: int, docs_per_batch: int):
        """Seeded base table → parquet, keyed by size and seed. DuckDB
        writes it from ``sequences_sql`` (the bit-exact replay of
        ``synth.sequences``), so the load generator never runs inside the
        engine, and the same table serves the oracles as ``base_seq``."""
        from kfts_insar_spark.synth import sequences_sql

        path = self.tmp / "inputs" / f"seq_n{n}_b{docs_per_batch}_s{self.seed}.parquet"
        path.parent.mkdir(parents=True, exist_ok=True)
        self.seq_sql = sequences_sql(n, self.seed, docs_per_batch, with_tokens=False)
        self.duck.execute(f"CREATE TABLE base_seq AS {self.seq_sql}")
        self.duck.execute(
            f"COPY (SELECT * FROM base_seq ORDER BY doc_id) TO '{path}' (FORMAT PARQUET)"
        )
        return path

    # ---------------------------------------------------------- reads
    def range_agg(self, pipe, tier: str, lo: int, hi: int):
        from pyspark.sql import functions as F

        df = pipe.read_tier(self.spark, tier)
        rows = (
            df.filter((F.col("bucket_es") >= lo) & (F.col("bucket_es") < hi))
            .groupBy("source")
            .agg(
                F.sum("sum_tok").cast("long"),
                F.sum("n_docs").cast("long"),
                F.min("min_tok"),
                F.max("max_tok"),
            )
            .collect()
        )
        return sorted(tuple(r) for r in rows)

    def range_agg_oracle(self, lo: int, hi: int, upto: int | None = None):
        cap = f"AND ingest_es <= {upto}" if upto is not None else ""
        rows = self.duck.execute(
            f"""SELECT source, sum(n_tok), count(*), min(n_tok), max(n_tok)
                FROM base_seq WHERE ingest_es >= {lo} AND ingest_es < {hi} {cap}
                GROUP BY source"""
        ).fetchall()
        return sorted(tuple(int(x) if i else x for i, x in enumerate(r)) for r in rows)

    def query(self, pipe, tier, lo, hi, upto=None, record=True):
        want = self.range_agg_oracle(lo, hi, upto)
        return self.op(
            "query",
            lambda: self.range_agg(pipe, tier, lo, hi),
            check=lambda got: None if got == want else f"{tier}[{lo},{hi}) {got[:2]} != {want[:2]}",
            record=record,
        )

    def decode(self, pipe, lo=None, hi=None, upto=None, record=True):
        """Decode compressed chunks in [lo, hi) (all when None); the point
        count and value sum/min/max must match the oracle exactly."""
        from pyspark.sql import functions as F

        from kfts_insar_spark.operators import compress

        def run():
            comp = pipe.read_tier(self.spark, "compressed")
            if lo is not None:
                comp = comp.filter((F.col("bucket_es") >= lo) & (F.col("bucket_es") < hi))
            r = compress.decompress_tier(comp).agg(
                F.count(F.lit(1)), F.sum("value"), F.min("value"), F.max("value")
            ).first()
            return (int(r[0]), int(r[1] or 0), int(r[2] or 0), int(r[3] or 0))

        conds = [f"ingest_es <= {upto}"] if upto is not None else []
        if lo is not None:
            conds += [f"ingest_es >= {lo}", f"ingest_es < {hi}"]
        where = ("WHERE " + " AND ".join(conds)) if conds else ""
        want = tuple(
            int(x or 0)
            for x in self.duck.execute(
                f"""SELECT count(*), sum(s), min(s), max(s) FROM (
                      SELECT source, ingest_es // {RAW_STEP} AS b, sum(n_tok) AS s
                      FROM base_seq {where} GROUP BY 1, 2)"""
            ).fetchone()
        )
        return self.op(
            "decode", run,
            check=lambda got: None if got == want else f"decode {got} != {want}",
            work=lambda got: got[0], record=record,
        )

    # ---------------------------------------------------------- checks
    def check_tiers(self, pipe, upto: int) -> None:
        """1h and 1d tiers equal the DuckDB tier oracle exactly; the
        decoded compressed tier equals the raw tier exactly. Returns the
        raw tier's (source, bucket_es, sum_tok) rows."""
        from kfts_insar_spark.operators import compress
        from kfts_insar_spark.operators.rollup import TIER_COLS, tier_sql

        inner = f"SELECT * FROM ({self.seq_sql}) WHERE ingest_es <= {upto}"
        for tier, width in (("1h", 3600), ("1d", DAY)):
            want = sorted(tuple(r) for r in self.duck.execute(tier_sql(inner, width)).fetchall())
            self.op(
                "check_tier",
                lambda tier=tier: sorted(
                    tuple(r) for r in pipe.read_tier(self.spark, tier).select(*TIER_COLS).collect()
                ),
                check=lambda got, tier=tier, want=want: None if got == want
                else f"tier {tier}: {len(got)} rows vs {len(want)} oracle rows, "
                f"first diff {next((g, w) for g, w in zip(got + [None], want + [None]) if g != w)}",
                record=False,
            )
        raw = sorted(
            (r[0], int(r[1]), float(r[2]))
            for r in pipe.read_tier(self.spark, "raw").select("source", "bucket_es", "sum_tok").collect()
        )
        self.op(
            "check_decode",
            lambda: sorted(
                (r[0], int(r[1]), float(r[2]))
                for r in compress.decompress_tier(pipe.read_tier(self.spark, "compressed")).collect()
            ),
            check=lambda got: None if got == raw else f"decoded {len(got)} points != raw {len(raw)}",
            record=False,
        )
        return raw

    def kf(self, wide_path, t_grid, cfg, lo_doc, hi_doc, sample, values, n_docs, record=True):
        """kalman_gapfill_wide over docs [lo_doc, hi_doc); the sample docs'
        phases must match kalman_direct_oracle within KF_RTOL."""
        import numpy as np
        from pyspark.sql import functions as F

        from kfts_insar_spark.operators import kalman

        def run():
            df = self.spark.read.parquet(str(wide_path))
            if lo_doc is not None:
                df = df.filter((F.col("doc_id") >= lo_doc) & (F.col("doc_id") < hi_doc))
            out = kalman.kalman_gapfill_wide(df, t_grid, cfg)
            return {
                r.doc_id: np.array([np.nan if x is None else x for x in r.phase])
                for r in out.filter(F.col("doc_id").isin(sample)).select("doc_id", "phase").collect()
            }

        def check(got):
            for d in sample:
                want = kalman.kalman_direct_oracle(values[d], t_grid, cfg)["phase"]
                if d not in got:
                    return f"kf: doc {d} missing"
                if not close(got[d], want):
                    return f"kf: doc {d} deviates from the oracle beyond rtol {KF_RTOL}"
            return None

        return self.op(
            "kf", run, check=check, work=lambda _: n_docs * len(t_grid), record=record,
        )


def close(got, want) -> bool:
    import numpy as np

    both = np.isfinite(want)
    if not both.any() or not np.array_equal(np.isfinite(got), both):
        return False
    scale = max(1.0, float(np.max(np.abs(want[both]))))
    return bool(np.all(np.abs(got[both] - want[both]) <= KF_RTOL * scale))


def day_floor(es: int) -> int:
    return es // DAY * DAY


def write_wide(path: Path, docs: list[str], values) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"doc_id": docs, "values": [list(map(float, v)) for v in values]}),
        str(path),
    )


def series_wide(n_docs: int, seed: int) -> tuple[list[str], "np.ndarray"]:
    """Seeded per-doc series (NaN = gap): trend + annual cycle + a step at
    t = 1.5 y + noise, WIDE_STEPS epochs 12 days apart with ~20% gaps — the
    shape of ``synth.series_wide``."""
    import numpy as np

    rng = np.random.default_rng(seed)
    t = wide_t_grid()
    m1, amp_s, amp_c = rng.uniform(5, 15, n_docs), rng.uniform(2, 6, n_docs), rng.uniform(2, 6, n_docs)
    step = rng.uniform(10, 30, n_docs)
    y = (
        m1[:, None] * t + amp_s[:, None] * np.sin(2 * np.pi * t)
        + amp_c[:, None] * np.cos(2 * np.pi * t) + step[:, None] * (t >= 1.5)
        + rng.uniform(-0.5, 0.5, (n_docs, WIDE_STEPS))
    )
    gap = rng.random((n_docs, WIDE_STEPS)) < 0.2
    gap[:, 0] = False
    y[gap] = np.nan
    return [f"doc{i:08d}" for i in range(n_docs)], y


def write_series_wide(path: Path, docs: list[str], y) -> None:
    """(doc_id, values: array<double>, NULL = gap) parquet table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_docs, n_steps = y.shape
    gap = np.isnan(y)
    flat = pa.array(np.where(gap, 0.0, y).ravel(), mask=gap.ravel())
    offsets = pa.array(np.arange(0, n_docs * n_steps + 1, n_steps, dtype=np.int32))
    pq.write_table(
        pa.table({"doc_id": docs, "values": pa.ListArray.from_arrays(offsets, flat)}), str(path)
    )


def wide_t_grid():
    import numpy as np

    return np.arange(WIDE_STEPS) * 12.0 / 365.25


def wide_kf_cfg():
    """KF model of the doc-bound wide shape: linear trend + annual cycle."""
    import numpy as np

    from kfts_insar_spark.operators.kalman import KFConfig

    return KFConfig(
        model=[("POLY", 1), ("SIN", 2 * np.pi), ("COS", 2 * np.pi)],
        sig_y=1.0, sig_i=0.5, sig_a=30.0, t_sep=4,
    )


def long_matrix(rows, lo: int, m: int) -> tuple[list[str], "np.ndarray"]:
    """(key, bucket_es, value) rows → sorted keys and their values on the
    m-step 300 s grid from ``lo`` (NaN = gap)."""
    import numpy as np

    keys = sorted({k for k, _, _ in rows})
    idx = {k: i for i, k in enumerate(keys)}
    vals = np.full((len(keys), m), np.nan)
    for k, be, v in rows:
        step = (int(be) - lo) // RAW_STEP
        if 0 <= step < m:
            vals[idx[k], step] = float(v)
    return keys, vals


def dir_bytes(pipe) -> int:
    tables = (pipe.raw, pipe.h1, pipe.d1, pipe.comp, pipe.series, pipe.gap, pipe.kf_state)
    return sum(
        e["bytes"] for t in tables for e in ((t.manifest() or {}).get("files") or [])
    )


def compressed_rows(b: Bench, pipe):
    return [
        (int(r[0]), bytes(r[1]), bytes(r[2]))
        for r in pipe.read_tier(b.spark, "compressed")
        .select("n_points", "ts_codec", "val_codec").collect()
    ]


# ----------------------------------------------------------- workloads
class IngestIncremental:
    """Scheduled update-mode runs: each step makes 1/K of the remaining
    history visible, runs the pipeline once (commits it), runs it again
    (finds no new data), and reads the fresh days back from each tier."""

    def __init__(self, b: Bench):
        self.b = b

    def pipe(self):
        from kfts_insar_spark.pipeline import TierPipeline

        return TierPipeline(str(self.dir), kf_shards=self.b.nproc)

    def bind(self, spark):
        self.b.spark = spark
        self.base = spark.read.parquet(str(self.base_path))

    def setup(self):
        b = self.b
        n = b.size["ingest_docs"]
        self.base_path = b.write_sequences(n, 50)
        self.bind(b.spark)
        slots = [r[0] for r in b.duck.execute(
            "SELECT DISTINCT ingest_es FROM base_seq ORDER BY 1").fetchall()]
        half = len(slots) // 2
        rest = slots[half:]
        k = b.size["increments"]
        self.bounds = sorted({rest[max(0, (i + 1) * len(rest) // k - 1)] for i in range(k)})
        self.wm = slots[half - 1]
        self.docs = b.duck.execute(
            f"SELECT count(*) FROM base_seq WHERE ingest_es <= {self.wm}").fetchone()[0]
        self.dir = b.tmp / "tables" / "ingest"
        b.phase("inputs written")
        b.op("precommit", lambda: self.run_visible(self.wm),
             check=lambda r: expect(r, "ok", self.wm), record=False)
        b.phase("first half committed")
        # warm-up: the first increments after the cold commit are the slowest
        for _ in range(b.size["ingest_warm_steps"]):
            self.step(record=False)
        self.verify(record=False)
        b.phase("warm-up done")

    def run_visible(self, bound):
        from pyspark.sql import functions as F

        return self.pipe().run(self.b.spark, self.base.filter(F.col("ingest_es") <= F.lit(bound)))

    def step(self, record=True) -> bool:
        if not self.bounds:
            return False
        b = self.b
        bound, prev = self.bounds.pop(0), self.wm
        r = b.op("op", lambda: self.run_visible(bound),
                 check=lambda r: expect(r, "ok", bound, prev), record=record)
        if r is not None:
            new = b.duck.execute(
                f"SELECT count(*) FROM base_seq WHERE ingest_es > {prev} AND ingest_es <= {bound}"
            ).fetchone()[0]
            self.docs += new
            if record:
                b.work["docs_committed"] += new
                b.work["gapfilled_rows"] += r["rows"].get("gapfilled", 0)
        b.op("noop", lambda: self.run_visible(bound),
             check=lambda r: expect(r, "noop", bound, bound), record=record)
        self.wm = bound
        pipe = self.pipe()
        for tier in ("raw", "1h", "1d"):
            b.query(pipe, tier, day_floor(prev + 1), day_floor(bound) + DAY,
                    upto=bound, record=record)
        return True

    def verify(self, record=True):
        """Whole-history reads, timed: decode of the compressed tier and the
        KF kernel over the pipeline's own sub-series; then the checks."""
        import numpy as np
        from pyspark.sql import functions as F

        from kfts_insar_spark.pipeline import DEFAULT_KF_CFG

        b, pipe = self.b, self.pipe()
        repeats = b.size["verify_repeats"] if record else 1
        for _ in range(repeats):
            b.decode(pipe, upto=self.wm, record=record)
        lo = int(pipe.kf_state.property("grid_lo"))
        m = int(pipe.kf_state.property("k_done"))
        t_grid = np.arange(m) * (RAW_STEP / DAY)
        docs, vals = long_matrix(
            [(f"{s}/{sh}", be, v) for s, sh, be, v in pipe.read_tier(b.spark, "series")
             .select("source", "shard", "bucket_es", "sum_tok").collect()],
            lo, m,
        )
        path = b.tmp / "inputs" / f"kf_long_{m}.parquet"
        write_wide(path, docs, vals)
        values = {d: vals[i] for i, d in enumerate(docs)}
        sample = sorted(random.Random(b.seed + m).sample(docs, min(3, len(docs))))
        got = None
        for _ in range(repeats):
            got = b.kf(path, t_grid, DEFAULT_KF_CFG, None, None, sample, values, len(docs),
                       record=record) or got
        if not record:
            return
        if got is not None:
            # the pipeline's own gap-filled tier agrees with the kernel run
            tier = defaultdict(dict)
            for r in pipe.read_tier(b.spark, "gapfilled").filter(
                F.concat_ws("/", "source", "shard").isin(sample)
            ).select("source", "shard", "bucket_es", "phase").collect():
                tier[f"{r[0]}/{r[1]}"][(int(r[2]) - lo) // RAW_STEP] = r[3]
            for d in sample:
                steps = sorted(s for s in tier[d] if s < m)
                b.op("check_gapfill",
                     lambda d=d, steps=steps: (
                         np.array([tier[d][s] for s in steps], dtype=float), got[d][steps]),
                     check=lambda pair, d=d: None if len(pair[0]) and close(pair[0], pair[1])
                     else f"gap-filled tier of {d} deviates from the kernel",
                     record=False)
        first = day_floor(int(b.duck.execute("SELECT min(ingest_es) FROM base_seq").fetchone()[0]))
        days = max(1, (day_floor(self.wm) - first) // DAY + 1)
        rng = random.Random(b.seed * 7 + len(docs))
        span = max(1, days // 3)
        for tier in ("raw", "1h", "1d"):
            d0 = rng.randrange(max(1, days - span + 1))
            b.query(pipe, tier, first + d0 * DAY, first + (d0 + span) * DAY, upto=self.wm,
                    record=False)
        visible = self.base.filter(F.col("ingest_es") <= F.lit(self.wm))
        for _ in range(repeats):
            b.op("noop", lambda: pipe.run(b.spark, visible),
                 check=lambda r: expect(r, "noop", self.wm))
        b.check_tiers(pipe, self.wm)
        b.tier_bytes_per_doc = dir_bytes(pipe) / max(1, self.docs)
        b.comp_rows = compressed_rows(b, pipe)
        # core-timing inputs: the pipeline's own sub-series (resume shape)
        # and the first 1000 docs of the seeded wide series
        b.kf_long = vals
        b.kf_wide = series_wide(1000, b.seed)[1]


def expect(r, status, wm, prev=None):
    if r.get("status") != status:
        return f"status {r.get('status')!r}, expected {status!r}"
    if r.get("watermark_es") != wm:
        return f"watermark {r.get('watermark_es')} != {wm}"
    if prev is not None and wm < prev:
        return f"watermark moved back {prev} -> {wm}"
    return None


class ReadAnalytics:
    """Read-only rounds over a long committed history: three range
    aggregates (raw / 1h / 1d day windows), one deep-history decode window
    and one KF gap-fill over a doc slice; between rounds the scheduler's
    run finds no new data."""

    def __init__(self, b: Bench):
        self.b = b

    def pipe(self):
        from kfts_insar_spark.pipeline import TierPipeline

        return TierPipeline(str(self.dir), run_gapfill=False, kf_shards=self.b.nproc)

    def bind(self, spark):
        self.b.spark = spark
        self.base = spark.read.parquet(str(self.base_path))

    def setup(self):
        b = self.b
        s = b.size
        self.base_path = b.write_sequences(s["read_docs"], s["read_docs_per_batch"])
        self.bind(b.spark)
        w = s["wide_docs"]
        self.wide_path = b.tmp / "inputs" / f"series_wide_n{w}_s{b.seed}.parquet"
        self.doc_ids, self.wide = series_wide(w, b.seed)
        write_series_wide(self.wide_path, self.doc_ids, self.wide)
        self.values = dict(zip(self.doc_ids, self.wide))
        self.slice_docs = max(1, w // 10)
        self.t_grid = wide_t_grid()
        self.cfg = wide_kf_cfg()
        lo, hi, self.docs = b.duck.execute(
            "SELECT min(ingest_es), max(ingest_es), count(*) FROM base_seq").fetchone()
        self.first, self.days = day_floor(lo), (day_floor(hi) - day_floor(lo)) // DAY + 1
        self.wm = hi
        self.dir = b.tmp / "tables" / "read"
        b.phase("inputs written")
        b.op("precommit", lambda: self.pipe().run(b.spark, self.base),
             check=lambda r: expect(r, "ok", hi), record=False)
        b.phase("history committed")
        # warm-up: the first rounds after the cold commit are the slowest
        for _ in range(s["read_warm_steps"]):
            self.step(record=False)
        b.phase("warm-up done")

    def window(self, n_days):
        d0 = self.b.rng.randrange(max(1, self.days - n_days + 1))
        return self.first + d0 * DAY, self.first + (d0 + n_days) * DAY

    def step(self, record=True) -> bool:
        """One read round."""
        b, pipe = self.b, self.pipe()
        n_days, n_docs = max(1, self.days // 4), self.slice_docs
        spent, ok = 0.0, True
        for tier in ("raw", "1h", "1d"):
            ok &= b.query(pipe, tier, *self.window(n_days), record=record) is not None
            spent += b.last_dt
        ok &= b.decode(pipe, *self.window(n_days), record=record) is not None
        spent += b.last_dt
        i0 = b.rng.randrange(len(self.doc_ids) - n_docs + 1)
        docs = self.doc_ids[i0:i0 + n_docs]
        hi_doc = self.doc_ids[i0 + n_docs] if i0 + n_docs < len(self.doc_ids) else "~"
        sample = sorted(b.rng.sample(docs, min(2, len(docs))))
        ok &= b.kf(self.wide_path, self.t_grid, self.cfg, docs[0], hi_doc, sample,
                   self.values, n_docs, record=record) is not None
        spent += b.last_dt
        if ok and record:
            b.samples["op"].append(spent)
        b.op("noop", lambda: self.pipe().run(b.spark, self.base),
             check=lambda r: expect(r, "noop", self.wm), record=record)
        return True

    def verify(self):
        """More no-new-data runs (one per round is few samples), then the
        checks."""
        import numpy as np

        b, pipe = self.b, self.pipe()
        for _ in range(b.size["verify_repeats"]):
            b.op("noop", lambda: pipe.run(b.spark, self.base),
                 check=lambda r: expect(r, "noop", self.wm))
        raw = b.check_tiers(pipe, self.wm)
        b.tier_bytes_per_doc = dir_bytes(pipe) / max(1, self.docs)
        b.comp_rows = compressed_rows(b, pipe)
        # core-timing inputs: the raw tier's per-source series, nproc times
        # over (5 × nproc rows, the pipeline's resume shape), and the
        # first 1000 docs of the workload's wide series
        lo = min(be for _, be, _ in raw)
        b.kf_long = np.tile(long_matrix(raw, lo, (self.wm - lo) // RAW_STEP + 1)[1], (b.nproc, 1))
        b.kf_wide = self.wide[:1000]


# ------------------------------------------------------------- metrics
def end_to_end(b: Bench, setup_s: float) -> dict:
    """Medians of the per-operation samples, given for a host on which the
    gauge reads GAUGE_REF_S: times are multiplied, and rates divided, by
    GAUGE_REF_S ÷ the median gauge reading of the same phase (set-up or
    timed part) of this run. Other tenants' load changes the host's speed
    from minute to minute, and the gauge tracks it."""
    pts = sum(n for n, _, _ in b.comp_rows)
    nbytes = sum(len(t) + len(v) for _, t, v in b.comp_rows)
    g_setup, g_timed = median(b.gauges["setup"]), median(b.gauges["timed"])
    raw = {
        "setup_s": setup_s,
        "op_p50_s": median(b.samples["op"]),
        "ingest_noop_p50_s": median(b.samples["noop"]),
        "tier_query_p50_s": median(b.samples["query"]),
        "decode_points_per_s": median(b.rates["decode"]),
        "kf_points_per_s": median(b.rates["kf"]),
    }
    say(f"gauge median {g_setup:.5f} s in set-up ({len(b.gauges['setup'])} readings), "
        f"{g_timed:.5f} s timed ({len(b.gauges['timed'])})")
    say("unscaled: " + ", ".join(f"{k} {v:.6g}" for k, v in raw.items()))
    speed = GAUGE_REF_S / g_timed
    vals = {k: v / speed if k.endswith("_per_s") else v * speed for k, v in raw.items()}
    vals["setup_s"] = setup_s * GAUGE_REF_S / g_setup
    vals["compressed_bytes_per_point"] = nbytes / max(1, pts)
    vals["tier_bytes_per_doc"] = b.tier_bytes_per_doc
    return {k: {"value": vals[k], "unit": u} for k, u in END_TO_END_UNITS.items()}


def summary(b: Bench, workload: str, metrics: dict) -> None:
    for k, m in metrics.items():
        say(f"{k:<28} {m['value']:.6g} {m['unit']}")
    say("samples " + ", ".join(f"{k}={len(v)}" for k, v in sorted(b.samples.items())))
    for k, v in sorted(b.samples.items()):
        say(f"  {k}: " + " ".join(f"{x:.3f}" for x in v))
    aliases = {"ingest_incremental": "ingest_run", "read_analytics": "tier_round"}
    t = tail(b.samples["op"])
    if t:
        say(f"{aliases[workload]}_tail_s (p{t[0]}) {t[1]:.6g} s")
    t = tail(b.samples["query"])
    if t:
        say(f"tier_query_tail_s (p{t[0]}) {t[1]:.6g} s")
    if workload == "ingest_incremental" and b.samples["op"]:
        say(f"ingest_docs_per_s {b.work['docs_committed'] / sum(b.samples['op']):.6g} docs/s")


# --------------------------------------------------------------- main
def timed_loop(w, seconds: float) -> int:
    t0, n = time.perf_counter(), 0
    while (time.perf_counter() - t0 < seconds or n < MIN_OPS) and w.step():
        n += 1
    return n


def corrupt_tier(pipe, tier: str) -> None:
    """Self-test hook: add 1 to sum_tok of one committed row of ``tier``."""
    import pyarrow.parquet as pq

    table = {"raw": pipe.raw, "1h": pipe.h1, "1d": pipe.d1}[tier]
    path = table.manifest()["files"][0]["path"]
    t = pq.read_table(path)
    i = t.schema.get_field_index("sum_tok")
    col = t.column(i).to_pylist()
    col[0] += 1
    pq.write_table(t.set_column(i, t.schema.field(i), [col]), path)


def run(args, tmp: Path) -> dict:
    t_start = time.perf_counter()
    nproc = len(os.sched_getaffinity(0))
    prepare_env(tmp)
    sys.path.insert(0, str(ROOT))
    import kfts_insar_spark  # noqa: F401  (fails fast outside a checkout)

    say("host " + json.dumps(host_info(nproc)))
    ticks0 = cpu_ticks()
    # a traced run logs events from the start: the traced and untraced
    # operations it compares share one session
    event_dir = tmp / "events" if args.trace else None
    spark = start_spark(tmp, nproc, event_dir)
    say(f"session up after {time.perf_counter() - t_start:.2f} s")
    b = None
    try:
        b = Bench(spark, tmp, args.seed, SIZES[args.scale], nproc)
        w = {"ingest_incremental": IngestIncremental, "read_analytics": ReadAnalytics}[
            args.workload](b)
        w.setup()
        if args.corrupt_tier:
            corrupt_tier(w.pipe(), args.corrupt_tier)
        setup_s = time.perf_counter() - t_start
        b.in_setup = False
        say(f"setup done in {setup_s:.2f} s")
        if not args.trace:
            n = timed_loop(w, args.seconds)
            b.phase(f"timed loop: {n} operations")
            w.verify()
            b.phase("verified")
            metrics = end_to_end(b, setup_s)
            summary(b, args.workload, metrics)
        else:
            metrics = traced(args, b, w, event_dir, nproc)
    finally:
        if b is not None:
            b.gauge.close()
        stop_jvm()
    d = [y - x for x, y in zip(ticks0, cpu_ticks())]
    say(f"host steal share {d[7] / max(1, sum(d)):.4f}")
    if b.problems:
        say("problems: " + " | ".join(b.problems))
    return {
        "correct": b.failed == 0 and b.attempted > 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": metrics,
    }


def traced(args, b: Bench, w, event_dir: Path, nproc: int) -> dict:
    """One loop of twice the run length that alternates untraced and traced
    main operations, so both halves sit at the same point of the JVM's
    warm-up. Per-layer metrics come from the traced operations; the two
    halves' op_p50_s give the tracing overhead."""
    from perfbench import layers
    from perfbench.spans import Tracer

    tracer = Tracer(b.spark.sparkContext)
    halves = {False: tally(), True: tally()}
    t0, n = time.perf_counter(), 0
    while time.perf_counter() - t0 < 2 * args.seconds or n < 2 * MIN_OPS:
        on = n % 2 == 1
        b.samples, b.work, b.rates = halves[on]
        if on:
            tracer.install()
            b.tracer = tracer
        try:
            if not w.step():
                break
        finally:
            if on:
                tracer.uninstall()
                b.tracer = None
        n += 1
    b.phase(f"alternating loop: {n} operations")
    b.samples, b.work, b.rates = tally()
    w.verify()
    core = layers.core_timings(b)
    b.spark.stop()  # flushes the event log
    return layers.per_layer(tracer, event_dir, nproc, halves[True], halves[False], core)


def stop_jvm_session() -> None:
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=tuple(SIZES), default="full")
    p.add_argument("--corrupt-tier", choices=("raw", "1h", "1d"), default=None,
                   help="self-test: corrupt one committed row after set-up")
    args = p.parse_args(argv)
    scratch = ROOT / ".perfbench_tmp"
    scratch.mkdir(exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix="run-", dir=scratch))
    try:
        result = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            scratch.rmdir()
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main())
