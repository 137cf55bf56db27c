"""Self-tests of the benchmark: BENCHMARK.json, output shape, failure
counting. Run from the repository root:

    python3 -m pytest perfbench -q

The smoke tests start Spark (tiny inputs, about a minute each).
"""

from __future__ import annotations

import json
import math
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.layers import PER_LAYER_UNITS  # noqa: E402
from perfbench.run import END_TO_END_UNITS, WORKLOADS, tail  # noqa: E402


def benchmark_json():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def bench(*args, cwd=ROOT, timeout=600):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1
    assert isinstance(out["failed"], int)
    return out


def test_benchmark_json_names_match_the_code():
    c = benchmark_json()
    assert c["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in c["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in c["end_to_end"]} == END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in c["per_layer"]} == PER_LAYER_UNITS
    setup = next(m for m in c["end_to_end"] if m["name"] == "setup_s")
    assert setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in c["end_to_end"]) <= 0.25


def test_tail_needs_ten_samples_beyond():
    assert tail(list(range(10))) is None
    assert tail(list(range(11))) == (9.1, 0)
    assert tail(list(range(40))) == (75.0, 29)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_prints_every_end_to_end_metric(workload):
    out = result(bench("--workload", workload, "--seed", "3", "--seconds", "1",
                       "--trace", "0", "--scale", "tiny"))
    assert out["correct"] and out["failed"] == 0
    assert {k: v["unit"] for k, v in out["metrics"].items()} == END_TO_END_UNITS
    for k, v in out["metrics"].items():
        assert math.isfinite(v["value"]) and v["value"] > 0, k


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_every_per_layer_metric(workload):
    out = result(bench("--workload", workload, "--seed", "4", "--seconds", "1",
                       "--trace", "1", "--scale", "tiny"))
    assert out["correct"] and out["failed"] == 0
    assert {k: v["unit"] for k, v in out["metrics"].items()} == PER_LAYER_UNITS
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["pipeline.spark_jobs"] > 0 and m["kalman.exec_s"] > 0
    assert 0 < m["snapshot.read_files"] and 0 <= m["snapshot.read_pruned_frac"] < 1
    if workload == "ingest_incremental":
        assert m["snapshot.commits"] > 0 and m["codec.encode_exec_s"] > 0
    else:
        assert m["snapshot.commits"] == 0 and m["codec.decode_exec_s"] > 0


def test_corrupted_tier_row_counts_as_failed_operation():
    out = result(bench("--workload", "read_analytics", "--seed", "5", "--seconds", "1",
                       "--trace", "0", "--scale", "tiny", "--corrupt-tier", "1h"))
    assert not out["correct"]
    assert out["failed"] >= 1


def test_fails_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench("--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1",
                 "--trace", "0", cwd=tmp_path, timeout=170)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
