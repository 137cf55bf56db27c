"""The Kalman kernel's output must not depend on which SIMD paths numpy
picks on the host. Each run is a fresh Python process (no Spark) with
``NPY_DISABLE_CPU_FEATURES`` set to one level; the kernel runs cold and
resumed on ``make_series`` at three sizes, and phase, std, innov, m and P
must hash identically at every level."""

import json
import os
import subprocess
import sys

from numpy.core._multiarray_umath import __cpu_dispatch__, __cpu_features__

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = """
import hashlib, json
import numpy as np
from numpy.core._multiarray_umath import __cpu_features__
from kfts_insar_spark.operators.kalman import kalman_direct_batch
from tests.test_kalman import CFG, T, make_series

h = hashlib.sha256()
for n_docs, k_split in ((1, 30), (7, 55), (64, 80)):
    _, y, _, _ = make_series(n_docs)
    first = kalman_direct_batch(y[:, :k_split], T[:k_split], CFG)
    init = {"X": first["m"], "P": first["P"], "idx0": first["idx0"], "k_done": first["k_done"]}
    for res in (kalman_direct_batch(y, T, CFG), kalman_direct_batch(y, T, CFG, init=init)):
        for key in ("phase", "std", "innov", "m", "P"):
            h.update(np.ascontiguousarray(res[key], dtype=np.float64).tobytes())
print(json.dumps({"sha256": h.hexdigest(),
                  "on": sorted(f for f, v in __cpu_features__.items() if v)}))
"""


def _levels() -> dict[str, set[str]]:
    """Feature sets to disable, each limited to what this host reports."""
    host = {f for f, on in __cpu_features__.items() if on}
    avx512 = {f for f in host if f.startswith("AVX512")}
    return {
        "unset": set(),
        "no_avx512": avx512,
        "no_avx": avx512 | ({"AVX", "AVX2", "FMA3"} & host),
    }


def test_kernel_hash_is_independent_of_simd_level():
    out = {}
    for name, off in _levels().items():
        env = {k: v for k, v in os.environ.items() if k != "NPY_DISABLE_CPU_FEATURES"}
        if off:
            env["NPY_DISABLE_CPU_FEATURES"] = " ".join(sorted(off))
        proc = subprocess.run(
            [sys.executable, "-c", CHILD],
            cwd=REPO,
            env=env,
            capture_output=True,
            text=True,
            timeout=300,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        # the level took effect: numpy dispatches none of the disabled paths
        # (features it cannot dispatch, such as AVX512VL, stay reported)
        assert not (off & set(__cpu_dispatch__) & set(res["on"])), name
        out[name] = res["sha256"]
    assert len(set(out.values())) == 1, out
