"""Deramp — per-observation-group least-squares plane fit and removal
(SURVEY.md §2.8 F10; reference ``findramp``/``removeramp``,
/root/reference/prepare_input.py:384-435, network-consistent SVD correction
:491-506).

The reference fits `v = a·x + b·y + c` per interferogram on masked pixels,
then makes the per-ifg ramps network-consistent by projecting them onto the
incidence matrix's row space (SVD on the tiny N_ifg×M matrix). The Spark
recast: grouped-map weighted LSQ per group (vectorized numpy per Arrow
batch), with the SVD projection on the collected ramp coefficient table at
the driver — that table is metadata-scale (one row per group), so driver-side
numpy is the right tool even at 10^12 base rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RAMP_SCHEMA = "group_id long, a double, b double, c double, n long, rms double"
RAMP_BUCKETS = 64  # hash buckets of group_id: one applyInPandas call each


def fit_ramps(df: DataFrame) -> DataFrame:
    """df(group_id, x, y, v) → per-group plane coefficients (a, b, c) +
    fit stats. Hash-bucketed applyInPandas; each call solves all groups in
    the bucket with one batched lstsq per group (groups are independent)."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for gid, g in pdf.groupby("group_id", sort=False):
            x = g["x"].to_numpy(np.float64)
            y = g["y"].to_numpy(np.float64)
            v = g["v"].to_numpy(np.float64)
            ok = np.isfinite(v)
            x, y, v = x[ok], y[ok], v[ok]
            if len(v) < 3:
                out.append((gid, np.nan, np.nan, np.nan, len(v), np.nan))
                continue
            A = np.column_stack([x, y, np.ones_like(x)])
            coef, *_ = np.linalg.lstsq(A, v, rcond=None)
            resid = v - A @ coef
            out.append(
                (
                    gid,
                    float(coef[0]),
                    float(coef[1]),
                    float(coef[2]),
                    len(v),
                    float(np.sqrt(np.mean(resid**2))),
                )
            )
        return pd.DataFrame(out, columns=["group_id", "a", "b", "c", "n", "rms"])

    bucketed = df.withColumn("_b", F.pmod(F.xxhash64("group_id"), F.lit(RAMP_BUCKETS)))
    return bucketed.groupBy("_b").applyInPandas(run, schema=RAMP_SCHEMA)


def network_consistent_ramps(
    ramps: pd.DataFrame, links: np.ndarray, rank_trunc: float = 1e-10
) -> pd.DataFrame:
    """Project per-observation ramps onto the incidence matrix's row space
    (reference prepare_input.py:491-506): ramp_consistent = J·J⁺·ramp with
    J⁺ from a rank-truncated SVD. `links` is the (N_obs, M_epochs) ±1
    incidence matrix — metadata-scale, handled at the driver."""
    u, s, vt = np.linalg.svd(links, full_matrices=False)
    keep = s > rank_trunc * s[0]
    pinv = vt[keep].T @ np.diag(1.0 / s[keep]) @ u[:, keep].T
    proj = links @ pinv  # projector onto the row space
    out = ramps.sort_values("group_id").reset_index(drop=True).copy()
    for col in ("a", "b", "c"):
        out[col] = proj @ out[col].to_numpy(np.float64)
    return out


def remove_ramp(df: DataFrame, ramps: DataFrame) -> DataFrame:
    """Subtract each group's fitted plane (broadcast join — the ramp table
    has one row per group)."""
    r = ramps.select("group_id", "a", "b", "c")
    return (
        df.join(F.broadcast(r), "group_id")
        .withColumn(
            "v_deramped",
            F.col("v")
            - (F.col("a") * F.col("x") + F.col("b") * F.col("y") + F.col("c")),
        )
        .drop("a", "b", "c")
    )
