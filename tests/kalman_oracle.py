"""Reference-faithful per-doc pairs (interferogram) filter — the test oracle
for the batch kernel's lagged observations.

Observation i at step t_plus is y_i = φ(t_plus) − φ(t_minus) + ε, all of a
step's observations applied in one joint update with explicit H/R matrices
and np.linalg, line by line after ``create_H_R_and_D``
(kf/KF_class.py:182-248).
"""

from __future__ import annotations

import numpy as np

from kfts_insar_spark.functions.basis import basis_row, resolve_model
from kfts_insar_spark.operators.kalman import KFConfig


def kalman_pairs_doc(
    pairs: np.ndarray,  # (N, 3): t_minus, t_plus, obs_value (NaN allowed)
    t: np.ndarray,
    cfg: KFConfig,
) -> dict[str, np.ndarray]:
    """Reference-faithful filter over an incidence edge list
    (``create_H_R_and_D`` kf/KF_class.py:182-248 with the constraint
    t_plus − t_minus ≤ t_sep, which the generators guarantee)."""
    M = len(t)
    L, ts = cfg.L, cfg.t_sep
    model = resolve_model(cfg.model, t)
    tm = pairs[:, 0].astype(int)
    tp = pairs[:, 1].astype(int)
    obs = pairs[:, 2].astype(np.float64)
    if (tp - tm).max(initial=0) > ts:
        raise ValueError("pair span exceeds t_sep")

    phase = np.full(M, np.nan)
    std = np.full(M, np.nan)
    innov = np.full(M, np.nan)

    m = np.zeros(L + 1)
    P = np.diag([cfg.sig_a**2] * L + [0.0])
    idx0 = 0
    phase[0], std[0] = 0.0, 0.0

    for k in range(1, M):
        n = len(m)
        A = np.vstack([np.eye(n), np.zeros(n)])
        A[n, :L] = basis_row(model, float(t[k]))
        Q = np.diag([cfg.m_err] * L + [cfg.phi_err] * (n + 1 - L))
        Q[-1, -1] = cfg.add_err
        mf = A @ m
        Pf = A @ P @ A.T + Q
        n += 1

        # measurement selection: pairs whose later epoch is exactly k and
        # whose value is finite (P5/P6 predicates, KF_class.py:201-206)
        sel = np.where((tp == k) & np.isfinite(obs))[0]
        if len(sel) > 0:
            nobs = len(sel)
            H = np.zeros((nobs, n))
            state_of = lambda s: L + (s - idx0)  # noqa: E731
            for r, i in enumerate(sel):
                H[r, state_of(tp[i])] = 1.0
                H[r, state_of(tm[i])] = -1.0
            D = obs[sel]
            Rm = np.eye(nobs) * cfg.sig_i**2
            nu = D - H @ mf
            S = Rm + H @ Pf @ H.T
            K = Pf @ H.T @ np.linalg.inv(S)
            m = mf + K @ nu
            P = Pf - K @ H @ Pf
            innov[k] = float(np.mean(nu))
        else:
            m, P = mf, Pf

        if k >= ts:
            n_drop = (len(m) - L) - ts
            if n_drop > 0:
                for d in range(n_drop):
                    phase[idx0 + d] = m[L + d]
                    std[idx0 + d] = np.sqrt(abs(P[L + d, L + d]))
                keep = list(range(L)) + list(range(L + n_drop, len(m)))
                m = m[keep]
                P = P[np.ix_(keep, keep)]
                idx0 += n_drop

    for d in range(len(m) - L):
        phase[idx0 + d] = m[L + d]
        std[idx0 + d] = np.sqrt(abs(P[L + d, L + d]))
    return {"phase": phase, "std": std, "innov": innov, "m": m, "P": P}
