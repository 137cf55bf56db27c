"""Per-doc Kalman smoother with bounded state, gap-fill, and retention —
the analytics kernel (SURVEY.md §2.5 W1-W3, §2.10).

Re-expresses the reference's per-pixel recursion
(/root/reference/kf/KF_class.py: predict :251-267, update :269-307,
state compaction ``reduce_sizes_m_P`` :337-378, main loop ``kf`` :468-580)
as a **batch-vectorized numpy kernel inside one mapInArrow operator**: each
doc arrives as one row (dense values or sparse steps/vals arrays), a batch of
rows becomes a (B docs × M steps) matrix, and the recursion runs once per
*step* with all B docs advanced simultaneously via batched linear algebra.
This works because the state-size evolution (grow by one phase per step,
compact to the last ``t_sep`` phases once ``k >= t_sep``) depends only on k,
never on the data — so every doc in the batch shares matrix shapes at every
step.

Semantics preserved from the reference:
- state = [L model params | trailing phases], first phase pinned to 0
  (``start_new``, kf/KF_class.py:129-137);
- predict appends the *model forecast* as the new phase: A = [[I],[basis(t_k)]]
  (``create_A``, kf/timefunction.py:299-312);
- process noise Q = diag(m_err·I_L, phi_err·I_phases, add_err on the newest
  phase) (``create_Q``, kf/KF_class.py:154-180);
- a step with no usable observation returns the forecast with inflated
  variance — the gap-fill (kf/KF_class.py:280-283);
- compaction archives phases older than ``t_sep`` with std = sqrt(|diag P|),
  dropping covariance cross-terms (kf/KF_class.py:337-378). The reference's
  ``(k%5==0) or (k_end-1)`` condition is always truthy (SURVEY.md §4) — i.e.
  compaction runs EVERY step; we implement that actual behavior.

One kernel, :func:`kalman_direct_batch`. Fully vectorized across docs; a
gap is a masked update (K := 0), which is *algebraically identical* to the
reference's skip-update branch. Its hot path is one scalar observation per
(doc, step) on the newest phase — gap-filling the rolled-up token-count
series. Given per-observation lags it also takes several observations per
step, each a difference phase(k) − phase(k − lag) over an incidence edge
(the interferogram case, ``create_H_R_and_D`` kf/KF_class.py:182-248).
Both go through one per-slot update: a direct observation is the lag-0
slot, and the lag terms and the innovation mean run only where a slot
carries a lag or a step carries several observations.

Spark execution: :func:`kalman_gapfill_wide` is the one adapter over the
batch kernel (cold start, resume from state, fit flags); :func:`to_wide`
builds its input from long (doc_id, step, [lag,] value) rows and
:func:`explode_kf_output` turns its arrays back into long rows.
:func:`kalman_pairs` is that chain over an edge list.

Scale notes: no shuffle beyond whatever built the doc-wide rows; state is
O((L+t_sep)²) per doc (reference bound: kfts.py:413, t_sep ≤ 10) → ~2 KB/doc;
kernel batches of ~10³ docs keep the Python-side work per task in vectorized
numpy.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.basis import (
    Model,
    basis_matrix,
    basis_row,
    n_params,
    param_schedule,
    resolve_model,
)


def _arrival_steps(model: Model, t: np.ndarray, dt: float) -> np.ndarray:
    """Per-param first live step for lazy growth: 0 for always-live params,
    else the first k with t[k] >= event_time − dt − width_allowance (the
    reference's ``expend_model`` trigger, kf/timefunction.py:487-557)."""
    sched = param_schedule(model)
    arr = np.zeros(len(sched), dtype=np.int64)
    for j, ev in enumerate(sched):
        if ev is not None:
            te, wd = ev
            arr[j] = int(np.searchsorted(t, te - dt - wd, side="left"))
    return arr


@dataclass(frozen=True)
class KFConfig:
    """Noise/model config — mirrors the INI [KALMAN FILTER SETUP] section
    (reference kfts.py:48-130)."""

    model: Model = field(default_factory=lambda: [("POLY", 1)])
    sig_y: float = 10.0  # mismodeling std (kfts.py sig_y)
    sig_i: float = 0.1  # observation std
    sig_a: float = 25.0  # a-priori param std (P0 = sig_a² I)
    m_err: float = 0.0  # process noise on params
    phi_err: float = 0.0  # process noise on archived phases
    t_sep: int = 4  # phases kept in state (reference default 6, cap 10)
    # lazy model growth (reference expend_model/expend_m_P,
    # kf/timefunction.py:487-557 + kf/KF_class.py:381-402,544-550): event
    # params enter the state only once event_time <= t + grow_dt (+width),
    # with a-priori variance grow_var (the reference hardcodes 70²)
    grow_dt: float | None = None
    grow_var: float = 4900.0
    # in-loop quality gate (reference ``check_fit``, kf/KF_class.py:319-333:
    # covariance-weighted post-fit residual res = Cres⁻¹·(y − H·X_analysed)
    # with Cres = R + H·P_analysed·Hᵀ, warned when |mean| > eps_interf).
    # Here the scalar residual's trailing mean over the last ``check_win``
    # observed steps is compared to ``check_eps``; the kernel emits a
    # per-doc flag + worst score instead of printing (the engine form of
    # the reference's only in-loop quality gate). ``None`` disables the
    # gate entirely — matching the reference, where check_fit runs only
    # under ``verbose`` (KF_class.py:303-304); the hot gap-fill path
    # stays gate-free by default.
    check_eps: float | None = None  # reference eps_interf default is 10
    check_win: int = 5

    @property
    def L(self) -> int:
        return n_params(self.model)

    @property
    def add_err(self) -> float:
        # variance inflation on the newest (forecast) phase = sig_y²
        # (reference kfts.py:344: add_err = sig_y**2)
        return self.sig_y**2


def kalman_direct_batch(
    values: np.ndarray,
    t: np.ndarray,
    cfg: KFConfig,
    init: dict | None = None,
    p0_diag: np.ndarray | None = None,
    lags: np.ndarray | None = None,
) -> dict[str, np.ndarray]:
    """Run the bounded-state KF over a (B, M) batch of series with NaN gaps.

    ``lags`` (B, M, J) ints makes ``values`` a (B, M, J) block of up to J
    observations per step (NaN = empty): lag 0 reads phase(k), lag l in
    [1, min(t_sep, k)] reads phase(k) − phase(k − l), an interferogram
    (``create_H_R_and_D``, kf/KF_class.py:182-248). They update one after
    another (exact for diagonal R); innov is the mean of their pre-update
    innovations, as in the reference. ``check_eps`` needs ``lags=None``.

    ``init`` resumes from a committed state snapshot (the reference's update
    mode, ``restart_from_file`` kf/KF_class.py:70-116): dict with keys
    X (B,n), P (B,n,n), idx0, k_done. Steps < idx0 were archived by the
    previous run and are not re-emitted; steps idx0..k_done−1 (the overlap
    still in state, reference ``tshift`` kf/readinput.py:539-541) are
    re-emitted with their refined values.

    ``p0_diag`` (B, L) overrides the a-priori parameter variances PER DOC —
    the earthquake-prior patch (reference ``earthquakeIntegration``,
    kfts.py:172-220: a thresholded Gaussian of the event amplitude around
    the epicentre; zero variance pins the param — "not optimized"). Applies
    at fresh init and to lazily-grown params.

    Returns dict with phase (B,M), std (B,M), innov (B,M), gap (B,M bool),
    m (B, n) final state, P (B, n, n) final covariance, idx0, k_done.
    """
    values = np.asarray(values, dtype=np.float64)
    B, M = values.shape[:2]
    vals = values[:, :, None] if lags is None else values  # (B, M, J)
    J = vals.shape[2]
    if lags is not None and cfg.check_eps is not None:
        raise ValueError("check_eps applies to direct observations only")
    L, ts = cfg.L, cfg.t_sep
    R = cfg.sig_i**2
    model = resolve_model(cfg.model, t)

    phase = np.full((B, M), np.nan)
    std = np.full((B, M), np.nan)
    innov = np.full((B, M), np.nan)
    gap = np.zeros((B, M), dtype=bool)

    # lazy model growth: per-param first live step (all 0 when disabled)
    grow = cfg.grow_dt is not None
    arr = (
        _arrival_steps(model, t, cfg.grow_dt)
        if grow
        else np.zeros(L, dtype=np.int64)
    )

    if init is not None:
        X = np.array(init["X"], dtype=np.float64)
        P = np.array(init["P"], dtype=np.float64)
        idx0 = int(init["idx0"])
        k_start = int(init["k_done"])
        n = X.shape[1]
        live = arr <= max(0, k_start - 1)
        L_live = int(live.sum())
        if L_live != n - (k_start - idx0):
            raise ValueError(
                "state width inconsistent with the model's growth schedule"
            )
    else:
        # init: params 0 with variance sig_a², phase_0 pinned to 0 (variance 0)
        live = arr == 0
        L_live = int(live.sum())
        n = L_live + 1
        X = np.zeros((B, n))
        P = np.zeros((B, n, n))
        dl = np.arange(L_live)
        if p0_diag is not None:
            P[:, dl, dl] = np.asarray(p0_diag, dtype=np.float64)[:, live]
        else:
            P[:, dl, dl] = cfg.sig_a**2
        # observation at step 0 defines the datum: phase_0 ≡ 0 exactly
        phase[:, 0] = 0.0
        std[:, 0] = 0.0
        idx0 = 0  # step index of the first phase currently in state
        k_start = 1

    bas = basis_matrix(model, t)  # (M, L)

    # Single persistent state buffer sized to the steady-state maximum
    # (L + t_sep + 1, right before compaction). The naive formulation
    # allocates ~10 fresh (B,n,n) arrays per step → tens of GB of page-
    # zeroing churn per task (measured as 90% kernel-time CPU with 32
    # workers); and even a ping-pong copy of P per step doubles memory
    # traffic — the kernel is bandwidth-bound at high core counts. All
    # updates below are strictly in place; compaction shifts through small
    # scratch blocks to avoid overlapping copies.
    n_max = max(n, L + ts) + 1
    Xb = np.zeros((B, n_max))
    Pb = np.zeros((B, n_max, n_max))
    Xb[:, :n] = X
    Pb[:, :n, :n] = P
    Cbuf = np.empty((B, n_max))
    Klast = np.empty((B, n_max))
    rowbuf = np.empty((B, n_max))
    scr = np.empty((B, n_max, n_max))
    X, P = Xb, Pb
    bi = np.arange(B)  # per-doc gathers of the lagged update

    L_trace = np.full(M, -1, dtype=np.int32)

    # LISEG a-priori adjustment schedule (reference adjust_apriori):
    # at flagged steps the next segment's slope re-inits from the previous
    # segment's current estimate, before the predict
    lsteps, l1, l2 = liseg_adjust_schedule(model, t)

    # check_fit state: ring buffer of the last check_win observed weighted
    # post-fit residuals per doc (only when the gate is enabled — the
    # reference computes this under `verbose` only)
    check = cfg.check_eps is not None
    W = max(1, int(cfg.check_win))
    if check:
        rbuf = np.full((B, W), np.nan)
        wpos = np.zeros(B, dtype=np.int64)
    fit_flag = np.zeros(B, dtype=bool)
    fit_max = np.zeros(B)

    for k in range(k_start, M):
        # ---- lazy growth: event params whose time is within grow_dt of
        # t[k] enter the state (zero mean, grow_var variance, inserted at
        # their model-order position — reference expend_m_P)
        if grow and L_live < L:
            for j in np.flatnonzero((arr <= k) & ~live):
                pos = int(live[:j].sum())
                ln = n - pos
                t1 = scr[:, 0, :ln]
                t1[:] = X[:, pos:n]
                X[:, pos + 1 : n + 1] = t1
                X[:, pos] = 0.0
                t2 = scr[:, :ln, :n]
                t2[:] = P[:, pos:n, :n]
                P[:, pos + 1 : n + 1, :n] = t2
                P[:, pos, : n + 1] = 0.0
                t3 = scr[:, : n + 1, :ln]
                t3[:] = P[:, : n + 1, pos:n]
                P[:, : n + 1, pos + 1 : n + 1] = t3
                P[:, : n + 1, pos] = 0.0
                P[:, pos, pos] = (
                    np.asarray(p0_diag, dtype=np.float64)[:, j]
                    if p0_diag is not None
                    else cfg.grow_var
                )
                live[j] = True
                L_live += 1
                n += 1

        # ---- LISEG segment hand-off (kf/KF_class.py:523-525): mean-only
        # substitution m[i2] = m[i1], full-model indices mapped to live
        # positions (LISEG params are always live; growth inserts shift them)
        if k in lsteps:
            posmap = np.cumsum(live) - 1
            X[:, posmap[l2]] = X[:, posmap[l1]]

        b = bas[k][live] if grow else bas[k]  # (L_live,)
        # ---- predict: append model-forecast phase (blocked A = [[I],[b,0…]])
        # C/v_new from pre-Q P (== A P Aᵀ border), then Q on the diagonal
        C = Cbuf[:, :n]
        np.einsum("l,bln->bn", b, P[:, :L_live, :n], out=C)  # cov(new, state)
        v_new = np.einsum("l,blm,m->b", b, P[:, :L_live, :L_live], b) + cfg.add_err
        np.einsum("bl,l->b", X[:, :L_live], b, out=X[:, n])
        if cfg.m_err:
            dl = np.arange(L_live)
            P[:, dl, dl] += cfg.m_err
        if cfg.phi_err:
            P[:, np.arange(L_live, n), np.arange(L_live, n)] += cfg.phi_err
        P[:, n, :n] = C
        P[:, :n, n] = C
        P[:, n, n] = v_new
        n += 1

        # ---- update: slot j observes H = e_last − e_pos, pos = last − lag
        # (a direct observation, lag 0, has H = e_last); a step's slots
        # update one after another, which is exact for the diagonal R
        if J > 1:
            # innov is the mean of the step's pre-update innovations
            ys = vals[:, k]
            has = np.isfinite(ys)
            ls = lags[:, k].astype(np.intp)
            hx0 = X[:, n - 1, None] - np.where(ls > 0, X[bi[:, None], n - 1 - ls], 0.0)
            cnt = has.sum(axis=1)
            nu0 = np.where(has, ys - hx0, 0.0).sum(axis=1)
            innov[:, k] = np.where(cnt > 0, nu0 / np.maximum(cnt, 1), np.nan)
            gap[:, k] = cnt == 0
        for j in range(J) if J == 1 else np.flatnonzero(has.any(axis=0)):
            y = vals[:, k, j]
            obs = np.isfinite(y)
            nobs = ~obs  # hoisted: used three times below
            K = Klast[:, :n]
            last_row = rowbuf[:, :n]
            last_row[:] = P[:, n - 1, :n]  # H·P, copied before the in-place update
            hx = X[:, n - 1]
            lag = None if lags is None else lags[:, k, j].astype(np.intp)
            if lag is None or not lag.any():
                S = P[:, n - 1, n - 1] + R  # (B,)
                np.divide(P[:, :n, n - 1], S[:, None], out=K)
            else:
                d, p = lag > 0, n - 1 - lag
                K[:] = P[:, :n, n - 1]  # P·Hᵀ, divided by S below
                K -= np.where(d[:, None], P[bi, :n, p], 0.0)
                last_row -= np.where(d[:, None], P[bi, p, :n], 0.0)
                hx = hx - np.where(d, X[bi, p], 0.0)
                S = K[:, n - 1] - np.where(d, K[bi, p], 0.0) + R
                np.divide(K, S[:, None], out=K)
            nu = np.where(obs, y - hx, np.nan)
            K[nobs] = 0.0  # gap → no update (== reference forecast-only branch)
            X[:, :n] += K * np.where(obs, nu, 0.0)[:, None]
            prod = scr[:, :n, :n]
            np.multiply(K[:, :, None], last_row[:, None, :], out=prod)
            P[:, :n, :n] -= prod
        if J == 1:
            innov[:, k] = nu
            gap[:, k] = nobs

        # ---- check_fit (reference kf/KF_class.py:319-333): weighted
        # POST-fit residual against the analysed state/covariance
        if check:
            oi = np.flatnonzero(obs)
            if oi.size:
                r_post = (y[oi] - X[oi, n - 1]) / (P[oi, n - 1, n - 1] + R)
                rbuf[oi, wpos[oi] % W] = r_post
                wpos[oi] += 1
                mean_r = np.abs(np.nanmean(rbuf[oi], axis=1))
                fit_flag[oi] |= mean_r > cfg.check_eps
                fit_max[oi] = np.maximum(fit_max[oi], mean_r)

        # ---- compaction every step (reference's always-true condition)
        if k >= ts:
            n_drop = (n - L_live) - ts
            if n_drop == 1:
                # steady-state fast path: one archived phase per step.
                # Same stores as the general branch below, with scalar
                # indexing instead of arange/fancy-index temporaries — the
                # loop is numpy-dispatch-bound on long grids (59 us/step at
                # B=5; this path removes 5 allocations per step).
                phase[:, idx0] = X[:, L_live]
                std[:, idx0] = np.sqrt(np.abs(P[:, L_live, L_live]))
                nk = n - 1
                t1 = scr[:, 0, :ts]
                t1[:] = X[:, L_live + 1 : n]
                X[:, L_live:nk] = t1
                t2 = scr[:, :n, :ts]
                t2[:] = P[:, :n, L_live + 1 : n]
                P[:, :n, L_live:nk] = t2
                t3 = scr[:, :ts, :nk]
                t3[:] = P[:, L_live + 1 : n, :nk]
                P[:, L_live:nk, :nk] = t3
                idx0 += 1
                n = nk
            elif n_drop > 0:
                steps = np.arange(idx0, idx0 + n_drop)
                phase[:, steps] = X[:, L_live : L_live + n_drop]
                dvar = P[
                    :,
                    np.arange(L_live, L_live + n_drop),
                    np.arange(L_live, L_live + n_drop),
                ]
                std[:, steps] = np.sqrt(np.abs(dvar))
                nk = n - n_drop
                # shift kept phases up/left via scratch (overlap-safe)
                t1 = scr[:, 0, :ts]
                t1[:] = X[:, L_live + n_drop : n]
                X[:, L_live:nk] = t1
                t2 = scr[:, :n, :ts]
                t2[:] = P[:, :n, L_live + n_drop : n]
                P[:, :n, L_live:nk] = t2
                t3 = scr[:, :ts, :nk]
                t3[:] = P[:, L_live + n_drop : n, :nk]
                P[:, L_live:nk, :nk] = t3
                idx0 += n_drop
                n = nk
        L_trace[k] = L_live

    X = Xb[:, :n].copy()
    P = Pb[:, :n, :n].copy()

    # ---- flush remaining phases (reference kf() epilogue, KF_class.py:561-565)
    # state (X, P) is NOT modified by the flush — it remains resumable
    rem = n - L_live
    steps = np.arange(idx0, idx0 + rem)
    phase[:, steps] = X[:, L_live:]
    pv = P[:, np.arange(L_live, n), np.arange(L_live, n)]
    std[:, steps] = np.sqrt(np.abs(pv))

    return {
        "phase": phase,
        "std": std,
        "innov": innov,
        "gap": gap,
        "m": X,
        "P": P,
        "idx0": idx0,
        "k_done": M,
        "L_trace": L_trace,
        "fit_flag": fit_flag,
        "fit_max": fit_max,
    }


# --------------------------------------------------------------------------
# Independent dense oracle — deliberately written with explicit A/Q/H
# matrices and np.linalg, mirroring the reference line-by-line, to validate
# the blocked batch kernel above. Test-only; never in the hot path.
# --------------------------------------------------------------------------
def kalman_direct_oracle(
    y: np.ndarray,
    t: np.ndarray,
    cfg: KFConfig,
    p0_diag: np.ndarray | None = None,
) -> dict[str, np.ndarray]:
    y = np.asarray(y, dtype=np.float64)
    M = len(y)
    L, ts = cfg.L, cfg.t_sep
    model = resolve_model(cfg.model, t)  # grid-dependent spline norms
    phase = np.full(M, np.nan)
    std = np.full(M, np.nan)
    innov = np.full(M, np.nan)

    grow = cfg.grow_dt is not None
    arr = (
        _arrival_steps(model, t, cfg.grow_dt)
        if grow
        else np.zeros(L, dtype=np.int64)
    )
    live = arr == 0
    L_live = int(live.sum())

    m = np.zeros(L_live + 1)  # live params + phase0 (pinned 0)
    if p0_diag is not None:
        P = np.diag(list(np.asarray(p0_diag, dtype=np.float64)[live]) + [0.0])
    else:
        P = np.diag([cfg.sig_a**2] * L_live + [0.0])
    idx0 = 0
    phase[0], std[0] = 0.0, 0.0
    L_trace = np.full(M, -1, dtype=np.int32)

    # check_fit, explicit-matrix form (reference kf/KF_class.py:319-333)
    fit_res: list[float] = []
    fit_flag = False
    fit_max = 0.0

    lsteps, l1, l2 = liseg_adjust_schedule(model, t)

    for k in range(1, M):
        if grow:
            for j in np.flatnonzero((arr <= k) & ~live):
                pos = int(live[:j].sum())
                m = np.insert(m, pos, 0.0)
                P = np.insert(np.insert(P, pos, 0.0, axis=0), pos, 0.0, axis=1)
                P[pos, pos] = (
                    float(p0_diag[j]) if p0_diag is not None else cfg.grow_var
                )
                live[j] = True
                L_live += 1
        # LISEG segment hand-off (kf/KF_class.py:523-525), mean-only.
        # NON-CHAINED like the reference's vectorized m[i2] = m[i1] (the
        # RHS is evaluated before any assignment): fancy indexing copies
        # all sources first, so with >= 2 pairs firing at one step the
        # second pair reads the ORIGINAL m[l1[1]], not the value pair
        # one just substituted. A sequential Python loop would chain.
        if k in lsteps:
            posmap = np.cumsum(live) - 1
            m[posmap[l2]] = m[posmap[l1]]
        n = len(m)
        A = np.vstack([np.eye(n), np.zeros(n)])
        A[n, :L_live] = basis_row(model, float(t[k]))[live]
        Q = np.diag([cfg.m_err] * L_live + [cfg.phi_err] * (n + 1 - L_live))
        Q[-1, -1] = cfg.add_err
        mf = A @ m
        Pf = A @ P @ A.T + Q

        if np.isfinite(y[k]):
            H = np.zeros((1, n + 1))
            H[0, -1] = 1.0
            nu = y[k] - (H @ mf)[0]
            S = np.array([[cfg.sig_i**2]]) + H @ Pf @ H.T
            K = Pf @ H.T @ np.linalg.inv(S)
            m = mf + (K @ [[nu]]).ravel()
            P = Pf - K @ H @ Pf
            innov[k] = nu
            if cfg.check_eps is not None:
                # Cres = R + H P Hᵀ on the ANALYSED covariance; residual
                # on the analysed state — exactly the reference check_fit
                Cres = np.array([[cfg.sig_i**2]]) + H @ P @ H.T
                res = float(
                    (np.linalg.inv(Cres) @ [[y[k] - (H @ m)[0]]])[0, 0]
                )
                fit_res.append(res)
                mean_r = abs(
                    float(np.mean(fit_res[-max(1, int(cfg.check_win)):]))
                )
                fit_flag = fit_flag or mean_r > cfg.check_eps
                fit_max = max(fit_max, mean_r)
        else:
            m, P = mf, Pf

        if k >= ts:
            n_drop = (len(m) - L_live) - ts
            if n_drop > 0:
                for d in range(n_drop):
                    phase[idx0 + d] = m[L_live + d]
                    std[idx0 + d] = np.sqrt(abs(P[L_live + d, L_live + d]))
                keep = list(range(L_live)) + list(range(L_live + n_drop, len(m)))
                m = m[keep]
                P = P[np.ix_(keep, keep)]
                idx0 += n_drop
        L_trace[k] = L_live

    for d in range(len(m) - L_live):
        phase[idx0 + d] = m[L_live + d]
        std[idx0 + d] = np.sqrt(abs(P[L_live + d, L_live + d]))
    return {
        "phase": phase,
        "std": std,
        "innov": innov,
        "m": m,
        "P": P,
        "L_trace": L_trace,
        "fit_flag": fit_flag,
        "fit_max": fit_max,
    }


def liseg_adjust_schedule(
    model: Model, t: np.ndarray
) -> tuple[set, np.ndarray, np.ndarray]:
    """The LISEG a-priori adjustment schedule (reference ``adjust_apriori``,
    kfts.py:222-249 + its consumer kf/KF_class.py:523-525): for each LISEG
    element with ≥ 2 slopes, flag the first grid step strictly after each
    segment boundary from the second one on, pairing the previous
    segment's slope index with the next's. At a flagged step the filter
    sets m[i2] = m[i1] BEFORE the predict — the next segment's slope
    starts from the previous segment's current estimate instead of the
    null init (the reference's covariance substitution is commented out
    there; we replicate the shipped mean-only form, including the quirk
    that ALL pairs re-substitute at EVERY flagged time).

    Returns (flag_steps, i1, i2) with i1/i2 FULL-MODEL param indices
    (mapped to live positions at run time when lazy growth is active)."""
    base = 0
    steps: set = set()
    l1: list[int] = []
    l2: list[int] = []
    t = np.asarray(t, dtype=np.float64)
    for mod in model:
        if mod[0] == "LISEG":
            idx = list(range(base, base + len(mod)))
            if len(idx) > 2:
                for i, tb in enumerate(mod[2:]):
                    after = np.flatnonzero(t > float(tb))
                    if len(after) == 0:
                        continue
                    steps.add(int(after[0]))
                    l1.append(idx[i + 1])
                    l2.append(idx[i + 2])
        base += n_params([mod])
    return steps, np.asarray(l1, dtype=np.int64), np.asarray(l2, dtype=np.int64)


def liseg_prior_columns(model: Model, sig_a: float, seg_sigmas: list):
    """Per-doc a-priori variance array for LISEG models feeding the
    kernel's ``p0_diag`` (the LISEG counterpart of
    :func:`earthquake_prior_columns`; reference per-param ``sig_a`` list,
    kfts.py:117-129,211): non-LISEG params keep sig_a²; within each LISEG
    element the constant a0 keeps sig_a² and segment slope j takes
    ``seg_sigmas[j]²``. A ZERO sigma pins that segment's slope at its
    initialization ("parameter not optimized" — same convention as the
    earthquake prior's sub-threshold zeros). Entries are floats or
    Columns (per-doc priors — the J4 broadcast shape)."""
    from pyspark.sql import Column

    cols = []
    for mod in model:
        if mod[0] == "LISEG":
            nseg = len(mod) - 1
            cols.append(F.lit(float(sig_a) ** 2))  # the constant a0
            for j in range(nseg):
                s = seg_sigmas[j]
                s = s if isinstance(s, Column) else F.lit(float(s))
                cols.append(s * s)
        else:
            cols.extend(
                F.lit(float(sig_a) ** 2) for _ in range(n_params([mod]))
            )
    return F.array(*cols)


def earthquake_prior_columns(
    model: Model, x, y, events: list[dict], sig_a: float
):
    """Per-doc a-priori variance array feeding the kernel's ``p0_diag`` —
    the earthquake-prior patch of P0 (reference ``earthquakeIntegration``,
    kfts.py:172-220 + kf/utils/earthquake2step.py:196-204).

    Base params keep sig_a²; each STEP event param gets the thresholded
    Gaussian amp²·exp(−((x0−x)² + (y0−y)²)/(2·width²)) around its
    epicentre, with values < 1 set to 0 ("parameter not optimized" for
    far docs — a zero prior pins the amplitude at 0). ``events`` is a list
    of {"x","y","amp","width"} dicts parallel to the model's STEP times in
    order. Pure Column expressions over the doc coordinates (x, y) —
    the tiny event table is plan-time metadata, the J4 broadcast shape.
    """
    cols = []
    ev = iter(events)
    for mod in model:
        kind = mod[0]
        if kind == "STEP":
            for _t0 in mod[1:]:
                e = next(ev)
                d2 = (F.lit(float(e["x"])) - x) * (F.lit(float(e["x"])) - x) + (
                    F.lit(float(e["y"])) - y
                ) * (F.lit(float(e["y"])) - y)
                g = F.lit(float(e["amp"]) ** 2) * F.exp(
                    -d2 / F.lit(2.0 * float(e["width"]) ** 2)
                )
                cols.append(F.when(g < 1.0, F.lit(0.0)).otherwise(g))
        else:
            cols.extend(
                F.lit(float(sig_a) ** 2) for _ in range(n_params([mod]))
            )
    return F.array(*cols)


def retire_params(
    X: np.ndarray, P: np.ndarray, model: Model, t_start: float, dtmax: float
) -> tuple[Model, np.ndarray, np.ndarray]:
    """Param retirement / state-TTL fold at restart (the reference's
    ``identify_outdated`` + ``remove_oldstuff``, kf/timefunction.py:559-664):
    STEP amplitudes of events older than ``t_start − dtmax`` are folded into
    the POLY constant term, removed from the state, and the constant is
    FIXED (its variance and covariances zeroed — treated as converged).

    X: (B, n) states, P: (B, n, n) covariances (batch across docs).
    Returns (reduced_model, X', P'). Reference no-op conditions replicated:
    a series starting earlier than dtmax keeps the full model.
    """
    X = np.atleast_2d(np.asarray(X, dtype=np.float64))
    P = np.asarray(P, dtype=np.float64)
    if P.ndim == 2:
        P = P[None]
    if t_start < dtmax:  # reference: "existing model agrees" (no-op)
        return model, X, P

    cst = None
    idx = 0
    drop: list[int] = []
    newmodel: Model = []
    for mod in model:
        k_el = n_params([mod])
        if mod[0] == "POLY" and cst is None:
            cst = idx
        if mod[0] == "STEP":
            keep_times = [
                t0 for i, t0 in enumerate(mod[1:]) if not t_start > t0 + dtmax
            ]
            drop.extend(
                idx + i
                for i, t0 in enumerate(mod[1:])
                if t_start > t0 + dtmax
            )
            if keep_times:
                newmodel.append(("STEP", *keep_times))
        else:
            newmodel.append(mod)
        idx += k_el
    if cst is None or not drop:
        return model, X, P

    dY = X[:, drop].sum(axis=1)
    keep = [j for j in range(X.shape[1]) if j not in drop]
    cst_new = cst - sum(1 for j in drop if j < cst)
    Xn = X[:, keep].copy()
    Pn = P[:, keep][:, :, keep].copy()
    Xn[:, cst_new] += dY
    Pn[:, cst_new, :] = 0.0
    Pn[:, :, cst_new] = 0.0
    return newmodel, Xn, Pn


# --------------------------------------------------------------------------
# Spark operator: ONE mapInArrow adapter over doc-wide rows. Long-form series
# reach it through to_wide(); explode_kf_output() turns its arrays back into
# long rows JVM-side. No shuffle beyond whatever built the wide rows,
# and no per-row Python anywhere.
# --------------------------------------------------------------------------
KF_WIDE_OUTPUT = (
    "doc_id string, emit0 int, phase array<double>, std array<double>, "
    "innov array<double>, gap array<boolean>, fit_flag boolean, fit_max double"
)
KF_WIDE_STATE = (
    KF_WIDE_OUTPUT + ", k_done int, idx0 int, m array<double>, P array<double>"
)


def to_wide(long: DataFrame) -> DataFrame:
    """(doc_id, step, value) long rows → one sparse row per doc:
    (doc_id, steps array<int>, vals array<double>), sorted by step; NULL
    values are gaps. The adapter densifies it with an O(n) numpy scatter —
    a JVM-side dense build via per-position lookups is O(n²) per series
    (measured as the gap-fill stage's entire cost on a 4.5k-step grid).

    An optional ``lag`` column adds ``lags array<int>`` (sorted by step,
    then lag): the row at ``step`` observes phase(step) − phase(step − lag);
    a NULL lag is a direct observation."""
    cols = {"step": ("int", "steps"), "value": ("double", "vals")}
    if "lag" in long.columns:
        cols = {"step": cols["step"], "lag": ("int", "lags"), "value": cols["value"]}
    ent = F.array_sort(
        F.collect_list(
            F.struct(*(F.col(c).cast(t).alias(c) for c, (t, _) in cols.items()))
        )
    )
    return long.groupBy("doc_id").agg(ent.alias("_e")).select(
        "doc_id", *(F.col(f"_e.{c}").alias(name) for c, (_, name) in cols.items())
    )


def kalman_gapfill_wide(
    series_wide: DataFrame,
    t_grid: np.ndarray,
    cfg: KFConfig | None = None,
    with_state: bool = False,
    min_batch_docs: int = 1000,
) -> DataFrame:
    """The Spark execution of :func:`kalman_direct_batch`: mapInArrow over
    one row per doc.

    Input: ``doc_id`` plus either dense ``values array<double>`` (one
    element per grid step) or sparse ``steps array<int>, vals
    array<double>`` and optional ``lags array<int>`` (see :func:`to_wide`);
    NULL elements and NULL arrays are gaps, a NULL lag is a direct
    observation. Optional ``k_done, idx0, m, P`` resume a doc from a committed
    state snapshot (reference update mode, ``restart_from_file``
    kf/KF_class.py:70-116); rows whose state is NULL cold-start from the
    grid origin. A resumed doc's idx0 and state width follow from the grid
    alone, so all resumed rows share one (k_done, idx0, width); resumed
    rows that disagree on it raise ``ValueError`` naming a doc.

    Output: ``doc_id, emit0, phase[], std[], innov[], gap[], fit_flag,
    fit_max`` — the arrays cover steps [emit0, M): a resumed doc re-emits
    only [idx0_prev, M) (earlier steps were published by earlier runs), a
    cold doc the full grid; innov is NaN at steps without an observation.
    ``with_state`` appends the resumable ``k_done, idx0, m, P`` from the
    same kernel run. A step outside [0, M), a lag outside [0, min(t_sep,
    step)], a repeated step in a frame without lags, a dense row whose
    length is not M, or ``check_eps`` on a doc with a lagged or repeated
    step raises ``ValueError`` naming the doc. Only batches where a row
    carries a lag or two observations share a step build the (B, M, J)
    block, over fewer docs per kernel batch.

    The Arrow exchange moves one row per doc, not one per (doc, step):
    measured ~10× cheaper than the long layout, whose per-row JVM
    serialization did not scale with cores.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    cfg = cfg or KFConfig()
    t_grid = np.asarray(t_grid, dtype=np.float64)
    M = len(t_grid)
    sparse = "steps" in series_wide.columns
    lagged = sparse and "lags" in series_wide.columns
    has_state = "k_done" in series_wide.columns

    def flat(col) -> np.ndarray:
        # list elements → one numpy buffer (NULL → NaN); NULL lists skipped
        return col.flatten().to_numpy(zero_copy_only=False)

    def fail(rb: "pa.RecordBatch", r, msg):
        raise ValueError(f"doc {rb.column('doc_id')[int(r)].as_py()!r}: {msg}")

    def lists(mat: np.ndarray) -> "pa.ListArray":
        B, W = mat.shape
        offs = pa.array(np.arange(0, (B + 1) * W, W, dtype=np.int32))
        return pa.ListArray.from_arrays(offs, pa.array(mat.ravel()))

    def densify(rb: "pa.RecordBatch"):
        """Yields (rows, values, lags): the batch's (B, M) values with lags
        None; or, when a row carries a lag or two observations share a
        step, (B', M, J) blocks and their lags over slices of B' ≈
        min_batch_docs / J rows, so a block holds about as many cells as
        a direct batch."""
        B = rb.num_rows
        if not sparse:
            col = rb.column("values")
            lens = pc.list_value_length(col).fill_null(M).to_numpy()
            bad = np.flatnonzero(lens != M)
            if len(bad):
                fail(rb, bad[0], f"{lens[bad[0]]} values for a {M}-step grid")
            values = np.full((B, M), np.nan)
            valid = col.is_valid().to_numpy(zero_copy_only=False)
            values[valid] = flat(col).reshape(-1, M)
            yield rb, values, None
            return
        steps = rb.column("steps")
        lens = pc.list_value_length(steps).fill_null(0).to_numpy()
        row = np.repeat(np.arange(B), lens)  # ascending: entries are row-major
        k = flat(steps).astype(np.int64)
        bad = np.flatnonzero((k < 0) | (k >= M))
        if len(bad):
            fail(rb, row[bad[0]], f"step {k[bad[0]]} lies outside the grid [0, {M})")
        vals = flat(rb.column("vals"))
        key = row * M + k
        J, lag = 1, None
        if not lagged:
            if not (np.diff(key) > 0).all():  # unsorted or repeated steps
                srt = np.sort(key)
                rep = np.flatnonzero(np.diff(srt) == 0)
                if len(rep):
                    r, st = divmod(int(srt[rep[0]]), M)
                    fail(rb, r, f"step {st} repeats; several observations of "
                         "one step need a lags column")
        else:
            lc = rb.column("lags")
            given = lc.is_valid().to_numpy(zero_copy_only=False)
            bad = np.flatnonzero(
                given & (pc.list_value_length(lc).fill_null(0).to_numpy() != lens)
            )
            if len(bad):
                fail(rb, bad[0], "lags and steps differ in length")
            lag = np.zeros(len(k), dtype=np.int64)  # NULL lag: direct
            lag[np.repeat(given, lens)] = np.nan_to_num(flat(lc).astype(np.float64))
            bad = np.flatnonzero((lag < 0) | (lag > cfg.t_sep) | (lag > k))
            if len(bad):
                i = bad[0]
                fail(rb, row[i], f"lag {lag[i]} at step {k[i]} lies outside "
                     f"[0, min(t_sep={cfg.t_sep}, step)]")
            # slot = rank of the observation among its (doc, step)'s
            order = np.argsort(key, kind="stable")
            slot = np.empty_like(order)
            slot[order] = np.arange(len(k)) - np.searchsorted(key[order], key[order])
            J = int(slot.max()) + 1 if len(k) else 1
        if J == 1 and (lag is None or not lag.any()):
            values = np.full((B, M), np.nan)
            values[row, k] = vals
            yield rb, values, None
            return
        if cfg.check_eps is not None:
            i = np.flatnonzero((lag > 0) | (slot > 0))[0]
            fail(rb, row[i], f"check_eps applies to direct observations only; "
                 f"step {k[i]} is lagged or repeated")
        cap = max(1, min_batch_docs // J)
        ldt = np.min_scalar_type(-cfg.t_sep)  # smallest int holding [0, t_sep]
        for s in range(0, B, cap):
            b = min(cap, B - s)
            e = slice(*np.searchsorted(row, [s, s + b]))
            block = np.full((b, M, J), np.nan)
            lags = np.zeros((b, M, J), dtype=ldt)
            block[row[e] - s, k[e], slot[e]] = vals[e]
            lags[row[e] - s, k[e], slot[e]] = lag[e]
            yield rb.slice(s, b), block, lags

    def emit(docs, values, lags, init: dict | None) -> "pa.RecordBatch":
        res = kalman_direct_batch(values, t_grid, cfg, init=init, lags=lags)
        B = len(values)
        e0 = int(init["idx0"]) if init is not None else 0
        cols = {
            "doc_id": docs,
            "emit0": pa.array(np.full(B, e0, dtype=np.int32)),
            "phase": lists(res["phase"][:, e0:]),
            "std": lists(res["std"][:, e0:]),
            "innov": lists(res["innov"][:, e0:]),
            "gap": lists(res["gap"][:, e0:]),
            "fit_flag": pa.array(res["fit_flag"]),
            "fit_max": pa.array(res["fit_max"]),
        }
        if with_state:
            cols["k_done"] = pa.array(np.full(B, res["k_done"], dtype=np.int32))
            cols["idx0"] = pa.array(np.full(B, res["idx0"], dtype=np.int32))
            cols["m"] = lists(res["m"])
            cols["P"] = lists(res["P"].reshape(B, -1))
        return pa.RecordBatch.from_pydict(cols)

    def kernel(rb: "pa.RecordBatch", values, lags):
        def part(sel):
            return values[sel], None if lags is None else lags[sel]
        docs = rb.column("doc_id")
        resumed = (
            rb.column("k_done").is_valid().to_numpy(zero_copy_only=False)
            if has_state
            else np.zeros(rb.num_rows, dtype=bool)
        )
        cold = np.flatnonzero(~resumed)
        if len(cold):
            yield emit(docs.take(cold), *part(cold), None)
        if not resumed.any():
            return
        sel = np.flatnonzero(resumed)
        m = rb.column("m").take(sel)
        keys = np.column_stack(
            [rb.column(c).take(sel).to_numpy(zero_copy_only=False) for c in ("k_done", "idx0")]
            + [pc.list_value_length(m).to_numpy(zero_copy_only=False)]
        ).astype(np.int64)
        bad = np.flatnonzero((keys != keys[0]).any(axis=1))
        if len(bad):
            fail(rb, sel[bad[0]], f"resumes from (k_done, idx0, width) = "
                 f"{tuple(keys[bad[0]].tolist())}, another doc of its batch "
                 f"from {tuple(keys[0].tolist())}")
        k_done, idx0, n = keys[0].tolist()
        P = flat(rb.column("P").take(sel)).reshape(-1, n, n)
        init = {"X": flat(m).reshape(-1, n), "P": P, "idx0": idx0, "k_done": k_done}
        yield emit(docs.take(sel), *part(sel), init)

    def run(batches):
        buf: list = []
        buffered = 0

        def flush():
            # kernel batches are sized to min_batch_docs, not to whatever
            # the scan's Arrow batching delivered: per-doc state/covariance
            # buffers for ~1000 docs fit cache, and both smaller (dispatch-
            # bound) and larger (cache-miss-bound) batches measured slower
            # (B sweep: 1.35/1.49/1.56/1.43/1.28 M pts/s/core at
            # B=250/500/1000/2000/4000). Docs are independent in the batch
            # axis, so the split is value-exact.
            rb = pa.Table.from_batches(buf).combine_chunks().to_batches()[0]
            for s in range(0, rb.num_rows, min_batch_docs):
                for sub, values, lags in densify(rb.slice(s, min_batch_docs)):
                    yield from kernel(sub, values, lags)

        for rb in batches:
            if rb.num_rows == 0:
                continue
            buf.append(rb)
            buffered += rb.num_rows
            if buffered >= min_batch_docs:
                yield from flush()
                buf, buffered = [], 0
        if buffered:
            yield from flush()

    return series_wide.mapInArrow(
        run, schema=KF_WIDE_STATE if with_state else KF_WIDE_OUTPUT
    )


def kalman_pairs(
    pairs: DataFrame,
    t_grid: np.ndarray,
    cfg: KFConfig | None = None,
) -> DataFrame:
    """The pairs (interferogram) mode: pairs(doc_id, t_minus, t_plus,
    obs_value) → long KF rows. Each observation is a phase difference over
    an incidence edge (J1 measurement selection, kf/KF_class.py:182-248),
    run through :func:`to_wide` → :func:`kalman_gapfill_wide` →
    :func:`explode_kf_output` with lag = t_plus − t_minus. The check_fit
    gate scores direct observations only, so ``cfg.check_eps`` must be
    None: a pair under it raises ``ValueError`` naming the doc."""
    long = pairs.select(
        "doc_id",
        F.col("t_plus").alias("step"),
        (F.col("t_plus") - F.col("t_minus")).alias("lag"),
        F.col("obs_value").alias("value"),
    )
    return explode_kf_output(kalman_gapfill_wide(to_wide(long), t_grid, cfg), t_grid)


def explode_kf_output(
    wide: DataFrame, t_grid: np.ndarray, with_t: bool = True
) -> DataFrame:
    """Adapter output (doc_id, emit0, phase[], std[], innov[], gap[]) → long
    rows (doc_id, step, t, phase, std, innov, gap_filled), one per (doc,
    step) — the relational Phases.h5/Updates.h5 (kf/readinput.py:560-612) —
    entirely JVM-side; emit0 is the absolute step of each row's first
    array element. The epoch axis joins in from a broadcast
    (step, t) grid table — an inline array literal here costs a full array
    construction per OUTPUT row (measured: it WAS the explode stage's
    entire cost on long grids).

    ``with_t=False`` skips the grid join entirely for consumers that drop
    ``t`` (the pipeline's gap-tier writer derives bucket_es from the step
    index and never stores t): every emitted step lies in [0, M) by
    construction, so the inner join never filters — removing it removes a
    45k-row broadcast build plus one hash probe per output row per run."""
    long = wide.select(
        "doc_id",
        "emit0",
        F.posexplode(F.arrays_zip("phase", "std", "innov", "gap")).alias(
            "pos", "z"
        ),
    ).select(
        "doc_id",
        (F.col("pos") + F.col("emit0")).cast("int").alias("step"),
        F.col("z.phase").alias("phase"),
        F.col("z.std").alias("std"),
        # NULL where a step had no innovation
        F.nanvl(F.col("z.innov"), F.lit(None).cast("double")).alias("innov"),
        F.col("z.gap").alias("gap_filled"),
    )
    if not with_t:
        return long
    t_vals = [float(t) for t in np.asarray(t_grid)]
    grid_df = wide.sparkSession.createDataFrame(
        list(enumerate(t_vals)), "step int, t double"
    )
    return long.join(F.broadcast(grid_df), "step").select(
        "doc_id", "step", "t", "phase", "std", "innov", "gap_filled"
    )
