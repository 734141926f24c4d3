"""Learned in-cell search: CDF + taut-string spline fit + exact probe.

This is the engine's analog of the reference's ``SplineCell``
(include/partition_cells/Spline.hpp) and its spline utilities
(include/utils/SplineUtil.h), re-expressed as batched NumPy kernels that
run over one grid cell at a time (the fit inside ``applyInPandas``, the
probes inside ``core._probe``'s one ``mapInPandas``):

* CDF: one knot per *distinct* y at that run's LAST index — mirrors
  ``CdfOnTheFlyInterfaceY`` (include/utils/SplineUtil.h:170-213);
* fit: greedy taut-string (error-corridor) piecewise-linear approximation
  with max position error <= EPSILON — mirrors ``tautString``
  (include/utils/SplineUtil.h:219-261) invoked with SPLINE_SIZE=32
  (include/partition_cells/Spline.hpp:39-47);
* tiny cells fall back to linear scan below
  FALLBACK_TO_LINEAR_SCAN_THRESHHOLD=100 (Spline.hpp:10,34-37);
* probe: interpolate the spline to an estimated position
  (Spline.hpp:385-453) then repair to the exact bound.  The reference
  repairs with unbounded linear over/under-shot scans
  (Spline.hpp:476-520); we bisect a window around the estimate (first
  eps + 2 either side, widened 4x until the bound is interior or meets
  the array edge) in lock-step across the whole query batch —
  identical results, bounded worst case.

A radix hint table (Spline.hpp:349-383) only accelerates spline-segment
location; ``np.searchsorted`` over the knot keys is result-identical
(Spline.hpp:424-430 falls through to lower_bound anyway), so we use that
(SURVEY.md §2.6 L4).

Results are exact: the spline is an accelerator, never a filter.
"""

from __future__ import annotations

import math

import numpy as np

SPLINE_EPSILON = 32  # include/partition_cells/Spline.hpp:39-42 (SPLINE_SIZE)
LINEAR_SCAN_THRESHOLD = 100  # include/partition_cells/Spline.hpp:10


def build_cdf(y_sorted: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Monotone CDF knots over a y-sorted array.

    One (key, position) pair per distinct y, position = LAST index of the
    run (include/utils/SplineUtil.h:170-213), plus the final point.
    """
    n = y_sorted.shape[0]
    if n == 0:
        return np.empty(0), np.empty(0, dtype=np.int64)
    last_of_run = np.flatnonzero(np.diff(y_sorted) != 0)
    idx = np.concatenate([last_of_run, [n - 1]])
    return y_sorted[idx], idx.astype(np.int64)


def _corridor(base_k: float, base_p: float, k: float, p: float, eps: float) -> tuple[float, float, bool]:
    """Corridor slope bounds from base to (k, p); ok=False when the key gap
    is non-positive or so small (subnormal / near-subnormal) that the slopes
    overflow to inf — those points must be pinned as knots, not approximated
    (adversarial finite-double key sets, e.g. consecutive denormals)."""
    dk = k - base_k
    if dk <= 0.0:
        return 0.0, 0.0, False
    hi = (p + eps - base_p) / dk
    lo = (p - eps - base_p) / dk
    return hi, lo, math.isfinite(hi) and math.isfinite(lo)


def fit_spline(keys: np.ndarray, positions: np.ndarray, eps: float = SPLINE_EPSILON) -> tuple[np.ndarray, np.ndarray]:
    """Greedy taut-string fit: max |spline(key) - position| <= eps at every
    CDF key (include/utils/SplineUtil.h:219-261 semantics).

    Returns (knot_keys, knot_positions) with knots a subset of CDF points.
    Python loop over *distinct* keys only; cells are bounded by the
    partition-size knob so this stays cheap inside applyInPandas.

    Key gaps tiny enough to overflow the corridor slopes (subnormal
    differences) force the affected keys to become knots — the eps bound
    then holds exactly at those keys instead of degrading to inf.
    """
    m = keys.shape[0]
    if m <= 2:
        return keys.astype(np.float64), positions.astype(np.float64)
    keys = keys.astype(np.float64)
    positions = positions.astype(np.float64)
    kk: list[float] = [float(keys[0])]
    kp: list[float] = [float(positions[0])]
    base_k, base_p = float(keys[0]), float(positions[0])
    hi = lo = 0.0
    have_corridor = False
    prev_k, prev_p = base_k, base_p
    for i in range(1, m):
        k = float(keys[i])
        p = float(positions[i])
        if not have_corridor:
            h, l, ok = _corridor(base_k, base_p, k, p, eps)
            if ok:
                hi, lo = h, l
                have_corridor = True
            else:
                kk.append(k)
                kp.append(p)
                base_k, base_p = k, p
            prev_k, prev_p = k, p
            continue
        h, l, ok = _corridor(base_k, base_p, k, p, eps)
        s = (p - base_p) / (k - base_k) if ok else math.inf
        if ok and lo <= s <= hi:
            hi = min(hi, h)
            lo = max(lo, l)
        else:
            # current point falls outside the corridor (or the slopes are
            # non-finite): the previous point becomes a knot and a fresh
            # corridor starts from it
            if kk[-1] != prev_k:
                kk.append(prev_k)
                kp.append(prev_p)
            base_k, base_p = prev_k, prev_p
            h, l, ok = _corridor(base_k, base_p, k, p, eps)
            if ok:
                hi, lo = h, l
                have_corridor = True
            else:
                kk.append(k)
                kp.append(p)
                base_k, base_p = k, p
                have_corridor = False
        prev_k, prev_p = k, p
    if kk[-1] != float(keys[m - 1]):
        kk.append(float(keys[m - 1]))
        kp.append(float(positions[m - 1]))
    return np.asarray(kk, dtype=np.float64), np.asarray(kp, dtype=np.float64)


def compress_spline(keys: np.ndarray, positions: np.ndarray,
                    desired_size: int) -> tuple[np.ndarray, np.ndarray]:
    """L3 size-targeted compression (include/utils/SplineUtil.h:110-137
    ``compressFunc``): binary-search an error bound whose taut-string fit
    lands within ±1% of ``desired_size`` knots; if the input already fits,
    return it unchanged.  In the reference this is used only by the
    vendored (unwired) RadixSpline, but it is the natural knob for capping
    per-cell model size at scale, so the engine exposes it."""
    m = int(keys.shape[0])
    pos = positions.astype(np.float64)
    max_size = desired_size + desired_size // 100
    min_size = desired_size - desired_size // 100
    if m <= max_size:
        return keys.astype(np.float64), pos
    left, right = 0, m
    while left < right:
        middle = (left + right) // 2
        kk, kp = fit_spline(keys, pos, float(middle))
        if kk.shape[0] < min_size:
            right = middle
        elif kk.shape[0] > max_size:
            left = middle + 1
        else:
            return kk, kp
    return fit_spline(keys, pos, float(left))


def spline_estimate(knot_keys: np.ndarray, knot_pos: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Interpolate estimated positions for query keys (vectorized analog of
    GetSplineSegment + InterpolateSegment, Spline.hpp:392-453).

    A knot interval whose key gap is subnormal has an overflowing segment
    slope, so ``np.interp`` can return +/-inf even for a query exactly on a
    knot; repair those to the covering knot's own position (exact for
    on-knot queries — the only keys the fit leaves adjacent to such gaps)."""
    with np.errstate(over="ignore", invalid="ignore"):
        est = np.interp(q, knot_keys, knot_pos)
    bad = ~np.isfinite(est)
    if np.any(bad):
        i = np.clip(np.searchsorted(knot_keys, np.asarray(q, dtype=np.float64)[bad], side="right") - 1,
                    0, knot_keys.shape[0] - 1)
        est[bad] = knot_pos[i]
    return est


def learned_searchsorted(
    y_sorted: np.ndarray,
    knot_keys: np.ndarray,
    knot_pos: np.ndarray,
    q: np.ndarray,
    side: str,
    eps: float = SPLINE_EPSILON,
) -> np.ndarray:
    """Exact ``np.searchsorted(y_sorted, q, side)`` accelerated by the
    spline: estimate, then repair within an expanding window.

    Replaces the reference's over/under-shot linear repair scans
    (Spline.hpp:476-520) with window-bounded repair — identical output
    indices by construction.  The repair is a VECTORIZED BISECTION of
    each query's window (log2(2w) lock-step rounds, every round one
    gathered value per query) rather than a gathered (queries x 2w)
    rank count: the window's ~9 cache lines are hot after round one, so
    per-lookup traffic is a few L1/L2 hits instead of a 2w-wide gather
    materializing (P x 2w) index/value/mask temporaries — measured ~5x
    faster, and it is what makes the learned kernel BEAT vectorized full
    binary search at >= 1M-row cells (BENCH/BASELINE.md kernel table):
    full binary search walks log2(n) DRAM-missing probes on a big array
    while the spline walk stays inside knots (small) + one eps-window.
    """
    n = y_sorted.shape[0]
    q = np.asarray(q, dtype=np.float64)
    if n == 0:
        return np.zeros(q.shape, dtype=np.int64)
    est = np.rint(spline_estimate(knot_keys, knot_pos, q)).astype(np.int64)
    est = np.clip(est, 0, n - 1)
    out = np.empty(q.shape, dtype=np.int64)
    # first window: spline error bound + slack for intra-run offsets
    w = int(eps) + 2
    pending = np.arange(q.shape[0])
    while pending.size:
        lo = np.maximum(est[pending] - w, 0)
        hi = np.minimum(est[pending] + w, n)
        qq = q[pending]
        left, right = lo.copy(), hi.copy()
        while True:
            active = left < right
            if not active.any():
                break
            mid = (left + right) >> 1
            # inactive lanes can hold mid == n (left == right == n): clamp
            # for the gather; their compare result is discarded anyway
            v = y_sorted[np.minimum(mid, n - 1)]
            go = (v < qq) if side == "left" else (v <= qq)
            left = np.where(active & go, mid + 1, left)
            right = np.where(active & ~go, mid, right)
        pos = left
        # the bound is certain iff interior to the window, or the window
        # already touches the array edge on that side
        ok = ((pos > lo) | (lo == 0)) & ((pos < hi) | (hi == n))
        out[pending] = pos
        pending = pending[~ok]
        w *= 4
        if w > 4 * n:
            # window covers everything: exact by construction
            break
    return out


def fit_cell_model(y_sorted: np.ndarray, eps: float = SPLINE_EPSILON, linear_threshold: int = LINEAR_SCAN_THRESHOLD) -> dict:
    """Fit the per-cell model row (engine analog of SplineCell::Build,
    Spline.hpp:18-53). Returns plain-python dict ready for a model-table
    DataFrame row, including the model-quality error metrics the reference
    emits per spline (SplineUtil.h:25-52 computeErrors/printErrors):
    avg_err / max_err = |spline(key) - position| over the CDF keys."""
    n = int(y_sorted.shape[0])
    if n <= linear_threshold:
        return {"n": n, "linear_scan": True, "knot_keys": [], "knot_pos": [],
                "avg_err": 0.0, "max_err": 0.0}
    keys, pos = build_cdf(y_sorted)
    kk, kp = fit_spline(keys, pos.astype(np.float64), eps)
    err = np.abs(spline_estimate(kk, kp, keys) - pos)
    return {"n": n, "linear_scan": False, "knot_keys": kk.tolist(), "knot_pos": kp.tolist(),
            "avg_err": float(err.mean()), "max_err": float(err.max())}


MODEL_SCHEMA = ("cell_id bigint, n bigint, linear_scan boolean, "
                "knot_keys array<double>, knot_pos array<double>, "
                "avg_err double, max_err double")


def fit_model_frame(key, pdf):
    """``groupBy("cell_id").applyInPandas`` body: one cell's rows -> its
    model-table row (:data:`MODEL_SCHEMA`), shared by the in-session model
    table and the tiled index build."""
    import pandas as pd
    return pd.DataFrame([{"cell_id": int(key[0]), **fit_cell_model(np.sort(pdf["y"].to_numpy()))}])
