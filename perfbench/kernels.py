"""Driver-side replay of the NumPy probe kernels (``operators/probes``,
``operators/spline``) on cells and queries from the run's own data.

Cells are the fixed-grid cells the engines build over the corpus; the
replay takes the largest few, where the kernels do the most work.  Each
metric is the median over repetitions of the time per kernel call; the
range refine is reported in ns per query (its lo and hi search), learned
spline against plain binary search at each selectivity tier.
"""

from __future__ import annotations

import time

import numpy as np

from learnedspatial_spark.operators import probes
from learnedspatial_spark.operators import spline as spl
from learnedspatial_spark.operators.partitioning import FixedGridPartitioner

from .tracing import median

CELLS = 8
REPEATS = 5


def _per_call(fn, calls: int) -> float:
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return median(times) / max(1, calls)


def replay(x: np.ndarray, y: np.ndarray, ids: np.ndarray, batch: dict) -> dict:
    part = FixedGridPartitioner.build(float(x.min()), float(x.max()), x.shape[0], 1000)
    cell = part.assign_np(x, y)
    uniq, counts = np.unique(cell, return_counts=True)
    top = uniq[np.argsort(counts)[::-1][:CELLS]]
    cells = []
    for c in top:
        m = cell == c
        _, xs, ys = probes.sort_cell(x[m], y[m])
        cells.append((x[m], y[m], ids[m], xs, ys, spl.fit_cell_model(ys)))
    out = {}
    out["probes.sort_cell_s"] = _per_call(
        lambda: [probes.sort_cell(cx, cy) for cx, cy, *_ in cells], len(cells))
    out["spline.fit_cell_model_s"] = _per_call(
        lambda: [spl.fit_cell_model(ys) for *_, ys, _m in cells], len(cells))

    # learned vs binary-search refine at each selectivity tier: the
    # queries' y-extents shifted into each cell's own y range, so every
    # lookup lands inside the cell
    rects = np.asarray([r[1:] for r in batch["range"][:-4]], dtype=np.float64)
    tiers = np.array_split(rects, 3)
    for name, tier in zip(("lo", "mid", "hi"), tiers):
        half = (tier[:, 3] - tier[:, 1]) / 2.0
        for mode in ("learned", "binsearch"):
            def run(mode=mode):
                for *_, ys, m in cells:
                    centre = ys[np.linspace(0, ys.shape[0] - 1, half.shape[0]).astype(int)]
                    knots = ((np.asarray(m["knot_keys"]), np.asarray(m["knot_pos"]))
                             if mode == "learned" and not m["linear_scan"] else None)
                    probes.range_bounds(ys, centre - half, centre + half, knots)
            out[f"kernel.range_refine.{name}.{mode}_ns"] = \
                _per_call(run, len(cells) * half.shape[0]) * 1e9

    circles = batch["distance"][:16]
    out["probes.distance_mask_cell_s"] = _per_call(
        lambda: [probes.distance_mask_cell(cx, cy, q[1], q[2], q[3])
                 for cx, cy, *_ in cells for q in circles], len(cells) * len(circles))
    polys = [(np.asarray(vx), np.asarray(vy)) for vx, vy in list(batch["pip"].values())[:8]]
    out["probes.ray_cast_inside_s"] = _per_call(
        lambda: [probes.ray_cast_inside(cx, cy, vx, vy)
                 for cx, cy, *_ in cells for vx, vy in polys], len(cells) * len(polys))
    knn = batch["knn"][:16]
    out["probes.knn_local_topk_s"] = _per_call(
        lambda: [probes.knn_local_topk(cx, cy, ci, q[1], q[2], q[3])
                 for cx, cy, ci, *_ in cells for q in knn], len(cells) * len(knn))
    return out
