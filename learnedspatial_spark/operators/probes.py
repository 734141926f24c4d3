"""Shared per-cell probe kernels (pure NumPy, no Spark).

The query core (``core.py``) routes with these helpers and builds its
per-cell kernels from them for both cell sources — the in-session
``SpatialEngine`` and the materialized ``TiledSpatialEngine`` — so the
two paths cannot drift semantically.  Semantics mirror the reference cells
(include/partition_cells/*, SURVEY.md §2.5): inclusive bounds, (y, x) sort
order, fully-contained short-circuit, learned-vs-binary-search refinement
returning identical rows.
"""

from __future__ import annotations

import numpy as np

from ..functions import geo
from . import spline as spl


def deg2rad(a):
    """EXACTLY the reference's conversion (Utils.hpp:84-97): (deg/180)*pi —
    NOT deg*(pi/180), which differs in the last ulp and can flip inclusive
    <=radius boundary cases against the SQL oracle."""
    return (a / 180.0) * np.pi


def sort_cell(xs: np.ndarray, ys: np.ndarray):
    """(y, x) cell order (SortPointsY analog) -> (order, xs_sorted, ys_sorted)."""
    order = np.lexsort((xs, ys))
    return order, xs[order], ys[order]


def range_bounds(ys_sorted: np.ndarray, fy: np.ndarray, ty: np.ndarray,
                 knots: tuple[np.ndarray, np.ndarray] | None):
    """Per-query [lo, hi) candidate run over the y-sorted cell — learned
    spline estimate + bounded repair when ``knots`` given, plain binary
    search otherwise.  Result-identical either way."""
    if knots is not None and ys_sorted.shape[0] > spl.LINEAR_SCAN_THRESHOLD:
        kk, kp = knots
        lo = spl.learned_searchsorted(ys_sorted, kk, kp, fy, "left")
        hi = spl.learned_searchsorted(ys_sorted, kk, kp, ty, "right")
    else:
        lo = np.searchsorted(ys_sorted, fy, side="left")
        hi = np.searchsorted(ys_sorted, ty, side="right")
    return lo, hi


def sort_cell_x(xs: np.ndarray, ys: np.ndarray):
    """(x, y) cell order — the C3 ``BinarySearchXCell::Build`` analog
    (include/partition_cells/BinarySearchX.hpp:8-15) -> (order, xs_sorted,
    ys_sorted)."""
    order = np.lexsort((ys, xs))
    return order, xs[order], ys[order]


def range_count_cell_x(xs_sorted_x, ys, fx, fy, tx, ty) -> np.ndarray:
    """C3 BinarySearchXCell count (BinarySearchX.hpp:34-51): the cell is
    (x, y)-sorted, binary search brackets the x run, candidates filter on
    y.  The shared kernel is dimension-symmetric, so this is
    ``range_count_cell`` with the axes swapped — result-identical rows to
    the (y, x) cells, as the reference's VALIDATE mode asserts."""
    return range_count_cell(ys, xs_sorted_x, fy, fx, ty, tx, knots=None)


def range_select_cell_x(xs_sorted_x, ys, fx, fy, tx, ty, j,
                        lo, hi, contained) -> np.ndarray:
    """C3 materializing form: selected (x, y)-sorted-order indices for
    query j (axis-swapped ``range_select_cell``)."""
    return range_select_cell(ys, xs_sorted_x, fy, fx, ty, tx, j, lo, hi, contained)


def contained_mask(xs_sorted, ys_sorted, fx, fy, tx, ty) -> np.ndarray:
    """O3 fully-contained-cell shortcut (Spline.hpp:67-75)."""
    return ((fx <= xs_sorted.min()) & (tx >= xs_sorted.max())
            & (fy <= ys_sorted.min()) & (ty >= ys_sorted.max()))


def flatten_ranges(lo: np.ndarray, hi: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Expand per-query inclusive cell ranges [lo_i, hi_i] (hi < lo =
    empty) into flat (cells, query_idx) pairs with NO per-query Python
    loop — the driver-side routing cost at a production batch is linear
    NumPy, not 10^4 iterations of ``cells_for_rect`` (measured 1.9s of
    per-job serial time at 18k rectangles, the round-5 range-leg fix)."""
    lens = np.maximum(hi - lo + 1, 0).astype(np.int64)
    total = int(lens.sum())
    if total == 0:
        return (np.empty(0, dtype=np.int64),) * 2
    starts = np.repeat(lo, lens)
    within = np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(lens) - lens, lens)
    qidx = np.repeat(np.arange(lo.shape[0], dtype=np.int64), lens)
    return starts + within, qidx


def flatten_cell_lists(cells_per_query) -> tuple[np.ndarray, np.ndarray]:
    """Generic fallback of :func:`flatten_ranges` for partitioners whose
    candidate sets are not contiguous ranges (tree schemes)."""
    lens = np.asarray([len(c) for c in cells_per_query], dtype=np.int64)
    if int(lens.sum()) == 0:
        return (np.empty(0, dtype=np.int64),) * 2
    cells = np.concatenate([np.asarray(c, dtype=np.int64) for c in cells_per_query if len(c)])
    qidx = np.repeat(np.arange(len(cells_per_query), dtype=np.int64), lens)
    return cells, qidx


def compact_routing(cells_flat: np.ndarray, qidx_flat: np.ndarray):
    """(cells, qidx) pairs -> (unique_cells_sorted, offsets, qidx_grouped):
    the broadcastable columnar routing table.  Probe-side lookup is one
    ``searchsorted`` + one slice; per-cell query order stays ascending
    (stable sort over flatten order), matching the old dict-of-lists."""
    order = np.argsort(cells_flat, kind="stable")
    # query indices ride int32: a routing table is O(candidate pairs) and
    # ships in a broadcast — at 18k hi-tier rects that is 4.7M entries,
    # 37 MB as int64 vs 18 MB as int32 (batch sizes stay far below 2^31)
    cs, qs = cells_flat[order], qidx_flat[order].astype(np.int32)
    if cs.size == 0:
        return cs, np.zeros(1, dtype=np.int64), qs
    cut = np.flatnonzero(np.diff(cs)) + 1
    cells_u = cs[np.concatenate([[0], cut])]
    offsets = np.concatenate([[0], cut, [cs.size]]).astype(np.int64)
    return cells_u, offsets, qs


def routing_lookup(routing, cell: int) -> np.ndarray | None:
    """Probe-side lookup into a :func:`compact_routing` table."""
    cells_u, offsets, qs = routing
    i = int(np.searchsorted(cells_u, cell))
    if i >= cells_u.shape[0] or cells_u[i] != cell:
        return None
    return qs[offsets[i]:offsets[i + 1]]


def route_contained(rects_arr: np.ndarray, cells_flat: np.ndarray,
                    qidx_flat: np.ndarray, ids, minx, miny, maxx, maxy, count):
    """Vectorized O3-at-routing split over the FLAT (cell, query) pairs:
    contained cells accumulate cached counts into ``base`` (one
    ``np.add.at``), boundary pairs compact into the broadcastable routing
    table — zero per-query Python.  Same semantics as the historical
    dict-building loop (candidate ids with no stats row are dropped)."""
    nq = rects_arr.shape[0]
    base = np.zeros(nq, dtype=np.int64)
    ids = np.asarray(ids, dtype=np.int64)
    if ids.size == 0 or cells_flat.size == 0:
        # one canonical constructor keeps the routing-table dtypes
        # (int32 query indices) consistent on the empty path too
        return base, compact_routing(np.empty(0, dtype=np.int64),
                                     np.empty(0, dtype=np.int64))
    order = np.argsort(ids)
    ids_sorted = ids[order]
    pos = np.minimum(np.searchsorted(ids_sorted, cells_flat), ids_sorted.size - 1)
    ok = ids_sorted[pos] == cells_flat
    si = order[pos[ok]]
    qf = qidx_flat[ok]
    cf = cells_flat[ok]
    minx = np.asarray(minx); miny = np.asarray(miny)
    maxx = np.asarray(maxx); maxy = np.asarray(maxy)
    count = np.asarray(count, dtype=np.int64)
    contained = ((rects_arr[qf, 0] <= minx[si]) & (rects_arr[qf, 2] >= maxx[si])
                 & (rects_arr[qf, 1] <= miny[si]) & (rects_arr[qf, 3] >= maxy[si]))
    np.add.at(base, qf[contained], count[si[contained]])
    return base, compact_routing(cf[~contained], qf[~contained])


def range_count_cell(xs_sorted, ys_sorted, fx, fy, tx, ty,
                     knots=None) -> np.ndarray:
    """Q2 per-query hit counts in one cell (arrays over queries)."""
    n = ys_sorted.shape[0]
    contained = contained_mask(xs_sorted, ys_sorted, fx, fy, tx, ty)
    lo, hi = range_bounds(ys_sorted, fy, ty, knots)
    cnt = np.empty(fx.shape[0], dtype=np.int64)
    for j in range(fx.shape[0]):
        if contained[j]:
            cnt[j] = n
        else:
            s = slice(lo[j], hi[j])
            cnt[j] = np.count_nonzero((xs_sorted[s] >= fx[j]) & (xs_sorted[s] <= tx[j]))
    return cnt


def range_select_cell(xs_sorted, ys_sorted, fx, fy, tx, ty, j,
                      lo, hi, contained) -> np.ndarray:
    """Q1 selected sorted-order indices for query j (materializing form)."""
    if contained[j]:
        return np.arange(ys_sorted.shape[0])
    s = slice(lo[j], hi[j])
    return np.flatnonzero((xs_sorted[s] >= fx[j]) & (xs_sorted[s] <= tx[j])) + lo[j]


def haversine_m(lat1r, lon1r, lat2r, lon2r):
    """Great-circle meters, reference formula (distance.h:25-45)."""
    u = np.sin((lat2r - lat1r) / 2.0)
    v = np.sin((lon2r - lon1r) / 2.0)
    s = np.sqrt(u * u + np.cos(lat1r) * np.cos(lat2r) * v * v)
    return 2.0 * geo.EARTH_RADIUS_M * np.arcsin(np.clip(s, 0.0, 1.0))


def distance_mask_cell(xs_deg, ys_deg, qlat_deg, qlon_deg, radius_m) -> np.ndarray:
    """Q4 refine for ONE query over a cell: haversine(radians) <= r
    (inclusive), radians derived exactly as the reference: (deg/180)*pi."""
    d = haversine_m(deg2rad(qlat_deg), deg2rad(qlon_deg),
                    deg2rad(xs_deg), deg2rad(ys_deg))
    return d <= radius_m


def pip_candidates(px, py, vx: np.ndarray, vy: np.ndarray) -> np.ndarray:
    """Q5 filter stage: polygon-bbox mask (the LookUp(polygon.box) analog)."""
    return ((px >= vx.min()) & (px <= vx.max())
            & (py >= vy.min()) & (py <= vy.max()))


def ray_cast_inside(px, py, vx: np.ndarray, vy: np.ndarray) -> np.ndarray:
    """Q5 refine: point-in-polygon ray cast with the exact reference
    crossing rule (include/queries/join.h:30-37) — engine-side kernel,
    independent of the NumPy oracle package (which keeps its own
    points-x-edges matrix formulation; the DuckDB SQL twin is the third
    independent implementation).  Edge-major accumulation: O(#points)
    memory regardless of polygon size.

    Rule per edge (p1, p2): crossing iff p.y in (min(y1,y2), max(y1,y2)]
    and p.x <= max(x1,x2) and y1 != y2 and (x1 == x2 or p.x <= xinters);
    inside = odd crossing count (join.h:37).

    Vectorized points x edge-chunk matrix; chunking caps the working set
    so huge polygons never allocate an unbounded P x E matrix."""
    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]
    ex1 = np.asarray(vx[:-1], dtype=np.float64)
    ey1 = np.asarray(vy[:-1], dtype=np.float64)
    ex2 = np.asarray(vx[1:], dtype=np.float64)
    ey2 = np.asarray(vy[1:], dtype=np.float64)
    n_pts = px.shape[0]
    crossings = np.zeros(n_pts, dtype=np.int64)
    chunk = max(16, int(4_000_000 // max(1, n_pts)))
    for s in range(0, ex1.shape[0], chunk):
        x1, y1 = ex1[s:s + chunk][None, :], ey1[s:s + chunk][None, :]
        x2, y2 = ex2[s:s + chunk][None, :], ey2[s:s + chunk][None, :]
        cond = ((py > np.minimum(y1, y2)) & (py <= np.maximum(y1, y2))
                & (px <= np.maximum(x1, x2)) & (y1 != y2))
        with np.errstate(divide="ignore", invalid="ignore"):
            xinters = (py - y1) * (x2 - x1) / (y2 - y1) + x1
        crossings += (cond & ((x1 == x2) | (px <= xinters))).sum(axis=1)
    return (crossings % 2).astype(bool)


EDGE_DTYPE = np.dtype([("low", "f8"), ("high", "f8"), ("id", "u8"),
                       ("x1", "f8"), ("y1", "f8"), ("x2", "f8"), ("y2", "f8")])


def build_edges(vx: np.ndarray, vy: np.ndarray) -> np.ndarray:
    """X3 ``edge`` record analog (ds/interval_tree/edge.h:7-26): one packed
    record per polygon edge carrying its y-interval [low, high], the edge
    id, and both endpoints — exactly the payload the reference's interval
    tree stores (unused even there; implemented for full parity).  Expects
    a closed ring (last vertex == first), matching ``ray_cast_inside``."""
    x1 = np.asarray(vx[:-1], dtype=np.float64)
    y1 = np.asarray(vy[:-1], dtype=np.float64)
    x2 = np.asarray(vx[1:], dtype=np.float64)
    y2 = np.asarray(vy[1:], dtype=np.float64)
    out = np.empty(x1.shape[0], dtype=EDGE_DTYPE)
    out["low"] = np.minimum(y1, y2)
    out["high"] = np.maximum(y1, y2)
    out["id"] = np.arange(x1.shape[0], dtype=np.uint64)
    out["x1"], out["y1"], out["x2"], out["y2"] = x1, y1, x2, y2
    return out


def stab_edges(edges: np.ndarray, y: float) -> np.ndarray:
    """Interval stabbing over X3 edge records: the ids of edges whose
    [low, high] y-interval contains ``y`` — the X2 interval-tree query the
    edge records exist to answer.  A point's ray-cast crossing set is a
    subset of its stab set (crossings need y in (low, high]), which the
    kernel-parity test asserts."""
    e = np.asarray(edges)
    return e["id"][(e["low"] <= y) & (y <= e["high"])]


def knn_candidate_cells(ids, minx, miny, maxx, maxy, count, queries):
    """Driver-side kNN cell pruning: per query take cells ascending by
    bbox-min-d2 until their counts cover k, bound R = max bbox-max-d2 of
    that prefix, and route the query to every cell with min-d2 <= R —
    exact by construction.  Returns flat (cells, query_index) pairs."""
    cells, qidx = [np.empty(0, dtype=np.int64)], [np.empty(0, dtype=np.int64)]
    for qi, (qid, qx, qy, k) in enumerate(queries):
        dx = np.maximum(np.maximum(minx - qx, qx - maxx), 0.0)
        dy = np.maximum(np.maximum(miny - qy, qy - maxy), 0.0)
        dmin = dx * dx + dy * dy
        ex = np.maximum(np.abs(qx - minx), np.abs(qx - maxx))
        ey = np.maximum(np.abs(qy - miny), np.abs(qy - maxy))
        dmax = ex * ex + ey * ey
        order = np.argsort(dmin, kind="stable")
        cum = np.cumsum(count[order])
        need = min(int(np.searchsorted(cum, k)) + 1, order.shape[0])
        R = float(dmax[order[:need]].max())
        cells.append(ids[dmin <= R])
        qidx.append(np.full(cells[-1].shape[0], qi, dtype=np.int64))
    return np.concatenate(cells), np.concatenate(qidx)


def knn_merge_topk(pdf, qid: int, k: int, id_col: str = "pid"):
    """Per-query merge of the per-cell top-k partials (the associative
    reduce of the core's final applyInPandas): global order
    (d2, x, y, id), first k rows -> (query_id, rnk, id)."""
    import pandas as pd
    order = np.lexsort((pdf[id_col].to_numpy(), pdf["py"].to_numpy(),
                        pdf["px"].to_numpy(), pdf["d2"].to_numpy()))[:k]
    return pd.DataFrame({
        "query_id": np.full(order.shape[0], qid, dtype=np.int64),
        "rnk": np.arange(1, order.shape[0] + 1, dtype=np.int64),
        id_col: pdf[id_col].to_numpy()[order]})


def widen_ulps(lo, hi, ulps: int = 8):
    """Widen [lo, hi] routing bounds (scalars or arrays) by ``ulps`` float
    steps on each side — the conservative margin the Matuschek circle
    bbox needs before cell routing (the bbox math amplifies rounding near
    the poles well past 1 ulp; an under-widened bound can prune a cell
    holding a true inclusive-boundary hit)."""
    for _ in range(ulps):
        lo = np.nextafter(lo, -np.inf)
        hi = np.nextafter(hi, np.inf)
    return lo, hi


def knn_local_topk(xs, ys, pids, qx, qy, k) -> np.ndarray:
    """Per-cell exact top-k candidate indices with the engine's total order
    (d2, x, y, pid); ties at the k-th distance widened before the lexsort
    so the global merge stays exact."""
    k_i = min(int(k), xs.shape[0])
    d2 = (xs - qx) ** 2 + (ys - qy) ** 2
    if k_i < xs.shape[0]:
        part = np.argpartition(d2, k_i - 1)[:k_i]
        kth = d2[part].max()
    else:
        kth = np.inf
    cand = np.flatnonzero(d2 <= kth)
    return cand[np.lexsort((pids[cand], ys[cand], xs[cand], d2[cand]))][:k_i], d2
