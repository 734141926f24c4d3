"""Expected answers for every timed operation, from ``oracle/`` semantics
over the exact generated coordinates (no Spark).

Each helper narrows the candidate points with a sorted-latitude window
before applying the oracle predicate, which gives the full-scan answer at
a fraction of its cost (the window is a superset of every hit).
"""

from __future__ import annotations

import math

import numpy as np

from oracle import oracle

from . import inputs

EARTH_RADIUS_M = oracle.EARTH_RADIUS_M


class PointIndex:
    """The corpus sorted by latitude, for candidate windows."""

    def __init__(self, x: np.ndarray, y: np.ndarray, ids: np.ndarray):
        self.order = np.argsort(x, kind="stable")
        self.x = x[self.order]
        self.y = y[self.order]
        self.ids = ids[self.order]

    def window(self, lo: float, hi: float) -> slice:
        return slice(int(np.searchsorted(self.x, lo, "left")),
                     int(np.searchsorted(self.x, hi, "right")))


def rad(a):
    """(deg / 180) * pi: the reference's conversion, as the engine uses."""
    return (np.asarray(a, dtype=np.float64) / 180.0) * np.pi


def range_counts(ix: PointIndex, rects) -> dict[int, int]:
    out = {}
    for qid, fx, fy, tx, ty in rects:
        w = ix.window(fx, tx)
        out[int(qid)] = oracle.range_count(ix.x[w], ix.y[w], fx, fy, tx, ty)
    return out


def _lat_margin_deg(radius_m: float) -> float:
    # |delta lat| <= r / R on the sphere; widen by a generous relative margin
    return math.degrees(radius_m / EARTH_RADIUS_M) * 1.01 + 1e-9


def knn_ids(x, y, ids, queries) -> dict[int, list]:
    """Oracle kNN (squared degree distance, ties by (d2, x, y, id)) in
    rank order.  ``ids`` may be integers or strings."""
    out = {}
    for qid, qx, qy, k in queries:
        k = min(int(k), x.shape[0])
        d2 = (x - qx) ** 2 + (y - qy) ** 2
        cand = np.flatnonzero(d2 <= np.partition(d2, k - 1)[k - 1])
        if ids.dtype.kind in "iu":
            out[int(qid)] = oracle.knn_euclidean(x[cand], y[cand], ids[cand], qx, qy, k)
        else:  # string ids: the same total order, kept as strings
            order = np.lexsort((ids[cand], y[cand], x[cand], d2[cand]))[:k]
            out[int(qid)] = [str(v) for v in ids[cand][order]]
    return out


def point_lookup_urls(ix_url: PointIndex, pts) -> dict[int, str | None]:
    """Canonical fetch-one: the smallest url among exact matches."""
    out = {}
    for qid, qx, qy in pts:
        w = ix_url.window(qx, qx)
        m = ix_url.y[w] == qy
        out[int(qid)] = min(ix_url.ids[w][m]) if m.any() else None
    return out


def _pairs_within(ix: PointIndex, left_mask: np.ndarray | None, radius_m: float,
                  chunk: int = 2_000_000):
    """Yield (left idx, right idx, dist) over the sorted index for every
    ordered pair with |delta lat| inside the radius window and exact
    distance <= radius (oracle haversine).  ``left_mask`` restricts the
    left side; None means a self-join over unordered pairs (right after
    left in latitude order)."""
    m = _lat_margin_deg(radius_m)
    n = ix.x.shape[0]
    la, lo = rad(ix.x), rad(ix.y)
    if left_mask is None:
        left = np.arange(n)
        start = left + 1
    else:
        left = np.flatnonzero(left_mask)
        start = np.searchsorted(ix.x, ix.x[left] - m, "left")
    stop = np.searchsorted(ix.x, ix.x[left] + m, "right")
    counts = np.maximum(stop - start, 0)
    i0 = 0
    while i0 < left.shape[0]:
        # grow the block of left points until it covers ~chunk pairs
        csum = np.cumsum(counts[i0:])
        i1 = i0 + max(1, int(np.searchsorted(csum, chunk, "right")))
        c = counts[i0:i1]
        li = np.repeat(left[i0:i1], c)
        offs = np.arange(c.sum()) - np.repeat(np.cumsum(c) - c, c)
        ri = np.repeat(start[i0:i1], c) + offs
        d = oracle.haversine_m(la[li], lo[li], la[ri], lo[ri])
        keep = d <= radius_m
        yield li[keep], ri[keep], d[keep]
        i0 = i1


def distance_join_pairs(ix: PointIndex, radius_m: float) -> set[tuple[int, int]]:
    """Unordered pairs within the radius as (smaller id, larger id)."""
    out = set()
    for li, ri, _ in _pairs_within(ix, None, radius_m):
        a, b = ix.ids[li], ix.ids[ri]
        out.update(zip(np.minimum(a, b).tolist(), np.maximum(a, b).tolist()))
    return out


def knn_join_pairs(ix: PointIndex, k: int, radius_m: float, left_mod: int) -> set[tuple[int, int]]:
    """For each left point (id mod ``left_mod`` == 0), its k nearest other
    points within the radius, ties by (dist, right id)."""
    left_mask = np.mod(ix.ids, left_mod) == 0
    ls, rs, ds = [], [], []
    for li, ri, d in _pairs_within(ix, left_mask, radius_m):
        keep = ix.ids[li] != ix.ids[ri]
        ls.append(ix.ids[li][keep]); rs.append(ix.ids[ri][keep]); ds.append(d[keep])
    l, r, d = np.concatenate(ls), np.concatenate(rs), np.concatenate(ds)
    order = np.lexsort((r, d, l))
    l, r = l[order], r[order]
    first = np.r_[True, l[1:] != l[:-1]]
    grp_start = np.maximum.accumulate(np.where(first, np.arange(l.shape[0]), 0))
    rank = np.arange(l.shape[0]) - grp_start
    keep = rank < k
    return set(zip(l[keep].tolist(), r[keep].tolist()))


# ------------------------------------------------------------ expected ---

def expected_batches(c: inputs.Corpus, batches: list[dict]) -> list[dict]:
    ix = PointIndex(c.x, c.y, c.pid)
    return [{
        "range": range_counts(ix, b["range"]),
        "knn": knn_ids(c.x, c.y, c.pid, b["knn"]),
    } for b in batches]


def urls(c: inputs.Corpus) -> np.ndarray:
    return np.asarray([inputs.url_for(i) for i in range(c.points)])


def expected_singles(c: inputs.Corpus, pools: dict) -> dict:
    u = urls(c)
    ix = PointIndex(c.x, c.y, u)
    return {
        "range": [range_counts(ix, q) for q in pools["range"]],
        "point": [point_lookup_urls(ix, q) for q in pools["point"]],
        "knn": [knn_ids(c.x, c.y, u, q) for q in pools["knn"]],
    }


def expected_joins(c: inputs.Corpus) -> dict:
    ix = PointIndex(c.x, c.y, c.pid)
    return {
        "pairs": distance_join_pairs(ix, inputs.PAIRS_RADIUS_M),
        "knn_join": knn_join_pairs(ix, inputs.KNN_K, inputs.KNN_RADIUS_M, inputs.KNN_LEFT_MOD),
    }
