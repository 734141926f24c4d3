"""Tier-1: round-5 vectorized range-batch routing kernels.

The production range path routes a whole rectangle batch with linear
NumPy (``rect_cell_ranges`` -> ``flatten_ranges`` -> ``route_contained``
-> ``compact_routing`` shipped as a broadcast) instead of the historical
per-query ``cells_for_rect`` loop (measured ~1.9s of serial driver time
per job at 18k rectangles).  These tests pin the fast path entry-for-
entry against the scalar semantics it replaced, including the degenerate
and empty shapes.
"""

import numpy as np

from learnedspatial_spark.operators import probes
from learnedspatial_spark.operators.partitioning import FixedGridPartitioner

SEED = 515


def _rects(rng, n, xmin=-90.0, xmax=90.0):
    # spread over in-domain, straddling, fully-out, degenerate-point and
    # inverted rectangles so clipping and empty encodings are exercised
    fx = rng.uniform(xmin - 30, xmax + 30, size=n)
    w = rng.choice([0.0, 0.5, 5.0, 50.0, 400.0], size=n) * rng.uniform(0, 1, n)
    tx = fx + w
    inv = rng.random(n) < 0.1
    fx2 = np.where(inv, tx, fx)
    tx2 = np.where(inv, fx - 1e-9, tx)
    fy = rng.uniform(-200, 200, size=n)
    ty = fy + rng.uniform(0, 50, size=n)
    return fx2, fy, tx2, ty


def test_rect_cell_ranges_matches_scalar_cells_for_rect():
    rng = np.random.default_rng(SEED)
    x = rng.uniform(-90, 90, size=50_000)
    part = FixedGridPartitioner.build(x.min(), x.max(), x.shape[0], 500)
    fx, fy, tx, ty = _rects(rng, 2000)
    lo, hi = part.rect_cell_ranges(fx, fy, tx, ty)
    for i in range(fx.shape[0]):
        want = list(part.cells_for_rect(fx[i], fy[i], tx[i], ty[i]))
        got = list(range(int(lo[i]), int(hi[i]) + 1))
        assert got == want, (i, fx[i], tx[i])


def test_rect_cell_ranges_degenerate_domain():
    # step == 0 (all points at one x): every non-inverted rect routes to
    # cell 0, inverted rects to the empty range — same as the scalar path
    part = FixedGridPartitioner.build(5.0, 5.0, 1000, 100)
    assert part.step == 0
    fx = np.array([4.0, 5.0, 6.0, 7.0])
    tx = np.array([6.0, 5.0, 9.0, 6.5])  # last is inverted
    lo, hi = part.rect_cell_ranges(fx, None, tx, None)
    for i in range(4):
        want = list(part.cells_for_rect(fx[i], 0.0, tx[i], 1.0))
        assert list(range(int(lo[i]), int(hi[i]) + 1)) == want


def test_flatten_and_compact_routing_match_dict_of_lists():
    rng = np.random.default_rng(SEED + 1)
    nq = 500
    lo = rng.integers(0, 80, size=nq)
    hi = lo + rng.integers(-2, 6, size=nq)  # some empty (hi < lo)
    cells, qidx = probes.flatten_ranges(lo.astype(np.int64), hi.astype(np.int64))
    # scalar reference: the dict-of-ascending-query-lists the probe used
    want: dict[int, list[int]] = {}
    for qi in range(nq):
        for c in range(int(lo[qi]), int(hi[qi]) + 1):
            want.setdefault(c, []).append(qi)
    routing = probes.compact_routing(cells, qidx)
    for c in range(-1, 90):
        got = probes.routing_lookup(routing, c)
        if c in want:
            assert got is not None and got.tolist() == want[c]
        else:
            assert got is None or got.size == 0


def test_flatten_cell_lists_parity_with_flatten_ranges():
    rng = np.random.default_rng(SEED + 2)
    lo = rng.integers(0, 40, size=200).astype(np.int64)
    hi = lo + rng.integers(-1, 4, size=200).astype(np.int64)
    as_lists = [list(range(int(a), int(b) + 1)) for a, b in zip(lo, hi)]
    c1, q1 = probes.flatten_ranges(lo, hi)
    c2, q2 = probes.flatten_cell_lists(as_lists)
    assert np.array_equal(c1, c2) and np.array_equal(q1, q2)


def test_route_contained_matches_scalar_split():
    rng = np.random.default_rng(SEED + 3)
    n_cells = 60
    ids = np.arange(n_cells, dtype=np.int64)
    # drop some ids to exercise the no-stats-row path
    keep = rng.random(n_cells) > 0.15
    ids = ids[keep]
    minx = rng.uniform(-90, 80, size=ids.size)
    maxx = minx + rng.uniform(0, 10, size=ids.size)
    miny = rng.uniform(-180, 170, size=ids.size)
    maxy = miny + rng.uniform(0, 10, size=ids.size)
    count = rng.integers(1, 1000, size=ids.size)
    nq = 300
    rects = np.column_stack([
        rng.uniform(-100, 90, nq), rng.uniform(-190, 180, nq),
        rng.uniform(-90, 100, nq), rng.uniform(-180, 190, nq)])
    cells_flat = rng.integers(0, n_cells, size=1500).astype(np.int64)
    qidx_flat = rng.integers(0, nq, size=1500).astype(np.int64)

    base, routing = probes.route_contained(
        rects, cells_flat, qidx_flat, ids, minx, miny, maxx, maxy, count)

    stats = {int(c): (minx[i], miny[i], maxx[i], maxy[i], int(count[i]))
             for i, c in enumerate(ids)}
    want_base = np.zeros(nq, dtype=np.int64)
    want_boundary: dict[int, list[int]] = {}
    for c, qi in zip(cells_flat, qidx_flat):
        s = stats.get(int(c))
        if s is None:
            continue  # candidate with no data: dropped
        fx, fy, tx, ty = rects[qi]
        if fx <= s[0] and tx >= s[2] and fy <= s[1] and ty >= s[3]:
            want_base[qi] += s[4]
        else:
            want_boundary.setdefault(int(c), []).append(int(qi))
    assert np.array_equal(base, want_base)
    # boundary lists keep input order per cell (stable compaction)
    for c in range(n_cells):
        got = probes.routing_lookup(routing, c)
        if c in want_boundary:
            assert got is not None and got.tolist() == want_boundary[c]
        else:
            assert got is None or got.size == 0


def test_route_contained_empty_inputs():
    rects = np.zeros((3, 4))
    e = np.empty(0, dtype=np.int64)
    base, (cells_u, offsets, qs) = probes.route_contained(
        rects, e, e, e, e, e, e, e, e)
    assert base.tolist() == [0, 0, 0]
    assert cells_u.size == 0 and qs.size == 0 and offsets.tolist() == [0]


def test_large_candidate_set_prunes_via_broadcast_semi_join(spark, sf_dir, monkeypatch):
    """Above ISIN_MAX_CELLS the probe pruning switches from InSet literals
    to a broadcast left-semi join; results are identical and the probe
    input still reaches mapInPandas without a fresh exchange (the
    BroadcastHashJoin preserves the cached hash-partitioning)."""
    import io
    from contextlib import redirect_stdout

    from learnedspatial_spark import engine as eng_mod
    from learnedspatial_spark.engine import SpatialEngine
    from learnedspatial_spark.sources import workloads as wl

    import re

    rects = wl.rectangles(n_per_tier=4)
    eng = SpatialEngine(spark, sf_dir, scheme="fixed_grid",
                        refine="binsearch", partition_size=200)
    want = {r["query_id"]: r["cnt"] for r in eng.range_count(rects).collect()}

    monkeypatch.setattr(eng_mod, "ISIN_MAX_CELLS", 0)  # force the join path
    eng2 = SpatialEngine(spark, sf_dir, scheme="fixed_grid",
                         refine="binsearch", partition_size=200)
    got = {r["query_id"]: r["cnt"] for r in eng2.range_count(rects).collect()}
    assert got == want

    # a genuinely selective candidate set (the 0.5-of-total gate must let
    # the pruning run) routed through the forced join path
    n_sel = max(1, eng2.partitioner.num_cells() // 4)
    pruned = eng2._cell_rows(np.arange(n_sel, dtype=np.int64))
    buf = io.StringIO()
    with redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    # the semi join must not add a corpus shuffle: the only shuffle
    # Exchange is the engine's one cell-keyed repartition (Catalyst even
    # pushes the semi join BELOW it, so pruning happens pre-shuffle, same
    # as the InSet filter path), plus the tiny BroadcastExchange
    assert len(re.findall(r"\n\s*(?:[:+]- )?Exchange \(\d+\)", plan)) == 1
    assert "BroadcastExchange" in plan
