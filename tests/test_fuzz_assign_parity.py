"""Property fuzz for the SQL<->NumPy assignment parity contract.

Every closed-form scheme's ``assign_sql`` string is used verbatim as BOTH
the Spark routing expression and the DuckDB oracle's, so the whole
correctness gate rests on ``assign_sql == assign_np`` for all coordinates
— including points exactly ON separators/splits/cell edges.  This fuzz
evaluates the SQL in DuckDB (no Spark in the loop: DuckDB is the engine
the oracle actually runs in) against the NumPy kernel over random draws
plus boundary-adversarial probes harvested from each built partitioner.
"""
import duckdb
import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from learnedspatial_spark.operators import partitioning as P

lat = st.floats(min_value=-90.0, max_value=89.9999, allow_nan=False, width=64)
lon = st.floats(min_value=-180.0, max_value=179.9999, allow_nan=False, width=64)
pts = st.lists(st.tuples(lat, lon), min_size=8, max_size=120)
sizes = st.integers(min_value=1, max_value=20)

SETTINGS = dict(max_examples=20, deadline=None)


def duck_eval(expr: str, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    con = duckdb.connect()
    con.register("pts", pd.DataFrame(
        {"i": np.arange(x.shape[0]), "x": x, "y": y}))
    got = con.sql(f"SELECT cast(({expr}) as bigint) AS c FROM pts ORDER BY i"
                  ).fetchnumpy()["c"]
    con.close()
    return np.asarray(got, dtype=np.int64)


def with_probes(x, y, bx, by):
    """Append boundary probes: each boundary x paired with a base y (and
    vice versa), plus one-ulp perturbations on either side."""
    bx = np.asarray(sorted(set(float(v) for v in bx)), dtype=np.float64)
    by = np.asarray(sorted(set(float(v) for v in by)), dtype=np.float64)
    px = np.concatenate([bx, np.nextafter(bx, -np.inf), np.nextafter(bx, np.inf)]) if bx.size else bx
    py = np.concatenate([by, np.nextafter(by, -np.inf), np.nextafter(by, np.inf)]) if by.size else by
    xs = [x]
    ys = [y]
    if px.size:
        xs.append(px)
        ys.append(np.resize(y, px.shape[0]))
    if py.size:
        xs.append(np.resize(x, py.shape[0]))
        ys.append(py)
    return np.concatenate(xs), np.concatenate(ys)


def check(part, x, y):
    want = part.assign_np(x, y)
    got = duck_eval(part.assign_sql("x", "y"), x, y)
    np.testing.assert_array_equal(got, want)


@given(pts, sizes)
@settings(**SETTINGS)
def test_fixed_grid_sql_np_parity(tuples, psize):
    x = np.asarray([t[0] for t in tuples])
    y = np.asarray([t[1] for t in tuples])
    p = P.FixedGridPartitioner.build(float(x.min()), float(x.max()),
                                     x.shape[0], partition_size=psize)
    edges = [p.xmin + k * p.step for k in range(p.n_cells + 1)][:64]
    check(p, *with_probes(x, y, edges, []))


@given(pts, sizes)
@settings(**SETTINGS)
def test_adaptive_grid_sql_np_parity(tuples, psize):
    x = np.asarray([t[0] for t in tuples])
    y = np.asarray([t[1] for t in tuples])
    p = P.AdaptiveGridPartitioner.build_from_sorted_x(np.sort(x),
                                                      partition_size=psize)
    check(p, *with_probes(x, y, p.separators, []))


@given(pts, sizes)
@settings(**SETTINGS)
def test_kd_tree_sql_np_parity(tuples, psize):
    x = np.asarray([t[0] for t in tuples])
    y = np.asarray([t[1] for t in tuples])
    p = P.KdTreePartitioner.build_from_points(x, y, partition_size=psize)
    splits = [float(s) for s in np.asarray(p.splits).ravel()[:64]]
    check(p, *with_probes(x, y, splits, splits))


@given(pts, sizes)
@settings(**SETTINGS)
def test_quadtree_sql_np_parity(tuples, psize):
    x = np.asarray([t[0] for t in tuples])
    y = np.asarray([t[1] for t in tuples])
    p = P.QuadtreePartitioner.build_from_points(x, y, partition_size=psize)
    mx = [n["mid"][0] for n in p.nodes if n.get("children")][:48]
    my = [n["mid"][1] for n in p.nodes if n.get("children")][:48]
    check(p, *with_probes(x, y, mx, my))


@given(pts)
@settings(**SETTINGS)
def test_morton_sql_np_parity(tuples):
    x = np.asarray([t[0] for t in tuples])
    y = np.asarray([t[1] for t in tuples])
    p = P.MortonPartitioner(level=6)
    n = 1 << p.level
    ex = [-90.0 + k * (180.0 / n) for k in range(0, n + 1, 7)]
    ey = [-180.0 + k * (360.0 / n) for k in range(0, n + 1, 7)]
    check(p, *with_probes(x, y, ex, ey))


def test_fixed_grid_degenerate_domain_explicit():
    """All-equal x (step == 0): both sides must answer cell 0 without any
    NaN arithmetic (0/0's bigint cast is engine-defined)."""
    p = P.FixedGridPartitioner(xmin=5.0, xmax=5.0, n_cells=3)
    x = np.asarray([5.0, 5.0, 5.0])
    y = np.zeros(3)
    np.testing.assert_array_equal(p.assign_np(x), [0, 0, 0])
    np.testing.assert_array_equal(duck_eval(p.assign_sql("x"), x, y), [0, 0, 0])
    # the QUERY side of the same degenerate domain: a rect covering the
    # point answers cell 0, a disjoint/inverted rect answers no cells —
    # previously floor((fx - xmin) / 0) raised ZeroDivisionError, so a
    # degenerate build crashed on its first range query
    np.testing.assert_array_equal(p.cells_for_rect(4.0, 0.0, 6.0, 1.0), [0])
    np.testing.assert_array_equal(p.cells_for_rect(5.0, 0.0, 5.0, 1.0), [0])
    assert p.cells_for_rect(6.0, 0.0, 4.0, 1.0).size == 0


# ------------------------------------------------ routing soundness fuzz ---

def _boundaries(part):
    """Harvest every separator-like value from a built partitioner."""
    if isinstance(part, P.FixedGridPartitioner):
        return ([part.xmin + k * part.step for k in range(part.n_cells + 1)][:64], [])
    if isinstance(part, P.AdaptiveGridPartitioner):
        return (list(part.separators), [])
    if isinstance(part, P.KdTreePartitioner):
        s = [float(v) for v in np.asarray(part.splits).ravel()[:64]]
        return (s, s)
    if isinstance(part, P.QuadtreePartitioner):
        return ([n["mid"][0] for n in part.nodes if n.get("children")][:48],
                [n["mid"][1] for n in part.nodes if n.get("children")][:48])
    n = 1 << part.level
    return ([-90.0 + k * (180.0 / n) for k in range(0, n + 1, 5)],
            [-180.0 + k * (360.0 / n) for k in range(0, n + 1, 5)])


def _snap(v, pool, pick):
    """Replace v with an exact boundary (or its one-ulp neighbor) when the
    draw says so — rect edges exactly ON separators are the off-by-one
    hot spot of cells_for_rect."""
    if not pool or pick < 0:
        return v
    b = pool[pick % len(pool)]
    return [b, np.nextafter(b, -np.inf), np.nextafter(b, np.inf)][pick % 3]


SCHEME_BUILDERS = {
    "fixed_grid": lambda x, y, ps: P.FixedGridPartitioner.build(
        float(x.min()), float(x.max()), x.shape[0], ps),
    "adaptive_grid": lambda x, y, ps: P.AdaptiveGridPartitioner.build_from_sorted_x(
        np.sort(x), ps),
    "kd_tree": lambda x, y, ps: P.KdTreePartitioner.build_from_points(x, y, ps),
    "quadtree": lambda x, y, ps: P.QuadtreePartitioner.build_from_points(x, y, ps),
    "morton": lambda x, y, ps: P.MortonPartitioner(level=5),
}

snap_picks = st.tuples(st.integers(-1, 500), st.integers(-1, 500),
                       st.integers(-1, 500), st.integers(-1, 500))


@given(pts, sizes, st.tuples(lat, lat, lon, lon), snap_picks,
       st.sampled_from(sorted(SCHEME_BUILDERS)))
@settings(**SETTINGS)
def test_cells_for_rect_soundness_fuzz(tuples, psize, rect, picks, scheme):
    """No pruning loss, even for rects whose edges sit exactly on (or one
    ulp off) separators/splits/cell edges: every point inside the rect is
    assigned to a candidate cell."""
    x = np.asarray([t[0] for t in tuples])
    y = np.asarray([t[1] for t in tuples])
    part = SCHEME_BUILDERS[scheme](x, y, psize)
    bx, by = _boundaries(part)
    fx, tx = sorted((_snap(rect[0], bx, picks[0]), _snap(rect[1], bx, picks[1])))
    fy, ty = sorted((_snap(rect[2], by, picks[2]), _snap(rect[3], by, picks[3])))
    cells = part.assign_np(x, y)
    cand = set(int(c) for c in part.cells_for_rect(fx, fy, tx, ty))
    inside = (x >= fx) & (x <= tx) & (y >= fy) & (y <= ty)
    missing = set(np.unique(cells[inside]).tolist()) - cand
    assert not missing, (scheme, fx, fy, tx, ty, missing)
