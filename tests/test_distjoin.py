"""distance_join_pairs and knn_join vs O(n^2) NumPy brute-force oracles.

The adversarial inputs are the ones the blocking proof worries about:
points piled on the antimeridian seam (wrap adjacency, including the
merged fractional last cell), points near the poles (collapsed
single-cell bands), and radii large enough that the longitude bound
saturates.  Exact set equality, every time — the blocking is allowed to
over-generate candidates, never to drop a pair.

Every join runs on both plan shapes (:func:`_each_path`): the one task
of an input whose row bound fits ``core.ONE_TASK_MAX_ROWS`` (the test
tables are local tables, so their bound is known), and the band
exchange of one that does not.
"""

import numpy as np
import pytest

from learnedspatial_spark import core
from learnedspatial_spark.operators import distjoin
from learnedspatial_spark.operators.distjoin import (
    _window_deg, band_deg, distance_join_pairs, knn_join, row_bound)
from learnedspatial_spark.operators.probes import haversine_m
from learnedspatial_spark.session import local_frame

SCHEMA = "pid long, x double, y double"


def _each_path(monkeypatch):
    """Yield each join plan shape's name with the one-task bound set for
    it; planning the other shape fails the test."""
    def other_shape(*args):
        raise AssertionError("the join planned the other shape")
    for name, bound, unused in (("one-task", core.ONE_TASK_MAX_ROWS, "_band_colocated"),
                                ("exchange", -1, "_one_task")):
        with monkeypatch.context() as m:
            m.setattr(core, "ONE_TASK_MAX_ROWS", bound)
            m.setattr(distjoin, unused, other_shape)
            yield name


def _table(spark, rows, schema=SCHEMA):
    """``rows`` as a local table (a known row bound)."""
    names = [f.split()[0] for f in schema.split(",")]
    return local_frame(spark, {n: [r[i] for r in rows] for i, n in enumerate(names)}, schema)


def _frame(spark, lat, lon):
    return _table(spark, [(i, float(lat[i]), float(lon[i])) for i in range(len(lat))])


def _pair_rows(df):
    rows = [(r.l_pid, r.r_pid) for r in df.collect()]
    assert len(rows) == len(set(rows)), "duplicate rows emitted"
    return set(rows)


def _corpus(seed: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    k = n // 4
    lat = np.concatenate([
        rng.uniform(-90.0, 90.0, n - 3 * k),
        np.clip(rng.normal(89.3, 0.5, k), -90.0, 89.999),   # north polar band
        np.clip(rng.normal(-89.3, 0.5, k), -89.999, 90.0),  # south polar band
        rng.uniform(-30.0, 30.0, k),                        # dense equator
    ])
    lon = np.concatenate([
        rng.uniform(-180.0, 180.0, n - 2 * k),
        179.0 + rng.uniform(0.0, 1.0, k),                   # seam east side
        -180.0 + rng.uniform(0.0, 1.0, k),                  # seam west side
    ])
    assert lat.shape == lon.shape == (n,)
    return lat, np.where(lon >= 180.0, lon - 360.0, lon)


def _brute_pairs(lat: np.ndarray, lon: np.ndarray, radius_m: float) -> set[tuple[int, int]]:
    la = (lat / 180.0) * np.pi
    lo = (lon / 180.0) * np.pi
    n = lat.shape[0]
    out = set()
    for i in range(n - 1):
        d = haversine_m(la[i], lo[i], la[i + 1:], lo[i + 1:])
        for j in np.flatnonzero(d <= radius_m):
            out.add((i, int(i + 1 + j)))
    return out


@pytest.mark.parametrize("seed,radius_m", [
    (7, 100_000.0),      # small radius: many bands, narrow cells
    (7, 2_000_000.0),    # huge radius: polar bands collapse, wide cells
    (11, 400_000.0),
])
def test_distance_join_matches_brute_force(spark, seed, radius_m, monkeypatch):
    lat, lon = _corpus(seed, 600)
    df = _frame(spark, lat, lon)
    want = _brute_pairs(lat, lon, radius_m)
    for path in _each_path(monkeypatch):
        assert _pair_rows(distance_join_pairs(df, radius_m)) == want, path


def test_seam_and_pole_pairs_survive_blocking(spark, monkeypatch):
    # hand-built adversarial pairs: across the antimeridian at several
    # latitudes (incl. inside the merged last lon cell), and across the
    # pole-adjacent collapsed bands.
    pts = [
        (0, 0.0, 179.95), (1, 0.0, -179.95),          # seam, equator
        (2, 60.0, 179.9), (3, 60.2, -179.9),          # seam, high lat
        (4, 89.9, 10.0), (5, 89.9, -170.0),           # both in a polar band
        (6, -89.95, 55.0), (7, -89.95, -125.0),       # antipodal lons at S pole
        (8, 45.0, 0.0), (9, 45.0, 2.0),               # plain mid-lat control
    ]
    df = _table(spark, pts)
    lat = np.array([p[1] for p in pts])
    lon = np.array([p[2] for p in pts])
    for path in _each_path(monkeypatch):
        for radius_m in (30_000.0, 200_000.0):
            assert _pair_rows(distance_join_pairs(df, radius_m)) == \
                _brute_pairs(lat, lon, radius_m), path


def _brute_knn(lat_l, lon_l, pid_l, lat_r, lon_r, pid_r, k, radius_m):
    la_l, lo_l = (lat_l / 180.0) * np.pi, (lon_l / 180.0) * np.pi
    la_r, lo_r = (lat_r / 180.0) * np.pi, (lon_r / 180.0) * np.pi
    out = set()
    for i in range(len(pid_l)):
        d = haversine_m(la_l[i], lo_l[i], la_r, lo_r)
        m = (d <= radius_m) & (pid_r != pid_l[i])
        idx = np.flatnonzero(m)
        order = idx[np.lexsort((pid_r[idx], d[idx]))][:k]  # ties: (dist, pid)
        out.update((int(pid_l[i]), int(pid_r[j])) for j in order)
    return out


@pytest.mark.parametrize("k,radius_m", [
    (3, 150_000.0),
    (5, 1_500_000.0),
    (600, 150_000.0),    # k above every left point's neighbour count
])
def test_knn_join_matches_brute_force(spark, k, radius_m, monkeypatch):
    lat, lon = _corpus(13, 500)
    pid = np.arange(500, dtype=np.int64)
    df = _frame(spark, lat, lon)
    sel = pid % 5 == 0
    want = _brute_knn(lat[sel], lon[sel], pid[sel], lat, lon, pid, k, radius_m)
    for path in _each_path(monkeypatch):
        # left table also present on the right
        assert _pair_rows(knn_join(df.where("pid % 5 = 0"), df, k, radius_m)) == want, path


def test_knn_join_two_distinct_tables(spark, monkeypatch):
    # left ids disjoint from right ids: no self-exclusion interplay
    rng = np.random.default_rng(3)
    lat_r = rng.uniform(-60, 60, 200); lon_r = rng.uniform(-179, 179, 200)
    right = _table(spark, [(int(1000 + j), float(lat_r[j]), float(lon_r[j])) for j in range(200)])
    left = _table(spark, [(1, 10.0, 20.0), (2, -45.0, 170.0)])
    k, r_m = 4, 3_000_000.0
    want = _brute_knn(np.array([10.0, -45.0]), np.array([20.0, 170.0]),
                      np.array([1, 2]), lat_r, lon_r,
                      np.arange(1000, 1200), k, r_m)
    for path in _each_path(monkeypatch):
        assert _pair_rows(knn_join(left, right, k, r_m)) == want, path


def test_knn_join_colliding_id_spaces_needs_optout(spark, monkeypatch):
    # two DIFFERENT tables that reuse the same id values for different
    # physical points: exclude_same_id=False must keep the (5, 5) pair,
    # the default must drop exactly the equal-id rows and nothing else.
    left = _table(spark, [(5, 10.0, 20.0)])
    right = _table(spark, [(5, 10.0, 20.3), (6, 10.0, 20.1), (7, 10.0, 25.0)])
    k, r_m = 2, 100_000.0
    for path in _each_path(monkeypatch):
        # hotel "5" is a legitimate neighbor
        assert _pair_rows(knn_join(left, right, k, r_m, exclude_same_id=False)) == \
            {(5, 6), (5, 5)}, path
        assert _pair_rows(knn_join(left, right, k, r_m)) == {(5, 6)}, path


def test_string_id_columns_pass_through(spark, monkeypatch):
    # the refine schema derives from the caller's id type: string ids work
    df = _table(spark, [("a", 10.0, 20.0), ("b", 10.0, 20.2), ("c", -40.0, 100.0)],
                "doc string, x double, y double")
    for path in _each_path(monkeypatch):
        assert _pair_rows(distance_join_pairs(df, 50_000.0, id_col="doc")) == {("a", "b")}, path
        assert _pair_rows(knn_join(df, df, 1, 50_000.0, id_col="doc")) == \
            {("a", "b"), ("b", "a")}, path


def test_0_360_longitude_convention_pairs_survive_blocking(spark, monkeypatch):
    # climate/ocean convention: lon in [0, 360).  The pmod in _cell_expr
    # must route seam-straddling pairs (359.9 vs 0.1) into adjacent key
    # cells; the brute oracle uses the raw values (haversine is periodic).
    rng = np.random.default_rng(21)
    n = 300
    lat = rng.uniform(-70.0, 70.0, n)
    lon = np.concatenate([
        rng.uniform(0.0, 360.0, n - 100),
        359.0 + rng.uniform(0.0, 1.0, 50),   # east edge of the 0/360 seam
        rng.uniform(0.0, 1.0, 50),           # west edge
    ])
    df = _frame(spark, lat, lon)
    for path in _each_path(monkeypatch):
        for radius_m in (100_000.0, 1_000_000.0):
            assert _pair_rows(distance_join_pairs(df, radius_m)) == \
                _brute_pairs(lat, lon, radius_m), path


def test_boundary_distance_exactly_radius_is_kept(spark, monkeypatch):
    # a pair at exactly the band-height latitude separation (the
    # boundary the SAFETY inflation exists for)
    r = 50_000.0
    dlat = band_deg(r) / (1.0 + 2.0**-10)  # un-inflated exact bound
    df = _table(spark, [(0, 10.0, 20.0), (1, 10.0 + dlat, 20.0)])
    la = (np.array([10.0, 10.0 + dlat]) / 180.0) * np.pi
    lo = (np.array([20.0, 20.0]) / 180.0) * np.pi
    d = float(haversine_m(la[0], lo[0], la[1], lo[1]))
    assert abs(d - r) < 1.0  # the fixture really does sit on the boundary
    for path in _each_path(monkeypatch):
        assert _pair_rows(distance_join_pairs(df, r)) == ({(0, 1)} if d <= r else set()), path


@pytest.mark.parametrize("batch", [1, 7])
def test_bands_split_across_arrow_batches(spark, batch, monkeypatch):
    """The kernel carries a band's rows from one Arrow batch into the
    next; with tiny batches almost every band spans several (the one task
    hands its band-sorted rows over in chunks of the input's batch size)."""
    lat, lon = _corpus(11, 400)
    pid = np.arange(400, dtype=np.int64)
    df = _frame(spark, lat, lon)
    sel = pid % 3 == 0
    want = _brute_pairs(lat, lon, 400_000.0)
    want_knn = _brute_knn(lat[sel], lon[sel], pid[sel], lat, lon, pid, 4, 400_000.0)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(batch))
    try:
        for path in _each_path(monkeypatch):
            assert _pair_rows(distance_join_pairs(df, 400_000.0)) == want, path
            assert _pair_rows(knn_join(df.where("pid % 3 = 0"), df, 4, 400_000.0)) == \
                want_knn, path
    finally:
        spark.conf.set(key, old)


def test_polar_bands_search_the_whole_band(spark, monkeypatch):
    """Near a pole the longitude bound passes 180 degrees: the window is
    the whole band, and pairs on opposite sides of the pole still meet."""
    rng = np.random.default_rng(17)
    lat = np.concatenate([rng.uniform(89.6, 90.0, 120), rng.uniform(-90.0, -89.6, 120)])
    lon = rng.uniform(-180.0, 180.0, 240)
    pid = np.arange(240, dtype=np.int64)
    r = 30_000.0
    top = np.floor((np.array([89.9]) + 90.0) / band_deg(r)).astype(np.int64)
    assert _window_deg(top, r, 0)[0] == 360.0 and _window_deg(top, r, 1)[0] == 360.0
    df = _frame(spark, lat, lon)
    sel = pid % 4 == 0
    for path in _each_path(monkeypatch):
        assert _pair_rows(distance_join_pairs(df, r)) == _brute_pairs(lat, lon, r), path
        assert _pair_rows(knn_join(df.where("pid % 4 = 0"), df, 3, r)) == _brute_knn(
            lat[sel], lon[sel], pid[sel], lat, lon, pid, 3, r), path


def test_knn_join_exact_distance_ties_break_on_r_pid(spark, monkeypatch):
    # four right points at exactly the same distance (dlat = +-0.1 or
    # dlon = +-0.1 at the equator give bit-equal haversines), two
    # duplicates of the left point at distance 0, and one farther point
    left = _table(spark, [(1, 0.0, 0.0)])
    pts = [(40, 0.1, 0.0), (20, -0.1, 0.0), (30, 0.0, 0.1), (10, 0.0, -0.1),
           (70, 0.0, 0.0), (60, 0.0, 0.0), (50, 0.2, 0.0)]
    right = _table(spark, pts)
    lat_r = np.array([p[1] for p in pts])
    lon_r = np.array([p[2] for p in pts])
    pid_r = np.array([p[0] for p in pts])
    d = haversine_m(0.0, 0.0, (lat_r / 180.0) * np.pi, (lon_r / 180.0) * np.pi)
    assert len(set(d[:4].tolist())) == 1  # the four really tie
    for path in _each_path(monkeypatch):
        for k in (1, 3, 5, 7):
            got = _pair_rows(knn_join(left, right, k, 50_000.0))
            want = _brute_knn(np.array([0.0]), np.array([0.0]), np.array([1]),
                              lat_r, lon_r, pid_r, k, 50_000.0)
            assert got == want, (path, k)
        assert _pair_rows(knn_join(left, right, 3, 50_000.0)) == \
            {(1, 60), (1, 70), (1, 10)}, path


@pytest.mark.parametrize("side", ["left", "right", "both"])
def test_empty_side_joins_nothing(spark, side, monkeypatch):
    lat, lon = _corpus(7, 100)
    df = _frame(spark, lat, lon)
    empty = df.where("pid < 0")
    left = empty if side in ("left", "both") else df
    right = empty if side in ("right", "both") else df
    for path in _each_path(monkeypatch):
        assert knn_join(left, right, 3, 500_000.0).collect() == [], path
        if side == "both":
            assert distance_join_pairs(empty, 500_000.0).collect() == [], path


def test_null_and_nan_coordinates_are_dropped(spark, monkeypatch):
    """A row with a null or NaN latitude or longitude pairs with nothing,
    in both joins and in their DuckDB twins."""
    import duckdb

    from learnedspatial_spark import entrylib
    from learnedspatial_spark.sources.points import POINTS_CTE

    nan = float("nan")
    rows = [(10, 10.0, 20.0), (20, 10.0, 20.1), (30, None, 20.0), (40, 10.0, None),
            (50, nan, 20.0), (60, 10.0, nan)]
    df = _table(spark, rows)
    for path in _each_path(monkeypatch):
        pairs = sorted(tuple(r) for r in distance_join_pairs(
            df, entrylib.DISTANCE_JOIN_RADIUS_M).collect())
        knn = sorted(tuple(r) for r in knn_join(
            df, df, entrylib.KNN_JOIN_K, entrylib.KNN_JOIN_RADIUS_M).collect())
        assert pairs == [(10, 20)], path
        assert knn == [(10, 20), (20, 10)], path

    def sql_value(v):
        if v is None:
            return "NULL"
        return "'NaN'::DOUBLE" if v != v else f"{v!r}::DOUBLE"

    values = ", ".join(f"({p}, {sql_value(x)}, {sql_value(y)})" for p, x, y in rows)
    frame = f"points AS (SELECT * FROM (VALUES {values}) v(pid, x, y))"
    con = duckdb.connect()
    for sql, want in ((entrylib._distance_join_sql(), pairs), (entrylib._knn_join_sql(), knn)):
        assert POINTS_CTE in sql
        assert sorted(con.sql(sql.replace(POINTS_CTE, frame)).fetchall()) == want


def test_row_bound_of_cache_filter_and_parquet(spark, sf_dir):
    """The one-task decision's row bound: a materialized cache knows its
    rows, a filter over it keeps that bound, and an uncached parquet scan
    has none."""
    from pyspark.sql import functions as F

    from learnedspatial_spark.sources.points import points_df

    assert row_bound(points_df(spark, sf_dir)) is None
    cached = points_df(spark, sf_dir).cache()
    try:
        n = cached.count()
        assert n > 0 and row_bound(cached) == n
        assert row_bound(cached.where(F.pmod(F.col("pid"), F.lit(8)) == 0)) == n
    finally:
        cached.unpersist()
