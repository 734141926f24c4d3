"""distance_join_pairs vs an O(n^2) NumPy brute-force oracle.

The adversarial inputs are the ones the blocking proof worries about:
points piled on the antimeridian seam (wrap adjacency, including the
merged fractional last cell), points near the poles (collapsed
single-cell bands), and radii large enough that the longitude bound
saturates.  Exact set equality, every time — the blocking is allowed to
over-generate candidates, never to drop a pair.
"""

import numpy as np
import pytest

from learnedspatial_spark.operators.distjoin import (
    band_deg, distance_join_pairs, knn_join)
from learnedspatial_spark.operators.probes import haversine_m


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
def test_distance_join_matches_brute_force(spark, seed, radius_m):
    lat, lon = _corpus(seed, 600)
    df = spark.createDataFrame(
        [(int(i), float(lat[i]), float(lon[i])) for i in range(len(lat))],
        "pid long, x double, y double",
    )
    rows = distance_join_pairs(df, radius_m).collect()
    got = [(r.l_pid, r.r_pid) for r in rows]
    assert len(got) == len(set(got)), "duplicate pairs emitted"
    assert set(got) == _brute_pairs(lat, lon, radius_m)


def test_seam_and_pole_pairs_survive_blocking(spark):
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
    df = spark.createDataFrame(pts, "pid long, x double, y double")
    lat = np.array([p[1] for p in pts])
    lon = np.array([p[2] for p in pts])
    for radius_m in (30_000.0, 200_000.0):
        got = {(r.l_pid, r.r_pid) for r in distance_join_pairs(df, radius_m).collect()}
        assert got == _brute_pairs(lat, lon, radius_m)


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


@pytest.mark.parametrize("k,radius_m", [(3, 150_000.0), (5, 1_500_000.0)])
def test_knn_join_matches_brute_force(spark, k, radius_m):
    lat, lon = _corpus(13, 500)
    pid = np.arange(500, dtype=np.int64)
    df = spark.createDataFrame(
        [(int(pid[i]), float(lat[i]), float(lon[i])) for i in range(500)],
        "pid long, x double, y double",
    )
    left = df.where("pid % 5 = 0")  # left table also present on the right
    rows = knn_join(left, df, k, radius_m).collect()
    got = [(r.l_pid, r.r_pid) for r in rows]
    assert len(got) == len(set(got)), "duplicate kNN rows emitted"
    sel = pid % 5 == 0
    assert set(got) == _brute_knn(
        lat[sel], lon[sel], pid[sel], lat, lon, pid, k, radius_m)


def test_knn_join_two_distinct_tables(spark):
    # left ids disjoint from right ids: no self-exclusion interplay
    rng = np.random.default_rng(3)
    lat_r = rng.uniform(-60, 60, 200); lon_r = rng.uniform(-179, 179, 200)
    right = spark.createDataFrame(
        [(int(1000 + j), float(lat_r[j]), float(lon_r[j])) for j in range(200)],
        "pid long, x double, y double")
    left = spark.createDataFrame(
        [(1, 10.0, 20.0), (2, -45.0, 170.0)], "pid long, x double, y double")
    k, r_m = 4, 3_000_000.0
    got = {(r.l_pid, r.r_pid) for r in knn_join(left, right, k, r_m).collect()}
    want = _brute_knn(np.array([10.0, -45.0]), np.array([20.0, 170.0]),
                      np.array([1, 2]), lat_r, lon_r,
                      np.arange(1000, 1200), k, r_m)
    assert got == want


def test_knn_join_colliding_id_spaces_needs_optout(spark):
    # two DIFFERENT tables that reuse the same id values for different
    # physical points: exclude_same_id=False must keep the (5, 5) pair,
    # the default must drop exactly the equal-id rows and nothing else.
    left = spark.createDataFrame(
        [(5, 10.0, 20.0)], "pid long, x double, y double")
    right = spark.createDataFrame(
        [(5, 10.0, 20.3), (6, 10.0, 20.1), (7, 10.0, 25.0)],
        "pid long, x double, y double")
    k, r_m = 2, 100_000.0
    got = {(r.l_pid, r.r_pid)
           for r in knn_join(left, right, k, r_m,
                             exclude_same_id=False).collect()}
    assert got == {(5, 6), (5, 5)}  # hotel "5" is a legitimate neighbor
    got_default = {(r.l_pid, r.r_pid)
                   for r in knn_join(left, right, k, r_m).collect()}
    assert got_default == {(5, 6)}


def test_string_id_columns_pass_through(spark):
    # the refine schema derives from the caller's id type: string ids work
    df = spark.createDataFrame(
        [("a", 10.0, 20.0), ("b", 10.0, 20.2), ("c", -40.0, 100.0)],
        "doc string, x double, y double")
    got = {(r.l_pid, r.r_pid)
           for r in distance_join_pairs(df, 50_000.0, id_col="doc").collect()}
    assert got == {("a", "b")}
    got_knn = {(r.l_pid, r.r_pid)
               for r in knn_join(df, df, 1, 50_000.0, id_col="doc").collect()}
    assert got_knn == {("a", "b"), ("b", "a")}


def test_0_360_longitude_convention_pairs_survive_blocking(spark):
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
    df = spark.createDataFrame(
        [(int(i), float(lat[i]), float(lon[i])) for i in range(n)],
        "pid long, x double, y double")
    for radius_m in (100_000.0, 1_000_000.0):
        got = {(r.l_pid, r.r_pid)
               for r in distance_join_pairs(df, radius_m).collect()}
        assert got == _brute_pairs(lat, lon, radius_m)


def test_boundary_distance_exactly_radius_is_kept(spark):
    # a pair at exactly the band-height latitude separation (the
    # boundary the SAFETY inflation exists for)
    r = 50_000.0
    dlat = band_deg(r) / (1.0 + 2.0**-10)  # un-inflated exact bound
    df = spark.createDataFrame(
        [(0, 10.0, 20.0), (1, 10.0 + dlat, 20.0)], "pid long, x double, y double")
    la = (np.array([10.0, 10.0 + dlat]) / 180.0) * np.pi
    lo = (np.array([20.0, 20.0]) / 180.0) * np.pi
    d = float(haversine_m(la[0], lo[0], la[1], lo[1]))
    got = {(r_.l_pid, r_.r_pid) for r_ in distance_join_pairs(df, r).collect()}
    assert got == ({(0, 1)} if d <= r else set())
    assert abs(d - r) < 1.0  # the fixture really does sit on the boundary


def test_haversine_col_bit_identical_to_sql(spark, sf_dir):
    """The Column haversine (the s^2 pre-filter's home) and the SQL string
    the DuckDB twins use must agree to the bit on corpus point pairs.  Each
    form runs in its own job: within one projection, subexpression
    elimination treats reassociated products as equal and evaluates only
    one of them."""
    import math

    from pyspark.sql import functions as F

    from learnedspatial_spark.functions import geo
    from learnedspatial_spark.sources.points import points_df

    def radians(df, a, b):
        return df.select((F.col("x") / 180.0 * math.pi).alias(a),
                         (F.col("y") / 180.0 * math.pi).alias(b))

    pts = points_df(spark, sf_dir)
    names = ("la1", "lo1", "la2", "lo2")
    pairs = radians(pts, "la1", "lo1").crossJoin(
        F.broadcast(radians(pts.orderBy("pid").limit(8), "la2", "lo2")))

    def values(expr):
        return np.asarray(sorted(pairs.select(*names, expr.alias("v")).collect()))[:, 4]

    cols = [F.col(c) for c in names]
    s2 = values(geo.haversine_s2_col(*cols))
    assert s2.shape[0] > 10_000
    assert np.array_equal(s2, values(F.expr(geo.haversine_s2_sql(*names))))
    assert np.array_equal(values(geo.haversine_m_col(*cols)),
                          values(F.expr(geo.haversine_m_sql(*names))))
