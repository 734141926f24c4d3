"""Tier-2 end-to-end parity: engine DataFrame results vs (a) the Spark
full-scan filter oracle and (b) the single-node NumPy oracle, for every
(partitioning scheme x refinement x query type) — the engine analog of the
reference's VALIDATE modes (src/main.cpp:193-255): sorted-rows exact
comparison."""

import numpy as np
import pytest

from learnedspatial_spark.engine import SpatialEngine
from learnedspatial_spark.sources import points as points_src
from learnedspatial_spark.sources import workloads as wl
from oracle import oracle as orc

SCHEMES = ["fixed_grid", "adaptive_grid", "kd_tree", "quadtree", "str", "morton"]


@pytest.fixture(scope="module")
def corpus(sf_dir):
    pid, x, y = points_src.points_np(sf_dir)
    return pid, x, y


@pytest.fixture(scope="module")
def rects():
    return wl.rectangles(n_per_tier=10)


@pytest.mark.parametrize("scheme", SCHEMES)
@pytest.mark.parametrize("refine", ["learned", "binsearch", "binsearch_x"])
def test_range_count_parity(spark, sf_dir, corpus, rects, scheme, refine):
    pid, x, y = corpus
    eng = SpatialEngine(spark, sf_dir, scheme=scheme, refine=refine)
    got = {r["query_id"]: r["cnt"] for r in eng.range_count(rects).collect()}
    for (qid, fx, fy, tx, ty) in rects:
        want = orc.range_count(x, y, fx, fy, tx, ty)
        assert got[qid] == want, (scheme, refine, qid)


@pytest.mark.parametrize("scheme,refine", [
    ("fixed_grid", "learned"), ("quadtree", "learned"),
    ("fixed_grid", "binsearch_x"),  # C3 BinarySearchXCell materializing form
])
def test_range_materialize_parity(spark, sf_dir, corpus, rects, scheme, refine):
    pid, x, y = corpus
    eng = SpatialEngine(spark, sf_dir, scheme=scheme, refine=refine)
    rows = eng.range_materialize(rects).collect()
    got = sorted((r["query_id"], r["pid"], r["x"], r["y"]) for r in rows)
    want = []
    for (qid, fx, fy, tx, ty) in rects:
        for i in orc.range_materialize(x, y, fx, fy, tx, ty):
            want.append((qid, int(pid[i]), float(x[i]), float(y[i])))
    assert got == sorted(want)


@pytest.mark.parametrize("scheme", ["fixed_grid", "adaptive_grid", "str"])
def test_point_lookup_parity(spark, sf_dir, corpus, scheme):
    pid, x, y = corpus
    pts = wl.point_queries(x, y, n_hits=30, n_misses=10)
    eng = SpatialEngine(spark, sf_dir, scheme=scheme)
    got = {r["query_id"]: r["pid"] for r in eng.point_lookup(pts).collect()}
    for (qid, qx, qy) in pts:
        want = orc.point_lookup(x, y, pid, qx, qy)
        assert got[qid] == (want if want is not None else -1), qid


@pytest.mark.parametrize("scheme", ["fixed_grid", "kd_tree"])
def test_distance_count_parity(spark, sf_dir, corpus, scheme):
    pid, x, y = corpus
    circles = wl.distance_queries(n=20)
    eng = SpatialEngine(spark, sf_dir, scheme=scheme)
    got = {r["query_id"]: r["cnt"] for r in eng.distance_count(circles).collect()}
    xr, yr = (x / 180.0) * np.pi, (y / 180.0) * np.pi
    for (qid, qx, qy, r) in circles:
        want = orc.distance_count(xr, yr, (qx / 180.0) * np.pi, (qy / 180.0) * np.pi, r)
        assert got[qid] == want, qid


@pytest.mark.parametrize("scheme", ["fixed_grid", "quadtree", "str"])
def test_pip_parity(spark, sf_dir, corpus, scheme):
    pid, x, y = corpus
    polys = wl.polygons(n=12)
    eng = SpatialEngine(spark, sf_dir, scheme=scheme)
    got = {r["polygon_id"]: r["cnt"] for r in eng.pip(polys).collect()}
    want = orc.pip_counts(x, y, {g: (np.asarray(vx), np.asarray(vy)) for g, (vx, vy) in polys.items()})
    assert got == want
    # pairs parity
    rows = eng.pip(polys, pairs=True).collect()
    got_pairs = sorted((r["polygon_id"], r["pid"]) for r in rows)
    want_pairs = orc.pip_pairs(x, y, pid, {g: (np.asarray(vx), np.asarray(vy)) for g, (vx, vy) in polys.items()})
    assert got_pairs == want_pairs


@pytest.mark.parametrize("scheme", ["fixed_grid", "adaptive_grid", "morton"])
def test_knn_parity(spark, sf_dir, corpus, scheme):
    pid, x, y = corpus
    queries = wl.knn_queries(n=12)
    eng = SpatialEngine(spark, sf_dir, scheme=scheme)
    rows = eng.knn(queries).collect()
    got: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rnk"])):
        got.setdefault(r["query_id"], []).append(r["pid"])
    for (qid, qx, qy, k) in queries:
        want = orc.knn_euclidean(x, y, pid, qx, qy, k)
        assert got.get(qid, []) == want, qid


@pytest.mark.parametrize("scheme", SCHEMES)
def test_tile_assignment_total_and_consistent(spark, sf_dir, corpus, scheme):
    pid, x, y = corpus
    eng = SpatialEngine(spark, sf_dir, scheme=scheme)
    rows = eng.tile_assignment().collect()
    assert len(rows) == x.shape[0]
    got = {r["pid"]: r["cell_id"] for r in rows}
    if scheme != "str":  # STR is rank-defined; checked via window SQL in entry tests
        order = np.argsort(pid)
        want = eng.partitioner.assign_np(x, y)
        for i in order[:2000]:
            assert got[int(pid[i])] == int(want[i])


@pytest.mark.parametrize("refine", ["learned", "binsearch"])
def test_range_count_with_skew_salting(spark, sf_dir, corpus, rects, refine):
    """Salted probes (skew handling) must return identical results, and
    the salt must spread every oversized cell over several partitions of
    the cached relation (so over several probe tasks)."""
    pid, x, y = corpus
    eng = SpatialEngine(spark, sf_dir, scheme="fixed_grid", refine=refine, salt_rows=200)
    got = {r["query_id"]: r["cnt"] for r in eng.range_count(rects).collect()}
    for (qid, fx, fy, tx, ty) in rects:
        assert got[qid] == orc.range_count(x, y, fx, fy, tx, ty), qid
    from pyspark.sql import functions as F
    rows = (eng.assigned_points().select("cell_id", F.spark_partition_id().alias("part"))
            .groupBy("cell_id").agg(F.count(F.lit(1)).alias("n"),
                                    F.countDistinct("part").alias("parts")).collect())
    hot = [r for r in rows if r["n"] > 200]
    assert hot and all(r["parts"] >= 2 for r in hot), rows


def test_knn_with_salting_parity(spark, sf_dir, corpus):
    pid, x, y = corpus
    queries = wl.knn_queries(n=8)
    eng = SpatialEngine(spark, sf_dir, scheme="fixed_grid", salt_rows=200)
    rows = eng.knn(queries).collect()
    got = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rnk"])):
        got.setdefault(r["query_id"], []).append(r["pid"])
    for (qid, qx, qy, k) in queries:
        assert got.get(qid, []) == orc.knn_euclidean(x, y, pid, qx, qy, k), qid


def test_build_sample_results_identical(spark, sf_dir, corpus, rects, monkeypatch):
    """Sampled splitter build (the 100 TB path) changes cell structure but
    never query results."""
    from learnedspatial_spark.operators import partitioning
    pid, x, y = corpus
    monkeypatch.setattr(partitioning, "BUILD_SAMPLE_ROWS", 2000)
    eng = SpatialEngine(spark, sf_dir, scheme="quadtree")
    got = {r["query_id"]: r["cnt"] for r in eng.range_count(rects).collect()}
    for (qid, fx, fy, tx, ty) in rects:
        assert got[qid] == orc.range_count(x, y, fx, fy, tx, ty), qid


def test_pages_source_engine(spark, tmp_path):
    """Engine over a pages corpus (production shape): range counts match a
    NumPy oracle over the same embedded coordinates."""
    from learnedspatial_spark import datagen
    src = str(tmp_path / "pages")
    datagen.pages_df(spark, 4000, partitions=4).write.parquet(src)
    eng = SpatialEngine(spark, src, scheme="morton", source="pages")
    rects = wl.rectangles(n_per_tier=6)
    got = {r["query_id"]: r["cnt"] for r in eng.range_count(rects).collect()}
    ids = np.arange(4000, dtype=np.int64)
    lat, lon = datagen.coords_for_ids(ids)
    for (qid, fx, fy, tx, ty) in rects:
        assert got[qid] == orc.range_count(lat, lon, fx, fy, tx, ty), qid


# ---------------------------------------------------------------------------
# Literal tables: every table an engine builds from a query batch must plan
# as a JVM LocalTableScan.  A row-list (or empty pandas) createDataFrame
# plans as `Scan ExistingRDD` over a PythonRDD and starts defaultParallelism
# Python tasks in every job that reads it, whatever the job computes.

@pytest.fixture(scope="module")
def both_engines(spark, sf_dir, tmp_path_factory):
    from learnedspatial_spark import pipeline
    from learnedspatial_spark.tiled import TiledSpatialEngine

    root = str(tmp_path_factory.mktemp("literal_tables") / "index")
    pipeline.build_tiled_index(spark, None, root, partition_size=500,
                               points_df=points_src.points_df(spark, sf_dir))
    return {"session": SpatialEngine(spark, sf_dir, scheme="fixed_grid", partition_size=500),
            "tiled": TiledSpatialEngine(spark, root)}


def _batches(corpus, empty: bool) -> dict:
    pid, x, y = corpus
    if empty:
        return {"rects": [], "pts": [], "circles": [], "polys": {}, "knn": []}
    return {"rects": wl.rectangles(n_per_tier=2),
            "pts": wl.point_queries(x, y, n_hits=3, n_misses=2),
            "circles": wl.distance_queries(n=3),
            "polys": wl.polygons(n=3),
            "knn": wl.knn_queries(n=3)}


def _literal_table_cases(eng, corpus, b):
    """(method, lazy DataFrame, row -> key/value, oracle dict) per
    public query method of ``eng``."""
    pid, x, y = corpus
    xr, yr = (x / 180.0) * np.pi, (y / 180.0) * np.pi
    polys_np = {g: (np.asarray(vx), np.asarray(vy)) for g, (vx, vy) in b["polys"].items()}
    cases = [
        ("range_count", eng.range_count(b["rects"]),
         lambda r: (r["query_id"], r["cnt"]),
         {q: orc.range_count(x, y, fx, fy, tx, ty) for (q, fx, fy, tx, ty) in b["rects"]}),
        ("range_materialize", eng.range_materialize(b["rects"]),
         lambda r: ((r["query_id"], r["pid"]), 1),
         {(q, int(pid[i])): 1 for (q, fx, fy, tx, ty) in b["rects"]
          for i in orc.range_materialize(x, y, fx, fy, tx, ty)}),
        ("point_lookup", eng.point_lookup(b["pts"]),
         lambda r: (r["query_id"], r["pid"]),
         {q: (lambda w: -1 if w is None else w)(orc.point_lookup(x, y, pid, qx, qy))
          for (q, qx, qy) in b["pts"]}),
        ("distance_count", eng.distance_count(b["circles"]),
         lambda r: (r["query_id"], r["cnt"]),
         {q: orc.distance_count(xr, yr, (qx / 180.0) * np.pi, (qy / 180.0) * np.pi, rad)
          for (q, qx, qy, rad) in b["circles"]}),
        ("pip", eng.pip(b["polys"]),
         lambda r: (r["polygon_id"], r["cnt"]), orc.pip_counts(x, y, polys_np)),
        ("knn", eng.knn(b["knn"]),
         lambda r: ((r["query_id"], r["rnk"]), r["pid"]),
         {(q, i + 1): p for (q, qx, qy, k) in b["knn"]
          for i, p in enumerate(orc.knn_euclidean(x, y, pid, qx, qy, k))}),
    ]
    if hasattr(eng, "polygon_tiles"):
        cases.append((
            "polygon_tiles", eng.polygon_tiles(b["polys"]),
            lambda r: ((r["polygon_id"], r["cell_id"]), 1),
            {(g, int(c)): 1 for g, (vx, vy) in b["polys"].items()
             for c in eng.partitioner.cells_for_rect(min(vx), min(vy), max(vx), max(vy))}))
    return cases


@pytest.mark.parametrize("empty", [False, True], ids=["batch", "empty"])
@pytest.mark.parametrize("engine", ["session", "tiled"])
def test_query_tables_plan_without_python_rdd(both_engines, corpus, engine, empty):
    eng = both_engines[engine]
    for name, df, kv, want in _literal_table_cases(eng, corpus, _batches(corpus, empty)):
        got = dict(kv(r) for r in df.collect())
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" not in plan, (engine, name, plan)
        assert got == want, (engine, name)
        assert bool(want) != empty, (engine, name)  # empty batch -> no rows
