"""One job shape per query size: a small batch (a single query) probes and
merges in one task (1 Spark job, no exchange, no broadcast) over an index
listed once; a batch over ``core.ONE_TASK_MAX_ROWS`` probes in parallel
and merges with one aggregation (2 jobs, one exchange, no join); a batch
that routes no cell runs no job.  Both paths give the same rows, and the
point lookup, a degenerate range, keeps its defined answers for hits,
misses, duplicate coordinates and empty batches on each.  Each table join
is one band-co-located plan of two jobs."""

import os

import numpy as np
import pandas as pd
import pytest

from learnedspatial_spark import core, pipeline
from learnedspatial_spark.engine import ISIN_MAX_CELLS, SpatialEngine
from learnedspatial_spark.operators.distjoin import distance_join_pairs, knn_join
from learnedspatial_spark.tiled import TiledSpatialEngine
from oracle import oracle as orc

N_UNIQUE = 400
DUPS = 5  # the first DUPS coordinates appear on 3 more pages each


def _write_pages(path, lat, lon, tag):
    texts = [f"page geo:{float(a)!r},{float(b)!r} end" for a, b in zip(lat, lon)]
    pd.DataFrame({"url": [f"https://{tag}.example/{i:04d}" for i in range(len(lat))],
                  "text": texts}).to_parquet(path, index=False)


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    """A pages corpus with repeated coordinates, answered by the in-session
    engine, a tiled index over the same pid points, and a tiled index
    built from the pages themselves (url ids)."""
    d = tmp_path_factory.mktemp("query_shape")
    rng = np.random.default_rng(5)
    lat = np.round(rng.uniform(-80, 80, N_UNIQUE), 3)
    lon = np.round(rng.uniform(-170, 170, N_UNIQUE), 3)
    lat = np.concatenate([lat, np.repeat(lat[:DUPS], 3)])
    lon = np.concatenate([lon, np.repeat(lon[:DUPS], 3)])
    pages = str(d / "pages.parquet")
    _write_pages(pages, lat, lon, "dup")
    session = SpatialEngine(spark, pages, scheme="fixed_grid", partition_size=50,
                            source="pages")
    cached = session.assigned_points().cache()
    pts = cached.select("pid", "x", "y").toPandas()
    pipeline.build_tiled_index(spark, None, str(d / "pid"), partition_size=50,
                               points_df=session.points())
    pipeline.build_tiled_index(spark, pages, str(d / "url"), partition_size=50)
    urls = np.asarray([f"https://dup.example/{i:04d}" for i in range(len(lat))], dtype=object)
    yield {"session": session, "tiled": TiledSpatialEngine(spark, str(d / "pid")),
           "tiled_url": TiledSpatialEngine(spark, str(d / "url")),
           "pid": pts["pid"].to_numpy(), "x": pts["x"].to_numpy(), "y": pts["y"].to_numpy(),
           "urls": urls, "lat": lat, "lon": lon, "dir": d}
    cached.unpersist()


def _each_path(monkeypatch):
    """Yield each query path's name with the module bound set for it: the
    one-task stage (every batch of this corpus fits the bound) and the
    parallel probe with its aggregation (a bound no batch fits)."""
    for name, bound in (("one-task", core.ONE_TASK_MAX_ROWS), ("parallel", -1)):
        monkeypatch.setattr(core, "ONE_TASK_MAX_ROWS", bound)
        yield name


def _point_batch(c):
    """(query_id, x, y): each duplicated coordinate, single hits, misses
    far from any point, and misses 1e-7 away from a real point (their
    cell is routed and probed)."""
    lat, lon = c["lat"], c["lon"]
    pts = [(q, float(lat[q]), float(lon[q])) for q in range(DUPS)]
    pts += [(q, float(lat[q]), float(lon[q])) for q in range(DUPS, DUPS + 10)]
    pts += [(100, 89.5, 179.5), (101, -89.5, -179.5)]
    pts += [(200 + j, float(lat[j]) + 1e-7, float(lon[j])) for j in range(20, 24)]
    return pts


@pytest.mark.parametrize("engine", ["session", "tiled"])
def test_point_lookup_hits_misses_duplicates(corpus, engine, monkeypatch):
    pts = _point_batch(corpus)
    want = {q: orc.point_lookup(corpus["x"], corpus["y"], corpus["pid"], qx, qy)
            for (q, qx, qy) in pts}
    for path in _each_path(monkeypatch):
        got = {r["query_id"]: r["pid"] for r in corpus[engine].point_lookup(pts).collect()}
        assert got == {q: -1 if w is None else w for q, w in want.items()}, path
        # the repeated coordinates really repeat, and the answer is their min id
        for q in range(DUPS):
            m = (corpus["x"] == pts[q][1]) & (corpus["y"] == pts[q][2])
            assert m.sum() == 4 and got[q] == corpus["pid"][m].min(), path


def test_point_lookup_url_ids_miss_is_null(corpus, monkeypatch):
    pts = _point_batch(corpus)
    lat, lon, urls = corpus["lat"], corpus["lon"], corpus["urls"]
    want = {}
    for (q, qx, qy) in pts:
        m = (lat == qx) & (lon == qy)
        want[q] = min(urls[m]) if m.any() else None
    assert want[100] is None and want[0] == urls[0]  # min url of a repeated coordinate
    for path in _each_path(monkeypatch):
        rows = corpus["tiled_url"].point_lookup(pts).collect()
        assert {r["query_id"]: r["url"] for r in rows} == want, path


@pytest.mark.parametrize("engine", ["session", "tiled"])
def test_knn_ties_break_by_x_y_id(corpus, engine, monkeypatch):
    """kNN at a coordinate held by 4 points (4 exact d2 = 0 ties, broken by
    id) and with k cutting through the tied run, on both paths."""
    x, y, pid, lat, lon = (corpus[k] for k in ("x", "y", "pid", "lat", "lon"))
    queries = [(q, float(lat[q]), float(lon[q]), k) for q, k in ((0, 6), (1, 2), (2, 4), (3, 1))]
    want = {q: orc.knn_euclidean(x, y, pid, qx, qy, k) for (q, qx, qy, k) in queries}
    for q, qx, qy, _ in queries:
        assert ((x == qx) & (y == qy)).sum() == 4
    for path in _each_path(monkeypatch):
        got = {}
        for r in sorted(corpus[engine].knn(queries).collect(), key=lambda r: (r[0], r[1])):
            got.setdefault(r["query_id"], []).append(r["pid"])
        assert got == want, path


@pytest.mark.parametrize("engine", ["session", "tiled", "tiled_url"])
def test_one_task_and_parallel_paths_agree(corpus, engine, monkeypatch):
    """Every merged family gives the same rows on both paths."""
    eng, lat, lon = corpus[engine], corpus["lat"], corpus["lon"]
    calls = {
        "range_count": lambda: eng.range_count(
            [(q, lat[q] - 4, lon[q] - 9, lat[q] + 4, lon[q] + 9) for q in range(12)]),
        "distance_count": lambda: eng.distance_count(
            [(q, float(lat[q]), float(lon[q]), 400_000.0 * (q + 1)) for q in range(6)]),
        "pip": lambda: eng.pip({g: ([lat[g] - 6, lat[g] + 6, lat[g], lat[g] - 6],
                                    [lon[g] - 6, lon[g] - 6, lon[g] + 9, lon[g] - 6])
                                for g in range(5)}),
        "point_lookup": lambda: eng.point_lookup(_point_batch(corpus)),
        "knn": lambda: eng.knn([(q, float(lat[q]), float(lon[q]), 3 + q) for q in range(8)]),
    }
    for family, call in calls.items():
        rows = {path: sorted(tuple(r) for r in call().collect())
                for path in _each_path(monkeypatch)}
        assert rows["one-task"] == rows["parallel"] and rows["one-task"], family


@pytest.mark.parametrize("engine", ["session", "tiled", "tiled_url"])
def test_point_lookup_empty_batch(corpus, engine):
    assert corpus[engine].point_lookup([]).collect() == []


@pytest.mark.parametrize("engine", ["session", "tiled"])
def test_counts_without_hits_report_routed_base(corpus, engine, monkeypatch):
    """A query that probes nothing still gets its row: its routed base
    (the counts of fully-contained cells), else 0."""
    eng, n = corpus[engine], len(corpus["pid"])
    lat, lon = corpus["lat"], corpus["lon"]
    rects = [(0, -90.0, -180.0, 90.0, 180.0),                # every cell contained
             (1, 200.0, 300.0, 210.0, 310.0),                 # beyond every point
             (2, lat[7] + 1e-7, lon[7], lat[7] + 2e-7, lon[7])]  # routed cell, no hit
    circles = [(7, 89.99, 179.99, 1.0)]
    polys = {9: ([89.0, 89.5, 89.5], [179.0, 179.0, 179.5])}
    for path in _each_path(monkeypatch):
        assert {r["query_id"]: r["cnt"] for r in eng.range_count(rects).collect()} == \
            {0: n, 1: 0, 2: 0}, path
        assert [tuple(r) for r in eng.distance_count(circles).collect()] == [(7, 0)], path
        assert [tuple(r) for r in eng.pip(polys).collect()] == [(9, 0)], path


@pytest.mark.parametrize("engine", ["session", "tiled"])
def test_batch_routing_no_cell_is_answered_without_a_job(spark, corpus, engine, monkeypatch):
    """A batch whose routing leaves no cell to probe (every candidate cell
    contained, or an inverted rectangle) is the merge of zero partials on
    the driver: its rows, and no Spark job on either path."""
    eng, n = corpus[engine], len(corpus["pid"])
    everything, inverted = (0, -90.0, -180.0, 90.0, 180.0), (1, 10.0, 10.0, 5.0, 5.0)
    for path in _each_path(monkeypatch):
        for batch, want in (([everything], [(0, n)]), ([inverted], [(1, 0)]),
                            ([everything, inverted], [(0, n), (1, 0)])):
            rows = []
            jobs = _jobs_of(spark, f"no-cell-{engine}-{path}",
                            lambda: rows.extend(eng.range_count(batch).collect()))
            assert sorted(tuple(r) for r in rows) == want and jobs == 0, (path, batch)


@pytest.fixture(scope="module")
def gap(spark, tmp_path_factory):
    """Engines over points in two latitude clusters, so the fixed grid's
    middle stripes are cells without rows.  The in-session relation is
    not cached."""
    d = tmp_path_factory.mktemp("gap")
    rng = np.random.default_rng(9)
    lat = np.concatenate([rng.uniform(-80, -60, 60), rng.uniform(60, 80, 60)])
    lon = rng.uniform(-170, 170, lat.size)
    pages = str(d / "pages.parquet")
    _write_pages(pages, lat, lon, "gap")
    session = SpatialEngine(spark, pages, scheme="fixed_grid", partition_size=10,
                            source="pages")
    pipeline.build_tiled_index(spark, None, str(d / "pid"), partition_size=10,
                               points_df=session.points())
    return {"session": session, "tiled": TiledSpatialEngine(spark, str(d / "pid"))}


@pytest.mark.parametrize("engine", ["session", "tiled"])
def test_query_routed_to_cells_without_rows_runs_no_job(spark, gap, engine, monkeypatch):
    """A query whose candidate cells hold no rows probes nothing: its
    merged row comes from the driver, on both paths.  (Probed, such a cell
    is an empty shuffle on the uncached in-session relation, and adaptive
    execution would drop the one-task stage with its row.)"""
    eng = gap[engine]
    eng.point_lookup([(0, 70.0, 0.0)]).collect()  # first use: stats and table opening
    routed = eng.partitioner.cells_for_rect(0.0, 0.0, 0.5, 0.5)
    assert routed.size and not np.isin(routed, eng.cell_stats().ids).any()
    queries = {
        "point_lookup": (lambda: eng.point_lookup([(3, 0.25, 0.25)]), [(3, -1)]),
        "distance_count": (lambda: eng.distance_count([(4, 0.25, 0.25, 100.0)]), [(4, 0)]),
        "pip": (lambda: eng.pip({5: ([0.1, 0.4, 0.4, 0.1], [0.1, 0.1, 0.4, 0.1])}), [(5, 0)]),
    }
    for path in _each_path(monkeypatch):
        for family, (call, want) in queries.items():
            rows = []
            jobs = _jobs_of(spark, f"empty-cell-{engine}-{family}-{path}",
                            lambda: rows.extend(call().collect()))
            assert [tuple(r) for r in rows] == want and jobs == 0, (family, path)


@pytest.mark.parametrize("call", [
    lambda e: e.range_count([(1, 0.0, 0.0, 1.0, 1.0), (1, 2.0, 2.0, 3.0, 3.0)]),
    lambda e: e.range_materialize([(4, 0.0, 0.0, 1.0, 1.0), (4, 0.0, 0.0, 1.0, 1.0)]),
    lambda e: e.point_lookup([(3, 1.0, 2.0), (3, 1.0, 2.0)]),
    lambda e: e.distance_count([(2, 0.0, 0.0, 10.0), (2, 1.0, 1.0, 10.0)]),
    lambda e: e.knn([(5, 0.0, 0.0, 3), (5, 1.0, 1.0, 1)]),
], ids=["range_count", "range_materialize", "point_lookup", "distance_count", "knn"])
@pytest.mark.parametrize("engine", ["session", "tiled"])
def test_duplicate_query_ids_raise_on_driver(spark, corpus, engine, call):
    def run():
        with pytest.raises(ValueError, match="query ids must be unique"):
            call(corpus[engine])
    assert _jobs_of(spark, f"dup-ids-{engine}", run) == 0


def _plan_nodes(df) -> list[tuple[str, str]]:
    """(name, one-line description) of every node of the query's own
    physical plan, before AQE re-planning.  A cached relation is a leaf
    here; the plan that built it is not walked."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.initialPlan()
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        out.append((node.nodeName(), node.simpleString(25)))
        kids = node.children()
        stack += [kids.apply(i) for i in range(kids.size())]
    return out


@pytest.mark.parametrize("family", ["range_count", "point_lookup", "knn"])
@pytest.mark.parametrize("engine", ["session", "tiled"])
def test_count_and_point_merges_plan_one_exchange_no_join(spark, corpus, engine, family,
                                                           monkeypatch):
    """A batch over the one-task bound probes in parallel and merges with
    one exchange, no join: two Spark jobs."""
    monkeypatch.setattr(core, "ONE_TASK_MAX_ROWS", -1)
    eng = corpus[engine]
    lat, lon = corpus["lat"], corpus["lon"]
    if family == "range_count":
        df = eng.range_count([(q, lat[q] - 5, lon[q] - 5, lat[q] + 5, lon[q] + 5)
                              for q in range(20)])
    elif family == "point_lookup":
        df = eng.point_lookup(_point_batch(corpus))
    else:
        df = eng.knn([(q, float(lat[q]), float(lon[q]), 4) for q in range(20)])
    assert len(eng.partitioner.cells_for_rect(-90.0, -180.0, 90.0, 180.0)) <= ISIN_MAX_CELLS
    nodes = _plan_nodes(df)
    names = [name for name, _ in nodes]
    assert names.count("Exchange") == 1 and names.count("MapInPandas") == 1, nodes
    assert "Coalesce" not in names, nodes
    assert not [d for name, d in nodes if name == "BroadcastExchange" or name.endswith("Join")
                or "LeftOuter" in d], nodes
    assert _jobs_of(spark, f"parallel-{engine}-{family}", df.collect) == 2


@pytest.mark.parametrize("join", ["pairs", "knn_join"])
def test_table_joins_plan_one_band_exchange_and_one_kernel(spark, corpus, join):
    """Each table join is one band-co-located plan over the cached points:
    one hash exchange on the latitude band, one MapInPandas kernel, and no
    join, broadcast or window; it runs one shuffle-map job and one result
    job."""
    pts = corpus["session"].assigned_points()
    if join == "pairs":
        df = distance_join_pairs(pts, 200_000.0)
    else:
        df = knn_join(pts.where("pid % 8 = 0"), pts, 5, 500_000.0)
    nodes = _plan_nodes(df)
    names = [name for name, _ in nodes]
    exchanges = [d for name, d in nodes if name == "Exchange"]
    assert len(exchanges) == 1 and "hashpartitioning(band" in exchanges[0], nodes
    assert names.count("MapInPandas") == 1, nodes
    assert not [name for name in names if name.endswith("Join") or name in (
        "BroadcastExchange", "Window", "WindowGroupLimit")], nodes
    rows = []
    assert _jobs_of(spark, f"join-{join}", lambda: rows.extend(df.collect())) == 2
    assert rows  # the radius pairs real neighbours


def _jobs_of(spark, group, action) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _single_queries(eng, lat, lon):
    return {
        "range": lambda i: eng.range_count([(i, lat[i] - 3, lon[i] - 3, lat[i] + 3, lon[i] + 3)]),
        "point": lambda i: eng.point_lookup([(i, float(lat[i]), float(lon[i]))]),
        "knn": lambda i: eng.knn([(i, float(lat[i]), float(lon[i]), 5)]),
        "distance": lambda i: eng.distance_count([(i, float(lat[i]), float(lon[i]), 300_000.0)]),
        "pip": lambda i: eng.pip({i: ([lat[i] - 3, lat[i] + 3, lat[i], lat[i] - 3],
                                      [lon[i] - 3, lon[i] - 3, lon[i] + 3, lon[i] - 3])}),
    }


@pytest.mark.parametrize("engine", ["session", "tiled"])
def test_single_query_runs_one_job_without_exchange(spark, corpus, engine):
    """Each family's single query probes and merges in one Spark job of
    one task: a ``Coalesce 1`` under one MapInPandas, with no exchange and
    no broadcast; and after the first query a tiled index is never listed
    again."""
    eng = corpus[engine]
    sc = spark.sparkContext
    files = spark._jvm.org.apache.spark.metrics.source.HiveCatalogMetrics.METRIC_FILES_DISCOVERED()
    for fam, query in _single_queries(eng, corpus["lat"], corpus["lon"]).items():
        query(0).collect()  # first use: stats, models and the table listing
        df = query(1)
        names = [name for name, _ in _plan_nodes(df)]
        assert names.count("MapInPandas") == 1 and "Coalesce" in names, (fam, names)
        assert not [n for n in names if n.endswith("Exchange")], (fam, names)
        before = files.getCount()
        group = f"shape-{engine}-{fam}"
        assert _jobs_of(spark, group, df.collect) == 1, fam
        (job,) = sc.statusTracker().getJobIdsForGroup(group)
        # a cached relation's build stage is listed, skipped, with 0 tasks run
        tasks = [sc.statusTracker().getStageInfo(st).numCompletedTasks
                 for st in sc.statusTracker().getJobInfo(job).stageIds]
        assert sum(tasks) == 1, (fam, tasks)
        assert files.getCount() == before, fam


def test_single_queries_leave_no_broadcast_file(spark, corpus):
    """Single queries make no per-query broadcast: 20 of them add no file
    to the driver's pyspark temp dir."""
    eng = corpus["tiled"]
    queries = _single_queries(eng, corpus["lat"], corpus["lon"])
    for query in queries.values():
        query(0).collect()  # first use: the engine-lifetime model broadcast

    def n_files():
        return sum(len(fs) for _, _, fs in os.walk(spark.sparkContext._temp_dir))
    before = n_files()
    for i in range(20):
        list(queries.values())[i % len(queries)](i).collect()
    assert n_files() == before


def test_engine_opened_after_rebuild_sees_new_rows(spark, corpus):
    """An engine is bound to the index as it was when opened; one opened
    after ``build_tiled_index`` overwrote its root answers from the new
    rows."""
    root = str(corpus["dir"] / "rebuilt")
    lat, lon = corpus["lat"], corpus["lon"]
    old, new = str(corpus["dir"] / "old.parquet"), str(corpus["dir"] / "new.parquet")
    _write_pages(old, lat[:200], lon[:200], "old")
    _write_pages(new, lat[150:] * 0.5, lon[150:] * 0.5, "new")
    pipeline.build_tiled_index(spark, old, root, partition_size=50)
    before = TiledSpatialEngine(spark, root)
    everything = [(0, -90.0, -180.0, 90.0, 180.0)]
    assert before.range_count(everything).collect()[0]["cnt"] == 200
    pipeline.build_tiled_index(spark, new, root, partition_size=50)
    after = TiledSpatialEngine(spark, root)
    assert after.range_count(everything).collect()[0]["cnt"] == len(lat) - 150
    q = (1, float(lat[300] * 0.5), float(lon[300] * 0.5))
    assert after.point_lookup([q]).collect()[0]["url"] == "https://new.example/0150"
