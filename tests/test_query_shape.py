"""One job shape for interactive queries: a tiled single query runs one
probe and one aggregation (2 Spark jobs, one exchange) over an index it
listed once; count and point merges plan no join in either engine; and
the point lookup, now a degenerate range, keeps its defined answers for
hits, misses, duplicate coordinates and empty batches."""

import numpy as np
import pandas as pd
import pytest

from learnedspatial_spark import pipeline
from learnedspatial_spark.engine import ISIN_MAX_CELLS, SpatialEngine
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
def test_point_lookup_hits_misses_duplicates(corpus, engine):
    pts = _point_batch(corpus)
    got = {r["query_id"]: r["pid"] for r in corpus[engine].point_lookup(pts).collect()}
    want = {q: orc.point_lookup(corpus["x"], corpus["y"], corpus["pid"], qx, qy)
            for (q, qx, qy) in pts}
    assert got == {q: -1 if w is None else w for q, w in want.items()}
    # the repeated coordinates really repeat, and the answer is their min id
    for q in range(DUPS):
        m = (corpus["x"] == pts[q][1]) & (corpus["y"] == pts[q][2])
        assert m.sum() == 4 and got[q] == corpus["pid"][m].min()


def test_point_lookup_url_ids_miss_is_null(corpus):
    pts = _point_batch(corpus)
    rows = corpus["tiled_url"].point_lookup(pts).collect()
    got = {r["query_id"]: r["url"] for r in rows}
    lat, lon, urls = corpus["lat"], corpus["lon"], corpus["urls"]
    want = {}
    for (q, qx, qy) in pts:
        m = (lat == qx) & (lon == qy)
        want[q] = min(urls[m]) if m.any() else None
    assert got == want
    assert got[100] is None and got[0] == urls[0]  # min url of a repeated coordinate


@pytest.mark.parametrize("engine", ["session", "tiled", "tiled_url"])
def test_point_lookup_empty_batch(corpus, engine):
    assert corpus[engine].point_lookup([]).collect() == []


@pytest.mark.parametrize("engine", ["session", "tiled"])
def test_counts_without_hits_report_routed_base(corpus, engine):
    """A query that probes nothing still gets its row: its routed base
    (the counts of fully-contained cells), else 0."""
    eng, n = corpus[engine], len(corpus["pid"])
    lat, lon = corpus["lat"], corpus["lon"]
    rects = [(0, -90.0, -180.0, 90.0, 180.0),                # every cell contained
             (1, 200.0, 300.0, 210.0, 310.0),                 # routes to no cell
             (2, lat[7] + 1e-7, lon[7], lat[7] + 2e-7, lon[7])]  # routed cell, no hit
    assert {r["query_id"]: r["cnt"] for r in eng.range_count(rects).collect()} == {0: n, 1: 0, 2: 0}
    circles = [(7, 89.99, 179.99, 1.0)]
    assert [(r["query_id"], r["cnt"]) for r in eng.distance_count(circles).collect()] == [(7, 0)]
    polys = {9: ([89.0, 89.5, 89.5], [179.0, 179.0, 179.5])}
    assert [(r["polygon_id"], r["cnt"]) for r in eng.pip(polys).collect()] == [(9, 0)]


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


@pytest.mark.parametrize("family", ["range_count", "point_lookup"])
@pytest.mark.parametrize("engine", ["session", "tiled"])
def test_count_and_point_merges_plan_one_exchange_no_join(corpus, engine, family):
    eng = corpus[engine]
    lat, lon = corpus["lat"], corpus["lon"]
    if family == "range_count":
        df = eng.range_count([(q, lat[q] - 5, lon[q] - 5, lat[q] + 5, lon[q] + 5)
                              for q in range(20)])
    else:
        df = eng.point_lookup(_point_batch(corpus))
    assert len(eng.partitioner.cells_for_rect(-90.0, -180.0, 90.0, 180.0)) <= ISIN_MAX_CELLS
    nodes = _plan_nodes(df)
    names = [name for name, _ in nodes]
    assert names.count("Exchange") == 1 and names.count("MapInPandas") == 1, nodes
    assert not [d for name, d in nodes if name == "BroadcastExchange" or name.endswith("Join")
                or "LeftOuter" in d], nodes
    df.collect()


def _jobs_of(spark, group, action) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_tiled_single_query_runs_two_jobs_and_lists_no_files(spark, corpus):
    """Each family's single tiled query is one probe job plus one merge
    job (the exchange's two stages), and after the first query the index
    is never listed again."""
    eng = corpus["tiled"]
    lat, lon = corpus["lat"], corpus["lon"]
    queries = {
        "range": lambda i: eng.range_count([(i, lat[i] - 3, lon[i] - 3, lat[i] + 3, lon[i] + 3)]),
        "point": lambda i: eng.point_lookup([(i, float(lat[i]), float(lon[i]))]),
        "knn": lambda i: eng.knn([(i, float(lat[i]), float(lon[i]), 5)]),
    }
    files = spark._jvm.org.apache.spark.metrics.source.HiveCatalogMetrics.METRIC_FILES_DISCOVERED()
    for fam, query in queries.items():
        query(0).collect()  # first use: stats, models and the table listing
        before = files.getCount()
        jobs = _jobs_of(spark, f"shape-{fam}", lambda: query(1).collect())
        assert jobs == 2, fam
        assert files.getCount() == before, fam


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
