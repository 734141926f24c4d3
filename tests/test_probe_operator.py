"""One probe operator: in both cell sources every per-cell kernel runs in
one ``mapInPandas`` over the routed cells' rows as stored — no
``FlatMapGroupsInPandas`` grouping and no ``Sort`` beneath it, and the
probe input carries ``cell_id`` once — with answers equal to the NumPy
oracle."""

import re

import numpy as np
import pytest

from learnedspatial_spark import pipeline
from learnedspatial_spark.engine import SpatialEngine
from learnedspatial_spark.sources import points as points_src
from learnedspatial_spark.sources import workloads as wl
from learnedspatial_spark.tiled import TiledSpatialEngine
from oracle import oracle as orc


@pytest.fixture(scope="module")
def engines(spark, sf_dir, tmp_path_factory):
    session = SpatialEngine(spark, sf_dir, scheme="fixed_grid")
    cached = session.assigned_points().cache()
    cached.count()
    root = str(tmp_path_factory.mktemp("probe_tiled") / "index")
    pipeline.build_tiled_index(spark, None, root, partition_size=500,
                               points_df=points_src.points_df(spark, sf_dir))
    yield {"session": session, "tiled": TiledSpatialEngine(spark, root)}
    cached.unpersist()


@pytest.fixture(scope="module")
def corpus(sf_dir):
    return points_src.points_np(sf_dir)


def _node(line: str) -> tuple[int, str]:
    """(column, name) of the plan node on one tree line."""
    m = re.match(r"[\s:|+-]*(?:\*\(\d+\) )?", line)
    return m.end(), re.match(r"\w*", line[m.end():]).group(0)


def _probe_subtree(df) -> tuple[list[str], str]:
    """Names of the nodes under the plan's one MapInPandas, and that
    node's line; asserts there is exactly one."""
    tree = df._jdf.queryExecution().executedPlan().toString().splitlines()
    at = [i for i, ln in enumerate(tree) if _node(ln)[1] == "MapInPandas"]
    assert len(at) == 1, "\n".join(tree)
    col = _node(tree[at[0]])[0]
    below = []
    for ln in tree[at[0] + 1:]:
        c, name = _node(ln)
        if name and c <= col:
            break
        below.append(name)
    return below, tree[at[0]]


def _answers(family, eng, corpus):
    """(engine answer, oracle answer) for one query family."""
    pid, x, y = corpus
    if family in ("range_count", "range_materialize"):
        rects = wl.rectangles(n_per_tier=4)
        if family == "range_count":
            df = eng.range_count(rects)
            want = {q: orc.range_count(x, y, fx, fy, tx, ty) for (q, fx, fy, tx, ty) in rects}
            return df, lambda rows: {r["query_id"]: r["cnt"] for r in rows}, want
        df = eng.range_materialize(rects)
        want = sorted((q, int(pid[i])) for (q, fx, fy, tx, ty) in rects
                      for i in orc.range_materialize(x, y, fx, fy, tx, ty))
        return df, lambda rows: sorted((r["query_id"], r["pid"]) for r in rows), want
    if family == "distance_count":
        circles = wl.distance_queries(n=8)
        xr, yr = np.radians(x), np.radians(y)
        want = {q: orc.distance_count(xr, yr, (qx / 180.0) * np.pi, (qy / 180.0) * np.pi, r)
                for (q, qx, qy, r) in circles}
        return eng.distance_count(circles), lambda rows: {r["query_id"]: r["cnt"] for r in rows}, want
    if family == "pip":
        polys = wl.polygons(n=6)
        want = orc.pip_counts(x, y, {g: (np.asarray(vx), np.asarray(vy))
                                     for g, (vx, vy) in polys.items()})
        return eng.pip(polys), lambda rows: {r["polygon_id"]: r["cnt"] for r in rows}, want
    queries = wl.knn_queries(n=6)

    def ranked(rows):
        out = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rnk"])):
            out.setdefault(r["query_id"], []).append(r["pid"])
        return out
    want = {q: orc.knn_euclidean(x, y, pid, qx, qy, k) for (q, qx, qy, k) in queries}
    return eng.knn(queries), ranked, want


@pytest.mark.parametrize("family", ["range_count", "range_materialize", "distance_count",
                                    "pip", "knn"])
@pytest.mark.parametrize("source", ["session", "tiled"])
def test_one_mapinpandas_probe(engines, corpus, source, family):
    df, shape, want = _answers(family, engines[source], corpus)
    below, probe = _probe_subtree(df)
    assert "FlatMapGroupsInPandas" not in below and "Sort" not in below, probe
    args = re.search(r"MapInPandas \w+\(([^)]*)\)", probe).group(1).split(", ")
    assert sum(a.startswith("cell_id#") for a in args) == 1, probe
    assert shape(df.collect()) == want
