"""Tier-3 driver-contract test: every queries() entry vs its oracle_sql()
twin, DuckDB side-by-side, order-insensitive exact compare — a local
replica of the driver's CORRECTNESS gate."""

import os

import duckdb
import pytest

SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = SF  # before entrylib import

from learnedspatial_spark import entrylib  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    yield con
    con.close()


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(r[i] for i in order))
    out.sort(key=lambda t: tuple(str(v) for v in t))
    return out


ORACLES = entrylib.oracle_sql()
QUERIES = entrylib.queries()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_contract(spark, duck, name):
    df = QUERIES[name](spark, SF)
    cols = df.columns
    got = _normalize([tuple(r) for r in df.collect()], cols)
    rel = duck.sql(ORACLES[name])
    want = _normalize(rel.fetchall(), rel.columns)
    assert sorted(cols) == sorted(rel.columns), (cols, rel.columns)
    assert len(got) == len(want), (name, len(got), len(want))
    for i, (g, w) in enumerate(zip(got, want)):
        assert g == w, (name, i, g, w)


def test_entry_smoke(spark):
    import __spark_entry__ as e
    df = e.entry(spark)
    assert df.count() > 0


def test_grading_window_matches_rotation_docstring():
    """The driver grades the FIRST 50 queries() keys; the round-5 rotation
    (CHANGES.md, VERDICT.md) pins exactly which entries are inside.  This
    fails if a future edit silently reorders the window or drops a twin."""
    q = list(QUERIES)
    window = set(q[:50])
    assert len(q) == len(set(q)) == 74
    must_be_in = {
        "events_late_drop_stream", "multimodal_frame_plan",  # new in r5
        "distance_join_pairs", "knn_join_radius",  # new in r5 (distjoin)
        "dup_stats", "bbox", "points_decimated", "scan_overhead_fixed_grid",
        "range_count_fixed_grid_salted", "events_json_kv",  # rotated back
        "multimodal_features", "multimodal_frames",  # re-graded (AVI shape)
    }
    must_be_out = {
        "range_materialize", "polygon_tiles",  # displaced for the distjoins
        "contamination_hits", "events_window_stats_stream",
        "embedding_neardup_pairs", "ann_cosine_topk", "ngram_jaccard_pairs",
        "distance_materialize_tiled", "pip_pairs_tiled", "morton_rollup",
    }
    assert must_be_in <= window, must_be_in - window
    assert not (must_be_out & window), must_be_out & window
    # every key has a DuckDB twin (the rows-only tier stays empty)
    assert set(q) == set(ORACLES)


GRADING_ORDER = [
    "events_late_drop_stream", "multimodal_frame_plan", "distance_join_pairs",
    "knn_join_radius", "dup_stats", "bbox", "points_decimated",
    "scan_overhead_fixed_grid", "range_count_fixed_grid_salted", "events_json_kv",
    "contamination_hits_words", "tile_assign_s2", "events_window_stats_stream_files",
    "events_dedup_stream", "ivf_ann_topk", "embedding_neardup_lsh",
    "multimodal_features", "multimodal_frames", "rolling_fingerprint",
    "spatial_from_files", "range_count_fixed_grid", "range_count_fixed_grid_binsearch",
    "tile_assign_fixed_grid", "tile_assign_adaptive_grid", "tile_assign_kd_tree",
    "tile_assign_quadtree", "tile_assign_str", "tile_assign_morton", "point_lookup",
    "distance_count", "range_count_tiled", "knn_tiled", "pip_count", "knn",
    "dedup_exact", "corpus_clean_keeplist", "token_count", "quality_score", "langid",
    "events_sessionize", "vocab_topk", "mix_sample", "repetition_stats",
    "span_dedup_stats", "pip_count_stream", "cells_touched_fixed_grid",
    "minhash_dedup_pairs", "simhash_neardup_pairs", "neardup_clusters", "lsh_ann_topk",
    # grading-window boundary (position 50)
    "range_materialize", "polygon_tiles", "contamination_hits",
    "events_window_stats_stream", "embedding_neardup_pairs", "ann_cosine_topk",
    "ngram_jaccard_pairs", "distance_materialize_tiled", "pip_pairs_tiled",
    "morton_rollup", "multimodal_resize", "range_count_fixed_grid_binsearch_x",
    "fingerprint_md5", "events_window_stats", "range_count_adaptive_grid",
    "range_count_kd_tree", "range_count_quadtree", "range_count_str",
    "range_count_morton", "range_count_tiled_str", "simhash_md5_table",
    "point_lookup_quadtree", "distance_materialize", "pip_pairs",
]


def test_contract_order_pinned_and_twins_lazy(monkeypatch):
    """queries() is the 74 contract rows in the exact grading order, and it
    builds without reading oracle data: the DuckDB column is only called by
    oracle_sql() (which does fail on a missing data directory)."""
    assert list(QUERIES) == GRADING_ORDER
    monkeypatch.setattr(entrylib, "ORACLE_SF_DIR", "/nonexistent/oracle_sf")
    assert list(entrylib.queries()) == GRADING_ORDER
    with pytest.raises(duckdb.Error):
        entrylib.oracle_sql()
