#!/usr/bin/env python
"""Benchmark harness: headline engine queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ..., "throughput_rows_sec": ...}

Mirrors the reference measurement protocol (BASELINE.md): build time and
per-workload query time measured separately; the learned-vs-binary-search
comparison is part of the suite (the papers' headline experiment).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def host_probe_ns() -> float:
    """Single-thread host-speed probe: ns per np.searchsorted lookup (1M
    uniform queries over a sorted 8k array).  A quiet machine measures
    ~120 ns; this VM has been observed 3-9x slower under host contention
    (CLAUDE.md).  Recorded in the output so absolute walls can be
    normalized across rounds — compare query times only after dividing by
    (probe / 120).  NOTE: this probe is L1-cache-resident, so it is blind
    to memory-BANDWIDTH contention — pair it with host_bandwidth_gbs()."""
    import numpy as np
    rng = np.random.default_rng(7)
    x = np.sort(rng.random(8000))
    q = rng.random(1_000_000)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        np.searchsorted(x, q)
        best = min(best, time.perf_counter() - t0)
    return round(best * 1e9 / 1e6, 1)


def host_bandwidth_gbs() -> tuple[float, float]:
    """Single-thread memory probes -> (reuse_bw_gbs, pagetouch_gbs).

    The searchsorted probe above is L1-resident and blind to memory
    contention; this VM has been measured (2026-08-17) with searchsorted
    QUIET (~115 ns) while *fresh page touch* ran at 0.01 GB/s (~1000x
    degraded; 800 MB of np.ones took 69 s) and touched-page reuse at
    0.6 GB/s (~15x degraded).  That mode murders Spark (JVM heap growth,
    shuffle/Arrow buffers are all fresh pages) and the NumPy single-node
    baselines while the ns/lookup witness shows nothing.  Quiet values:
    reuse >= ~5 GB/s, page-touch >= ~1 GB/s.  Both passes are
    time-bounded so a sick host can't stall the bench itself."""
    import numpy as np
    n = 8_000_000  # 64 MB/array: past LLC, bounded even at 0.01 GB/s
    t0 = time.perf_counter()
    a = np.ones(n)
    pagetouch = 8 * n / (time.perf_counter() - t0) / 1e9
    b = np.ones(n)
    c = np.empty_like(a)
    np.add(a, b, out=c)  # page-touch warmup for c
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        np.add(a, b, out=c)
        dt = time.perf_counter() - t0
        best = min(best, dt)
        if dt > 1.0:  # already conclusive on a sick host; don't dwell
            break
    return round(3 * 8 * n / best / 1e9, 2), round(pagetouch, 3)


def host_active_recovery(seconds: float = 6.0) -> None:
    """Actively touch fresh pages for a few seconds.

    Measured 2026-08-19: the sick mode has an IDLE-MEMORY form that
    active use dissipates — a cold page-touch probe read 0.21 GB/s,
    ~5 s of fresh 160 MB allocations lifted it to 4.3 GB/s, and it
    stayed quiet 20 s later (but decayed back to ~0.13 within a few
    minutes of idleness).  This explains the 2026-08-18 CLAUDE.md
    observation that hours of sick spot checks were followed by quiet
    witnesses INSIDE the very next bench run.  So before concluding the
    host is sick, DRIVE it: a wait loop that only ever polls can miss
    every window, while recover-then-check converts most of them.  The
    persistent sick mode (witnesses stay low even during active work)
    still exists and still reads sick after this."""
    import numpy as np
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        a = np.ones(20_000_000)  # 160 MB of fresh page touches
        del a


#: Fresh-page-touch bandwidth (GB/s) at or above which the host is quiet.
QUIET_GBS = 1.0


def wait_quiet(max_wait_s: float) -> tuple[bool, float, float]:
    """Drive-then-poll the page-touch witness until quiet (>= QUIET_GBS).

    The page-touch witness has two modes on this class of VM: an
    idle-memory form that active use dissipates, and a persistent sick
    mode (CLAUDE.md).  A sick reading therefore triggers an active
    recovery first; only the persistent form falls through to the bounded
    sleep loop, which retries the recovery each round.  Returns (quiet,
    last_pagetouch_gbs, waited_s); never sleeps or recovers when the host
    is already quiet."""
    waited = 0.0
    _, pt = host_bandwidth_gbs()
    if pt < QUIET_GBS:
        host_active_recovery()
        _, pt = host_bandwidth_gbs()
    while pt < QUIET_GBS and waited < max_wait_s:
        time.sleep(45)
        waited += 45
        host_active_recovery()
        _, pt = host_bandwidth_gbs()
    return pt >= QUIET_GBS, pt, waited


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    sf = sf_dir.rstrip("/").split("sf")[-1]
    # 480s cap: a 2026-08-17 run waited the full 240s, started while the
    # witness was still at 0.18 GB/s, and measured every query AND the
    # single-node DuckDB baselines ~1.5x slow; the host recovered mid-run
    # (after-witness 4.3 GB/s), so a longer bounded wait would have
    # rescued it.  The persistent sick mode still gives up and records
    # itself in the witnesses.
    _, _, waited_s = wait_quiet(float(os.environ.get("SPARK_GRAFT_BENCH_MAX_WAIT_S", "480")))
    probe_before = host_probe_ns()
    bw_before, pt_before = host_bandwidth_gbs()

    from learnedspatial_spark.engine import SpatialEngine
    from learnedspatial_spark.operators import dedup, similarity
    from learnedspatial_spark.session import get_spark
    from learnedspatial_spark.sources import workloads as wl

    spark = get_spark("bench", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    t_all0 = time.perf_counter()
    timings: dict[str, float] = {}
    n_rows = 0

    def timed(name, fn):
        nonlocal n_rows
        t0 = time.perf_counter()
        out = fn()
        timings[name] = round(time.perf_counter() - t0, 4)
        return out

    rects = wl.rectangles(n_per_tier=40)
    circles = wl.distance_queries(n=60)
    polys = wl.polygons(n=24)
    knnq = wl.knn_queries(n=30)

    # warm the JVM and the Arrow Python-worker pool so the first timed
    # query measures the operator, not daemon startup (a per-session cost,
    # not a per-query cost on a long-lived cluster)
    spark.range(1000).selectExpr("sum(id)").collect()
    import pandas as _pd
    (spark.range(int(cpus) * 4).repartition(int(cpus))
     .mapInPandas(lambda it: (pdf for pdf in it), schema="id bigint").count())

    # -- build (index/assignment materialization + model fit), counted
    #    separately like the reference's build(ms)
    eng = SpatialEngine(spark, sf_dir, scheme="fixed_grid", refine="learned")
    pts = timed("build_assign_cache", lambda: eng.assigned_points().cache())
    n_rows = timed("build_count", lambda: pts.count())
    timed("build_stats", lambda: eng.cell_stats())
    timed("build_fit_models", lambda: eng.fit_models())

    eng.range_count(rects[:2]).collect()  # warm probe path (worker imports)

    timed("q_range_count_learned", lambda: eng.range_count(rects).collect())
    engb = SpatialEngine(spark, sf_dir, scheme="fixed_grid", refine="binsearch")
    engb._assigned = pts
    timed("q_range_count_binsearch", lambda: engb.range_count(rects).collect())
    # the papers' headline comparison: learned vs binary-search refinement
    # per selectivity tier (~1e-5%, 0.01%, 1% — README.md:50-55 axes);
    # rects are generated tier-major, 40 per tier
    n_t = 40
    for ti, tier in enumerate(("lo", "mid", "hi")):
        tr = rects[ti * n_t:(ti + 1) * n_t]
        timed(f"q_range_{tier}_learned", lambda tr=tr: eng.range_count(tr).collect())
        timed(f"q_range_{tier}_binsearch", lambda tr=tr: engb.range_count(tr).collect())
    timed("q_range_materialize", lambda: eng.range_materialize(rects).count())
    timed("q_distance_count", lambda: eng.distance_count(circles).collect())
    timed("q_pip_count", lambda: eng.pip(polys).collect())
    from learnedspatial_spark.streaming.ingest import pip_count_stream
    # warm once: the first streaming query pays one-time machinery init
    # (~7s) that would otherwise be billed to the measured run
    pip_count_stream(spark, f"{sf_dir}/lineitem.parquet",
                     {g: polys[g] for g in list(polys)[:2]}).collect()
    timed("q_pip_count_stream", lambda: pip_count_stream(
        spark, f"{sf_dir}/lineitem.parquet", polys).collect())
    from learnedspatial_spark.streaming.ingest import events_dedup_stream
    timed("q_events_dedup_stream", lambda: events_dedup_stream(
        spark, f"{sf_dir}/events.parquet").count())
    from learnedspatial_spark.streaming.ingest import events_window_stats_late_drop
    timed("q_events_late_drop_stream", lambda: events_window_stats_late_drop(
        spark, f"{sf_dir}/events.parquet").count())
    timed("q_knn", lambda: eng.knn(knnq).collect())
    timed("q_tile_assignment", lambda: eng.tile_assignment().count())
    from learnedspatial_spark.operators import s2 as s2mod
    from learnedspatial_spark.sources.points import points_df as _pdf
    timed("q_tile_assign_s2",
          lambda: s2mod.assign_s2(_pdf(spark, sf_dir)).count())

    engq = SpatialEngine(spark, sf_dir, scheme="quadtree", refine="learned")
    # build-once: cache this scheme's routed assignment like the fixed-grid
    # engine above (otherwise every query re-runs the Python routing pass)
    timed("build_assign_quadtree", lambda: engq.assigned_points().cache().count())
    engq.range_count(rects[:2]).collect()  # warm this scheme's probe path too
    timed("q_range_count_quadtree", lambda: engq.range_count(rects).collect())

    # build-once/query-many: the materialized tiled index (partition-pruned
    # scans, shuffle-free probes — PLANS.md "tiled range_count" section)
    import shutil
    import tempfile

    from learnedspatial_spark.pipeline import build_tiled_index
    from learnedspatial_spark.sources.points import points_df as _points_df
    from learnedspatial_spark.tiled import TiledSpatialEngine
    idx_root = os.path.join(tempfile.gettempdir(), f"lsp_bench_tiled_sf{sf}")
    shutil.rmtree(idx_root, ignore_errors=True)
    timed("build_tiled_materialize", lambda: build_tiled_index(
        spark, None, idx_root, points_df=_points_df(spark, sf_dir),
        partition_size=8000))
    teng = TiledSpatialEngine(spark, idx_root)
    teng.range_count(rects[:2]).collect()
    timed("q_range_count_tiled", lambda: teng.range_count(rects).collect())

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    timed("q_dedup_exact", lambda: dedup.dedup_exact(docs).count())
    timed("q_minhash_md5_pairs", lambda: dedup.minhash_md5_pairs(docs, threshold=0.5).count())
    timed("q_simhash_neardup", lambda: dedup.simhash_neardup_pairs(docs).count())
    timed("q_neardup_clusters", lambda: dedup.neardup_clusters(docs, threshold=0.5).count())
    from learnedspatial_spark.operators import corpus
    timed("q_contamination_hits", lambda: corpus.contamination_hits(docs).count())
    timed("q_contamination_words", lambda: corpus.contamination_hits_words(docs).count())
    timed("q_vocab_topk", lambda: corpus.vocab_stats_topk(docs).count())
    timed("q_mix_sample", lambda: corpus.mix_sample(docs).count())
    # collect(), not count(): count() lets Catalyst prune the aggregate
    # expressions (and span's occurrence window) out of the timed plan
    timed("q_repetition_stats", lambda: corpus.repetition_stats(docs).collect())
    timed("q_span_dedup", lambda: corpus.span_dedup_stats(docs).collect())
    from learnedspatial_spark.operators import multimodal
    media = multimodal.attach_fake_media(docs)
    timed("q_video_frame_features",
          lambda: multimodal.video_frame_features(media).count())
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = similarity.query_vectors(spark, sf_dir, n=8)
    timed("q_ann_cosine_topk", lambda: similarity.brute_cosine_topk(emb, q, k=10).count())
    timed("q_lsh_ann_topk", lambda: similarity.lsh_bucket_topk(emb, q, k=10).count())
    timed("q_ivf_ann_topk", lambda: similarity.ivf_topk(emb, q, k=10).count())
    timed("q_embedding_neardup_lsh", lambda: similarity.embedding_neardup_lsh(emb, threshold=0.35).count())

    # p50 single-query latency (BASELINE.md operational target): each
    # measurement is one full engine job for one rectangle — planning +
    # pruning + probe + aggregation, the distributed analog of ns/lookup
    def p50_of(queries, run_one):
        lat = []
        for qq in queries:
            t0 = time.perf_counter()
            run_one(qq)
            lat.append(time.perf_counter() - t0)
        lat.sort()
        return round(lat[len(lat) // 2], 4)

    p50_latency = p50_of(rects[:20], lambda r: eng.range_count([r]).collect())
    p50_distance = p50_of(circles[:10], lambda c: eng.distance_count([c]).collect())
    poly_items = list(polys.items())[:10]
    p50_pip = p50_of(poly_items, lambda kv: eng.pip({kv[0]: kv[1]}).collect())

    total = round(time.perf_counter() - t_all0, 4)  # engine suite wall
    # single-node oracle baseline (the reference is single-threaded C++;
    # this NumPy full-scan + sorted-probe pass is the same-machine proxy,
    # BASELINE.md: repo publishes no numbers).  Recorded for comparison,
    # excluded from the suite wall.
    import numpy as np

    from learnedspatial_spark.sources.points import points_np
    from oracle import oracle as orc
    pid_a, x_a, y_a = points_np(sf_dir)
    t0 = time.perf_counter()
    for (qid, fx, fy, tx, ty) in rects:
        orc.range_count(x_a, y_a, fx, fy, tx, ty)
    timings["baseline_single_node_range_count"] = round(time.perf_counter() - t0, 4)
    xr, yr = (x_a / 180.0) * np.pi, (y_a / 180.0) * np.pi
    t0 = time.perf_counter()
    for (qid, qx, qy, r) in circles:
        orc.distance_count(xr, yr, (qx / 180.0) * np.pi, (qy / 180.0) * np.pi, r)
    timings["baseline_single_node_distance"] = round(time.perf_counter() - t0, 4)
    t0 = time.perf_counter()
    orc.pip_counts(x_a, y_a, {g: (np.asarray(vx), np.asarray(vy)) for g, (vx, vy) in polys.items()})
    timings["baseline_single_node_pip"] = round(time.perf_counter() - t0, 4)

    query_total = round(sum(v for k, v in timings.items() if k.startswith("q_")), 4)
    probe_after = host_probe_ns()
    bw_after, pt_after = host_bandwidth_gbs()
    print(json.dumps({
        "metric": "headline suite wall time (build + spatial/dedup/ann queries)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "rows": n_rows,
        "query_sec": query_total,
        "p50_query_latency_sec": p50_latency,
        "p50_distance_latency_sec": p50_distance,
        "p50_pip_latency_sec": p50_pip,
        "throughput_rows_sec": round(n_rows * sum(1 for k in timings if k.startswith("q_")) / max(query_total, 1e-9), 1),
        "cpus": int(cpus),
        # Host-contention witnesses (quiet machine ~120 ns/lookup; this VM
        # has measured 3-9x under load — CLAUDE.md).  Divide walls by
        # (probe/120) before comparing across rounds.
        "host_probe_ns_before": probe_before,
        "host_probe_ns_after": probe_after,
        "host_contention_factor": round(max(probe_before, probe_after) / 120.0, 2),
        # memory witnesses (quiet: reuse >= ~5 GB/s, page-touch >= ~1 GB/s;
        # see host_bandwidth_gbs docstring for the observed sick mode)
        "host_bw_gbs_before": bw_before,
        "host_bw_gbs_after": bw_after,
        "host_pagetouch_gbs_before": pt_before,
        "host_pagetouch_gbs_after": pt_after,
        # how many x above the quiet thresholds the slower snapshot sits:
        # <= 1.0 means QUIET (round-3's 0.45 was misread as sick — it is
        # the healthy direction); >= ~3 is the documented sick mode
        "host_mem_contention_factor": (mem_factor := round(max(
            5.0 / max(min(bw_before, bw_after), 1e-3),
            1.0 / max(min(pt_before, pt_after), 1e-3)), 2)),
        # self-describing form of the same witness
        "host_quiet": bool(mem_factor <= 1.0),
        # seconds spent waiting for the page-touch witness to recover
        # before starting (bounded; 0 on a quiet host)
        "host_quiet_wait_s": waited_s,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
