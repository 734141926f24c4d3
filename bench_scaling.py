#!/usr/bin/env python
"""Scaling efficiency local[1] -> local[4]: the identical engine job at two
local parallelism levels on the same input.

    python bench_scaling.py

Methodology
-----------
* Input: the sf0.1 lineitem (``$SPARK_GRAFT_SF_DIR``) replicated
  ``REPLICATION`` times by DuckDB into one parquet file; each replica
  shifts ``l_orderkey``, so every row derives a distinct point.  Probe
  compute must dominate fixed job costs for a scaling figure to mean
  anything: at raw sf0.1 a probe job is mostly constant overhead and no
  parallelism level helps.
* Job: a fixed-grid learned index at ``PARTITION_SIZE`` points per cell
  (the reference's tuned-knob example, README.md:62-63) answering a PIP
  batch, a distance batch and a range-count batch, plus the table x table
  joins ``distance_join_pairs`` and ``knn_join`` over the same points
  (``points_df``).  Each job's answer is one integer: the summed
  per-query counts, or the joined row count.  Index build, assignment
  shuffle and model fit run before the timers (the reference splits
  build ms from ns/lookup the same way, src/main.cpp:129-130).
* Protocol: one fresh subprocess per level run, in the order 1, 4, 4, 1,
  so a drifting host degrades both levels alike.  Each run is bracketed
  by ``bench.wait_quiet`` and a closing page-touch witness.  A run makes
  one untimed pass over the jobs (Python worker start, JIT) and one timed
  pass.  A level's wall per job is the better of its two runs.
* Efficiency per job and combined is ``(w1 / w4) / 4``.  The JSON also
  carries the combined efficiency of every (local[1] run, local[4] run)
  pairing and the 0.8 target.  ``pass`` is true only if every pairing
  meets it, false if none does, and null (unresolved) when the pairings
  straddle it: the verdict must not sit inside the run-to-run noise.
  Every job's answer must be identical in every run, or the script
  raises.
* ``kernel_lookup_bench`` adds the in-cell search at three occupancies,
  learned spline vs ``np.searchsorted``, measured in this process.

On a 4-vCPU host one run takes about 16 minutes.  Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

import bench  # noqa: E402

ORDER = (1, 4, 4, 1)
TARGET = 0.8
# 5 replicas of sf0.1 = 3.0M points: every job's local[4] wall is >= ~3 s,
# one run takes ~16 min, and the 1M-point grid of the kernel sweep has
# ~1.0M-row cells.  A replica's coordinates repeat every 18 replicas (the
# derivation's modular arithmetic), so more than 18 would stack points.
REPLICATION = 5
# the reference's partition-size knob (README.md:62-63, example 8000):
# cells large enough that the vectorized per-cell kernels, not per-group
# overhead, carry the work
PARTITION_SIZE = 8000
N_POLYGONS = 2000
N_CIRCLES = 600
N_RECTS_PER_TIER = 6000
JOIN_RADIUS_M = 2000.0
KNN_K = 3
KNN_LEFT_MOD = 10  # knn_join's left side: pid % KNN_LEFT_MOD == 0
# a level run takes ~5 min at local[1] on a 4-vCPU host; a run launched
# into the host's sick mode can be several times slower
CHILD_TIMEOUT_S = 3600
SCALE_INPUT = os.path.join(tempfile.gettempdir(), f"learnedspatial_scale_x{REPLICATION}")


def prepare_input(sf_dir: str) -> str:
    """Write ``sf_dir``'s lineitem replicated ``REPLICATION`` times to
    ``SCALE_INPUT`` once; every level run reads this one file."""
    import duckdb
    out = os.path.join(SCALE_INPUT, "lineitem.parquet")
    if not os.path.exists(out):
        os.makedirs(SCALE_INPUT, exist_ok=True)
        duckdb.sql(f"""
          COPY (
            SELECT l_orderkey + r.rep * 1000000 AS l_orderkey, l_partkey, l_suppkey,
                   l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
                   l_returnflag, l_linestatus, l_shipdate
            FROM read_parquet('{sf_dir}/lineitem.parquet')
            CROSS JOIN (SELECT unnest(generate_series(0, {REPLICATION - 1})) AS rep) r
          ) TO '{out}.tmp' (FORMAT parquet)
        """)
        os.replace(f"{out}.tmp", out)
    return SCALE_INPUT


def level_run(cores: int, input_dir: str) -> None:
    """One level run (the subprocess body): build, one untimed pass, one
    timed pass; prints {"cores", "rows", "answers", "walls"}."""
    import numpy as np

    from learnedspatial_spark.engine import SpatialEngine
    from learnedspatial_spark.operators.distjoin import distance_join_pairs, knn_join
    from learnedspatial_spark.session import get_spark
    from learnedspatial_spark.sources import workloads as wl
    from learnedspatial_spark.sources.points import points_df

    spark = get_spark(f"scale{cores}", master=f"local[{cores}]",
                      shuffle_partitions=4 * max(ORDER))
    eng = SpatialEngine(spark, input_dir, scheme="fixed_grid",
                        partition_size=PARTITION_SIZE)
    rows = eng.assigned_points().cache().count()
    eng.fit_models()
    pts = points_df(spark, input_dir)

    rng = np.random.default_rng(99)
    circles = [(i, float(rng.uniform(-80, 80)), float(rng.uniform(-180, 180)),
                float(rng.uniform(3e5, 2e6))) for i in range(N_CIRCLES)]
    polys = wl.polygons(n=N_POLYGONS)
    rects = wl.rectangles(n_per_tier=N_RECTS_PER_TIER)

    def counted(df) -> int:
        return sum(r[-1] for r in df.collect())

    jobs = {
        "pip": lambda: counted(eng.pip(polys)),
        "distance": lambda: counted(eng.distance_count(circles)),
        "range_count": lambda: counted(eng.range_count(rects)),
        "distance_join_pairs": lambda: distance_join_pairs(pts, JOIN_RADIUS_M).count(),
        "knn_join": lambda: knn_join(pts.where(f"pid % {KNN_LEFT_MOD} = 0"), pts,
                                     KNN_K, JOIN_RADIUS_M).count(),
    }
    for job in jobs.values():
        job()
    answers, walls = {}, {}
    for name, job in jobs.items():
        t0 = time.perf_counter()
        answers[name] = job()
        walls[name] = round(time.perf_counter() - t0, 3)
    print(json.dumps({"cores": cores, "rows": rows, "answers": answers, "walls": walls}))
    spark.stop()


def run_level(cores: int, input_dir: str, max_wait_s: float) -> dict:
    """One level run in a fresh subprocess, bracketed by the quiet gate
    and a closing page-touch witness."""
    quiet, pt_open, waited = bench.wait_quiet(max_wait_s)
    out = subprocess.run(
        [sys.executable, "-c",
         f"import bench_scaling; bench_scaling.level_run({cores}, {input_dir!r})"],
        cwd=REPO, capture_output=True, text=True, timeout=CHILD_TIMEOUT_S)
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"local[{cores}] run failed (rc={out.returncode}): "
                           f"{out.stderr[-2000:]}")
    res = json.loads(lines[-1])
    res["witness"] = {"quiet": quiet, "pagetouch_open": pt_open,
                      "pagetouch_close": bench.host_bandwidth_gbs()[1],
                      "waited_s": waited}
    return res


#: Kernel-bench occupancy sweep: the tuned-example 8k cells, a 64k mid
#: tier, and 1M-row cells — the regime where the learned-index papers'
#: O(log n) binary-search cache misses appear (the sorted array outgrows
#: L2 while the spline walk stays knots + one eps-window).
KERNEL_OCCUPANCIES = (8_000, 65_536, 1_048_576)


def kernel_lookup_bench(input_dir: str, partition_sizes=KERNEL_OCCUPANCIES,
                        n_queries: int = 200_000, repeats: int = 5) -> list[dict]:
    """ns/lookup for the in-cell y-bound search — the reference's own
    reported metric (build ms + ns/lookup, src/main.cpp:129-130): learned
    spline (estimate + bisection repair) vs plain ``np.searchsorted`` on
    the largest REAL derived cell at each occupancy in the sweep.  Spark
    wall clocks hide this term inside the candidate-run scan that both
    refinements share; this driver-side kernel bench isolates the papers'
    comparison.  Results are asserted identical before timing; the two
    kernels are timed INTERLEAVED (alternating reps) so an oscillating
    host degrades both sides together instead of poisoning one."""
    import numpy as np

    from learnedspatial_spark.operators import spline as spl
    from learnedspatial_spark.operators.partitioning import FixedGridPartitioner
    from learnedspatial_spark.sources.points import points_np
    _, x, y = points_np(input_dir)
    rng = np.random.default_rng(7)
    sweep = []
    for ps in partition_sizes:
        part = FixedGridPartitioner.build(float(x.min()), float(x.max()),
                                          x.shape[0], ps)
        cells = part.assign_np(x, y)
        ids, counts = np.unique(cells, return_counts=True)
        ys = np.sort(y[cells == ids[np.argmax(counts)]])
        kk, kp = spl.fit_spline(*spl.build_cdf(ys))
        q = rng.uniform(float(ys[0]), float(ys[-1]), size=n_queries)
        assert np.array_equal(spl.learned_searchsorted(ys, kk, kp, q, "left"),
                              np.searchsorted(ys, q, side="left"))
        fns = {"learned": lambda: spl.learned_searchsorted(ys, kk, kp, q, "left"),
               "binsearch": lambda: np.searchsorted(ys, q, side="left")}
        best = {k: 1e18 for k in fns}
        for fn in fns.values():
            fn()  # warm
        for _ in range(repeats):
            for name, fn in fns.items():
                t0 = time.perf_counter(); fn()
                best[name] = min(best[name], time.perf_counter() - t0)
        sweep.append({"partition_size": ps, "cell_rows": int(ys.shape[0]),
                      "n_knots": int(kk.shape[0]), "n_queries": n_queries,
                      **{f"{k}_ns_per_lookup": round(v / n_queries * 1e9, 1)
                         for k, v in best.items()}})
    return sweep


def main() -> None:
    input_dir = prepare_input(os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    max_wait_s = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_WAIT_S", "480"))
    runs = [run_level(c, input_dir, max_wait_s) for c in ORDER]
    answers = runs[0]["answers"]
    for r in runs[1:]:
        for job, want in answers.items():
            if r["answers"][job] != want:
                raise RuntimeError(f"{job}: answer {r['answers'][job]} at local[{r['cores']}] "
                                   f"differs from {want} at local[{runs[0]['cores']}]")
    walls = {c: {job: min(r["walls"][job] for r in runs if r["cores"] == c)
                 for job in answers} for c in sorted(set(ORDER))}
    lo, hi = min(ORDER), max(ORDER)
    for w in walls.values():
        w["total"] = round(sum(w.values()), 3)
    eff = {job: round(walls[lo][job] / walls[hi][job] / (hi / lo), 3) for job in walls[lo]}
    totals = [(i, r["cores"], sum(r["walls"].values())) for i, r in enumerate(runs)]
    pairings = [{"runs": [i, j], "efficiency": round(t1 / t4 / (hi / lo), 3)}
                for i, c1, t1 in totals if c1 == lo for j, c4, t4 in totals if c4 == hi]
    met = [p["efficiency"] >= TARGET for p in pairings]
    print(json.dumps({
        "metric": f"scaling efficiency local[{lo}] -> local[{hi}] (same input, identical job)",
        "rows": runs[0]["rows"],
        "config": {"replication": REPLICATION, "partition_size": PARTITION_SIZE,
                   "polygons": N_POLYGONS, "circles": N_CIRCLES,
                   "rects_per_tier": N_RECTS_PER_TIER,
                   "join_radius_m": JOIN_RADIUS_M, "knn_k": KNN_K,
                   "knn_left_mod": KNN_LEFT_MOD},
        "answers": answers,
        "walls": {str(c): w for c, w in walls.items()},
        "efficiency": eff,
        "pairings": pairings,
        "target": TARGET,
        "pass": True if all(met) else False if not any(met) else None,
        "runs": [{"cores": r["cores"], "walls": r["walls"], "witness": r["witness"]}
                 for r in runs],
        "kernel_ns_per_lookup": kernel_lookup_bench(input_dir),
    }))


if __name__ == "__main__":
    main()
