#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload session-batch --seed 1 --seconds 20 --trace 0

Run from the repository root.  One driver process starts Spark
(``local[4]``, four shuffle partitions), builds the workload's structure,
sends the workload's untimed warm-up rounds, then runs a closed loop of
rounds (one client; the next operation is sent when the last returns) for
``--seconds``.  Every operation's result is checked against ``oracle/``
semantics.  Each operation's wall is recorded, and the CPU time every
process of the run (driver, JVM, Python workers) spent while it was open.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics of ``BENCHMARK.json`` (``--trace 0``) or its per-layer metrics
(``--trace 1``).  The line before it carries the workload's own detail:
per-family timings, counts and failures.

Input generation (first run of a seed; no Spark) and the oracle answers
are cached under ``perfbench/.cache`` and excluded from every
metric.  Spark's scratch space and the tiled index live under
``perfbench/.work`` and are removed at exit; traced runs write their spans
to ``perfbench/.out``.
"""

from __future__ import annotations

import time

T_IMPORT = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402
from typing import TYPE_CHECKING  # noqa: E402

if TYPE_CHECKING:
    from pyspark.sql import SparkSession

    from perfbench.inputs import Corpus
    from perfbench.tracing import SparkRest, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")


def process_age_s() -> float:
    """Seconds since this process started (from /proc; falls back to the
    time since this module was imported)."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return time.perf_counter() - T_IMPORT


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


@dataclass
class Context:
    """What a workload needs from the harness."""

    spark: SparkSession
    tracer: Tracer
    corpus: Corpus
    work: str  # this run's scratch directory
    rest: SparkRest


#: Timed rounds every run makes, even on a slow host.  The round figures
#: are taken over exactly these first rounds: per-round CPU still falls
#: 15-25 % over the first six rounds or so (the JVM keeps compiling), so a
#: figure over however many rounds fit would move with the host's speed.
MIN_ROUNDS = 4


def warmup_session(spark) -> None:
    """One tiny job that starts a Python worker per core."""
    def ident(it):
        yield from it

    spark.range(0, 4, 1, 4).mapInPandas(ident, "id long").collect()


class Harness:
    """Sends operations to a workload, times and checks each one, and (when
    tracing) harvests Spark's metrics for it."""

    def __init__(self, wl, tracer, rest, trace: bool):
        self.wl, self.tracer, self.rest, self.trace = wl, tracer, rest, trace
        self.records: list[dict] = []
        self.failures: list[str] = []
        self.next_round = 0

    def run_op(self, family: str, i: int, rnd: int, timed: bool) -> dict:
        """Send operation ``i`` of ``family`` as part of round ``rnd``,
        time it, check it, and record it."""
        t, wl = self.tracer, self.wl
        op_id = f"{family}#{i}"
        op = wl.op(family, i)
        layer = wl.layers[family]
        rec = {"family": family, "round": rnd, "timed": timed, "error": None, "exec_s": 0.0}
        # CPU of every process of the run while the operation is open,
        # including the JVM's background threads; the check and the
        # harvest below are outside it
        with t.span(f"op.{family}", op=op_id, cpu=True) as s:
            try:
                with t.span(f"{layer}.{family}.plan") as sp:
                    df = op.plan()
                with t.span(f"{layer}.{family}.exec") as se:
                    rows = df.collect()
                rec["exec_s"] = se.duration
            except Exception as e:  # a failed op is counted, never fatal
                rec["error"] = f"{op_id} raised {type(e).__name__}: {e}"
                rows = None
        rec["wall_s"], rec["plan_s"], rec["cpu_s"] = s.duration, sp.duration, s.cpu_s
        if rows is not None:
            with t.span("check", op=op_id):
                rec["error"] = op.check(rows)
            rec["rows"] = len(rows)
        if rec["error"]:
            self.failures.append(rec["error"])
            print(f"FAILED {rec['error']}", file=sys.stderr)
        if self.trace:
            with t.span("harvest", op=op_id) as h:
                rec["layers"] = self.rest.harvest()
            rec["harvest_s"] = h.duration
        self.records.append(rec)
        return rec

    def round(self, timed: bool) -> float:
        """The workload's operations of the next round; returns their
        summed wall."""
        rnd = self.next_round
        self.next_round += 1
        return sum(self.run_op(f, i, rnd, timed)["wall_s"] for f, i in self.wl.round_ops(rnd))

    def closed_loop(self, seconds: float) -> int:
        """Timed rounds, back to back, for about ``seconds``: a round is
        started while it is expected to end no later than half a round past
        ``seconds`` (judged by the median round so far), so the loop
        overruns and underruns alike.  At least ``MIN_ROUNDS`` rounds run.
        Returns the number of rounds."""
        from perfbench.tracing import median
        t0 = time.perf_counter()
        rounds: list[float] = []
        while (len(rounds) < MIN_ROUNDS
               or time.perf_counter() - t0 + median(rounds) / 2 <= seconds):
            rounds.append(self.round(timed=True))
        return len(rounds)


def run(args) -> dict:
    from perfbench import inputs, kernels
    from perfbench.sparkenv import start_spark, stop_spark
    from perfbench.tracing import Span, SparkRest, Tracer, median, union_length
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    tracer = Tracer()
    origin = time.perf_counter() - process_age_s()
    # interpreter start and imports, before the first span could open
    tracer.spans.append(Span(0, "process.start", origin, time.perf_counter(), None, None))
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    spark = None
    try:
        with tracer.span("input") as input_span:
            corpus = inputs.corpus(args.seed)
        with tracer.span("session.start"):
            spark = start_spark(work)
        rest = SparkRest(spark)
        with tracer.span("session.warmup"):
            warmup_session(spark)
        wl = WORKLOADS[args.workload](Context(spark, tracer, corpus, work, rest))
        if args.trace and wl.name == "tiled-interactive":
            _trace_pipeline(tracer)
        wl.setup()
        if args.trace:
            with tracer.span("harvest"):
                rest.skip_to_end()
        h = Harness(wl, tracer, rest, bool(args.trace))
        with tracer.span("warmup.ops"):
            for _ in range(wl.warmup_rounds):
                h.round(timed=False)
        t_timed = time.perf_counter()
        excluded = input_span.duration + _span_total(tracer, "oracle.expected")
        rounds = h.closed_loop(args.seconds)
        t_end = time.perf_counter()

        timed = [r for r in h.records if r["timed"]]
        round_ids = sorted({r["round"] for r in timed})
        round_cpu = [sum(r["cpu_s"] for r in timed if r["round"] == i) for i in round_ids]
        round_wall = [sum(r["wall_s"] for r in timed if r["round"] == i) for i in round_ids]
        first = slice(0, MIN_ROUNDS)
        with tracer.span("bytes_per_point"):
            bytes_per_point = wl.bytes_per_point()
        build = next(s for s in tracer.spans if s.name == "build")
        e2e = {
            "setup_s": t_timed - origin - excluded,
            # the CPU a round of operations costs, averaged over the first
            # MIN_ROUNDS timed rounds (CPU time has no stall outliers; the
            # mean of four varies less from run to run than their median)
            "round_cpu_s": sum(round_cpu[first]) / MIN_ROUNDS,
            "bytes_per_point": bytes_per_point,
        }
        # the same round's wall and the build, reported with the layers:
        # a single build per run, and walls on a shared host, spread too
        # widely from run to run to gate on
        walls = {
            "round_s": median(round_wall[first]),
            "build_s": build.duration,
            "build_cpu_s": build.cpu_s,
        }
        detail = {
            "workload": wl.name, "seed": args.seed, "pages": corpus.pages,
            "points": corpus.points, **wl.detail(),
            "rounds": rounds, "timed_s": t_end - t_timed,
            "failed_ops_share": len(h.failures) / len(h.records),
            "round_cpus_s": [round(v, 2) for v in round_cpu],
            "round_walls_s": [round(v, 3) for v in round_wall],
            "failures": h.failures[:20],
            **_timings(wl, timed),
        }
        detail["end_to_end"] = _named_e2e(wl, {**e2e, **walls}, detail)
        if not args.trace:
            values = e2e
            kind = "end_to_end"
        else:
            with tracer.span("trace.layers"):
                layers = {**walls, **_layers(wl, tracer, timed)}
            with tracer.span("kernel.replay"):
                layers.update(kernels.replay(corpus.x, corpus.y, corpus.pid,
                                             inputs.batch_queries(corpus.seed, 0)))
            top = [(s.start, s.end) for s in tracer.spans if s.parent is None]
            layers["trace.span_coverage"] = union_length(top) / (time.perf_counter() - origin)
            # the REST harvest after each timed op over the ops' own walls
            # (span recording costs microseconds and is left out)
            layers["trace.overhead_share"] = (sum(r["harvest_s"] for r in timed)
                                              / sum(r["wall_s"] for r in timed))
            detail.update(layers)
            values = layers
            kind = "per_layer"
            os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
            with open(os.path.join(HERE, ".out", f"spans-{wl.name}-{args.seed}.json"), "w") as f:
                json.dump({"detail": detail, "spans": tracer.to_json(origin)}, f)
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec[kind]}
        return {"detail": detail,
                "result": {"correct": not h.failures, "attempted": len(h.records),
                           "failed": len(h.failures), "metrics": metrics}}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def _timings(wl, timed: list[dict]) -> dict:
    """Per-family medians and, where ten samples lie beyond it, the tail
    percentile, each with its sample count; the same over all ops.  Each
    family's walls and CPU seconds are listed in order."""
    from perfbench.tracing import median, percentile, tail_percentile

    out = {}
    groups = {f: [r["wall_s"] for r in timed if r["family"] == f] for f in wl.families}
    groups["latency"] = [r["wall_s"] for r in timed]
    for name, walls in groups.items():
        out[f"{name}.samples"] = len(walls)
        if name != "latency":
            out[f"{name}.walls_s"] = [round(w, 4) for w in walls]
            out[f"{name}.cpus_s"] = [round(r["cpu_s"], 2) for r in timed if r["family"] == name]
        out[f"{name}.p50_s"] = median(walls)
        tail = tail_percentile(len(walls))
        if tail is not None and tail > 50:
            out[f"{name}.p{tail:g}_s"] = percentile(walls, tail)
    return out


def _span_total(tracer, name: str) -> float:
    return sum(s.duration for s in tracer.spans if s.name == name)


def _named_e2e(wl, e2e: dict, detail: dict) -> dict:
    """The end-to-end figures under the workload-specific names, with
    their units."""
    out = {k: v for k, v in e2e.items() if k != "bytes_per_point"}
    if wl.name == "session-batch":
        out["range_batch_s"] = detail["range.p50_s"]
        out["knn_batch_s"] = detail["knn.p50_s"]
        out["distance_join_s"] = detail["pairs.p50_s"]
        out["knn_join_s"] = detail["knn_join.p50_s"]
        out["cache_bytes_per_point"] = e2e["bytes_per_point"]
    else:
        out["latency_p50_s"] = detail["latency.p50_s"]
        out["index_bytes_per_point"] = e2e["bytes_per_point"]
    out["failed_ops_share"] = detail["failed_ops_share"]
    units = {"_s": "s", "_point": "B", "_share": "ratio"}
    return {k: {"value": v, "unit": next(u for end, u in units.items() if k.endswith(end))}
            for k, v in out.items()}


def _trace_pipeline(tracer) -> None:
    """Record spans around the storage and checkpoint calls the tiled
    build makes (the benchmark wraps the module attributes the pipeline
    looks up; the program itself is unchanged)."""
    from learnedspatial_spark import pipeline
    from learnedspatial_spark.ops import storage

    def wrap(module, attr, name):
        fn = getattr(module, attr)

        def wrapped(*a, **k):
            with tracer.span(name):
                return fn(*a, **k)
        setattr(module, attr, wrapped)

    wrap(storage, "write_partitioned", "pipeline.tile_write")
    wrap(pipeline, "run_resumable_cells", "pipeline.fit")
    wrap(pipeline, "cell_metrics", "pipeline.cell_metrics")
    wrap(storage, "write_table", "storage.write_table")


#: Per-operation layer metrics that BENCHMARK.json reports as means over
#: the timed operations (the executor totals are sums over the timed phase).
PER_OP = ("jvm.wscg_task_s", "scan.files_read", "shuffle.write_bytes", "shuffle.exchanges",
          "arrow.sent_bytes", "arrow.returned_bytes", "python.init_s", "python.run_s",
          "spark.jobs", "spark.tasks")
PHASE_TOTALS = ("executor.run_s", "executor.cpu_s", "executor.gc_s")


def _layers(wl, tracer, timed: list[dict]) -> dict:
    """Per-layer metrics of a traced run: set-up spans, build phases, the
    per-family split of each operation's time and Spark metrics, and the
    same averaged over every timed operation."""
    from perfbench.tracing import median

    out: dict[str, float] = {}
    for name in ("session.start", "session.warmup", "warmup.ops"):
        out[f"{name}_s"] = _span_total(tracer, name)
    build = next(s for s in tracer.spans if s.name == "build")
    for s in tracer.children(build):
        out[f"{s.name}_s"] = out.get(f"{s.name}_s", 0.0) + s.duration
    if wl.name == "tiled-interactive":
        out.update(_pipeline_phases(wl, tracer))
    keys = [k for k in timed[0]["layers"] if not k.startswith("_")]

    def spark_metrics(q: str, recs: list[dict]) -> None:
        for k in keys:
            layer, metric = k.split(".", 1)
            out[f"{layer}.{q}.{metric}"] = sum(r["layers"][k] for r in recs) / len(recs)

    for fam in wl.families:
        recs = [r for r in timed if r["family"] == fam]
        out[f"{wl.layers[fam]}.{fam}.plan_s"] = median([r["plan_s"] for r in recs])
        out[f"{wl.layers[fam]}.{fam}.exec_s"] = median([r["exec_s"] for r in recs])
        if wl.name == "tiled-interactive":
            out[f"tiled.{fam}.p50_s"] = median([r["wall_s"] for r in recs])
            spark_metrics(f"tiled.{fam}", recs)
        else:
            spark_metrics(fam, recs)
    if wl.name == "tiled-interactive":
        spark_metrics("tiled", timed)
    out["driver.plan_s"] = median([r["plan_s"] for r in timed])
    out["driver.exec_s"] = median([r["exec_s"] for r in timed])
    for k in PER_OP:
        out[k] = sum(r["layers"][k] for r in timed) / len(timed)
    for k in PHASE_TOTALS:
        out[k] = sum(r["layers"][k] for r in timed)
    if wl.name == "session-batch":
        cands = wl.join_candidates()
        for fam in ("pairs", "knn_join"):
            rec = next(r for r in timed if r["family"] == fam)
            out[f"distjoin.{fam}.candidates"] = cands[fam]
            out[f"distjoin.{fam}.prefilter_rows"] = _prefilter_rows(rec["layers"]["_executions"])
            out[f"distjoin.{fam}.result_rows"] = rec["rows"]
    return out


def _pipeline_phases(wl, tracer) -> dict:
    """The tiled build split at its storage and checkpoint calls.  The
    stats pass is the build's self time: the bbox/count pass, the cell
    listing and the lineage record."""
    build = next(s for s in tracer.spans if s.name == "pipeline.build_tiled_index")
    kids = tracer.children(build)
    out = {
        "pipeline.stats_pass_s": tracer.self_time(build),
        "pipeline.tile_write_s": sum(s.duration for s in kids if s.name == "pipeline.tile_write"),
        "pipeline.fit_s": sum(s.duration for s in kids if s.name == "pipeline.fit"),
        "pipeline.cell_stats_s": sum(s.duration for s in kids
                                     if s.name in ("pipeline.cell_metrics", "storage.write_table")),
        "storage.files": 0,
    }
    for part, (size, files) in wl.storage().items():
        out[f"storage.{part}_bytes"] = size
        out["storage.files"] += files
    return out


def _prefilter_rows(executions: list[dict]) -> float:
    """Rows out of the s^2 pre-filter: the output rows of the first node
    below the Arrow refine (MapInPandas) that reports them.  Spark fuses
    the pre-filter into the join's condition, so this is the join node."""
    from perfbench.tracing import parse_metric
    for e in executions:
        nodes = {n["nodeId"]: n for n in e.get("nodes", [])}
        child = {edge["toId"]: edge["fromId"] for edge in e.get("edges", [])}
        for nid, node in nodes.items():
            if node["nodeName"] != "MapInPandas":
                continue
            while nid in child:
                nid = child[nid]
                rows = [m["value"] for m in nodes[nid].get("metrics", [])
                        if m["name"] == "number of output rows"]
                if rows:
                    return parse_metric(rows[0])
    return float("nan")


def remove_stale_work() -> None:
    """Delete work directories left by runs that were killed (named
    ``<workload>-<pid>``, for a pid that no longer exists)."""
    root = os.path.join(HERE, ".work")
    for name in os.listdir(root) if os.path.isdir(root) else []:
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "learnedspatial_spark")):
        print(f"perfbench: the engine package is missing under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    remove_stale_work()
    try:
        out = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps({"detail": out["detail"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
