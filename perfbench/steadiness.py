#!/usr/bin/env python3
"""Steadiness record: run every workload of BENCHMARK.json once per seed
1..10, in two separate sets, and summarize each end-to-end metric per set.

    python3 perfbench/steadiness.py --out perfbench/STEADINESS.json

Run from the repository root.  Workloads are interleaved seed by seed so a
drifting host affects all of them alike.  Around every run the host's
fresh-page-touch bandwidth is read with ``bench.host_bandwidth_gbs()``
(a quiet host reads >= ~1 GB/s), and the share of the VM's CPU time the
hypervisor stole during the run is taken from ``/proc/stat``, so a run
made on a sick or crowded host shows in the record.  Per set and metric
the summary gives the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the quartile spread as a share
of the median; across sets, the ratio of the second set's median to the
first's.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEEDS = list(range(1, 11))
SETS = 2


def pagetouch_gbs() -> float:
    sys.path.insert(0, ROOT)
    from bench import host_bandwidth_gbs
    return host_bandwidth_gbs()[1]


def cpu_times() -> list[int]:
    """The VM's cumulative CPU times (user nice system idle iowait irq
    softirq steal ...), in ticks."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Stolen ticks over the ticks the VM was busy or stolen from."""
    d = [b - a for a, b in zip(before, after)]
    busy = sum(d) - d[3] - d[4]  # all but idle and iowait
    return d[7] / busy if busy else 0.0


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    before = pagetouch_gbs()
    ticks = cpu_times()
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    stolen = steal_share(ticks, cpu_times())
    after = pagetouch_gbs()
    lines = p.stdout.strip().splitlines()
    rec = {"workload": workload, "seed": seed, "rc": p.returncode, "wall_s": wall,
           "steal_share": stolen,
           "pagetouch_gbs_before": before, "pagetouch_gbs_after": after}
    if p.returncode == 0 and len(lines) >= 2:
        rec["result"] = json.loads(lines[-1])
        rec["detail"] = json.loads(lines[-2])["detail"]
    else:
        rec["stderr_tail"] = p.stderr[-2000:]
    return rec


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--out", required=True, help="record file (.json; a .md summary is written beside it)")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]]
    runs = []
    for s in range(SETS):
        for seed in SEEDS:
            for w in workloads:
                rec = run_once(w, seed, spec["run_seconds"], 0)
                rec["set"] = s
                runs.append(rec)
                m = rec.get("result", {}).get("metrics", {})
                print(json.dumps({"set": s, "workload": w, "seed": seed, "rc": rec["rc"],
                                  "wall_s": round(rec["wall_s"], 1),
                                  "steal": round(rec["steal_share"], 3),
                                  "pagetouch": [rec["pagetouch_gbs_before"],
                                                rec["pagetouch_gbs_after"]],
                                  **{k: round(v["value"], 4) for k, v in m.items()}}),
                      flush=True)
    summary = {}
    for w in workloads:
        for m in spec["end_to_end"]:
            sets = []
            for s in range(SETS):
                vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs
                        if r["set"] == s and r["workload"] == w and "result" in r]
                sets.append(summarize(vals) if len(vals) >= 2 else None)
            entry = {"bound": m["bound"], "sets": sets}
            if sets[0] and sets[1]:
                entry["second_over_first"] = sets[1]["median"] / sets[0]["median"]
            summary[f"{w}/{m['name']}"] = entry
    failed = sum(r.get("result", {}).get("failed", 0) for r in runs)
    out = {"seeds": SEEDS, "sets": SETS, "run_seconds": spec["run_seconds"],
           "failed_ops": failed, "bad_runs": sum(r["rc"] != 0 for r in runs),
           "summary": summary, "runs": runs}
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    with open(os.path.splitext(args.out)[0] + ".md", "w") as f:
        f.write(markdown(out))
    print(markdown(out))
    return 0


def markdown(record: dict) -> str:
    """The summary as a table: per workload and metric, each set's median
    and quartiles, the quartile spread over the median, and the ratio of
    the second set's median to the first's."""
    walls = [r["wall_s"] for r in record["runs"]]
    touch = [min(r["pagetouch_gbs_before"], r["pagetouch_gbs_after"]) for r in record["runs"]]
    steal = [r["steal_share"] for r in record["runs"]]
    lines = [
        f"Seeds {record['seeds'][0]}..{record['seeds'][-1]}, {record['sets']} sets, "
        f"run_seconds {record['run_seconds']}; {len(walls)} runs, {record['bad_runs']} failed "
        f"runs, {record['failed_ops']} failed operations; run wall "
        f"{min(walls):.1f}..{max(walls):.1f} s; lower page-touch witness per run "
        f"{min(touch):.2f}..{max(touch):.2f} GB/s (quiet >= ~1); stolen CPU share per run "
        f"{min(steal):.3f}..{max(steal):.3f}.",
        "",
        "| workload/metric | bound | set | median | q1 | q3 | spread |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, entry in record["summary"].items():
        for i, st in enumerate(entry["sets"]):
            if st:
                lines.append(f"| {name} | {entry['bound']} | {i + 1} | {st['median']:.4g} | "
                             f"{st['q1']:.4g} | {st['q3']:.4g} | {st['spread']:.3f} |")
        if "second_over_first" in entry:
            lines.append(f"| {name} | {entry['bound']} | 2/1 | {entry['second_over_first']:.3f} "
                         "| | | |")
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    sys.exit(main())
