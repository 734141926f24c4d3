"""Seeded, closed-loop benchmark of the spatial engine.

``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` runs one workload from a single driver process and prints
its metrics as the last line of standard output.  ``BENCHMARK.json`` at the
repository root names the workloads and metrics.
"""
