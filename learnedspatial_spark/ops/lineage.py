"""Run lineage + per-cell metrics (north rule).

Engine analogs of the reference's instrumentation (SURVEY.md §4 O11/O12:
``GetUsedMemory``, ``PRINT_STATS`` counters, src/main.cpp:140-186): each
index build appends one lineage line (partitioner spec hash, inputs, wall
times) and writes the per-cell row-count/bbox table.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid

from pyspark.sql import DataFrame


def spec_hash(spec: dict) -> str:
    return hashlib.sha256(json.dumps(spec, sort_keys=True).encode()).hexdigest()[:16]


class RunLog:
    """Append-only lineage log: one JSON line per run."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.run_id = uuid.uuid4().hex[:12]
        self._t0 = time.time()

    def record_run(self, job: str, partitioner_spec: dict | None, inputs: dict, extra: dict | None = None) -> str:
        line = {
            "run_id": self.run_id,
            "job": job,
            "started_at": self._t0,
            "ended_at": time.time(),
            "partitioner_spec_hash": spec_hash(partitioner_spec) if partitioner_spec else None,
            "partitioner_spec": partitioner_spec,
            "inputs": inputs,
            **(extra or {}),
        }
        with open(os.path.join(self.root, "runs.jsonl"), "a") as f:
            f.write(json.dumps(line) + "\n")
        return self.run_id


def cell_metrics(assigned: DataFrame) -> DataFrame:
    """Baseline per-cell metrics table: row counts per cell (the 'memory /
    partition size' analog of GetUsedMemory)."""
    from pyspark.sql import functions as F
    return assigned.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("rows_in_cell"),
        F.min("x").alias("minx"), F.max("x").alias("maxx"),
        F.min("y").alias("miny"), F.max("y").alias("maxy"),
    )
