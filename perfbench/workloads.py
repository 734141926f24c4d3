"""The workloads: how each builds its structure and which operation each
family of its closed loop sends.

An operation is a ``plan`` callable (the public engine call that returns a
lazy DataFrame), collected by the harness, and a ``check`` callable that
compares the collected rows with the oracle's answer and returns a
mismatch description or None.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

from . import inputs, oracles


@dataclass
class Op:
    plan: Callable
    check: Callable[[list], str | None]


def _diff(name: str, got: dict, want: dict) -> str | None:
    if got == want:
        return None
    keys = sorted(set(got) | set(want), key=str)
    bad = [k for k in keys if got.get(k) != want.get(k)]
    shown = ", ".join(f"{k}: got {got.get(k)!r} want {want.get(k)!r}" for k in bad[:3])
    return f"{name}: {len(bad)} of {len(keys)} answers differ ({shown})"


def _counts(key: str):
    return lambda rows: {int(r[key]): int(r["cnt"]) for r in rows}


def _ranked(id_col: str, cast=int):
    def f(rows):
        out: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rnk"])):
            out.setdefault(int(r["query_id"]), []).append(cast(r[id_col]))
        return out
    return f


def _check(name: str, convert, want):
    return lambda rows: _diff(name, convert(rows), want)


def _dir_bytes(root: str) -> tuple[int, int]:
    total = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


class Workload:
    """A workload builds its structure in ``setup`` (inside a ``build``
    span), then hands out operation ``i`` of each family.  The harness sends
    rounds of operations (``round_ops``); the first ``warmup_rounds`` are
    untimed."""

    name = ""
    families: list[str] = []
    layers: dict[str, str] = {}  # family -> span prefix of the module it calls
    #: Untimed rounds before the timed loop, billed to ``setup_s``.
    warmup_rounds = 1

    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, family: str, i: int) -> Op:
        raise NotImplementedError

    def round_ops(self, i: int) -> list[tuple[str, int]]:
        """The operations of round ``i``, as (family, operation index):
        one per family."""
        return [(f, i) for f in self.families]

    def bytes_per_point(self) -> float:
        """Bytes the built structure holds per indexed point."""
        raise NotImplementedError

    def detail(self) -> dict:
        """Workload facts for the detail line (the cell count)."""
        raise NotImplementedError


class SessionBatch(Workload):
    """In-session work over one cached cell relation: SpatialEngine (pages
    source, fixed grid, learned refine) answering large batches of range
    counts (three selectivity tiers) and kNN queries, and the table x table
    joins of ``operators/distjoin`` reading the same relation (the distance
    self-join within a fixed radius, and the kNN join of a 1/8 sample
    against all points)."""

    name = "session-batch"
    families = ["range", "knn", "pairs", "knn_join"]
    layers = {"range": "engine", "knn": "engine", "pairs": "distjoin", "knn_join": "distjoin"}
    #: After one round the next still cost 15-25 % more CPU than later ones
    #: (the JVM was still compiling the first batches' code).
    warmup_rounds = 2
    VARIANTS = 3  # distinct batches per family; operations cycle through them

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from learnedspatial_spark.engine import SpatialEngine

        c, t = self.ctx.corpus, self.ctx.tracer
        with t.span("oracle.expected"):
            self.batches = [inputs.batch_queries(c.seed, v) for v in range(self.VARIANTS)]
            self.expected = inputs.expected(
                c.seed, "session-batch", lambda: oracles.expected_batches(c, self.batches))
            self.expected_joins = inputs.expected(
                c.seed, "joins", lambda: oracles.expected_joins(c))
        with t.span("build", cpu=True):
            with t.span("engine.init"):
                self.eng = SpatialEngine(self.ctx.spark, c.path, scheme="fixed_grid",
                                         refine="learned", source="pages")
            with t.span("engine.assign_cache"):
                self.points = self.eng.assigned_points().cache()
                self.points.count()
            with t.span("engine.cell_stats"):
                self.cells = int(self.eng.cell_stats().ids.shape[0])
            with t.span("engine.fit_models"):
                self.eng.fit_models()
        self.left = self.points.where(F.pmod(F.col("pid"), F.lit(inputs.KNN_LEFT_MOD)) == 0)

    def op(self, family: str, i: int) -> Op:
        from learnedspatial_spark.operators import distjoin

        if family in ("pairs", "knn_join"):
            want = self.expected_joins[family]
            if family == "pairs":
                return Op(lambda: distjoin.distance_join_pairs(self.points, inputs.PAIRS_RADIUS_M),
                          lambda rows: _diff_sets("pairs", _pairs(rows), want))
            return Op(lambda: distjoin.knn_join(self.left, self.points, inputs.KNN_K,
                                                inputs.KNN_RADIUS_M),
                      lambda rows: _diff_sets("knn_join", _pairs(rows), want))
        v = i % self.VARIANTS
        q, want = self.batches[v][family], self.expected[v][family]
        e = self.eng
        if family == "range":
            return Op(lambda: e.range_count(q), _check("range", _counts("query_id"), want))
        return Op(lambda: e.knn(q), _check("knn", _ranked("pid"), want))

    def join_candidates(self) -> dict:
        """Rows into the s^2 pre-filter per join: the blocked equi-join
        candidates, counted with the operator's public blocking helpers."""
        from pyspark.sql import functions as F

        from learnedspatial_spark.operators import distjoin

        def count(left, right, radius, pred):
            l = distjoin.stencil_keys(left.select("pid", "x", "y"), radius).select(
                F.col("pid").alias("l_pid"), "band", "cell")
            r = right.select(F.col("pid").alias("r_pid"), *distjoin.block_key_cols(radius))
            return l.join(r, ["band", "cell"]).where(pred).count()

        return {
            "pairs": count(self.points, self.points, inputs.PAIRS_RADIUS_M,
                           F.col("l_pid") < F.col("r_pid")),
            "knn_join": count(self.left, self.points, inputs.KNN_RADIUS_M,
                              F.col("l_pid") != F.col("r_pid")),
        }

    def bytes_per_point(self) -> float:
        mem, disk = self.ctx.rest.storage_bytes()
        return (mem + disk) / self.ctx.corpus.points

    def detail(self) -> dict:
        return {"cells": self.cells}


def _pairs(rows) -> set[tuple[int, int]]:
    return {(int(r["l_pid"]), int(r["r_pid"])) for r in rows}


class TiledInteractive(Workload):
    """Write path then read path over one storage layer: build the tiled
    index from the pages parquet, then send single-query jobs to
    TiledSpatialEngine, each reading parquet."""

    name = "tiled-interactive"
    families = ["range", "point", "knn"]
    layers = {f: "tiled" for f in families}
    POOL = 48  # distinct single queries per family
    #: Single queries per family in one round: a range at each selectivity
    #: tier, a point lookup that hits and one that misses, one kNN query.
    #: Every round then sends the same mix, so a round's cost does not
    #: depend on where in the tier cycle it starts.
    PER_ROUND = {"range": 3, "point": 2, "knn": 1}
    #: Points per cell.  Large cells keep the index to a few dozen parquet
    #: files, so build and query times are not dominated by file-system
    #: metadata (which this benchmark's hosts measure with wide spread).
    PARTITION_SIZE = 5000

    def setup(self) -> None:
        from learnedspatial_spark import pipeline
        from learnedspatial_spark.tiled import TiledSpatialEngine

        c, t = self.ctx.corpus, self.ctx.tracer
        with t.span("oracle.expected"):
            self.pools = inputs.single_queries(c, self.POOL)
            self.expected = inputs.expected(
                c.seed, "tiled-interactive", lambda: oracles.expected_singles(c, self.pools))
        self.root = os.path.join(self.ctx.work, "index")
        shutil.rmtree(self.root, ignore_errors=True)
        with t.span("build", cpu=True):
            with t.span("pipeline.build_tiled_index"):
                self.summary = pipeline.build_tiled_index(
                    self.ctx.spark, c.path, self.root, scheme="fixed_grid",
                    partition_size=self.PARTITION_SIZE)
            with t.span("tiled.init"):
                self.eng = TiledSpatialEngine(self.ctx.spark, self.root)

    def op(self, family: str, i: int) -> Op:
        j = i % self.POOL
        q, want = self.pools[family][j], self.expected[family][j]
        e = self.eng
        if family == "range":
            return Op(lambda: e.range_count(q), _check("range", _counts("query_id"), want))
        if family == "point":
            return Op(lambda: e.point_lookup(q),
                      _check("point", lambda rows: {int(r["query_id"]): r["url"] for r in rows}, want))
        return Op(lambda: e.knn(q), _check("knn", _ranked("url", str), want))

    def round_ops(self, i: int) -> list[tuple[str, int]]:
        return [(f, n * i + k) for f, n in self.PER_ROUND.items() for k in range(n)]

    def storage(self) -> dict:
        """(bytes, files) on disk per index table."""
        return {name: _dir_bytes(os.path.join(self.root, table)) for name, table in
                (("points", "points_tiled"), ("models", "models"), ("stats", "cell_stats"))}

    def bytes_per_point(self) -> float:
        return sum(b for b, _ in self.storage().values()) / self.ctx.corpus.points

    def detail(self) -> dict:
        return {"cells": int(self.summary["cells"])}


def _diff_sets(name: str, got: set, want: set) -> str | None:
    if got == want:
        return None
    extra, missing = sorted(got - want)[:3], sorted(want - got)[:3]
    return (f"{name}: {len(got - want)} unexpected, {len(want - got)} missing "
            f"of {len(want)} (e.g. unexpected {extra}, missing {missing})")


WORKLOADS = {w.name: w for w in (SessionBatch, TiledInteractive)}
