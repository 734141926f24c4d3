"""Spatial partitioning schemes -> Spark ``cell_id`` columns.

Engine analogs of the reference's partitioning techniques
(include/partitioning_techniques/*.hpp, SURVEY.md §2.3), re-expressed for
Spark's execution model: a *partitioner* is a small driver-built spec
(broadcastable, JSON-serializable for checkpoint lineage) with

* ``assign_np(x, y) -> cell_id``   vectorized NumPy routing kernel, run
  either JVM-side (fixed grid / Morton: pure Column arithmetic) or inside
  an Arrow-batched pandas UDF (tree schemes);
* ``cells_for_rect(fx, fy, tx, ty) -> ndarray[int64]`` exact candidate-cell
  pruning for a query rectangle (the reference's LookUp routing), used to
  build the query->cell candidate join that Catalyst/Iceberg can prune on.

Schemes:
  fixed_grid     1-D equi-width on x   (FixedGrid.hpp:11-29)
  adaptive_grid  1-D equi-depth on x   (AdaptiveGrid.hpp:11-59); engine
                 assigns by *value* (searchsorted over separators) so that
                 assignment is a pure function of x — the reference's
                 index-split is ambiguous for duplicate x at boundaries
  kd_tree        alternating-dim median splits (KdTreePartitioning.hpp:10-45)
                 to height ceil(log2(ceil(n/leaf))) (":201-211"); points with
                 value == split go LEFT (deterministic engine semantics)
  quadtree       midpoint 4-way splits until <= leaf points
                 (QuadtreePartitioning.hpp:43-73), child bboxes shrink to
                 the data for pruning (":86-105")
  str            Sort-Tile-Recursive rank tiling (STRPartitioning.hpp:94-163)
                 — in Spark this is two window-ranked sorts, fully JVM-side
  morton         H3/S2-style hierarchical quadkey (bit-interleaved lat/lon
                 grid at a fixed level) — new surface required by the north
                 rule; parent cell = child >> 2

``build_partitioner`` and ``assign_cells`` are the one place a splitter is
built from a point DataFrame and ``cell_id`` attached to it: the
in-session engine, the tiled-index build and the stream all call them.
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sqlcompat import flit
from .ranking import str_cell_ids


# ------------------------------------------------------------------ base ---

class Partitioner:
    scheme: str = "base"

    def assign_np(self, x: np.ndarray, y: np.ndarray) -> np.ndarray:
        raise NotImplementedError

    def cells_for_rect(self, fx: float, fy: float, tx: float, ty: float) -> np.ndarray:
        raise NotImplementedError

    def num_cells(self) -> int:
        raise NotImplementedError

    # -- lineage / broadcast spec -----------------------------------------
    def to_spec(self) -> dict:
        raise NotImplementedError

    def to_json(self) -> str:
        return json.dumps(self.to_spec())

    @staticmethod
    def from_spec(spec: dict) -> "Partitioner":
        s = spec["scheme"]
        cls = {
            "fixed_grid": FixedGridPartitioner,
            "adaptive_grid": AdaptiveGridPartitioner,
            "kd_tree": KdTreePartitioner,
            "quadtree": QuadtreePartitioner,
            "str": STRPartitioner,
            "morton": MortonPartitioner,
        }[s]
        return cls._from_spec(spec)


# ------------------------------------------------------------ fixed grid ---

@dataclass
class FixedGridPartitioner(Partitioner):
    """Equi-width 1-D grid on x: ``cell = min(floor((x-xmin)/step), n-1)``
    (FixedGrid.hpp:11-29 Build; :31-49 LookUp id-range with clamps)."""

    xmin: float
    xmax: float
    n_cells: int
    scheme: str = "fixed_grid"

    @staticmethod
    def build(xmin: float, xmax: float, n_points: int, partition_size: int = 1000) -> "FixedGridPartitioner":
        n_cells = max(1, math.ceil(n_points / max(1, partition_size)))
        return FixedGridPartitioner(xmin=float(xmin), xmax=float(xmax), n_cells=int(n_cells))

    @property
    def step(self) -> float:
        return (self.xmax - self.xmin) / self.n_cells

    def assign_np(self, x, y=None):
        x = np.asarray(x, dtype=np.float64)
        if self.step == 0:  # degenerate domain (all x equal): one live cell
            return np.zeros(x.shape[0], dtype=np.int64)
        c = np.floor((x - self.xmin) / self.step).astype(np.int64)
        return np.clip(c, 0, self.n_cells - 1)

    def assign_sql(self, x_expr: str, y_expr: str | None = None) -> str:
        """The identical formula as SQL (used both as the Spark expression
        and the DuckDB oracle so tile assignment compares bit-exactly).
        The step==0 degenerate case is made explicit: 0/0 would be NaN,
        whose bigint cast is engine-defined (DuckDB errors, NumPy wraps)."""
        if self.step == 0:
            return "cast(0 as bigint)"
        return (
            f"least(greatest(cast(floor(({x_expr} - {flit(self.xmin)}) / {flit(self.step)}) as bigint), 0), "
            f"{self.n_cells - 1})"
        )

    def cells_for_rect(self, fx, fy, tx, ty):
        if tx < fx:
            return np.empty(0, dtype=np.int64)
        if self.step == 0:  # degenerate domain (all x equal): cell 0 only
            return np.zeros(1, dtype=np.int64)
        lo = int(np.clip(math.floor((fx - self.xmin) / self.step), 0, self.n_cells - 1))
        hi = int(np.clip(math.floor((tx - self.xmin) / self.step), 0, self.n_cells - 1))
        return np.arange(lo, hi + 1, dtype=np.int64)

    def rect_cell_ranges(self, fx, fy, tx, ty):
        """Vectorized :meth:`cells_for_rect` over QUERY ARRAYS — per-query
        inclusive [lo, hi] cell range; hi < lo encodes empty (inverted
        rectangle).  Identical arithmetic to the scalar path (same floor/
        clip on the same doubles), so routing is query-for-query equal —
        this is the driver-side fast path for production-sized range
        batches (the scalar loop measured 1.9s of per-job serial time at
        18k rectangles)."""
        fx = np.asarray(fx, dtype=np.float64)
        tx = np.asarray(tx, dtype=np.float64)
        if self.step == 0:  # degenerate domain: cell 0 only
            lo = np.zeros(fx.shape[0], dtype=np.int64)
            return lo, np.where(tx < fx, np.int64(-1), np.int64(0))
        lo = np.clip(np.floor((fx - self.xmin) / self.step), 0, self.n_cells - 1).astype(np.int64)
        hi = np.clip(np.floor((tx - self.xmin) / self.step), 0, self.n_cells - 1).astype(np.int64)
        return lo, np.where(tx < fx, lo - 1, hi)

    def num_cells(self):
        return self.n_cells

    def to_spec(self):
        return {"scheme": self.scheme, "xmin": self.xmin, "xmax": self.xmax, "n_cells": self.n_cells}

    @staticmethod
    def _from_spec(spec):
        return FixedGridPartitioner(xmin=spec["xmin"], xmax=spec["xmax"], n_cells=spec["n_cells"])


# --------------------------------------------------------- adaptive grid ---

@dataclass
class AdaptiveGridPartitioner(Partitioner):
    """Equi-depth 1-D grid on x. ``separators`` are x-values of run starts
    (AdaptiveGrid.hpp:11-59); assignment = #separators <= x
    (``searchsorted(side='right')``), probe = same transform of the query
    bounds (AdaptiveGrid.hpp:61-86)."""

    separators: list[float]
    scheme: str = "adaptive_grid"

    @staticmethod
    def build_from_sorted_x(x_sorted: np.ndarray, partition_size: int = 1000) -> "AdaptiveGridPartitioner":
        n = x_sorted.shape[0]
        p = max(1, math.ceil(n / max(1, partition_size)))
        # boundary i at index floor(i*n/p) — balance |max-min| <= 1, the
        # reference's build invariant (AdaptiveGrid.hpp:58)
        seps = [float(x_sorted[(i * n) // p]) for i in range(1, p)]
        # value-based assignment: drop duplicate separators (all-equal runs
        # straddling a boundary collapse into the right cell)
        uniq = sorted(set(seps))
        return AdaptiveGridPartitioner(separators=uniq)

    def assign_np(self, x, y=None):
        return np.searchsorted(np.asarray(self.separators), np.asarray(x, dtype=np.float64), side="right").astype(np.int64)

    def assign_sql(self, x_expr: str, y_expr: str | None = None) -> str:
        if not self.separators:
            return "cast(0 as bigint)"
        # balanced 8-ary grouping: a flat left-deep `a + b + c + ...` chain
        # over hundreds of separators exceeds DuckDB's 128-deep expression
        # binder recursion (hit at sf0.1's ~600 separators); grouping keeps
        # the tree depth logarithmic with identical arithmetic
        terms = [f"(case when {x_expr} >= {flit(s)} then 1 else 0 end)"
                 for s in self.separators]
        while len(terms) > 1:
            terms = ["(" + " + ".join(terms[i:i + 8]) + ")"
                     for i in range(0, len(terms), 8)]
        return f"cast({terms[0]} as bigint)"

    def cells_for_rect(self, fx, fy, tx, ty):
        if tx < fx:
            return np.empty(0, dtype=np.int64)
        seps = np.asarray(self.separators)
        lo = int(np.searchsorted(seps, fx, side="right"))
        hi = int(np.searchsorted(seps, tx, side="right"))
        return np.arange(lo, hi + 1, dtype=np.int64)

    def num_cells(self):
        return len(self.separators) + 1

    def to_spec(self):
        return {"scheme": self.scheme, "separators": list(self.separators)}

    @staticmethod
    def _from_spec(spec):
        return AdaptiveGridPartitioner(separators=spec["separators"])


# --------------------------------------------------------------- kd tree ---

@dataclass
class KdTreePartitioner(Partitioner):
    """Balanced kd-tree splitter: level d splits on x (d even) / y (d odd)
    at the median; height = ceil(log2(ceil(n/leaf)))
    (KdTreePartitioning.hpp:10-45, :201-211).

    ``splits`` is a flat heap-ordered array (node 1 = root, children 2i,
    2i+1) of split values; leaves are the 2^height slots.  Engine
    semantics: v <= split -> left (deterministic; the reference's
    nth_element leaves equal keys on either side).
    """

    splits: list[float]
    height: int
    scheme: str = "kd_tree"

    @staticmethod
    def build_from_points(x: np.ndarray, y: np.ndarray, partition_size: int = 1000) -> "KdTreePartitioner":
        n = x.shape[0]
        n_leaves_target = max(1, math.ceil(n / max(1, partition_size)))
        height = max(1, math.ceil(math.log2(n_leaves_target))) if n_leaves_target > 1 else 1
        splits = np.zeros(2 ** height, dtype=np.float64)  # nodes 1..2^h-1

        def rec(node: int, depth: int, xs: np.ndarray, ys: np.ndarray):
            if node >= 2 ** height:
                return
            arr = xs if depth % 2 == 0 else ys
            if arr.size == 0:
                split = 0.0
                mask = np.zeros(0, dtype=bool)
            else:
                split = float(np.median(arr))
                mask = arr <= split
            splits[node] = split
            rec(2 * node, depth + 1, xs[mask], ys[mask])
            rec(2 * node + 1, depth + 1, xs[~mask], ys[~mask])

        rec(1, 0, np.asarray(x, dtype=np.float64), np.asarray(y, dtype=np.float64))
        return KdTreePartitioner(splits=splits.tolist(), height=height)

    def assign_np(self, x, y):
        x = np.asarray(x, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        node = np.ones(x.shape[0], dtype=np.int64)
        splits = np.asarray(self.splits)
        for depth in range(self.height):
            v = x if depth % 2 == 0 else y
            right = v > splits[node]
            node = 2 * node + right
        return node - 2 ** self.height  # leaf index 0..2^h-1

    def assign_sql(self, x_expr: str, y_expr: str) -> str:
        """Nested CASE mirror of assign_np (literal thresholds)."""
        def rec(node: int, depth: int) -> str:
            if node >= 2 ** self.height:
                return str(node - 2 ** self.height)
            v = x_expr if depth % 2 == 0 else y_expr
            s = flit(self.splits[node])
            return (f"(case when {v} <= {s} then {rec(2 * node, depth + 1)} "
                    f"else {rec(2 * node + 1, depth + 1)} end)")
        return f"cast({rec(1, 0)} as bigint)"

    def cells_for_rect(self, fx, fy, tx, ty):
        out: list[int] = []
        splits = self.splits
        H = self.height

        def rec(node: int, depth: int):
            if node >= 2 ** H:
                out.append(node - 2 ** H)
                return
            lo, hi = (fx, tx) if depth % 2 == 0 else (fy, ty)
            s = splits[node]
            if lo <= s:
                rec(2 * node, depth + 1)
            if hi > s:
                rec(2 * node + 1, depth + 1)

        if tx >= fx and ty >= fy:
            rec(1, 0)
        return np.asarray(sorted(out), dtype=np.int64)

    def num_cells(self):
        return 2 ** self.height

    def to_spec(self):
        return {"scheme": self.scheme, "splits": list(self.splits), "height": self.height}

    @staticmethod
    def _from_spec(spec):
        return KdTreePartitioner(splits=spec["splits"], height=spec["height"])


# -------------------------------------------------------------- quadtree ---

@dataclass
class QuadtreePartitioner(Partitioner):
    """Midpoint quadtree: split bbox into 4 at the midpoint until
    <= ``partition_size`` points or a degenerate (single-point) bbox
    (QuadtreePartitioning.hpp:43-73, degenerate check :217-221).  Children
    store *data-shrunk* bboxes for pruning (":86-105").

    Flat node list; ``nodes[i] = (bbox, children[4] | leaf_id)``.  Quadrant
    order/semantics: child q = (x > midx) * 2 + (y > midy); points exactly
    on the midpoint go to the low quadrant (deterministic).
    """

    nodes: list = field(default_factory=list)  # dicts
    n_leaves: int = 0
    scheme: str = "quadtree"

    @staticmethod
    def build_from_points(x: np.ndarray, y: np.ndarray, partition_size: int = 1000, max_depth: int = 24) -> "QuadtreePartitioner":
        x = np.asarray(x, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        nodes: list[dict] = []
        leaf_counter = [0]

        def rec(ix: np.ndarray, depth: int) -> int:
            me = len(nodes)
            if ix.size:
                bbox = [float(x[ix].min()), float(y[ix].min()), float(x[ix].max()), float(y[ix].max())]
            else:
                bbox = [0.0, 0.0, -1.0, -1.0]  # empty: never intersects
            node = {"bbox": bbox, "children": None, "leaf": -1, "degenerate": False}
            nodes.append(node)
            degenerate = ix.size > 0 and bbox[0] == bbox[2] and bbox[1] == bbox[3]
            if ix.size <= partition_size or degenerate or depth >= max_depth:
                node["leaf"] = leaf_counter[0]
                node["degenerate"] = bool(degenerate)
                leaf_counter[0] += 1
                return me
            midx = (bbox[0] + bbox[2]) / 2.0
            midy = (bbox[1] + bbox[3]) / 2.0
            node["mid"] = [midx, midy]
            q = (x[ix] > midx).astype(np.int64) * 2 + (y[ix] > midy).astype(np.int64)
            kids = []
            for qi in range(4):
                kids.append(rec(ix[q == qi], depth + 1))
            node["children"] = kids
            return me

        rec(np.arange(x.shape[0]), 0)
        return QuadtreePartitioner(nodes=nodes, n_leaves=leaf_counter[0])

    def assign_np(self, x, y):
        x = np.asarray(x, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        out = np.empty(x.shape[0], dtype=np.int64)

        def rec(node_i: int, ix: np.ndarray):
            node = self.nodes[node_i]
            if node["children"] is None:
                out[ix] = node["leaf"]
                return
            midx, midy = node["mid"]
            q = (x[ix] > midx).astype(np.int64) * 2 + (y[ix] > midy).astype(np.int64)
            for qi in range(4):
                sub = ix[q == qi]
                if sub.size:
                    rec(node["children"][qi], sub)

        rec(0, np.arange(x.shape[0]))
        return out

    def assign_sql(self, x_expr: str, y_expr: str) -> str:
        def rec(node_i: int) -> str:
            node = self.nodes[node_i]
            if node["children"] is None:
                return str(node["leaf"])
            midx, midy = node["mid"]
            c = node["children"]
            return (
                f"(case when {x_expr} <= {flit(midx)} then "
                f"(case when {y_expr} <= {flit(midy)} then {rec(c[0])} else {rec(c[1])} end) "
                f"else (case when {y_expr} <= {flit(midy)} then {rec(c[2])} else {rec(c[3])} end) end)"
            )
        return f"cast({rec(0)} as bigint)"

    def cells_for_rect(self, fx, fy, tx, ty):
        out: list[int] = []

        def rec(node_i: int):
            node = self.nodes[node_i]
            b = node["bbox"]
            if b[2] < b[0] or fx > b[2] or tx < b[0] or fy > b[3] or ty < b[1]:
                return
            if node["children"] is None:
                out.append(node["leaf"])
                return
            for c in node["children"]:
                rec(c)

        if tx >= fx and ty >= fy:
            rec(0)
        return np.asarray(sorted(out), dtype=np.int64)

    def num_cells(self):
        return self.n_leaves

    def to_spec(self):
        return {"scheme": self.scheme, "nodes": self.nodes, "n_leaves": self.n_leaves}

    @staticmethod
    def _from_spec(spec):
        return QuadtreePartitioner(nodes=spec["nodes"], n_leaves=spec["n_leaves"])


# ------------------------------------------------------------------- STR ---

@dataclass
class STRPartitioner(Partitioner):
    """Sort-Tile-Recursive (STRPartitioning.hpp:94-163): rank points by
    (x, y, tiebreak), slice into S = ceil(sqrt(P)) vertical slices of
    S*leaf points; within a slice rank by (y, x, tiebreak) and chop runs of
    ``leaf``.  In Spark both rankings are window ``row_number()`` — pure
    JVM, no UDF (the canonical Spark mapping of STR tiling).

    Assignment here is *rank-based*, so the spec holds per-cell MBRs
    (collected from a groupBy agg) for pruning instead of a closed-form
    routing function.
    """

    n: int
    leaf: int
    slice_cap: int
    mbrs: list  # [cell_id, minx, miny, maxx, maxy]
    scheme: str = "str"

    @staticmethod
    def plan(n: int, partition_size: int = 1000) -> tuple[int, int]:
        p = max(1, math.ceil(n / max(1, partition_size)))
        s = max(1, math.ceil(math.sqrt(p)))
        return s * partition_size, partition_size  # (slice_cap, leaf)

    def assign_np(self, x, y):  # rank-based: assign_cells ranks with str_cell_ids
        raise NotImplementedError("STR assigns by global rank; use assign_cells")

    def cells_for_rect(self, fx, fy, tx, ty):
        if not self.mbrs:
            return np.empty(0, dtype=np.int64)
        m = np.asarray([r[1:] for r in self.mbrs], dtype=np.float64)
        ids = np.asarray([r[0] for r in self.mbrs], dtype=np.int64)
        hit = (m[:, 0] <= tx) & (m[:, 2] >= fx) & (m[:, 1] <= ty) & (m[:, 3] >= fy)
        return np.sort(ids[hit])

    def num_cells(self):
        return len(self.mbrs)

    def to_spec(self):
        return {"scheme": self.scheme, "n": self.n, "leaf": self.leaf,
                "slice_cap": self.slice_cap, "mbrs": self.mbrs}

    @staticmethod
    def _from_spec(spec):
        return STRPartitioner(n=spec["n"], leaf=spec["leaf"], slice_cap=spec["slice_cap"], mbrs=spec["mbrs"])


# ---------------------------------------------------------------- morton ---

@dataclass
class MortonPartitioner(Partitioner):
    """H3/S2-style hierarchical quadkey over the global lat/lon domain:
    ``ix = floor((lon+180)/360 * 2^L)``, ``iy = floor((lat+90)/180 * 2^L)``
    (clamped), cell = Morton interleave(ix, iy).  Hierarchical: the level
    L-1 parent is ``cell >> 2``.  New surface per the north rule (no H3/S2
    code exists in the reference; SURVEY.md §1.4)."""

    level: int = 8
    scheme: str = "morton"

    def _grid_idx(self, x, y):
        n = 1 << self.level
        iy = np.clip(np.floor((np.asarray(x, dtype=np.float64) + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
        ix = np.clip(np.floor((np.asarray(y, dtype=np.float64) + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
        return ix, iy

    @staticmethod
    def _interleave(ix: np.ndarray, iy: np.ndarray, level: int) -> np.ndarray:
        out = np.zeros_like(ix)
        for b in range(level):
            out |= ((ix >> b) & 1) << (2 * b + 1)
            out |= ((iy >> b) & 1) << (2 * b)
        return out

    def assign_np(self, x, y):
        ix, iy = self._grid_idx(x, y)
        return self._interleave(ix, iy, self.level)

    def assign_sql(self, x_expr: str, y_expr: str) -> str:
        n = 1 << self.level
        iy = (f"cast(least(greatest(floor((({x_expr}) + {flit(90.0)}) / {flit(180.0)} * {n}), 0), "
              f"{n - 1}) as bigint)")
        ix = (f"cast(least(greatest(floor((({y_expr}) + {flit(180.0)}) / {flit(360.0)} * {n}), 0), "
              f"{n - 1}) as bigint)")
        terms = []
        # bit extraction via floor(a / 2^b) % 2 — ANSI-portable (Spark SQL
        # has no '//'); exact: magnitudes << 2^53
        for b in range(self.level):
            terms.append(f"((cast(floor(({ix}) / {1 << b}.0) as bigint) % 2) * {1 << (2 * b + 1)})")
            terms.append(f"((cast(floor(({iy}) / {1 << b}.0) as bigint) % 2) * {1 << (2 * b)})")
        return "cast(" + " + ".join(terms) + " as bigint)"

    def parent(self, cell: np.ndarray, levels_up: int = 1) -> np.ndarray:
        return np.asarray(cell) >> (2 * levels_up)

    def cells_for_rect(self, fx, fy, tx, ty):
        if tx < fx or ty < fy:
            return np.empty(0, dtype=np.int64)
        n = 1 << self.level
        iy0, iy1 = [int(np.clip(math.floor((v + 90.0) / 180.0 * n), 0, n - 1)) for v in (fx, tx)]
        ix0, ix1 = [int(np.clip(math.floor((v + 180.0) / 360.0 * n), 0, n - 1)) for v in (fy, ty)]
        ix, iy = np.meshgrid(np.arange(ix0, ix1 + 1, dtype=np.int64), np.arange(iy0, iy1 + 1, dtype=np.int64))
        return np.sort(self._interleave(ix.ravel(), iy.ravel(), self.level))

    def num_cells(self):
        return 1 << (2 * self.level)

    def to_spec(self):
        return {"scheme": self.scheme, "level": self.level}

    @staticmethod
    def _from_spec(spec):
        return MortonPartitioner(level=spec["level"])


# -------------------------------------------------------- build + assign ---

#: Above this many points the tree schemes build their splitter from a
#: deterministic hash sample of about this many rows (SURVEY.md §7.3(d));
#: at or below it the build is exact, which the oracle twins rely on.
BUILD_SAMPLE_ROWS = 2_000_000
#: O(#cells) guard of every build (``effective_partition_size``).
MAX_CELLS = 1_000_000


def effective_partition_size(n: int, partition_size: int, max_cells: int) -> int:
    """Auto-coarsen the per-cell budget so #cells stays bounded.  The
    cell-stats and model tables are O(#cells) driver/broadcast artifacts
    by design (the reference's per-cell metadata, SURVEY.md §2.5); the
    reference leaves ``partition_size`` to manual tuning (README.md:62-68).
    At 100 TB a forgotten default (1000) would mean ~10^8 cells and
    multi-GB driver collects — instead, a build whose n/partition_size
    exceeds ``max_cells`` coarsens partition_size to ceil(n / max_cells).
    Query RESULTS are partitioning-invariant; only cell granularity
    changes."""
    if max_cells and n > partition_size * max_cells:
        return -(-n // max_cells)
    return partition_size


def build_partitioner(points: DataFrame, id_col: str, scheme: str,
                      partition_size: int) -> tuple[Partitioner, int, int]:
    """The ``scheme`` splitter over ``points`` (columns x, y, ``id_col``)
    -> (partitioner, #points, effective partition size).

    One (min x, max x, count) aggregation; fixed grid, Morton and STR are
    closed forms of it, so no point reaches the driver.  Adaptive grid,
    kd-tree and quadtree build from the rows with
    ``pmod(xxhash64(id_col), k) == 0``, ``k = ceil(n / BUILD_SAMPLE_ROWS)``,
    and a per-leaf budget shrunk by k so full-scale occupancy still
    targets the partition size; k = 1 is the exact build.  A sample
    changes cell boundaries, never query results (routing and refine are
    exact for any partitioning)."""
    xmin, xmax, n = points.agg(F.min("x"), F.max("x"), F.count(F.lit(1))).collect()[0]
    if n == 0:
        raise ValueError("empty point source: the input derived zero (x, y) rows "
                         "— nothing to index")
    ps = effective_partition_size(n, partition_size, MAX_CELLS)
    if scheme == "fixed_grid":
        return FixedGridPartitioner.build(xmin, xmax, n, ps), n, ps
    if scheme == "morton":
        level = max(1, min(12, math.ceil(math.log2(max(2.0, n / ps)) / 2)))
        return MortonPartitioner(level=level), n, ps
    if scheme == "str":
        slice_cap, leaf = STRPartitioner.plan(n, ps)
        return STRPartitioner(n=n, leaf=leaf, slice_cap=slice_cap, mbrs=[]), n, ps
    if scheme not in ("adaptive_grid", "kd_tree", "quadtree"):
        raise ValueError(f"unknown scheme {scheme}")
    k = -(-n // BUILD_SAMPLE_ROWS)
    samp = points.where(F.pmod(F.xxhash64(id_col), F.lit(k)) == 0).select("x", "y").toArrow()
    x, y = samp.column("x").to_numpy(), samp.column("y").to_numpy()
    leaf = max(1, ps // k)
    if scheme == "adaptive_grid":
        return AdaptiveGridPartitioner.build_from_sorted_x(np.sort(x), leaf), n, ps
    cls = KdTreePartitioner if scheme == "kd_tree" else QuadtreePartitioner
    return cls.build_from_points(x, y, leaf), n, ps


def assign_cells(points: DataFrame, partitioner: Partitioner, id_col: str) -> DataFrame:
    """``points`` + ``cell_id``, batch or stream.  Fixed grid and Morton
    are one JVM Column expression; STR is two chained rankings with no
    unpartitioned window (operators/ranking.py; batch only); every other
    scheme runs its ``assign_np`` kernel in one ``mapInPandas`` whose
    task closure carries the O(#cells) spec."""
    p = partitioner
    if isinstance(p, (FixedGridPartitioner, MortonPartitioner)):
        return points.withColumn("cell_id", F.expr(p.assign_sql("x", "y")))
    if isinstance(p, STRPartitioner):
        return str_cell_ids(points, id_col, p.slice_cap, p.leaf, math.ceil(p.slice_cap / p.leaf))
    spec = p.to_spec()
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in points.schema.fields) + ", cell_id bigint"

    def route(it):
        part = Partitioner.from_spec(spec)
        for pdf in it:
            pdf["cell_id"] = part.assign_np(pdf["x"].to_numpy(), pdf["y"].to_numpy())
            yield pdf

    return points.mapInPandas(route, schema=schema)
