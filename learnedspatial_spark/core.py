"""The spatial query surface, written once over an abstract cell source.

The reference answers every query through one two-level index: a
partitioner routes the query to candidate cells, then each cell's model
(or binary search) refines it (SURVEY.md §1.4, §2.3).  ``SpatialQueryCore``
is that path, shared by both engines:

1. route on the driver: rectangle, circle-bbox, polygon-bbox and point
   candidates through :meth:`SpatialQueryCore._rect_candidates_flat`
   (closed-form array arithmetic on a fixed grid, ``cells_for_rect``
   otherwise), kNN through ``probes.knn_candidate_cells``; range counts
   resolve fully-contained cells from the stats table at routing
   (``probes.route_contained``, the Spline.hpp:67-75 shortcut);
2. size the batch: its routed rows are the ``cell_stats`` counts of
   the routed boundary cells, known before any job runs;
3. run one per-cell kernel (the module functions below) over the rows of
   the routed cells, in one ``mapInPandas`` probe for both sources;
4. merge.  Each family has one merge, written twice with the same rows:
   per-query counts sum the kernel partials with a routed base (the
   counts of fully-contained cells, else 0); a point lookup is a range
   materialize over the degenerate rectangle [x, x] x [y, y] whose hits
   take ``min(id)``, -1 (pid) or NULL on a miss; kNN keeps each query's
   top k ordered (d2, x, y, id).  A batch whose routed rows fit
   :data:`ONE_TASK_MAX_ROWS` probes and merges in ONE task
   (``coalesce(1).mapInPandas``, the NumPy merge): one Spark job, no
   exchange, and the routing rides in the closure.  A larger batch
   ships the (cell -> query indices) table of ``probes.compact_routing``
   and the query arrays as one broadcast (as a closure a production
   batch's MBs of routing would be re-pickled per task, measured
   0.3s/task at 18k rectangles), probes in parallel and merges with one
   aggregation (counts and points: a union with one row per query, no
   join) or the per-query kNN merge: two jobs, one exchange.  A batch
   that routes no cell is its merge of zero partials, a local table
   (no Spark job).  A materializing query has no merge: its broadcast
   probe is its answer, one job, and without a routed cell its answer
   is an empty local table (no Spark job).

Query ids must be unique within a batch (the merges key on them);
a batch that repeats one raises ``ValueError`` on the driver.

A cell source supplies only what its storage has to answer, in four
hooks: ``cell_stats()`` -> :class:`CellStats`; ``_model_dict()`` -> the
learned knots per cell; ``_id_column()`` -> the row id ``(name, type)``;
``_cell_rows(cells)`` -> a DataFrame of those cells' rows with their
``cell_id`` (the in-session engine filters its cached cell-partitioned
relation, the tiled engine partition-prunes its parquet scan).

Kernels see each cell's rows possibly split, in both sources: across
Arrow batches, and across the salt partitions of a skewed in-session
cell.  Every kernel is exact on any subset of a cell (counts and hits
add up, per-subset top-k merges), and full-cell learned knots stay
exact on a subset because ``spline.learned_searchsorted`` repairs to
the exact bound on any sorted array.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .functions import geo
from .operators import probes
from .operators.partitioning import FixedGridPartitioner, STRPartitioner
from .session import local_frame

_ID_CANDIDATES = ("pid", "url", "doc_id")

#: Routed rows up to which a count, point or kNN batch probes and merges
#: in one task (module docstring, step 4): the measured wall crossover
#: against the parallel probe.  Tiled fixed grid of 1.6M uniform points in
#: 160 cells of 10k rows, local[4] on a 4-vCPU host with the benchmark's
#: session settings, range counts of 1 and 16 queries, medians of 10
#: interleaved runs: up to ~170k routed rows the one task is faster
#: (0.27 against 0.31 s at 170k), from ~190k to 250k the two tie within
#: 0.01 s, and from 260k the one task is slower (0.40 against 0.34 s at
#: 260k, 1.98 against 1.42 s at 1.6M).  Its process-tree CPU is 35-50 %
#: lower at every size (0.46 against 0.78 CPU-s at 230k), so the bound
#: sits at the end of the tie.  The table joins of ``operators.distjoin``
#: take the same bound on the rows entering their one task (left + right
#: for kNN).  Cached sf0.1 points, local[4], 4 shuffle partitions, the
#: benchmark's join radii, medians of 3 after a warm-up, one task against
#: the band exchange (wall s / process-tree CPU-s): pairs 0.19/0.46 vs
#: 0.34/0.91 at 50k points, 0.28/0.42 vs 0.45/1.18 at 200k, 0.82/0.93 vs
#: 1.01/2.72 at 600k; kNN join (left = 1/8) 0.23/0.58 vs 0.42/0.96 at
#: 50k, 0.49/0.96 vs 0.71/1.81 at 200k, 1.93/2.43 vs 2.12/5.03 at 600k.
#: The joins' crossover lies above the bound; it is kept, so one task
#: never holds more input rows than a query batch's.
ONE_TASK_MAX_ROWS = 250_000


def id_field(schema):
    """The row-identifier field of a point table: a known id name if
    present, else the single column that is not (x, y, cell_id).  Raises
    if ambiguous: silently picking an arbitrary extra column (weight,
    ts, ...) would corrupt join keys and make hash samples and STR rank
    tiebreaks nondeterministic between a build and its resume."""
    named = [f for f in schema.fields if f.name in _ID_CANDIDATES]
    others = [f for f in schema.fields if f.name not in ("x", "y", "cell_id")]
    if len(named) == 1:
        return named[0]
    if len(others) == 1:
        return others[0]
    raise ValueError(f"cannot resolve a unique id column from {schema.fieldNames()} "
                     "(expected one of pid/url/doc_id, or exactly one non-(x, y) column)")


@dataclass
class CellStats:
    """Per-cell data bbox and row count, ascending by cell id: the
    O(#cells) stats table (SURVEY.md §2.5) behind routing, the
    contained-cell shortcut and kNN pruning."""

    ids: np.ndarray
    minx: np.ndarray
    miny: np.ndarray
    maxx: np.ndarray
    maxy: np.ndarray
    count: np.ndarray

    @classmethod
    def from_rows(cls, rows) -> CellStats:
        """From ``ops.lineage.cell_metrics`` rows (any order)."""
        rows = sorted(rows, key=lambda r: r["cell_id"])

        def col(name, dtype=None):
            return np.asarray([r[name] for r in rows], dtype=dtype)
        return cls(col("cell_id", np.int64), col("minx"), col("miny"),
                   col("maxx"), col("maxy"), col("rows_in_cell", np.int64))


def knots_by_cell(model_rows) -> dict[int, tuple[np.ndarray, np.ndarray]]:
    """Model-table rows -> {cell_id: (knot_keys, knot_pos)}; linear-scan
    cells have no knots and binary-search instead."""
    return {int(r["cell_id"]): (np.asarray(r["knot_keys"]), np.asarray(r["knot_pos"]))
            for r in model_rows if not r["linear_scan"]}


def _batch_np(batch, width: int) -> tuple[np.ndarray, np.ndarray]:
    """A query batch of ``(query_id, v1, ..., v<width>)`` tuples as its
    (N, width) float64 array and unique int64 query ids, built once per
    job.  A repeated id raises: the per-query merges key on it, so two
    queries sharing one would silently pool their answers."""
    arr = np.asarray([r[1:1 + width] for r in batch], dtype=np.float64).reshape(len(batch), width)
    qids = np.asarray([r[0] for r in batch], dtype=np.int64)
    uniq, counts = np.unique(qids, return_counts=True)
    if uniq.size != qids.size:
        raise ValueError(f"query ids must be unique within a batch; repeated: "
                         f"{uniq[counts > 1][:10].tolist()}")
    return arr, qids


# ------------------------------------------------------ per-cell kernels ---
# kernel(cell_id, rows_pdf, qi, payload) -> pandas frame; ``qi`` indexes
# the routed queries of this cell into the broadcast ``payload`` arrays.

def _range_cell(cell, pdf, qi, payload, refine, models_bc, id_col, materialize):
    """Q1/Q2 over one cell: (y, x) sort + learned or binary-search run
    bounds, or the C3 BinarySearchXCell twin for ``binsearch_x`` ((x, y)
    sort, binary search on x, y filter; BinarySearchX.hpp:8-51) —
    result-identical rows either way."""
    q, qids = payload
    fx, fy, tx, ty = q[qi, 0], q[qi, 1], q[qi, 2], q[qi, 3]
    swap = refine == "binsearch_x"
    sort = probes.sort_cell_x if swap else probes.sort_cell
    order, xs, ys = sort(pdf["x"].to_numpy(), pdf["y"].to_numpy())
    knots = models_bc.value.get(cell) if models_bc is not None else None
    if not materialize:
        cnt = (probes.range_count_cell_x(xs, ys, fx, fy, tx, ty) if swap
               else probes.range_count_cell(xs, ys, fx, fy, tx, ty, knots))
        return pd.DataFrame({"query_id": qids[qi], "cnt": cnt})
    contained = probes.contained_mask(xs, ys, fx, fy, tx, ty)
    lo, hi = (probes.range_bounds(xs, fx, tx, None) if swap
              else probes.range_bounds(ys, fy, ty, knots))
    select = probes.range_select_cell_x if swap else probes.range_select_cell
    sels = [select(xs, ys, fx, fy, tx, ty, j, lo, hi, contained) for j in range(qi.shape[0])]
    sel = np.concatenate(sels)
    return pd.DataFrame({"query_id": np.repeat(qids[qi], [s.size for s in sels]),
                         id_col: pdf[id_col].to_numpy()[order][sel],
                         "x": xs[sel], "y": ys[sel]})


def _hits(key_col, keys, masks, pdf, id_col, materialize):
    """Per-(query, cell) hit counts, or the hit rows, from one row mask
    per routed query."""
    cnt = np.asarray([np.count_nonzero(m) for m in masks], dtype=np.int64)
    if not materialize:
        return pd.DataFrame({key_col: keys, "cnt": cnt})
    ids = pdf[id_col].to_numpy()
    return pd.DataFrame({key_col: np.repeat(keys, cnt),
                         id_col: np.concatenate([ids[m] for m in masks])})


def _distance_cell(cell, pdf, qi, payload, id_col, materialize):
    """Q4 refine: inclusive haversine <= r over the cell's rows."""
    qlat, qlon, rad, qids = payload
    xs, ys = pdf["x"].to_numpy(), pdf["y"].to_numpy()
    masks = [probes.distance_mask_cell(xs, ys, qlat[t], qlon[t], rad[t]) for t in qi]
    return _hits("query_id", qids[qi], masks, pdf, id_col, materialize)


def _pip_cell(cell, pdf, qi, payload, id_col, materialize):
    """Q5 refine: the polygon-bbox filter (the reference's
    LookUp(polygon.box), src/main.cpp:473) before the exact ray cast —
    points outside the bbox are never inside, so this is result-identical
    and cuts the points x edges work ~10-20x."""
    polys, gids = payload
    px, py = pdf["x"].to_numpy(), pdf["y"].to_numpy()
    masks = []
    for g in qi:
        vx, vy = polys[g]
        cand = np.flatnonzero(probes.pip_candidates(px, py, vx, vy))
        inside = np.zeros(px.shape[0], dtype=bool)
        if cand.size:
            inside[cand] = probes.ray_cast_inside(px[cand], py[cand], vx, vy)
        masks.append(inside)
    return _hits("polygon_id", gids[qi], masks, pdf, id_col, materialize)


def _knn_cell(cell, pdf, qi, payload, id_col):
    """Per-cell exact top-k partials, ordered (d2, x, y, id)."""
    qarr, qids = payload
    xs, ys, ids = pdf["x"].to_numpy(), pdf["y"].to_numpy(), pdf[id_col].to_numpy()
    sels, d2s = [], []
    for t in qi:
        sel, d2 = probes.knn_local_topk(xs, ys, ids, qarr[t, 0], qarr[t, 1], qarr[t, 2])
        sels.append(sel)
        d2s.append(d2[sel])
    sel = np.concatenate(sels)
    return pd.DataFrame({"query_id": np.repeat(qids[qi], [s.size for s in sels]),
                         id_col: ids[sel], "d2": np.concatenate(d2s), "px": xs[sel], "py": ys[sel]})


# ---------------------------------------------------------- merges ---
# merge(partials) -> the family's answer rows, equal to its Spark merge
# (kNN's applies this one per query): run inside the one task of a small
# batch, or on the driver over zero partials when a batch routes no cell.

def _merge_counts(parts, key, keys, base):
    """Per-key counts: the routed ``base`` plus every partial ``cnt``."""
    cnt = base.copy()
    if parts:
        p = pd.concat(parts)
        order = np.argsort(keys)
        pos = order[np.searchsorted(keys, p[key].to_numpy(), sorter=order)]
        np.add.at(cnt, pos, p["cnt"].to_numpy())
    return pd.DataFrame({key: keys, "cnt": cnt})


def _merge_first_id(parts, qids, id_col, miss):
    """Per query the least hit id, ``miss`` (-1 or None) without a hit."""
    found = np.full(qids.shape[0], miss, dtype=object if miss is None else np.int64)
    if parts:
        first = pd.concat(parts).sort_values(["query_id", id_col]).drop_duplicates("query_id")
        order = np.argsort(qids)
        found[order[np.searchsorted(qids, first["query_id"].to_numpy(), sorter=order)]] = \
            first[id_col].to_numpy()
    return pd.DataFrame({"query_id": qids, id_col: found})


def _merge_topk(parts, kmap, id_col):
    """Per query the first k partials by (d2, x, y, id), ranked from 1."""
    if not parts:
        return pd.DataFrame({"query_id": np.empty(0, dtype=np.int64),
                             "rnk": np.empty(0, dtype=np.int64), id_col: []})
    return pd.concat([probes.knn_merge_topk(g, int(q), kmap.get(int(q), 0), id_col)
                      for q, g in pd.concat(parts).groupby("query_id", sort=False)])


def _probe_cells(table, data, kernel, batches):
    """Run ``kernel`` over each routed cell of a stream of row batches.  A
    batch may hold several cells (a hash partition of the cached relation,
    or coalesced tiled file splits), and a cell may span batches: group
    per batch."""
    for pdf in batches:
        for cell, grp in pdf.groupby("cell_id", sort=False):
            qi = probes.routing_lookup(table, int(cell))
            if qi is not None:
                yield kernel(int(cell), grp, qi, data)


# ------------------------------------------------------------------ core ---

class SpatialQueryCore:
    """Routing, per-cell kernels and merges for every query family; a
    subclass is a cell source (module docstring).  ``refine`` is one of
    ``learned`` (the per-cell spline model table, SplineCell analog),
    ``binsearch`` (BinarySearchYCell) or ``binsearch_x``
    (BinarySearchXCell); all three return identical rows."""

    _models_bc = None

    # ------------------------------------------------------------ routing ---

    def _router(self):
        """The partitioner.  STR cells are rank-defined, so STR routes by
        per-cell MBRs: an empty MBR list would silently prune EVERY cell,
        so it is filled from the stats table before the first routing."""
        p = self.partitioner
        if isinstance(p, STRPartitioner) and not p.mbrs:
            s = self.cell_stats()
            p.mbrs = [[int(c), float(a), float(b), float(d), float(e)]
                      for c, a, b, d, e in zip(s.ids, s.minx, s.miny, s.maxx, s.maxy)]
        return p

    def _rect_candidates_flat(self, rects_arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Flat (cell, query index) candidate pairs for an (N, 4)
        (fx, fy, tx, ty) array.  A fixed grid routes the whole batch in
        array arithmetic (a per-query loop measured ~1.9s of serial
        driver time per job at 18k rectangles); other schemes flatten
        per-query ``cells_for_rect``."""
        p = self._router()
        if isinstance(p, FixedGridPartitioner):
            return probes.flatten_ranges(*p.rect_cell_ranges(*rects_arr.T))
        return probes.flatten_cell_lists([p.cells_for_rect(*r) for r in rects_arr])

    def _models_broadcast(self):
        """The learned knots as one engine-lifetime broadcast: as closure
        state the O(#cells x knots) dict would ship in every task."""
        if self._models_bc is None:
            self._models_bc = self.spark.sparkContext.broadcast(self._model_dict())
        return self._models_bc

    def _probe(self, routing, payload, kernel, schema: str) -> DataFrame:
        """Run ``kernel`` over every cell of a ``compact_routing`` table in
        one parallel ``mapInPandas`` over the source's ``_cell_rows``, with
        the table and the query arrays in one broadcast.  No routed cell:
        an empty local table of ``schema`` (no Spark job)."""
        if routing[0].size == 0:
            names = StructType.fromDDL(schema).names
            return local_frame(self.spark, dict.fromkeys(names, np.empty(0, dtype=object)), schema)
        bc = self.spark.sparkContext.broadcast((routing, payload))

        def probe(it):
            table, data = bc.value
            yield from _probe_cells(table, data, kernel, it)
        return self._cell_rows(routing[0]).mapInPandas(probe, schema=schema)

    def _routing(self, cells: np.ndarray, qidx: np.ndarray):
        """The ``compact_routing`` table of the candidate (cell, query
        index) pairs whose cell holds rows.  A cell without a stats row
        has nothing to probe, and an empty probe is not always a task:
        over an uncached in-session relation, adaptive execution drops
        the one-task stage of an empty shuffle, and its merged rows."""
        keep = np.isin(cells, self.cell_stats().ids)
        return probes.compact_routing(cells[keep], qidx[keep])

    def _routed_rows(self, cells: np.ndarray) -> int:
        """The stats-table rows of routed ``cells``: what a probe reads."""
        s = self.cell_stats()
        return int(s.count[np.searchsorted(s.ids, cells)].sum())

    def _probe_merged(self, routing, payload, kernel, schema: str, merge, aggregate,
                      out_schema: str) -> DataFrame:
        """The merged answer of a probe: ``merge`` (NumPy, over the list of
        kernel partials) and ``aggregate`` (Spark, over the partials
        DataFrame of ``schema``) both give its ``out_schema`` rows.  No
        routed cell: the merge of no partials, as a local table.  Routed
        rows within :data:`ONE_TASK_MAX_ROWS`: one task probes every
        cell and merges, with the routing in the closure.  Otherwise the
        parallel probe and the aggregation."""
        cells = routing[0]
        if cells.size == 0:
            return local_frame(self.spark, merge([]), out_schema)
        if self._routed_rows(cells) > ONE_TASK_MAX_ROWS:
            return aggregate(self._probe(routing, payload, kernel, schema))

        def stage(it):
            yield merge(list(_probe_cells(routing, payload, kernel, it)))
        return self._cell_rows(cells).coalesce(1).mapInPandas(stage, schema=out_schema)

    def _probe_counts(self, key: str, keys, routing, payload, kernel, base=None) -> DataFrame:
        """Per-key counts, (key, cnt), from a counting kernel's partials
        and the routed ``base`` (0 without one).  The aggregation sums the
        partials together with one ``(key, base)`` row per key, so a key
        with no hits reports its base: one exchange, no join."""
        base = np.zeros(len(keys), dtype=np.int64) if base is None else base
        schema = f"{key} bigint, cnt bigint"

        def aggregate(parts):
            kdf = local_frame(self.spark, {key: keys, "cnt": base}, schema)
            return parts.unionByName(kdf).groupBy(key).agg(
                F.sum("cnt").cast("bigint").alias("cnt"))
        return self._probe_merged(routing, payload, kernel, schema,
                                  partial(_merge_counts, key=key, keys=keys, base=base),
                                  aggregate, schema)

    # ------------------------------------------------------------- range ---

    def _range_kernel(self, materialize: bool, refine: str | None = None):
        refine = refine or self.refine
        models_bc = self._models_broadcast() if refine == "learned" else None
        return partial(_range_cell, refine=refine, models_bc=models_bc,
                       id_col=self._id_column()[0], materialize=materialize)

    def range_count(self, rects: list[tuple]) -> DataFrame:
        """Q2 range count (src/main.cpp:134-191): (query_id, cnt), 0 for
        empty queries.  A candidate cell whose data bbox lies inside the
        rectangle contributes its stats count without being read; only
        boundary cells are probed (a whole-domain query probes nothing)."""
        q, qids = _batch_np(rects, 4)
        s = self.cell_stats()
        base, routing = probes.route_contained(
            q, *self._rect_candidates_flat(q), s.ids, s.minx, s.miny, s.maxx, s.maxy, s.count)
        return self._probe_counts("query_id", qids, routing, (q, qids),
                                  self._range_kernel(False), base)

    def range_materialize(self, rects: list[tuple]) -> DataFrame:
        """Q1 range materialize (src/main.cpp:101-132): every
        (query_id, <id>, x, y) hit; order unspecified."""
        q, qids = _batch_np(rects, 4)
        id_col, id_type = self._id_column()
        return self._probe(self._routing(*self._rect_candidates_flat(q)), (q, qids),
                           self._range_kernel(True),
                           f"query_id bigint, {id_col} {id_type}, x double, y double")

    # ------------------------------------------------------ point lookup ---

    def point_lookup(self, pts: list[tuple]) -> DataFrame:
        """Q3 point lookup (src/main.cpp:416-450) as the range materialize
        of the degenerate inclusive rectangle [x, x] x [y, y]: the same
        routing and probe as a range, exact (x, y) equality in the cell
        kernel, canonical fetch-one = min(id) per query.  Output
        (query_id, <id>); a miss is -1 for a numeric pid, NULL otherwise.
        The cells always refine by binary search: on a degenerate
        rectangle it returns the model's rows, without a model fit or the
        knots broadcast."""
        xy, qids = _batch_np(pts, 2)
        q = np.hstack([xy, xy])
        id_col, id_type = self._id_column()
        out_schema = f"query_id bigint, {id_col} {id_type}"
        miss = -1 if id_col == "pid" else None

        def aggregate(hits):
            misses = local_frame(self.spark, {"query_id": qids}, "query_id bigint").select(
                "query_id", F.lit(None).cast(id_type).alias(id_col))
            found = F.min(id_col) if miss is None else F.coalesce(F.min(id_col), F.lit(miss))
            return hits.select("query_id", id_col).unionByName(misses).groupBy("query_id").agg(
                found.cast(id_type).alias(id_col))
        return self._probe_merged(
            self._routing(*self._rect_candidates_flat(q)), (q, qids),
            self._range_kernel(True, "binsearch"),
            f"{out_schema}, x double, y double",
            partial(_merge_first_id, qids=qids, id_col=id_col, miss=miss), aggregate, out_schema)

    # ---------------------------------------------------------- distance ---

    def distance_count(self, circles: list[tuple]) -> DataFrame:
        """Q4 radius count (src/main.cpp:360-414): candidates from the
        Matuschek circle bbox (conservative, SURVEY.md §7.3(c)), refine
        haversine(radians) <= r inclusive (distance.h:36-45).
        (query_id, cnt)."""
        return self._distance(circles, materialize=False)

    def distance_materialize(self, circles: list[tuple]) -> DataFrame:
        """Q4 materializing form — the reference materializes the refined
        hits before counting (src/main.cpp:382-397): (query_id, <id>)."""
        return self._distance(circles, materialize=True)

    def _distance(self, circles: list[tuple], materialize: bool) -> DataFrame:
        c, qids = _batch_np(circles, 3)
        mnla, mxla, mnlo, mxlo = geo.circle_bbox_radians_np(
            (c[:, 0] / 180.0) * math.pi, (c[:, 1] / 180.0) * math.pi, c[:, 2])
        # 8-ulp conservative margin: the bbox math amplifies rounding past
        # 1 ulp near the poles, and an under-widened bound can prune a cell
        # holding a true inclusive-boundary hit
        r2d = 180.0 / math.pi
        fx, tx = probes.widen_ulps(mnla * r2d, mxla * r2d)
        fy, ty = probes.widen_ulps(mnlo * r2d, mxlo * r2d)
        routing = self._routing(*self._rect_candidates_flat(np.stack([fx, fy, tx, ty], axis=1)))
        id_col, id_type = self._id_column()
        kernel = partial(_distance_cell, id_col=id_col, materialize=materialize)
        payload = (c[:, 0], c[:, 1], c[:, 2], qids)
        if materialize:
            return self._probe(routing, payload, kernel, f"query_id bigint, {id_col} {id_type}")
        return self._probe_counts("query_id", qids, routing, payload, kernel)

    # --------------------------------------------------------- PIP join ---

    def _polygon_candidates(self, polygons: dict) -> tuple[np.ndarray, np.ndarray]:
        bb = np.asarray([(min(vx), min(vy), max(vx), max(vy)) for vx, vy in polygons.values()],
                        dtype=np.float64).reshape(len(polygons), 4)
        return self._rect_candidates_flat(bb)

    def pip(self, polygons: dict[int, tuple[list[float], list[float]]],
            pairs: bool = False) -> DataFrame:
        """Q5 point-in-polygon join (src/main.cpp:452-505): candidate
        cells from each polygon's bbox, exact reference ray cast
        (join.h:30-37).  Per-polygon (polygon_id, cnt), or the
        (polygon_id, <id>) containment rows when ``pairs``."""
        gids = np.asarray(list(polygons), dtype=np.int64)
        polys = [(np.asarray(vx), np.asarray(vy)) for vx, vy in polygons.values()]
        routing = self._routing(*self._polygon_candidates(polygons))
        id_col, id_type = self._id_column()
        kernel = partial(_pip_cell, id_col=id_col, materialize=pairs)
        if pairs:
            return self._probe(routing, (polys, gids), kernel,
                               f"polygon_id bigint, {id_col} {id_type}")
        return self._probe_counts("polygon_id", gids, routing, (polys, gids), kernel)

    def polygon_tiles(self, polygons: dict[int, tuple[list[float], list[float]]]) -> DataFrame:
        """polygon -> candidate tile set (the Q5 filter mapping as data)."""
        cells, gi = self._polygon_candidates(polygons)
        gids = np.asarray(list(polygons), dtype=np.int64)
        return local_frame(self.spark, {"polygon_id": gids[gi], "cell_id": cells},
                           "polygon_id bigint, cell_id bigint")

    # -------------------------------------------------------------- kNN ---

    def knn(self, queries: list[tuple]) -> DataFrame:
        """kNN (SURVEY.md §2.4): squared-Euclidean degree-space top-k,
        ties (d2, x, y, id).  The stats table prunes cells exactly
        (``probes.knn_candidate_cells``); each cell emits its local top-k
        partials and one per-query merge keeps the global top-k — the
        associative reduce the partials are built for, not a window sort
        of every partial.  (query_id, rnk, <id>)."""
        qarr, qids = _batch_np(queries, 3)
        s = self.cell_stats()
        routing = probes.compact_routing(*probes.knn_candidate_cells(
            s.ids, s.minx, s.miny, s.maxx, s.maxy, s.count, queries))
        id_col, id_type = self._id_column()
        out_schema = f"query_id bigint, rnk bigint, {id_col} {id_type}"
        merge = partial(_merge_topk, kmap={int(q[0]): int(q[3]) for q in queries}, id_col=id_col)
        return self._probe_merged(
            routing, (qarr, qids), partial(_knn_cell, id_col=id_col),
            f"query_id bigint, {id_col} {id_type}, d2 double, px double, py double", merge,
            lambda parts: parts.groupBy("query_id").applyInPandas(
                lambda _, pdf: merge([pdf]), schema=out_schema),
            out_schema)
