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
2. ship the (cell -> query indices) table of ``probes.compact_routing``
   and the query arrays as ONE broadcast, never as closure state (a
   production batch's routing is MBs: as a closure it is re-pickled into
   the plan per job and unpickled per task, measured 0.3s/task at 18k
   rectangles);
3. run one per-cell kernel (the module functions below) over the rows of
   the routed cells, in one ``mapInPandas`` probe for both sources;
4. merge with one aggregation: per-query counts sum the kernel
   partials together with one ``(key, base)`` row per query (so a query
   with no hits reports its routed base, 0 if none); a point lookup is a
   range materialize over the degenerate rectangle [x, x] x [y, y] whose
   hits take ``min(id)`` beside one NULL row per query; kNN keeps its
   per-query top-k merge.  Neither count nor point merge joins, so an
   interactive query runs one probe and one exchange.

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

from .functions import geo
from .operators import probes
from .operators.partitioning import FixedGridPartitioner, STRPartitioner
from .session import local_frame

_ID_CANDIDATES = ("pid", "url", "doc_id")


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
    def from_rows(cls, rows, count: str) -> CellStats:
        rows = sorted(rows, key=lambda r: r["cell_id"])

        def col(name, dtype=None):
            return np.asarray([r[name] for r in rows], dtype=dtype)
        return cls(col("cell_id", np.int64), col("minx"), col("miny"),
                   col("maxx"), col("maxy"), col(count, np.int64))


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
    frames = []
    for t in qi:
        sel, d2 = probes.knn_local_topk(xs, ys, ids, qarr[t, 0], qarr[t, 1], qarr[t, 2])
        frames.append(pd.DataFrame({
            "query_id": np.full(sel.shape[0], qids[t], dtype=np.int64),
            id_col: ids[sel], "d2": d2[sel], "px": xs[sel], "py": ys[sel]}))
    return pd.concat(frames)


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
        one ``mapInPandas`` over the source's ``_cell_rows``, with the
        table and the query arrays in one broadcast."""
        bc = self.spark.sparkContext.broadcast((routing, payload))

        def probe(it):
            table, data = bc.value
            for pdf in it:
                # a batch may hold several cells (a hash partition of the
                # cached relation, or coalesced tiled file splits), and a
                # cell may span batches: group per batch
                for cell, grp in pdf.groupby("cell_id", sort=False):
                    qi = probes.routing_lookup(table, int(cell))
                    if qi is not None:
                        yield kernel(int(cell), grp, qi, data)
        return self._cell_rows(routing[0]).mapInPandas(probe, schema=schema)

    def _zero_filled(self, key: str, keys, parts: DataFrame, base=None) -> DataFrame:
        """Sum per-(key, cell) partial counts in ONE aggregation over the
        partials and one ``(key, base)`` row per key, so a key with no
        hits reports its base (the count routing already resolved, else
        0) — one exchange, no join."""
        base = np.zeros(len(keys), dtype=np.int64) if base is None else base
        kdf = local_frame(self.spark, {key: keys, "cnt": base}, f"{key} bigint, cnt bigint")
        return parts.unionByName(kdf).groupBy(key).agg(
            F.sum("cnt").cast("bigint").alias("cnt"))

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
        parts = self._probe(routing, (q, qids), self._range_kernel(False),
                            "query_id bigint, cnt bigint")
        return self._zero_filled("query_id", qids, parts, base)

    def range_materialize(self, rects: list[tuple]) -> DataFrame:
        """Q1 range materialize (src/main.cpp:101-132): every
        (query_id, <id>, x, y) hit; order unspecified."""
        return self._range_hits(*_batch_np(rects, 4))

    def _range_hits(self, q: np.ndarray, qids: np.ndarray, refine: str | None = None) -> DataFrame:
        id_col, id_type = self._id_column()
        return self._probe(probes.compact_routing(*self._rect_candidates_flat(q)), (q, qids),
                           self._range_kernel(True, refine),
                           f"query_id bigint, {id_col} {id_type}, x double, y double")

    # ------------------------------------------------------ point lookup ---

    def point_lookup(self, pts: list[tuple]) -> DataFrame:
        """Q3 point lookup (src/main.cpp:416-450) as the range materialize
        of the degenerate inclusive rectangle [x, x] x [y, y]: the same
        routing and probe as a range, exact (x, y) equality in the cell
        kernel, canonical fetch-one = min(id) beside one NULL row per
        query.  Output (query_id, <id>); a miss is -1 for a numeric pid,
        NULL otherwise.  The cells always refine by binary search: on a
        degenerate rectangle it returns the model's rows, without a
        model fit or the knots broadcast."""
        xy, qids = _batch_np(pts, 2)
        id_col, id_type = self._id_column()
        hits = self._range_hits(np.hstack([xy, xy]), qids, "binsearch").select("query_id", id_col)
        misses = local_frame(self.spark, {"query_id": qids}, "query_id bigint").select(
            "query_id", F.lit(None).cast(id_type).alias(id_col))
        found = F.min(id_col)
        if id_col == "pid":
            found = F.coalesce(found, F.lit(-1))
        return hits.unionByName(misses).groupBy("query_id").agg(
            found.cast(id_type).alias(id_col))

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
        routing = probes.compact_routing(
            *self._rect_candidates_flat(np.stack([fx, fy, tx, ty], axis=1)))
        id_col, id_type = self._id_column()
        kernel = partial(_distance_cell, id_col=id_col, materialize=materialize)
        payload = (c[:, 0], c[:, 1], c[:, 2], qids)
        if materialize:
            return self._probe(routing, payload, kernel, f"query_id bigint, {id_col} {id_type}")
        parts = self._probe(routing, payload, kernel, "query_id bigint, cnt bigint")
        return self._zero_filled("query_id", qids, parts)

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
        routing = probes.compact_routing(*self._polygon_candidates(polygons))
        id_col, id_type = self._id_column()
        kernel = partial(_pip_cell, id_col=id_col, materialize=pairs)
        if pairs:
            return self._probe(routing, (polys, gids), kernel,
                               f"polygon_id bigint, {id_col} {id_type}")
        parts = self._probe(routing, (polys, gids), kernel, "polygon_id bigint, cnt bigint")
        return self._zero_filled("polygon_id", gids, parts)

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
        parts = self._probe(routing, (qarr, qids), partial(_knn_cell, id_col=id_col),
                            f"query_id bigint, {id_col} {id_type}, d2 double, px double, py double")
        kmap = {int(q[0]): int(q[3]) for q in queries}

        def merge(key, pdf):
            qid = int(key[0])
            return probes.knn_merge_topk(pdf, qid, kmap.get(qid, 0), id_col)

        return parts.groupBy("query_id").applyInPandas(
            merge, schema=f"query_id bigint, rnk bigint, {id_col} {id_type}")
