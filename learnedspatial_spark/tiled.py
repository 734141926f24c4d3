"""TiledSpatialEngine — query the MATERIALIZED index (build once, query
many: the production path at 100 TB).

``pipeline.build_tiled_index`` writes the point table partitioned by
``cell_id`` (hive-style directories; Iceberg partition keys at production)
with per-cell (y, x) sort, plus the model table and the partitioner-spec
lineage.  This engine answers queries against those artifacts with the
plan the reference's architecture implies (two-level index, SURVEY.md
§1.4) mapped onto Spark storage:

1. route driver-side: query -> candidate cell ids (the technique ``LookUp``
   of SURVEY.md §2.3, microseconds over the broadcastable spec);
2. scan ONLY those cells: ``where(cell_id isin ...)`` becomes a parquet
   PartitionFilter — Spark never opens non-candidate directories (the
   Iceberg/Hive partition-pruning analog of the reference's contiguous
   cell-range probe; asserted in tools_plan_audit.py);
3. probe in place with ``mapInPandas``: every Arrow batch comes from one
   cell's files, so the learned/binary-search refine runs WITHOUT ANY
   shuffle of point data (the in-session engine pays one cell-keyed
   shuffle to group; here the layout already is the grouping);
4. aggregate the tiny per-(query, cell) partials — the only exchange, of
   O(#queries x #cells-touched) rows.

The learned model table loads once and ships as a broadcast variable
(O(#cells x #knots) — the reference's per-cell splines, SURVEY.md §2.5).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import probes
from .operators import spline as spl
from .operators.partitioning import Partitioner
from .ops import storage
from .session import local_frame


class TiledSpatialEngine:
    def __init__(self, spark: SparkSession, index_root: str):
        self.spark = spark
        self.root = index_root
        self.tiled_path = os.path.join(index_root, "points_tiled")
        manifest_path = os.path.join(index_root, "_ckpt", "fit_models.manifest.json")
        with open(manifest_path) as f:
            spec = json.load(f)["partitioner_spec"]
        self.partitioner = Partitioner.from_spec(spec)
        if spec.get("scheme") == "str" and not self.partitioner.mbrs:
            # defensive fallback for indexes whose manifest predates the
            # stats-filled spec: STR routes by per-cell MBRs, so an empty
            # list would silently prune EVERY cell — rebuild routing state
            # from the persisted cell_stats table (memoized accessor, so
            # later range/knn calls reuse the same collect).
            s = self._cell_stats_np()
            self.partitioner.mbrs = [
                [int(s["ids"][i]), float(s["minx"][i]), float(s["miny"][i]),
                 float(s["maxx"][i]), float(s["maxy"][i])]
                for i in range(s["ids"].shape[0])]
        self._models_bc = None


    # ------------------------------------------------------------ id col ---

    _ID_CANDIDATES = ("pid", "url", "doc_id")

    def _id_column(self):
        """The tiled table's row-identifier column, resolved ONCE from the
        schema: a known id name if present, else the single column that is
        not (x, y, cell_id).  Raises if ambiguous — silently picking an
        arbitrary extra column (weight, ts, ...) would corrupt join keys
        downstream."""
        if getattr(self, "_id_col", None) is None:
            fields = storage.read_table(self.spark, self.tiled_path).schema.fields
            named = [f for f in fields if f.name in self._ID_CANDIDATES]
            others = [f for f in fields if f.name not in ("x", "y", "cell_id")]
            if len(named) == 1:
                f = named[0]
            elif len(others) == 1:
                f = others[0]
            else:
                raise ValueError(
                    f"ambiguous id column in tiled table: {[f.name for f in others]}")
            self._id_col = (f.name, f.dataType.simpleString())
        return self._id_col

    # ------------------------------------------------------------ models ---

    def _models(self):
        """Broadcast {cell_id: (knot_keys, knot_pos)} once per engine."""
        if self._models_bc is None:
            rows = storage.read_table(self.spark, os.path.join(self.root, "models")).collect()
            m = {int(r["cell_id"]): (np.asarray(r["knot_keys"]), np.asarray(r["knot_pos"]))
                 for r in rows if not r["linear_scan"]}
            self._models_bc = self.spark.sparkContext.broadcast(m)
        return self._models_bc

    # ------------------------------------------------------------- scan ---

    def _pruned_scan(self, cells: list[int]) -> DataFrame:
        # isin on the partition column -> PartitionFilters in the scan node:
        # non-candidate cell directories are never listed or opened
        return (storage.read_table(self.spark, self.tiled_path)
                .where(F.col("cell_id").isin([int(c) for c in cells])))

    def _cell_stats_np(self):
        """Memoized O(#cells) stats arrays from the persisted stats table
        (bbox + count per cell) — routing/shortcut material."""
        if getattr(self, "_stats_np", None) is None:
            rows = sorted(
                storage.read_table(self.spark, os.path.join(self.root, "cell_stats")).collect(),
                key=lambda r: r["cell_id"])
            self._stats_np = {
                "ids": np.asarray([r["cell_id"] for r in rows], dtype=np.int64),
                "minx": np.asarray([r["minx"] for r in rows]),
                "miny": np.asarray([r["miny"] for r in rows]),
                "maxx": np.asarray([r["maxx"] for r in rows]),
                "maxy": np.asarray([r["maxy"] for r in rows]),
                "count": np.asarray([r["rows_in_cell"] for r in rows], dtype=np.int64),
            }
        return self._stats_np

    def range_count(self, rects: list[tuple], refine: str = "learned") -> DataFrame:
        """(query_id, cnt) with 0 for empty queries — same semantics as
        SpatialEngine.range_count, shuffle-free probe.  Fully-contained
        candidate cells (Spline.hpp:67-75 shortcut, applied at routing)
        contribute their persisted stats counts without being scanned —
        the partition pruning then skips interior cell directories
        entirely; only boundary cells are read."""
        cells_per_query = [self.partitioner.cells_for_rect(r[1], r[2], r[3], r[4])
                           for r in rects]
        s = self._cell_stats_np()
        base, cellmap = probes.split_contained_counts(
            rects, cells_per_query, s["ids"], s["minx"], s["miny"], s["maxx"],
            s["maxy"], s["count"])
        q = np.asarray([[r[1], r[2], r[3], r[4]] for r in rects], dtype=np.float64)
        qids = np.asarray([r[0] for r in rects], dtype=np.int64)
        models_bc = self._models() if refine == "learned" else None

        def probe(it):
            for pdf in it:
                if not len(pdf):
                    continue
                # a batch belongs to one cell's files, but after split
                # coalescing a task may interleave cells: group defensively
                for cell, grp in pdf.groupby("cell_id", sort=False):
                    qidx = cellmap.get(int(cell))
                    if not qidx:
                        continue
                    _, xs, ys = probes.sort_cell(grp["x"].to_numpy(), grp["y"].to_numpy())
                    qi = np.asarray(qidx, dtype=np.int64)
                    knots = models_bc.value.get(int(cell)) if models_bc is not None else None
                    cnt = probes.range_count_cell(
                        xs, ys, q[qi, 0], q[qi, 1], q[qi, 2], q[qi, 3], knots)
                    yield pd.DataFrame({"query_id": qids[qi], "cnt": cnt})

        parts = self._pruned_scan(list(cellmap)).mapInPandas(
            probe, schema="query_id bigint, cnt bigint")
        agg = parts.groupBy("query_id").agg(F.sum("cnt").alias("cnt"))
        qdf = local_frame(self.spark, {"query_id": qids, "base": base},
                          "query_id bigint, base bigint")
        return (qdf.join(agg, "query_id", "left")
                .select("query_id",
                        (F.coalesce(F.col("cnt"), F.lit(0)) + F.col("base"))
                        .cast("bigint").alias("cnt")))

    def point_lookup(self, pts: list[tuple]) -> DataFrame:
        """Q3 fetch-one over the materialized index — entirely JVM: pruned
        scan, broadcast equality join, min(id) canonicalization over the
        resolved id column (pid for derived-point indexes, url for
        page-built ones).  Output (query_id, <id>); misses are -1 for a
        numeric pid, NULL otherwise."""
        routing = probes.point_routing(
            pts, [self.partitioner.cells_for_rect(qx, qy, qx, qy) for (_, qx, qy) in pts])
        qdf = local_frame(self.spark, routing, probes.POINT_ROUTING_SCHEMA)
        id_col, id_type = self._id_column()
        hit = (self._pruned_scan(np.unique(routing["cell_id"]).tolist())
               .join(F.broadcast(qdf), "cell_id")
               .where((F.col("x") == F.col("qx")) & (F.col("y") == F.col("qy")))
               .groupBy("query_id").agg(F.min(id_col).alias(id_col)))
        alldf = local_frame(self.spark, {"query_id": [q[0] for q in pts]}, "query_id bigint")
        out = alldf.join(hit, "query_id", "left")
        if id_col == "pid":
            return out.select(
                "query_id",
                F.coalesce(F.col("pid"), F.lit(-1)).cast("bigint").alias("pid"))
        return out.select("query_id", F.col(id_col).cast(id_type).alias(id_col))

    def distance_count(self, circles: list[tuple]) -> DataFrame:
        """Q4 radius count over the materialized index: Matuschek bbox ->
        pruned scan, haversine refine in-place (same semantics as
        SpatialEngine.distance_count)."""
        return self._distance(circles, materialize=False)

    def distance_materialize(self, circles: list[tuple]) -> DataFrame:
        """Q4 materializing form over the index: (query_id, pid) refined
        hit rows, shuffle-free (the probe output IS the result)."""
        return self._distance(circles, materialize=True)

    def _distance(self, circles: list[tuple], materialize: bool) -> DataFrame:
        import math as _math

        from .functions import geo
        qids = [c[0] for c in circles]
        latr = np.asarray([(c[1] / 180.0) * _math.pi for c in circles])
        lonr = np.asarray([(c[2] / 180.0) * _math.pi for c in circles])
        rad = np.asarray([c[3] for c in circles])
        mnla, mxla, mnlo, mxlo = geo.circle_bbox_radians_np(latr, lonr, rad)
        r2d = 180.0 / _math.pi
        cellmap: dict[int, list[int]] = {}
        for i in range(len(circles)):
            # same 8-ulp conservative margin as SpatialEngine._distance_probe
            # (the bbox math amplifies rounding past 1 ulp near the poles;
            # an under-widened bound can prune a cell holding a true hit)
            fx, tx = probes.widen_ulps(mnla[i] * r2d, mxla[i] * r2d)
            fy, ty = probes.widen_ulps(mnlo[i] * r2d, mxlo[i] * r2d)
            for c in self.partitioner.cells_for_rect(fx, fy, tx, ty):
                cellmap.setdefault(int(c), []).append(i)
        qlat = np.asarray([c[1] for c in circles])
        qlon = np.asarray([c[2] for c in circles])
        qid_arr = np.asarray(qids, dtype=np.int64)

        id_col, id_type = self._id_column()

        def probe(it):
            for pdf in it:
                if not len(pdf):
                    continue
                for cell, grp in pdf.groupby("cell_id", sort=False):
                    qidx = cellmap.get(int(cell))
                    if not qidx:
                        continue
                    xs = grp["x"].to_numpy()
                    ys = grp["y"].to_numpy()
                    qi = np.asarray(qidx, dtype=np.int64)
                    if materialize:
                        pids = grp[id_col].to_numpy()
                        for t in qi:
                            hit = pids[probes.distance_mask_cell(xs, ys, qlat[t], qlon[t], rad[t])]
                            if hit.size:
                                yield pd.DataFrame({
                                    "query_id": np.full(hit.size, qid_arr[t], dtype=np.int64),
                                    id_col: hit})
                        continue
                    cnt = np.empty(qi.shape[0], dtype=np.int64)
                    for j, t in enumerate(qi):
                        cnt[j] = np.count_nonzero(
                            probes.distance_mask_cell(xs, ys, qlat[t], qlon[t], rad[t]))
                    yield pd.DataFrame({"query_id": qid_arr[qi], "cnt": cnt})

        if materialize:
            return self._pruned_scan(list(cellmap)).mapInPandas(
                probe, schema=f"query_id bigint, {id_col} {id_type}")
        parts = self._pruned_scan(list(cellmap)).mapInPandas(
            probe, schema="query_id bigint, cnt bigint")
        agg = parts.groupBy("query_id").agg(F.sum("cnt").alias("cnt"))
        qdf = local_frame(self.spark, {"query_id": qids}, "query_id bigint")
        return qdf.join(agg, "query_id", "left").select(
            "query_id", F.coalesce(F.col("cnt"), F.lit(0)).cast("bigint").alias("cnt"))

    def pip(self, polygons: dict[int, tuple[list[float], list[float]]],
            pairs: bool = False) -> DataFrame:
        """Q5 point-in-polygon over the materialized index: polygon bbox ->
        candidate cells -> pruned scan -> exact ray cast in place.  Counts
        by default; ``pairs`` yields the (polygon_id, pid) containment rows
        shuffle-free."""
        from .operators.probes import ray_cast_inside
        polymap: dict[int, list[int]] = {}
        for gid, (vx, vy) in polygons.items():
            bb = (min(vx), min(vy), max(vx), max(vy))
            for c in self.partitioner.cells_for_rect(*bb):
                polymap.setdefault(int(c), []).append(gid)
        polys = {gid: (np.asarray(vx), np.asarray(vy)) for gid, (vx, vy) in polygons.items()}

        id_col, id_type = self._id_column()

        def probe(it):
            for pdf in it:
                if not len(pdf):
                    continue
                for cell, grp in pdf.groupby("cell_id", sort=False):
                    gids = polymap.get(int(cell))
                    if not gids:
                        continue
                    px = grp["x"].to_numpy()
                    py = grp["y"].to_numpy()
                    pids = grp[id_col].to_numpy() if pairs else None
                    out_g, out_c = [], []
                    for gid in gids:
                        vx, vy = polys[gid]
                        cand = np.flatnonzero(probes.pip_candidates(px, py, vx, vy))
                        inside = np.zeros(px.shape[0], dtype=bool)
                        if cand.size:
                            inside[cand] = ray_cast_inside(px[cand], py[cand], vx, vy)
                        if pairs:
                            hit = pids[inside]
                            if hit.size:
                                yield pd.DataFrame({
                                    "polygon_id": np.full(hit.size, gid, dtype=np.int64),
                                    id_col: hit})
                        else:
                            out_g.append(gid)
                            out_c.append(int(inside.sum()))
                    if not pairs and out_g:
                        yield pd.DataFrame({"polygon_id": np.asarray(out_g, dtype=np.int64),
                                            "cnt": np.asarray(out_c, dtype=np.int64)})

        if pairs:
            return self._pruned_scan(list(polymap)).mapInPandas(
                probe, schema=f"polygon_id bigint, {id_col} {id_type}")
        parts = self._pruned_scan(list(polymap)).mapInPandas(
            probe, schema="polygon_id bigint, cnt bigint")
        agg = parts.groupBy("polygon_id").agg(F.sum("cnt").alias("cnt"))
        gdf = local_frame(self.spark, {"polygon_id": list(polygons)}, "polygon_id bigint")
        return gdf.join(agg, "polygon_id", "left").select(
            "polygon_id", F.coalesce(F.col("cnt"), F.lit(0)).cast("bigint").alias("cnt"))

    def knn(self, queries: list[tuple]) -> DataFrame:
        """kNN over the materialized index: cell stats from the persisted
        stats table drive the same exact pruning as SpatialEngine.knn; the
        per-cell top-k partials come from the pruned scan, the per-query
        merge is the one small shuffle."""
        s = self._cell_stats_np()
        # shared pruning kernel (operators/probes.py) — identical to
        # SpatialEngine.knn by construction
        cellmap = probes.knn_candidate_cells(
            s["ids"], s["minx"], s["miny"], s["maxx"], s["maxy"], s["count"], queries)
        qarr = np.asarray([[q[1], q[2], q[3]] for q in queries], dtype=np.float64)
        qid_arr = np.asarray([q[0] for q in queries], dtype=np.int64)
        id_col, id_type = self._id_column()

        def probe(it):
            for pdf in it:
                if not len(pdf):
                    continue
                for cell, grp in pdf.groupby("cell_id", sort=False):
                    qidx = cellmap.get(int(cell))
                    if not qidx:
                        continue
                    xs = grp["x"].to_numpy(); ys = grp["y"].to_numpy()
                    pids = grp[id_col].to_numpy()
                    for t in np.asarray(qidx, dtype=np.int64):
                        sel, d2 = probes.knn_local_topk(
                            xs, ys, pids, qarr[t, 0], qarr[t, 1], qarr[t, 2])
                        yield pd.DataFrame({
                            "query_id": np.full(sel.shape[0], qid_arr[t], dtype=np.int64),
                            id_col: pids[sel], "d2": d2[sel], "px": xs[sel], "py": ys[sel]})

        parts = self._pruned_scan(list(cellmap)).mapInPandas(
            probe, schema=f"query_id bigint, {id_col} {id_type}, d2 double, px double, py double")
        kmap = {int(q[0]): int(q[3]) for q in queries}

        def merge(key, pdf: pd.DataFrame) -> pd.DataFrame:
            qid = int(key[0])
            return probes.knn_merge_topk(pdf, qid, kmap.get(qid, 0), id_col)

        return parts.groupBy("query_id").applyInPandas(
            merge, schema=f"query_id bigint, rnk bigint, {id_col} {id_type}")

    def range_materialize(self, rects: list[tuple], refine: str = "learned") -> DataFrame:
        """(query_id, <id>, x, y) hit rows — the id column keeps its
        RESOLVED name (pid for derived-point indexes, url for page
        indexes), matching SpatialEngine.range_materialize's naming on the
        same data — shuffle-free (no aggregation at all: the output IS the
        probe output).  ``refine`` selects the
        in-cell candidate-run search: the broadcast learned models
        (SplineCell analog) or plain binary search — result-identical, same
        shared ``probes.range_bounds`` path as range_count."""
        cellmap: dict[int, list[int]] = {}
        for qi, (qid, fx, fy, tx, ty) in enumerate(rects):
            for c in self.partitioner.cells_for_rect(fx, fy, tx, ty):
                cellmap.setdefault(int(c), []).append(qi)
        q = np.asarray([[r[1], r[2], r[3], r[4]] for r in rects], dtype=np.float64)
        qids = np.asarray([r[0] for r in rects], dtype=np.int64)
        models_bc = self._models() if refine == "learned" else None
        id_col, id_type = self._id_column()

        def probe(it):
            for pdf in it:
                if not len(pdf):
                    continue
                for cell, grp in pdf.groupby("cell_id", sort=False):
                    qidx = cellmap.get(int(cell))
                    if not qidx:
                        continue
                    order, xs, ys = probes.sort_cell(grp["x"].to_numpy(), grp["y"].to_numpy())
                    urls = grp[id_col].to_numpy()[order]
                    qi = np.asarray(qidx, dtype=np.int64)
                    fx, fy, tx, ty = q[qi, 0], q[qi, 1], q[qi, 2], q[qi, 3]
                    knots = models_bc.value.get(int(cell)) if models_bc is not None else None
                    contained = probes.contained_mask(xs, ys, fx, fy, tx, ty)
                    lo, hi = probes.range_bounds(ys, fy, ty, knots)
                    for j in range(qi.shape[0]):
                        sel = probes.range_select_cell(xs, ys, fx, fy, tx, ty, j, lo, hi, contained)
                        if sel.size:
                            yield pd.DataFrame({
                                "query_id": np.full(sel.size, qids[qi[j]], dtype=np.int64),
                                id_col: urls[sel], "x": xs[sel], "y": ys[sel]})

        return self._pruned_scan(list(cellmap)).mapInPandas(
            probe, schema=f"query_id bigint, {id_col} {id_type}, x double, y double")
