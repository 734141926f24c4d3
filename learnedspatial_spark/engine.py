"""SpatialEngine — the engine's query surface as Spark DataFrame jobs.

Execution shape for every spatial query (SURVEY.md §3 "Spark lifecycle"):

1. derive points (pure Column arithmetic, parquet scan prunes columns);
2. assign ``cell_id`` — JVM Column expression where the scheme allows
   (fixed grid, Morton, STR ranks) else a vectorized pandas UDF routing
   kernel over the broadcast partitioner spec;
3. driver-side query->candidate-cell pruning (the reference's technique
   ``LookUp`` routing, SURVEY.md §2.3) — tiny NumPy work over the spec;
4. one shuffle: ``groupBy(cell_id).applyInPandas(probe)`` where the probe
   sorts the cell by (y, x) and refines with either the learned spline
   kernel (SplineCell analog) or ``np.searchsorted`` (BinarySearchYCell
   analog, include/partition_cells/BinarySearchY.hpp) — batched NumPy,
   never per-row Python;
5. final ``groupBy(query_id)`` aggregation + left join against the query
   list so empty results surface as 0 (matches the oracle SQL).

Cell-granular shortcuts mirrored from the reference (SURVEY.md §4):
fully-outside / fully-contained cells short-circuit before any per-point
work (Spline.hpp:62-75), tiny cells linear-scan (Spline.hpp:10).

At 100 TB the same plan holds: step 2 is the only full-data shuffle and is
also the natural Iceberg/parquet partition key for materialization; probes
touch only pruned cells (partition pruning); the model/stats tables are
O(#cells) and broadcastable.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .operators import spline as spl
from .operators.partitioning import (
    AdaptiveGridPartitioner,
    FixedGridPartitioner,
    KdTreePartitioner,
    MortonPartitioner,
    Partitioner,
    QuadtreePartitioner,
    STRPartitioner,
)
from .session import local_frame
from .sources import points as points_src

DEFAULT_PARTITION_SIZE = 1000  # src/main.cpp:60-65
MAX_CELLS_DEFAULT = 1_000_000
#: Candidate-cell pruning switches from InSet literals to a broadcast
#: left-semi join above this count (plan size stays bounded regardless
#: of how many cells a production batch routes to).
ISIN_MAX_CELLS = 10_000


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


from .operators.probes import widen_ulps as _widen  # shared routing margin


@dataclass
class CellStats:
    ids: np.ndarray
    minx: np.ndarray
    miny: np.ndarray
    maxx: np.ndarray
    maxy: np.ndarray
    count: np.ndarray


class SpatialEngine:
    """Builds one partitioning scheme over the derived point table and
    answers the full reference query surface (+ kNN, new per north rule)."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        scheme: str = "fixed_grid",
        partition_size: int = DEFAULT_PARTITION_SIZE,
        refine: str = "learned",
        salt_rows: int | None = None,
        source: str = "lineitem",
        build_sample: int | None = None,
        exact_build_threshold: int = 2_000_000,
        max_cells: int = MAX_CELLS_DEFAULT,
    ):
        self.spark = spark
        self.sf_dir = sf_dir
        self.scheme = scheme
        # self.partition_size is set ONCE below, after the count is known,
        # via effective_partition_size — no raw value is ever observable
        self.refine = refine
        # skew handling (north rule): cells with > salt_rows points are
        # sub-split by a deterministic salt; probes group on (cell_id, salt)
        # so one skewed cell fans out over salt_k tasks, results re-aggregate
        # on the logical cell/query key (count/topk partials are associative)
        self.salt_rows = salt_rows
        # source: "lineitem" = harness derivation from sf_dir tables;
        #         "pages"   = sf_dir is a pages parquet path (url->pid hash)
        self.source = source
        # splitter build — scale-safe by default: closed-form schemes
        # (fixed grid / Morton / STR) need only (min, max, count), computed
        # with ONE Spark aggregation (no point ever reaches the driver).
        # Data-dependent schemes (adaptive grid / kd-tree / quadtree) build
        # exact below ``exact_build_threshold`` rows (the harness scale —
        # bit-reproducible against the oracle SQL literals) and switch to a
        # bounded deterministic hash sample above it (the 100 TB path,
        # SURVEY.md §7.3(d)): cell structure changes, query RESULTS do not
        # (routing + refine stay exact for any partitioning).
        # ``build_sample=k`` forces the sampled path at ~k rows.
        agg = self.points().agg(F.min("x"), F.max("x"), F.count(F.lit(1))).collect()[0]
        self._n = n = int(agg[2])
        if n == 0:
            raise ValueError(
                f"empty point source: no points derived from {sf_dir!r} "
                f"(source={source!r}) — nothing to index")
        self._xmin, self._xmax = float(agg[0]), float(agg[1])
        # O(#cells) guard: coarsen partition_size before any splitter build
        self.partition_size = effective_partition_size(n, partition_size, max_cells)
        if self.scheme in ("fixed_grid", "morton", "str"):
            self.partitioner = self._build_closed_form(self._xmin, self._xmax, n)
        else:
            target = build_sample if build_sample is not None else exact_build_threshold
            if n <= target:
                _, x, y = self._points_np()
                self.partitioner = self._build_partitioner(x, y)
            else:
                # ceil division: floor would give k=1 for n in (target,
                # 2*target) and "sample" the whole corpus to the driver
                k = max(1, -(-n // max(1, target)))
                samp = (self.points()
                        .where(F.pmod(F.xxhash64("pid"), F.lit(k)) == 0)
                        .select("x", "y").collect())
                xs = np.asarray([r["x"] for r in samp], dtype=np.float64)
                ys = np.asarray([r["y"] for r in samp], dtype=np.float64)
                # per-leaf budget shrinks by the sampling ratio so full-scale
                # occupancy still targets partition_size (pipeline.py parity)
                self.partitioner = self._build_partitioner(
                    xs, ys, ps=max(1, self.partition_size // k))
        self._assigned: DataFrame | None = None
        self._stats: CellStats | None = None
        self._models: dict[int, tuple[np.ndarray, np.ndarray]] | None = None

    # ------------------------------------------------------------ build ---

    def _build_closed_form(self, xmin: float, xmax: float, n: int) -> Partitioner:
        """Schemes whose splitter is a pure function of (bbox, count) — no
        point data touches the driver."""
        ps = self.partition_size
        if self.scheme == "fixed_grid":
            return FixedGridPartitioner.build(xmin, xmax, n, ps)
        if self.scheme == "morton":
            level = max(1, min(12, int(math.ceil(math.log2(max(2.0, n / ps)) / 2))))
            return MortonPartitioner(level=level)
        if self.scheme == "str":
            slice_cap, leaf = STRPartitioner.plan(n, ps)
            return STRPartitioner(n=n, leaf=leaf, slice_cap=slice_cap, mbrs=[])
        raise ValueError(f"not a closed-form scheme: {self.scheme}")

    def _build_partitioner(self, x: np.ndarray, y: np.ndarray, ps: int | None = None) -> Partitioner:
        ps = self.partition_size if ps is None else ps
        if self.scheme == "adaptive_grid":
            return AdaptiveGridPartitioner.build_from_sorted_x(np.sort(x), ps)
        if self.scheme == "kd_tree":
            return KdTreePartitioner.build_from_points(x, y, ps)
        if self.scheme == "quadtree":
            return QuadtreePartitioner.build_from_points(x, y, ps)
        raise ValueError(f"unknown scheme {self.scheme}")

    def _points_np(self):
        if self.source == "pages":
            # splitter build needs only (x, y); pid here is a DuckDB-local
            # hash (the Spark-side pid is xxhash64(url) — never compared)
            import duckdb

            from .streaming.ingest import GEO_RE
            con = duckdb.connect()
            # SAME regex as the Spark extraction (extract.points_from_pages
            # via GEO_RE) and TRY_CAST: a page whose text contains 'geo:'
            # without a parsable coordinate pair passes the LIKE prefilter,
            # regexp_extract returns '' there, and a plain cast('') raises
            # — the Spark side drops such rows, so must this one
            rel = con.sql(
                "SELECT * FROM ("
                "SELECT hash(url) AS pid, "
                f"try_cast(regexp_extract(text, '{GEO_RE}', 1) as double) AS x, "
                f"try_cast(regexp_extract(text, '{GEO_RE}', 2) as double) AS y "
                f"FROM read_parquet('{self.sf_dir}/*.parquet') WHERE text LIKE '%geo:%'"
                ") WHERE x IS NOT NULL AND y IS NOT NULL")
            pid, x, y = rel.fetchnumpy().values()
            con.close()
            return pid.astype(np.int64), x.astype(np.float64), y.astype(np.float64)
        return points_src.points_np(self.sf_dir)

    def points(self) -> DataFrame:
        if self.source == "pages":
            from . import extract
            pages = self.spark.read.parquet(self.sf_dir)
            pts = extract.points_from_pages(pages)
            return pts.select(F.xxhash64("url").alias("pid"), "x", "y")
        return points_src.points_df(self.spark, self.sf_dir)

    def assigned_points(self) -> DataFrame:
        """points + cell_id.  JVM expression for closed-form schemes; Arrow
        pandas UDF routing otherwise; STR is two window ranks (pure JVM)."""
        if self._assigned is not None:
            return self._assigned
        df = self.points()
        p = self.partitioner
        if isinstance(p, (FixedGridPartitioner, MortonPartitioner)):
            expr = p.assign_sql("x", "y") if isinstance(p, MortonPartitioner) else p.assign_sql("x")
            out = df.withColumn("cell_id", F.expr(expr))
        elif isinstance(p, STRPartitioner):
            # two chained rankings with NO unpartitioned window: the global
            # (x, y, pid) rank is bucketed two-phase (operators/ranking.py)
            # so no single task ever sees the full row set
            from .operators.ranking import str_cell_ids
            cells_per_slice = math.ceil(p.slice_cap / p.leaf)
            out = str_cell_ids(df, "pid", p.slice_cap, p.leaf, cells_per_slice)
        else:
            spec = p.to_spec()

            def route(it):
                part = Partitioner.from_spec(spec)
                for pdf in it:
                    pdf = pdf.copy()
                    pdf["cell_id"] = part.assign_np(pdf["x"].to_numpy(), pdf["y"].to_numpy())
                    yield pdf

            out = df.mapInPandas(route, schema="pid bigint, x double, y double, cell_id bigint")
        # hash-partition by cell_id once: every probe job (groupBy(cell_id)
        # .applyInPandas) reuses this partitioning with a sort only — no
        # per-query re-shuffle (verified in the physical plan); this is also
        # the Iceberg/parquet partition key at materialization time
        n_shuffle = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
        out = out.repartition(n_shuffle, "cell_id")
        self._assigned = out
        return out

    def cell_stats(self) -> CellStats:
        """Per-cell MBR + count (one aggregation job; the model/stats table
        of SURVEY.md §2.5 — O(#cells), broadcastable)."""
        if self._stats is not None:
            return self._stats
        rows = (
            self.assigned_points()
            .groupBy("cell_id")
            .agg(
                F.min("x").alias("minx"), F.min("y").alias("miny"),
                F.max("x").alias("maxx"), F.max("y").alias("maxy"),
                F.count(F.lit(1)).alias("cnt"),
            )
            .collect()
        )
        rows.sort(key=lambda r: r["cell_id"])
        self._stats = CellStats(
            ids=np.asarray([r["cell_id"] for r in rows], dtype=np.int64),
            minx=np.asarray([r["minx"] for r in rows]),
            miny=np.asarray([r["miny"] for r in rows]),
            maxx=np.asarray([r["maxx"] for r in rows]),
            maxy=np.asarray([r["maxy"] for r in rows]),
            count=np.asarray([r["cnt"] for r in rows], dtype=np.int64),
        )
        if isinstance(self.partitioner, STRPartitioner) and not self.partitioner.mbrs:
            s = self._stats
            self.partitioner.mbrs = [
                [int(s.ids[i]), float(s.minx[i]), float(s.miny[i]), float(s.maxx[i]), float(s.maxy[i])]
                for i in range(s.ids.shape[0])
            ]
        return self._stats

    def salted_points(self) -> DataFrame:
        """assigned points + ``salt`` column: 0 for normal cells; skewed
        cells (count > salt_rows) split into ceil(count/salt_rows) salts via
        pmod(hash(pid), k) — deterministic, uniform.  FixedGrid/Quadtree
        cells are count-skewed by construction (SURVEY.md §2.3 skew note)."""
        df = self.assigned_points()
        if not self.salt_rows:
            return df.withColumn("salt", F.lit(0))
        s = self.cell_stats()
        big = {int(c): int(math.ceil(n / self.salt_rows))
               for c, n in zip(s.ids, s.count) if n > self.salt_rows}
        if not big:
            return df.withColumn("salt", F.lit(0))
        mapping = F.create_map(*[F.lit(v) for kv in big.items() for v in kv])
        k = F.coalesce(mapping[F.col("cell_id")], F.lit(1))
        return df.withColumn("salt", F.pmod(F.hash("pid"), k))

    def _probe_groups(self, candidate_cells=None) -> tuple[DataFrame, list[str]]:
        """Probe input + grouping keys.  ``candidate_cells`` prunes the
        scan JVM-side BEFORE any Python worker sees a row — the in-session
        analog of the tiled engine's partition pruning (the reference's
        LookUp routing): a one-rect query feeds only its few candidate
        cells through Arrow, not the whole corpus.  The filter preserves
        the cached hash-partitioning on cell_id, so the probe still runs
        without a fresh exchange."""
        df, keys = ((self.salted_points(), ["cell_id", "salt"]) if self.salt_rows
                    else (self.assigned_points(), ["cell_id"]))
        if candidate_cells is not None:
            # selectivity gate: a broad batch workload that routes to most
            # cells gains nothing from the filter but still pays a full
            # InSet scan of the corpus — only prune when the candidate set
            # is actually selective
            total = max(1, self.partitioner.num_cells())
            cells = [int(c) for c in candidate_cells]
            if len(cells) < 0.5 * total:
                if len(cells) <= ISIN_MAX_CELLS:
                    df = df.where(F.col("cell_id").isin(cells))
                else:
                    # a 100 TB corpus at partition_size=8000 has ~10^7
                    # cells; a selective batch can still route to 10^5+ —
                    # as InSet literals that many constants bloat the plan
                    # (analysis/codegen cost grows with the literal list),
                    # so large sets prune via a broadcast LEFT SEMI join
                    # instead.  BroadcastHashJoin preserves the probe
                    # side's cached hash-partitioning on cell_id, so the
                    # downstream applyInPandas still runs exchange-free.
                    cdf = local_frame(self.spark, {"cell_id": cells}, "cell_id bigint")
                    df = df.join(F.broadcast(cdf), "cell_id", "left_semi")
        return df, keys

    def model_table(self) -> DataFrame:
        """Fit the per-cell learned models ONCE as a DataFrame job (the
        SplineCell::Build analog, Spline.hpp:18-53): one applyInPandas pass
        emits (cell_id, n, linear_scan, knot_keys, knot_pos, avg_err,
        max_err) — the error columns are the reference's per-spline model
        quality metrics (SplineUtil.h:25-52).  O(#cells x #knots) — small,
        broadcastable, and the natural checkpoint/lineage artifact
        (SURVEY.md §3 step 4)."""
        def fit(key, pdf: pd.DataFrame) -> pd.DataFrame:
            ys = np.sort(pdf["y"].to_numpy())
            m = spl.fit_cell_model(ys)
            return pd.DataFrame([{
                "cell_id": int(key[0]), "n": m["n"], "linear_scan": m["linear_scan"],
                "knot_keys": m["knot_keys"], "knot_pos": m["knot_pos"],
                "avg_err": m["avg_err"], "max_err": m["max_err"],
            }])
        return self.assigned_points().groupBy("cell_id").applyInPandas(
            fit, schema=("cell_id bigint, n bigint, linear_scan boolean, "
                         "knot_keys array<double>, knot_pos array<double>, "
                         "avg_err double, max_err double"))

    def fit_models(self) -> dict[int, tuple[np.ndarray, np.ndarray]]:
        """Collect the model table into a broadcastable dict so learned
        probes reuse knots instead of refitting per query batch."""
        if self._models is None:
            rows = self.model_table().collect()
            self._models = {
                int(r["cell_id"]): (np.asarray(r["knot_keys"]), np.asarray(r["knot_pos"]))
                for r in rows if not r["linear_scan"]
            }
        return self._models

    def _models_broadcast(self):
        """Broadcast handle for the pre-fit model dict: shipping it via the
        probe closure would re-serialize O(#cells x knots) into EVERY
        task of every probe job (tiled.py ships its model table the same
        way)."""
        if self._models is None:
            return None
        if getattr(self, "_models_bc", None) is None:
            self._models_bc = self.spark.sparkContext.broadcast(self._models)
        return self._models_bc

    # -------------------------------------------------- candidate pruning ---

    def _cell_query_map(self, rects: list[tuple]) -> dict[int, list[int]]:
        """cell_id -> query indices touching it (driver-side LookUp routing,
        SURVEY.md §2.3).  STR needs cell MBRs -> one stats job."""
        if isinstance(self.partitioner, STRPartitioner):
            self.cell_stats()
        m: dict[int, list[int]] = {}
        for qi, (qid, fx, fy, tx, ty) in enumerate(rects):
            for c in self.partitioner.cells_for_rect(fx, fy, tx, ty):
                m.setdefault(int(c), []).append(qi)
        return m

    @staticmethod
    def _rects_np(rects: list[tuple]) -> tuple[np.ndarray, np.ndarray]:
        """One-time conversion of a rectangle batch to its (N, 4) float64
        corner array + int64 query-id array.  Built ONCE per job and
        threaded through routing/probe: at an 18k-rect production batch
        each redundant list-comprehension conversion is serial driver
        time on exactly the path the vectorized routing exists for."""
        arr = np.asarray([[r[1], r[2], r[3], r[4]] for r in rects],
                         dtype=np.float64).reshape(len(rects), 4)
        qids = np.asarray([r[0] for r in rects], dtype=np.int64)
        return arr, qids

    def _rect_candidates_flat(self, rects: list[tuple],
                              rects_arr: np.ndarray | None = None,
                              ) -> tuple[np.ndarray, np.ndarray]:
        """Flat (cell, query_idx) candidate pairs for a rectangle batch —
        the vectorized form of the `_cell_query_map` loop.  Fixed grid
        routes the whole batch in closed-form array arithmetic (no
        per-query Python: the scalar loop measured ~1.9s of SERIAL
        driver time per job at 18k rectangles — a fixed term that capped
        the range workload's measured N->4N scaling at 0.61 before this
        round-5 fix); tree schemes keep the per-query kernel and flatten
        its outputs."""
        from .operators import probes
        p = self.partitioner
        if isinstance(p, STRPartitioner):
            self.cell_stats()
        if isinstance(p, FixedGridPartitioner):
            arr = rects_arr if rects_arr is not None else self._rects_np(rects)[0]
            lo, hi = p.rect_cell_ranges(arr[:, 0], arr[:, 1], arr[:, 2], arr[:, 3])
            return probes.flatten_ranges(lo, hi)
        return probes.flatten_cell_lists(
            [p.cells_for_rect(r[1], r[2], r[3], r[4]) for r in rects])

    # ---------------------------------------------------------- range Qs ---

    def _range_probe(self, rects: list[tuple], materialize: bool,
                     routing: tuple | None = None,
                     rects_np: tuple[np.ndarray, np.ndarray] | None = None,
                     ) -> DataFrame:
        refine = self.refine
        # pre-fit knots index the FULL cell's sorted order — unusable for
        # salted sub-groups, so fall back to in-probe fit when salting;
        # shipped as a broadcast, not a closure capture (O(#cells) payload)
        models_bc = self._models_broadcast() if not self.salt_rows else None
        from .operators import probes
        q, qids = rects_np if rects_np is not None else self._rects_np(rects)
        if routing is None:
            routing = probes.compact_routing(*self._rect_candidates_flat(rects, q))
        # columnar routing table rides a BROADCAST, not the task closure: a
        # production batch's (cell, query) pairs are MBs — as closure state
        # they would be re-pickled into the plan per job and re-unpickled
        # per task (measured 0.3s/task at 18k rects); as int64 arrays in a
        # broadcast they ship once and load once per worker
        routing_bc = self.spark.sparkContext.broadcast(routing)
        if materialize:
            schema = "query_id bigint, pid bigint, x double, y double"
        else:
            schema = "query_id bigint, cnt bigint"

        def probe(key, pdf: pd.DataFrame) -> pd.DataFrame:
            cell = int(key[0])
            qidx = probes.routing_lookup(routing_bc.value, cell)
            empty = pd.DataFrame({c.split()[0]: pd.Series(dtype="int64" if "bigint" in c else "float64")
                                  for c in schema.split(", ")})
            if qidx is None or qidx.size == 0:
                return empty
            swap_x = refine == "binsearch_x"
            if swap_x:
                # C3 BinarySearchXCell (BinarySearchX.hpp:8-51): (x, y)
                # sort, binary search on x, filter candidates on y — the
                # dimension-swapped twin; result rows are identical.
                order, xs, ys = probes.sort_cell_x(pdf["x"].to_numpy(), pdf["y"].to_numpy())
            else:
                order, xs, ys = probes.sort_cell(pdf["x"].to_numpy(), pdf["y"].to_numpy())
            pids = pdf["pid"].to_numpy()[order]
            n = xs.shape[0]
            qi = np.asarray(qidx, dtype=np.int64)
            fx, fy, tx, ty = q[qi, 0], q[qi, 1], q[qi, 2], q[qi, 3]
            knots = None
            if refine == "learned" and n > spl.LINEAR_SCAN_THRESHOLD:
                pre = models_bc.value.get(cell) if models_bc is not None else None
                if pre is not None:
                    knots = pre
                else:
                    keys, pos = spl.build_cdf(ys)
                    knots = spl.fit_spline(keys, pos.astype(np.float64))
            if materialize:
                contained = probes.contained_mask(xs, ys, fx, fy, tx, ty)
                if swap_x:
                    lo, hi = probes.range_bounds(xs, fx, tx, None)
                else:
                    lo, hi = probes.range_bounds(ys, fy, ty, knots)
                frames = []
                for j in range(qi.shape[0]):
                    if swap_x:
                        sel = probes.range_select_cell_x(xs, ys, fx, fy, tx, ty, j, lo, hi, contained)
                    else:
                        sel = probes.range_select_cell(xs, ys, fx, fy, tx, ty, j, lo, hi, contained)
                    if sel.size:
                        frames.append(pd.DataFrame({
                            "query_id": np.full(sel.size, qids[qi[j]], dtype=np.int64),
                            "pid": pids[sel], "x": xs[sel], "y": ys[sel],
                        }))
                return pd.concat(frames) if frames else empty
            if swap_x:
                cnt = probes.range_count_cell_x(xs, ys, fx, fy, tx, ty)
            else:
                cnt = probes.range_count_cell(xs, ys, fx, fy, tx, ty, knots)
            return pd.DataFrame({"query_id": qids[qi], "cnt": cnt})

        gdf, keys = self._probe_groups(routing[0])
        parts = gdf.groupBy(*keys).applyInPandas(probe, schema=schema)
        return parts

    def range_count(self, rects: list[tuple]) -> DataFrame:
        """Q2 range count (src/main.cpp:134-191): (query_id, cnt) with 0 for
        empty queries.

        The reference's fully-contained-cell shortcut (Spline.hpp:67-75)
        is applied at the ROUTING level: a candidate cell whose data bbox
        lies inside the query rectangle contributes its cached count from
        the O(#cells) stats table with no data touched; only boundary
        cells enter the distributed probe.  For broad rectangles this
        removes most of the scan (a whole-domain query probes nothing)."""
        from .operators import probes
        s = self.cell_stats()  # also fills STR MBRs for cells_for_rect
        rects_arr, qids = self._rects_np(rects)
        cells_flat, qidx_flat = self._rect_candidates_flat(rects, rects_arr)
        base, boundary = probes.route_contained(
            rects_arr, cells_flat, qidx_flat,
            s.ids, s.minx, s.miny, s.maxx, s.maxy, s.count)
        parts = self._range_probe(rects, materialize=False, routing=boundary,
                                  rects_np=(rects_arr, qids))
        agg = parts.groupBy("query_id").agg(F.sum("cnt").alias("cnt"))
        qdf = local_frame(self.spark, {"query_id": qids, "base": base},
                          "query_id bigint, base bigint")
        return (
            qdf.join(agg, "query_id", "left")
            .select("query_id",
                    (F.coalesce(F.col("cnt"), F.lit(0)) + F.col("base"))
                    .cast("bigint").alias("cnt"))
        )

    def range_materialize(self, rects: list[tuple]) -> DataFrame:
        """Q1 range materialize (src/main.cpp:101-132): all (query_id, pid,
        x, y) hits; order unspecified (validation sorts, src/main.cpp:200)."""
        return self._range_probe(rects, materialize=True)

    # ------------------------------------------------------- point lookup ---

    def point_lookup(self, pts: list[tuple]) -> DataFrame:
        """Q3 point lookup (src/main.cpp:416-450), canonical fetch-one =
        min(pid) among exact matches; misses -> pid = -1."""
        from .operators import probes
        p = self.partitioner
        if isinstance(p, STRPartitioner):
            self.cell_stats()
        qdf = local_frame(
            self.spark,
            probes.point_routing(pts, [p.cells_for_rect(qx, qy, qx, qy) for (_, qx, qy) in pts]),
            probes.POINT_ROUTING_SCHEMA)
        pts_df = self.assigned_points()
        hit = (
            pts_df.join(F.broadcast(qdf), "cell_id")
            .where((F.col("x") == F.col("qx")) & (F.col("y") == F.col("qy")))
            .groupBy("query_id").agg(F.min("pid").alias("pid"))
        )
        alldf = local_frame(self.spark, {"query_id": [q[0] for q in pts]}, "query_id bigint")
        return alldf.join(hit, "query_id", "left").select(
            "query_id", F.coalesce(F.col("pid"), F.lit(-1)).cast("bigint").alias("pid"))

    # ----------------------------------------------------------- distance ---

    def distance_count(self, circles: list[tuple]) -> DataFrame:
        """Q4 radius query (src/main.cpp:360-414): candidate filter via the
        Matuschek circle bbox (conservative, SURVEY.md §7.3(c)) through the
        same cell pruning, refine = haversine(radians) <= r inclusive
        (include/queries/distance.h:36-45).  Returns (query_id, cnt)."""
        return self._distance_probe(circles, materialize=False)

    def distance_materialize(self, circles: list[tuple]) -> DataFrame:
        """Q4 radius query, materializing form: the reference's live path
        materializes the refined hit vector before counting
        (src/main.cpp:382-397) — this returns those rows as
        (query_id, pid)."""
        return self._distance_probe(circles, materialize=True)

    def _distance_probe(self, circles: list[tuple], materialize: bool) -> DataFrame:
        from .functions import geo
        qids = [c[0] for c in circles]
        latr = np.asarray([(c[1] / 180.0) * math.pi for c in circles])
        lonr = np.asarray([(c[2] / 180.0) * math.pi for c in circles])
        rad = np.asarray([c[3] for c in circles])
        mnla, mxla, mnlo, mxlo = geo.circle_bbox_radians_np(latr, lonr, rad)
        r2d = 180.0 / math.pi
        rects = []
        for i, qid in enumerate(qids):
            fx, tx = _widen(mnla[i] * r2d, mxla[i] * r2d)
            fy, ty = _widen(mnlo[i] * r2d, mxlo[i] * r2d)
            rects.append((qid, fx, fy, tx, ty))
        cellmap = self._cell_query_map(rects)
        qlat = np.asarray([c[1] for c in circles])
        qlon = np.asarray([c[2] for c in circles])
        qrad = rad
        qid_arr = np.asarray(qids, dtype=np.int64)

        schema = ("query_id bigint, pid bigint" if materialize
                  else "query_id bigint, cnt bigint")

        from .operators import probes

        def probe(key, pdf: pd.DataFrame) -> pd.DataFrame:
            cell = int(key[0])
            qidx = cellmap.get(cell)
            if not qidx:
                return pd.DataFrame({
                    "query_id": pd.Series(dtype="int64"),
                    ("pid" if materialize else "cnt"): pd.Series(dtype="int64")})
            xs = pdf["x"].to_numpy()
            ys = pdf["y"].to_numpy()
            qi = np.asarray(qidx, dtype=np.int64)
            if materialize:
                pids = pdf["pid"].to_numpy()
                out_q, out_p = [], []
                for t in qi:
                    hit = pids[probes.distance_mask_cell(xs, ys, qlat[t], qlon[t], qrad[t])]
                    out_q.append(np.full(hit.shape[0], qid_arr[t], dtype=np.int64))
                    out_p.append(hit)
                return pd.DataFrame({"query_id": np.concatenate(out_q),
                                     "pid": np.concatenate(out_p)})
            cnt = np.empty(qi.shape[0], dtype=np.int64)
            for j, t in enumerate(qi):
                cnt[j] = np.count_nonzero(
                    probes.distance_mask_cell(xs, ys, qlat[t], qlon[t], qrad[t]))
            return pd.DataFrame({"query_id": qid_arr[qi], "cnt": cnt})

        gdf, keys = self._probe_groups(cellmap)
        parts = gdf.groupBy(*keys).applyInPandas(probe, schema=schema)
        if materialize:
            return parts
        agg = parts.groupBy("query_id").agg(F.sum("cnt").alias("cnt"))
        qdf = local_frame(self.spark, {"query_id": qids}, "query_id bigint")
        return qdf.join(agg, "query_id", "left").select(
            "query_id", F.coalesce(F.col("cnt"), F.lit(0)).cast("bigint").alias("cnt"))

    # ----------------------------------------------------------- PIP join ---

    def pip(self, polygons: dict[int, tuple[list[float], list[float]]], pairs: bool = False) -> DataFrame:
        """Q5 point-in-polygon join (src/main.cpp:452-505): per-polygon
        contained counts, or the (polygon_id, pid) pairs when ``pairs``.
        Polygons broadcast; candidate cells from each polygon's bbox; refine
        = exact reference ray cast (include/queries/join.h:30-37),
        engine-side kernel (operators/probes.py)."""
        from .operators.probes import ray_cast_inside
        polymap: dict[int, list[int]] = {}
        if isinstance(self.partitioner, STRPartitioner):
            self.cell_stats()
        for gid, (vx, vy) in polygons.items():
            bb = (min(vx), min(vy), max(vx), max(vy))
            for c in self.partitioner.cells_for_rect(*bb):
                polymap.setdefault(int(c), []).append(gid)
        polys = {gid: (np.asarray(vx), np.asarray(vy)) for gid, (vx, vy) in polygons.items()}
        schema = "polygon_id bigint, pid bigint" if pairs else "polygon_id bigint, cnt bigint"

        def probe(key, pdf: pd.DataFrame) -> pd.DataFrame:
            cell = int(key[0])
            gids = polymap.get(cell)
            if not gids:
                if pairs:
                    return pd.DataFrame({"polygon_id": pd.Series(dtype="int64"), "pid": pd.Series(dtype="int64")})
                return pd.DataFrame({"polygon_id": pd.Series(dtype="int64"), "cnt": pd.Series(dtype="int64")})
            px = pdf["x"].to_numpy()
            py = pdf["y"].to_numpy()
            pids = pdf["pid"].to_numpy()
            out_g, out_v = [], []
            from .operators import probes
            for gid in gids:
                vx, vy = polys[gid]
                # filter stage (the reference's LookUp(polygon.box),
                # src/main.cpp:473): bbox mask before the ray-cast refine —
                # points outside the bbox are never inside, so this is
                # result-identical and cuts the N x E work ~10-20x
                cand = np.flatnonzero(probes.pip_candidates(px, py, vx, vy))
                inside = np.zeros(px.shape[0], dtype=bool)
                if cand.size:
                    inside[cand] = ray_cast_inside(px[cand], py[cand], vx, vy)
                if pairs:
                    hit = pids[inside]
                    out_g.extend([gid] * hit.shape[0])
                    out_v.extend(hit.tolist())
                else:
                    out_g.append(gid)
                    out_v.append(int(inside.sum()))
            col = "pid" if pairs else "cnt"
            return pd.DataFrame({"polygon_id": np.asarray(out_g, dtype=np.int64),
                                 col: np.asarray(out_v, dtype=np.int64)})

        gdf, keys = self._probe_groups(polymap)
        parts = gdf.groupBy(*keys).applyInPandas(probe, schema=schema)
        if pairs:
            return parts
        agg = parts.groupBy("polygon_id").agg(F.sum("cnt").alias("cnt"))
        gdf = local_frame(self.spark, {"polygon_id": list(polygons)}, "polygon_id bigint")
        return gdf.join(agg, "polygon_id", "left").select(
            "polygon_id", F.coalesce(F.col("cnt"), F.lit(0)).cast("bigint").alias("cnt"))

    # ---------------------------------------------------------------- kNN ---

    def knn(self, queries: list[tuple]) -> DataFrame:
        """kNN (new surface, SURVEY.md §2.4): squared-Euclidean degree-space
        top-k, ties (d2, x, y, pid).  Driver prunes cells with the stats
        table: take cells ascending by bbox-min-d2 until their counts cover
        k, bound R = max bbox-max-d2 of that prefix, probe all cells with
        min-d2 <= R — exact, and at scale only O(k/cell_size) cells probe.
        Local per-cell top-k inside the probe; global top-k via window."""
        from .operators import probes
        s = self.cell_stats()
        cellmap = probes.knn_candidate_cells(
            s.ids, s.minx, s.miny, s.maxx, s.maxy, s.count, queries)
        qarr = np.asarray([[q[1], q[2], q[3]] for q in queries], dtype=np.float64)
        qid_arr = np.asarray([q[0] for q in queries], dtype=np.int64)

        def probe(key, pdf: pd.DataFrame) -> pd.DataFrame:
            cell = int(key[0])
            qidx = cellmap.get(cell)
            empty = pd.DataFrame({"query_id": pd.Series(dtype="int64"), "pid": pd.Series(dtype="int64"),
                                  "d2": pd.Series(dtype="float64"), "px": pd.Series(dtype="float64"),
                                  "py": pd.Series(dtype="float64")})
            if not qidx:
                return empty
            from .operators import probes
            xs = pdf["x"].to_numpy(); ys = pdf["y"].to_numpy(); pids = pdf["pid"].to_numpy()
            qi = np.asarray(qidx, dtype=np.int64)
            frames = []
            for t in qi:
                sel, d2 = probes.knn_local_topk(xs, ys, pids, qarr[t, 0], qarr[t, 1], qarr[t, 2])
                frames.append(pd.DataFrame({
                    "query_id": np.full(sel.shape[0], qid_arr[t], dtype=np.int64),
                    "pid": pids[sel], "d2": d2[sel], "px": xs[sel], "py": ys[sel]}))
            return pd.concat(frames) if frames else empty

        gdf, keys = self._probe_groups(cellmap)
        parts = gdf.groupBy(*keys).applyInPandas(
            probe, schema="query_id bigint, pid bigint, d2 double, px double, py double")
        # global top-k: per-query merge of the per-cell partial top-ks via
        # one applyInPandas (numpy lexsort over <= #groups x k rows) — a
        # window row_number here would sort the full partial set through one
        # shuffle-sort; the merge is the associative reduce the partials
        # were designed for
        kmap = {int(q[0]): int(q[3]) for q in queries}

        def merge(key, pdf: pd.DataFrame) -> pd.DataFrame:
            qid = int(key[0])
            return probes.knn_merge_topk(pdf, qid, kmap.get(qid, 0))

        return parts.groupBy("query_id").applyInPandas(
            merge, schema="query_id bigint, rnk bigint, pid bigint")

    # ----------------------------------------------------- tile assignment ---

    def tile_assignment(self) -> DataFrame:
        """Raster<->vector tile assignment output: (pid, cell_id) — the
        point->tile mapping the north rule requires as a parity artifact
        (SURVEY.md §2.4)."""
        return self.assigned_points().select("pid", "cell_id")

    def polygon_tiles(self, polygons: dict[int, tuple[list[float], list[float]]]) -> DataFrame:
        """polygon -> candidate tile set (the Q5 filter mapping as data)."""
        if isinstance(self.partitioner, STRPartitioner):
            self.cell_stats()
        from .operators import probes
        cells, gi = probes.flatten_cell_lists(
            [self.partitioner.cells_for_rect(min(vx), min(vy), max(vx), max(vy))
             for (vx, vy) in polygons.values()])
        gids = np.asarray(list(polygons), dtype=np.int64)
        return local_frame(self.spark, {"polygon_id": gids[gi], "cell_id": cells},
                           "polygon_id bigint, cell_id bigint")
