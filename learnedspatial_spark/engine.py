"""SpatialEngine — the in-session cell source of the query core.

It builds one partitioning scheme over the derived point table and
answers the query surface of ``core.SpatialQueryCore`` from it
(SURVEY.md §3 "Spark lifecycle"):

1. derive points (pure Column arithmetic, parquet scan prunes columns);
2. build the splitter and attach ``cell_id`` (``build_partitioner`` /
   ``assign_cells`` in operators/partitioning.py) and hash-partition the
   relation by cell once;
3. a query's routed cells are read from that relation behind an InSet /
   broadcast semi-join gate (``_cell_rows``), and the core's one
   ``mapInPandas`` probe runs each per-cell kernel over them without a
   further exchange or sort.

At 100 TB the same plan holds: step 2 is the only full-data shuffle and is
also the natural Iceberg/parquet partition key for materialization; probes
touch only pruned cells (partition pruning); the model/stats tables are
O(#cells) and broadcastable.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .core import CellStats, SpatialQueryCore, knots_by_cell
from .operators import spline as spl
from .operators.partitioning import assign_cells, build_partitioner
from .ops.lineage import cell_metrics
from .session import local_frame
from .sources import points as points_src

DEFAULT_PARTITION_SIZE = 1000  # src/main.cpp:60-65
#: ``_cell_rows`` prunes the cached relation to the routed cells with
#: InSet literals up to this count and with a broadcast left-semi join
#: above it (plan size stays bounded however many cells a production
#: batch routes to).
ISIN_MAX_CELLS = 10_000


class SpatialEngine(SpatialQueryCore):
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
    ):
        self.spark = spark
        self.sf_dir = sf_dir
        self.scheme = scheme
        self.refine = refine
        # skew handling (north rule): the one cell-keyed repartition also
        # hashes a deterministic salt for cells with > salt_rows points, so
        # one skewed cell spreads over ceil(count / salt_rows) tasks; the
        # kernels are exact on any subset of a cell (core docstring)
        self.salt_rows = salt_rows
        # source: "lineitem" = harness derivation from sf_dir tables;
        #         "pages"   = sf_dir is a pages parquet path (url->pid hash)
        self.source = source
        # partition_size is the effective (auto-coarsened) budget
        self.partitioner, self._n, self.partition_size = build_partitioner(
            self.points(), "pid", scheme, partition_size)
        self._assigned: DataFrame | None = None
        self._stats: CellStats | None = None
        self._models: dict[int, tuple[np.ndarray, np.ndarray]] | None = None

    # ------------------------------------------------------------ build ---

    def points(self) -> DataFrame:
        if self.source == "pages":
            from . import extract
            pages = self.spark.read.parquet(self.sf_dir)
            pts = extract.points_from_pages(pages)
            return pts.select(F.xxhash64("url").alias("pid"), "x", "y")
        return points_src.points_df(self.spark, self.sf_dir)

    def assigned_points(self) -> DataFrame:
        """points + cell_id (``partitioning.assign_cells``)."""
        if self._assigned is not None:
            return self._assigned
        out = assign_cells(self.points(), self.partitioner, "pid")
        # hash-partition by cell_id once: every probe job (the core's
        # mapInPandas) reads this partitioning in place — no per-query
        # re-shuffle or sort (tools_plan_audit.py); this is also the
        # Iceberg/parquet partition key at materialization time
        n_shuffle = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
        keys = [F.col("cell_id")]
        if self.salt_rows:
            # FixedGrid/Quadtree cells are count-skewed by construction
            # (SURVEY.md §2.3 skew note): a skewed cell hashes with
            # pmod(hash(pid), k) — an expression, so the schema is unchanged
            big = {int(r["cell_id"]): int(math.ceil(r["count"] / self.salt_rows))
                   for r in out.groupBy("cell_id").count().collect()
                   if r["count"] > self.salt_rows}
            if big:
                mapping = F.create_map(*[F.lit(v) for kv in big.items() for v in kv])
                keys.append(F.pmod(F.hash("pid"), F.coalesce(mapping[F.col("cell_id")], F.lit(1))))
        out = out.repartition(n_shuffle, *keys)
        self._assigned = out
        return out

    def cell_stats(self) -> CellStats:
        """Per-cell MBR + count (one aggregation job, the same
        ``cell_metrics`` the tiled build writes; the model/stats table of
        SURVEY.md §2.5 — O(#cells), broadcastable)."""
        if self._stats is None:
            self._stats = CellStats.from_rows(cell_metrics(self.assigned_points()).collect())
        return self._stats

    def model_table(self) -> DataFrame:
        """Fit the per-cell learned models ONCE as a DataFrame job (the
        SplineCell::Build analog, Spline.hpp:18-53): one applyInPandas pass
        emits (cell_id, n, linear_scan, knot_keys, knot_pos, avg_err,
        max_err) — the error columns are the reference's per-spline model
        quality metrics (SplineUtil.h:25-52).  O(#cells x #knots) — small,
        broadcastable, and the natural checkpoint/lineage artifact
        (SURVEY.md §3 step 4)."""
        return self.assigned_points().groupBy("cell_id").applyInPandas(
            spl.fit_model_frame, schema=spl.MODEL_SCHEMA)

    def fit_models(self) -> dict[int, tuple[np.ndarray, np.ndarray]]:
        """Collect the model table into a broadcastable dict so learned
        probes reuse knots instead of refitting per query batch.  The
        first learned query calls it when no caller has."""
        if self._models is None:
            self._models = knots_by_cell(self.model_table().collect())
        return self._models

    # ------------------------------------------------------- cell source ---

    _model_dict = fit_models

    def _id_column(self) -> tuple[str, str]:
        return ("pid", "bigint")

    def _cell_rows(self, cells) -> DataFrame:
        """The cached rows of ``cells``, pruned JVM-side BEFORE any Python
        worker sees a row — the in-session analog of the tiled engine's
        partition pruning (the reference's LookUp routing): a one-rect
        query feeds only its few candidate cells through Arrow, not the
        whole corpus.  The filter keeps the cached partitioning, so the
        probe still runs without a fresh exchange."""
        df = self.assigned_points()
        # selectivity gate: a broad batch workload that routes to most
        # cells gains nothing from the filter but still pays a full
        # InSet scan of the corpus — only prune when the candidate set
        # is actually selective
        total = max(1, self.partitioner.num_cells())
        cells = [int(c) for c in cells]
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
                # side's cached partitioning, so the downstream
                # mapInPandas still runs exchange-free.
                cdf = local_frame(self.spark, {"cell_id": cells}, "cell_id bigint")
                df = df.join(F.broadcast(cdf), "cell_id", "left_semi")
        return df

    # ----------------------------------------------------- tile assignment ---

    def tile_assignment(self) -> DataFrame:
        """Raster<->vector tile assignment output: (pid, cell_id) — the
        point->tile mapping the north rule requires as a parity artifact
        (SURVEY.md §2.4)."""
        return self.assigned_points().select("pid", "cell_id")

