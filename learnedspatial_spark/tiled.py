"""TiledSpatialEngine — the materialized-index cell source of the query
core (build once, query many: the production path at 100 TB).

``pipeline.build_tiled_index`` writes the point table partitioned by
``cell_id`` (hive-style directories; Iceberg partition keys at production)
with per-cell (y, x) sort, plus the model table, the cell stats table and
the partitioner-spec lineage.  ``core.SpatialQueryCore`` routes each query
and merges its partials; this source answers what storage has to:

* the rows of a set of cells: ``where(cell_id isin ...)`` becomes a
  parquet PartitionFilter — Spark never opens non-candidate directories
  (the Iceberg/Hive partition-pruning analog of the reference's
  contiguous cell-range probe; asserted in tools_plan_audit.py);
* those rows as read from storage: the core's ``mapInPandas`` probe
  runs each per-cell kernel over the pruned scan in place, so probes
  run WITHOUT ANY shuffle of point data (the in-session engine pays one
  cell-keyed shuffle when it caches its relation; here the layout
  already is the grouping).  A single query's probe coalesces the
  pruned splits into one task that also merges: one job, no exchange;
  a large batch probes in parallel and exchanges only its partials;
* the cell stats, the learned model table (loaded once, shipped as a
  broadcast: O(#cells x #knots), SURVEY.md §2.5) and the id column.

An engine opens each index table once and keeps it: the file listing,
like the stats and the model broadcast, is the index as it was when the
engine first read it, so a query lists no files.  After
``build_tiled_index`` rewrites the root, open a new engine to see the
new rows.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .core import CellStats, SpatialQueryCore, id_field, knots_by_cell
from .operators.partitioning import Partitioner
from .ops import storage


class TiledSpatialEngine(SpatialQueryCore):
    def __init__(self, spark: SparkSession, index_root: str, refine: str = "learned"):
        self.spark = spark
        self.root = index_root
        self.refine = refine
        with open(os.path.join(index_root, "_ckpt", "fit_models.manifest.json")) as f:
            # an STR spec from before the build filled its MBRs gets them
            # from the cell_stats table on first routing (core._router)
            self.partitioner = Partitioner.from_spec(json.load(f)["partitioner_spec"])
        self._stats: CellStats | None = None
        self._id_col: tuple[str, str] | None = None
        self._tables: dict[str, DataFrame] = {}

    def _table(self, name: str) -> DataFrame:
        """The index table ``name``, opened (and its files listed) once
        per engine."""
        if name not in self._tables:
            self._tables[name] = storage.read_table(self.spark, os.path.join(self.root, name))
        return self._tables[name]

    def cell_stats(self) -> CellStats:
        """Memoized O(#cells) stats from the persisted stats table."""
        if self._stats is None:
            self._stats = CellStats.from_rows(self._table("cell_stats").collect())
        return self._stats

    def _model_dict(self):
        return knots_by_cell(self._table("models").collect())

    def _id_column(self) -> tuple[str, str]:
        """The tiled table's row id, resolved once from its schema (pid for
        derived-point indexes, url for page-built ones)."""
        if self._id_col is None:
            f = id_field(self._table("points_tiled").schema)
            self._id_col = (f.name, f.dataType.simpleString())
        return self._id_col

    def _cell_rows(self, cells) -> DataFrame:
        # isin on the partition column -> PartitionFilters in the scan node:
        # non-candidate cell directories are never listed or opened
        return self._table("points_tiled").where(F.col("cell_id").isin([int(c) for c in cells]))
