"""End-to-end production pipeline: pages -> points -> tiled index tables.

The north-star flow (BASELINE.json) as checkpointable phases, each a
DataFrame job whose output is a materialized table (the resume unit):

  1. extract   pages parquet/Iceberg -> points(url, x, y)     [no shuffle]
  2. key       + cell_id                                      [1 shuffle]
               materialized partitioned by cell_id
  3. stats     per-cell MBR/count table, collected once: the
               fit's cell list and STR's routing MBRs
  4. fit       model table (cell_id, knots...)                [cell-granular,
               checkpoint manifest skips completed cells on restart]
               + lineage record

Run via ``spark-submit --py-files learnedspatial_spark.zip run_pipeline.py``
(see repo-root run_pipeline.py; ``python tools_make_zip.py`` builds the zip).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import extract
from .core import id_field
from .operators import spline as spl
from .operators.partitioning import assign_cells, build_partitioner
from .ops import storage
from .ops.checkpoint import CheckpointManifest, run_resumable_cells
from .ops.lineage import RunLog, cell_metrics
from .session import local_frame

#: Cells per model-fit job, the resume unit of phase 4.
FIT_BATCH_CELLS = 256


def build_tiled_index(
    spark: SparkSession,
    pages_path: str | None,
    out_root: str,
    scheme: str = "fixed_grid",
    partition_size: int = 1000,
    points_df: DataFrame | None = None,
) -> dict:
    """Materialize the tiled point table + model table from a pages table
    (or any pre-derived point DataFrame with x/y + an id column via
    ``points_df``), resumable at cell granularity.  Returns a summary."""
    log = RunLog(os.path.join(out_root, "_lineage"))
    if points_df is not None:
        points = points_df
    else:
        pages = spark.read.parquet(pages_path)
        points = extract.points_from_pages(pages)
    # a stable id column for deterministic tie-breaks (url for pages, pid
    # for derived point tables), the same rule the tiled engine reads
    id_col = id_field(points.schema).name

    part, n, partition_size = build_partitioner(points, id_col, scheme, partition_size)
    assigned = assign_cells(points, part, id_col)

    # phase 2: tiled table, partitioned by cell_id (idempotent overwrite).
    # Its own spec-keyed manifest makes the WRITE a resume unit too: a
    # build that crashed during phase-3 model fitting must not re-shuffle
    # and re-write the whole corpus (the single most expensive job here)
    # before the fit manifest can skip completed cells.  A changed
    # partitioner spec resets BOTH manifests (reset_on_mismatch) and
    # rebuilds from scratch — safe because the first tile write is a
    # static partitioned overwrite (truncates the table dir) and the model
    # table writes mode=overwrite whenever done_cells is empty.
    tiled_path = os.path.join(out_root, "points_tiled")
    tile_manifest = CheckpointManifest.load_or_create(
        os.path.join(out_root, "_ckpt"), "tile_write", part.to_spec(),
        reset_on_mismatch=True)
    if not tile_manifest.meta.get("complete"):
        storage.write_partitioned(
            assigned.repartition("cell_id")
            .sortWithinPartitions("y", "x"),  # the reference's per-cell (y,x) sort
            tiled_path, "cell_id")
        tile_manifest.meta["complete"] = True
        tile_manifest.flush()

    tiled = storage.read_table(spark, tiled_path)

    # phase 3: per-cell stats, one aggregation over the tiled table.  Its
    # O(#cells) rows are written as the stats table (one file) and give
    # both the fit's cell list and, for STR, the per-cell MBRs that route
    # queries (rank-based assignment has no closed form); the fit
    # manifest stores the filled spec, which TiledSpatialEngine reads.
    stats = cell_metrics(tiled)
    srows = stats.collect()
    storage.write_table(
        local_frame(spark, {f.name: [r[f.name] for r in srows] for f in stats.schema.fields},
                    stats.schema.toDDL()).coalesce(1),
        os.path.join(out_root, "cell_stats"))
    srows.sort(key=lambda r: r["cell_id"])
    cells = [r["cell_id"] for r in srows]
    if scheme == "str":
        part.mbrs = [[int(r["cell_id"]), float(r["minx"]), float(r["miny"]),
                      float(r["maxx"]), float(r["maxy"])] for r in srows]

    # phase 4: model fit, cell-granular resume
    manifest = CheckpointManifest.load_or_create(
        os.path.join(out_root, "_ckpt"), "fit_models", part.to_spec(),
        reset_on_mismatch=True)
    model_path = os.path.join(out_root, "models")

    def fit_batch(batch_cells: list[int]) -> None:
        sub = tiled.where(F.col("cell_id").isin([int(c) for c in batch_cells]))
        batch_df = sub.groupBy("cell_id").applyInPandas(
            spl.fit_model_frame, schema=spl.MODEL_SCHEMA)
        storage.write_table(batch_df, model_path,
                            mode="overwrite" if not manifest.done_cells else "append")

    fitted = run_resumable_cells(manifest, cells, fit_batch, batch_size=FIT_BATCH_CELLS)

    run_id = log.record_run(
        "build_tiled_index", part.to_spec(),
        inputs={"pages": pages_path or "<points_df>", "rows": n},
        extra={"cells": len(cells), "fitted_this_run": fitted, "scheme": scheme,
               "partition_size_effective": partition_size})
    return {"run_id": run_id, "rows": n, "cells": len(cells), "fitted": fitted,
            "tiled_path": tiled_path, "model_path": model_path}
