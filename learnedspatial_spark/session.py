"""SparkSession factory with engine defaults.

Defaults chosen for scale-out behavior (AQE on with skew-join splitting,
Arrow enabled for pandas UDF exchange) while remaining correct on
``local[N]``.
"""

from __future__ import annotations

import os
from typing import Mapping

import numpy as np
from pyspark.sql import DataFrame, SparkSession

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))


def get_spark(
    app_name: str = "learnedspatial_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    AQE is left on: it coalesces small shuffle partitions after the
    cell-granular shuffles and splits skewed cells in the PIP candidate
    join (the reference's equi-width grids are count-skewed by
    construction, cf. include/partitioning_techniques/FixedGrid.hpp:11-29).
    Master and shuffle partitions default to the host's CPU count;
    ``SPARK_GRAFT_MASTER`` / ``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_SHUFFLE``
    override them for a deployment.

    For a ``local`` master whose package was imported from a directory
    (not from a ``--py-files`` zip), Python workers start through
    ``learnedspatial_spark.worker``, which pays the worker's import-cache
    invalidation and its heap walk once per worker instead of once per
    task.  The package's parent directory joins the workers'
    ``PYTHONPATH`` (after any the caller passes), so the daemon module
    resolves from any cwd.  Elsewhere the module is not importable before
    the first task's files arrive, and stock ``pyspark.daemon`` runs.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", os.cpu_count()))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    conf = dict(extra_conf or {})
    if (master.partition("[")[0] == "local"
            and os.path.isfile(os.path.join(_PKG_DIR, "worker.py"))):
        key = "spark.executorEnv.PYTHONPATH"
        conf[key] = os.pathsep.join(p for p in (conf.get(key), os.path.dirname(_PKG_DIR)) if p)
        conf.setdefault("spark.python.daemon.module", "learnedspatial_spark.worker")
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()


def local_frame(spark: SparkSession, columns: Mapping[str, object], schema: str) -> DataFrame:
    """A driver-built table (a query batch, its routing rows) as a JVM
    ``LocalTableScan``: the columns travel to the JVM once as an Arrow
    stream and no Python worker ever evaluates the table.

    ``columns`` maps names to array-likes of equal length (NumPy arrays,
    lists); ``schema`` is a DDL string naming the same columns in order.
    The Arrow-table form of ``createDataFrame`` neither consults
    ``spark.sql.execution.arrow.pyspark.enabled`` nor has a silent
    fallback, and it stays a ``LocalTableScan`` at zero rows.  The other
    forms do not: a Python row list, and an EMPTY pandas frame even with
    a schema, plan as ``Scan ExistingRDD`` over a ``PythonRDD``, which
    starts ``defaultParallelism`` Python tasks per job that reads it.
    Values must convert to the schema's types without loss (pyarrow
    raises otherwise)."""
    import pyarrow as pa

    table = pa.table({name: np.asarray(col) for name, col in columns.items()})
    return spark.createDataFrame(table, schema)
