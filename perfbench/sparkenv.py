"""The Spark session every benchmark process uses, and its clean stop."""

from __future__ import annotations

import os
import subprocess


#: Driver (and, in local mode, executor) heap.  50k points need far less.
HEAP = "1g"


def start_spark(work: str):
    """Spark as the benchmark fixes it: local[4], four shuffle partitions.
    All scratch space (Spark's local dirs, every JVM's and Python's
    temporary files) stays inside ``work``; JVM perf-data files are off.
    The driver heap has a fixed size and is touched at JVM start, so the
    timed operations do not fault in fresh heap pages (slow, and at a
    varying rate, on shared virtual machines)."""
    from learnedspatial_spark.session import get_spark
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    spark = get_spark("perfbench", master="local[4]", shuffle_partitions=4, extra_conf={
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "true",  # the REST API the traced run reads
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
