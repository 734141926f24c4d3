"""The local-mode daemon module (``learnedspatial_spark.worker``): the
pyspark internals it patches, that the patches are live in the workers of
a ``get_spark`` session, that a module shipped in mid-session still
imports on the reused workers, and that ``get_spark`` turns the module on
only where the workers can import it."""

import gc
import json
import os
import subprocess
import sys
import textwrap
import zipfile

import pandas as pd
import pyspark.daemon
import pyspark.worker_util

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_pyspark_internals_the_module_patches():
    """The module swaps two module globals; a Spark upgrade that stops
    reading either one must fail here, not silently lose the gain."""
    assert "importlib" in pyspark.worker_util.setup_spark_files.__code__.co_names
    assert "worker_main" in pyspark.daemon.worker.__code__.co_names


def _states(spark, n=4):
    """One row per task: what the task's worker sees of the patches."""
    def state(it):  # nested: shipped by value, not as a test-module import
        import pyspark.worker_util as wu

        for batch in it:
            yield pd.DataFrame({
                "importlib": type(wu.importlib).__name__,
                "reads_global": "importlib" in wu.setup_spark_files.__code__.co_names,
                "frozen": gc.get_freeze_count(),
            }, index=batch.index)

    return spark.range(n, numPartitions=n).mapInPandas(
        state, "importlib string, reads_global boolean, frozen long").collect()


def test_daemon_module_live_in_session_workers(spark):
    assert spark.conf.get("spark.python.daemon.module") == "learnedspatial_spark.worker"
    first, second = _states(spark), _states(spark)
    for r in first + second:
        assert r.importlib == "CachedImportlib" and r.reads_global
    # every worker froze its imported heap after its first task
    assert all(r.frozen > 0 for r in second), second


def _import_probe(name):
    def probe(it):
        import importlib

        for batch in it:
            try:
                value = importlib.import_module(name).VALUE
            except ImportError:
                value = -1
            yield pd.DataFrame({"value": value, "frozen": gc.get_freeze_count()},
                               index=batch.index)
    return probe


def test_add_py_file_mid_session_imports_on_reused_workers(spark, tmp_path):
    """What ``invalidate_caches`` is for: a module shipped after the
    workers started.  The ``.py`` lands in the SparkFiles directory, which
    is already on the workers' ``sys.path`` (their path finder has cached
    its listing from the miss below), so ``sys.path`` does not change and
    the proxy skips the invalidation; the ``.zip`` adds a path entry."""
    py_name, zip_name = "lss_shipped_py_mod", "lss_shipped_zip_mod"
    for name in (py_name, zip_name):  # misses cache the directory listings
        rows = spark.range(4, numPartitions=4).mapInPandas(
            _import_probe(name), "value long, frozen long").collect()
        assert {r.value for r in rows} == {-1}

    py_path = tmp_path / f"{py_name}.py"
    py_path.write_text("VALUE = 7\n")
    spark.sparkContext.addPyFile(str(py_path))
    zip_path = tmp_path / "shipped.zip"
    with zipfile.ZipFile(zip_path, "w") as z:
        z.writestr(f"{zip_name}.py", "VALUE = 11\n")
    spark.sparkContext.addPyFile(str(zip_path))

    for name, want in ((py_name, 7), (zip_name, 11)):
        rows = spark.range(4, numPartitions=4).mapInPandas(
            _import_probe(name), "value long, frozen long").collect()
        assert {r.value for r in rows} == {want}, name
        assert all(r.frozen > 0 for r in rows)  # reused workers, not fresh ones


_DRIVER = textwrap.dedent("""
    import json, sys
    sys.path.insert(0, sys.argv[1])
    import learnedspatial_spark.session as session
    spark = session.get_spark("cwd-guard", master="local[2]")

    def kinds(it):
        import pandas as pd
        import pyspark.worker_util as wu
        for batch in it:
            yield pd.DataFrame({"k": type(wu.importlib).__name__}, index=batch.index)

    rows = spark.range(4, numPartitions=2).mapInPandas(kinds, "k string").collect()
    conf = spark.sparkContext.getConf()
    print(json.dumps({
        "session": session.__file__,
        "daemon": conf.get("spark.python.daemon.module", None),
        "pythonpath": conf.get("spark.executorEnv.PYTHONPATH", None),
        "kinds": sorted({r.k for r in rows}),
    }))
    spark.stop()
""")


def _run_driver(tmp_path, package_root):
    script = tmp_path / "driver.py"
    script.write_text(_DRIVER)
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run([sys.executable, str(script), package_root], cwd=str(tmp_path),
                          env=env, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads([ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1])


def test_cwd_guard_package_from_directory(tmp_path):
    """A driver whose cwd does not hold the package (it reaches the driver
    only through ``sys.path``, as in ``__spark_entry__.py``): the workers
    still resolve the daemon module through ``spark.executorEnv.PYTHONPATH``."""
    out = _run_driver(tmp_path, REPO)
    assert out["session"].startswith(os.path.join(REPO, "learnedspatial_spark"))
    assert out["daemon"] == "learnedspatial_spark.worker"
    assert out["pythonpath"] == REPO
    assert out["kinds"] == ["CachedImportlib"]


def test_cwd_guard_package_from_zip(tmp_path):
    """Imported from a zip, the package's directory cannot serve the
    daemon module: the stock daemon runs and the workers' path is left
    alone."""
    pkg_zip = tmp_path / "pkg.zip"
    with zipfile.ZipFile(pkg_zip, "w") as z:
        for dirpath, _, files in os.walk(os.path.join(REPO, "learnedspatial_spark")):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, REPO))
    out = _run_driver(tmp_path, str(pkg_zip))
    assert out["session"].startswith(str(pkg_zip))
    assert out["daemon"] is None and out["pythonpath"] is None
    assert out["kinds"] == ["module"]
