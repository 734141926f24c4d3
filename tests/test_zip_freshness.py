"""The spark-submit ``--py-files`` artifact must match the working tree.

``learnedspatial_spark.zip`` is what a cluster run actually executes
(run_pipeline.py / README deployment section).  It goes stale silently:
a round-4 review found the shipped zip still carrying pre-fix dedup
code after the source was fixed.  This test makes that drift a loud
failure — rebuild with ``python tools_make_zip.py`` after any engine or
oracle change (same commit).
"""

import os
import zipfile

import tools_make_zip

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ZIP = os.path.join(REPO, "learnedspatial_spark.zip")


def test_py_files_zip_matches_working_tree():
    with zipfile.ZipFile(ZIP) as z:
        in_zip = {n for n in z.namelist() if n.endswith(".py")}
        in_tree = set(tools_make_zip.sources())
        missing = sorted(in_tree - in_zip)
        extra = sorted(in_zip - in_tree)
        assert not missing and not extra, (
            f"zip out of sync (rebuild: python tools_make_zip.py); "
            f"missing={missing} extra={extra}")
        differing = [n for n in sorted(in_tree)
                     if z.read(n) != open(os.path.join(REPO, n), "rb").read()]
        assert not differing, (
            f"zip content stale for {differing} — "
            f"rebuild: python tools_make_zip.py")


def test_zip_build_is_reproducible(tmp_path, monkeypatch):
    """Two builds of the same sources give the same bytes, whatever the
    files' mtimes, so rebuilding the tracked zip on an unchanged tree
    leaves it unchanged."""
    import shutil

    src = tmp_path / "src"
    for pkg in tools_make_zip.PACKAGES:
        shutil.copytree(os.path.join(REPO, pkg), src / pkg,
                        ignore=shutil.ignore_patterns("__pycache__"))
    monkeypatch.setattr(tools_make_zip, "ROOT", str(src))
    a, b = tmp_path / "a.zip", tmp_path / "b.zip"
    tools_make_zip.build(str(a))
    os.utime(src / "learnedspatial_spark" / "__init__.py", (0, 0))
    tools_make_zip.build(str(b))
    assert a.read_bytes() == b.read_bytes()
    with zipfile.ZipFile(a) as z:
        assert z.namelist() == tools_make_zip.sources()
        assert {i.date_time for i in z.infolist()} == {tools_make_zip.DATE_TIME}
