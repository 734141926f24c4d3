#!/usr/bin/env python
"""Package the engine for spark-submit --py-files.

``python tools_make_zip.py [OUT]`` writes ``learnedspatial_spark.zip``
(or OUT).  The archive is a function of the sources alone: entries are
sorted and carry a fixed date and fixed permission bits, so rebuilding
an unchanged tree reproduces the same bytes.
"""

import os
import sys
import zipfile

ROOT = os.path.dirname(os.path.abspath(__file__))
PACKAGES = ("learnedspatial_spark", "oracle")
#: The earliest date a zip entry can hold; file mtimes are not recorded.
DATE_TIME = (1980, 1, 1, 0, 0, 0)
#: Regular file, rw-r--r--.
EXTERNAL_ATTR = 0o100644 << 16


def sources() -> list[str]:
    """The packaged ``.py`` files, as sorted repo-relative paths."""
    out = []
    for pkg in PACKAGES:
        for dirpath, _, files in os.walk(os.path.join(ROOT, pkg)):
            if "__pycache__" in dirpath:
                continue
            out += [os.path.relpath(os.path.join(dirpath, f), ROOT)
                    for f in files if f.endswith(".py")]
    return sorted(out)


def build(out: str) -> None:
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for rel in sources():
            info = zipfile.ZipInfo(rel.replace(os.sep, "/"), DATE_TIME)
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = EXTERNAL_ATTR
            with open(os.path.join(ROOT, rel), "rb") as f:
                z.writestr(info, f.read())


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, "learnedspatial_spark.zip")
    build(out)
    print(out)


if __name__ == "__main__":
    main()
