"""Seeded benchmark input, cached per (seed, pages) under ``perfbench/.cache``.

One seed fixes everything a run reads: the Common-Crawl-style pages table
(the rows of ``datagen.pages_df``), the point ids Spark derives from it,
and the query lists (``sources/workloads`` generators).  The engine under
test receives only the pages path and the query lists; the exact
coordinates of every generated page (``datagen.coords_for_ids``) stay on
the benchmark side for the oracle checks.
"""

from __future__ import annotations

import json
import os
import pickle
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from learnedspatial_spark import datagen
from learnedspatial_spark.sources import workloads as wl

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")

#: Pages generated per seed.  Both workloads index the same pages.
PAGES = 50_000

def url_for(doc_id: int) -> str:
    """The url ``datagen`` renders for a page (its id column in the tiled
    index)."""
    return f"https://site{doc_id % 1000}.example/page/{doc_id}"


@dataclass
class Corpus:
    """The generated pages and the exact point each one yields."""

    seed: int
    pages: int
    path: str      # pages parquet directory (the engine's input)
    x: np.ndarray  # latitude per doc_id
    y: np.ndarray  # longitude per doc_id
    pid: np.ndarray  # xxhash64(url) per doc_id: the in-session engine's id

    @property
    def points(self) -> int:
        return int(self.x.shape[0])


def _seed_for(seed: int, stream: int) -> int:
    """Independent generator seed per query stream of one benchmark seed."""
    return (seed * 1_000_003 + stream * 7919) % (2**31)


def _root(seed: int) -> str:
    return os.path.join(CACHE, f"s{seed}-n{PAGES}")


def corpus(seed: int) -> Corpus:
    """Load the corpus for ``seed``, generating it on a cache miss."""
    root = _root(seed)
    if not os.path.exists(os.path.join(root, "meta.json")):
        generate(seed)
    x, y = datagen.coords_for_ids(np.arange(PAGES, dtype=np.int64), seed)
    return Corpus(seed, PAGES, os.path.join(root, "pages"), x, y,
                  np.load(os.path.join(root, "pid.npy")))


def expected(seed: int, name: str, compute):
    """Oracle answers ``name`` for the corpus of ``seed``, computed once and
    cached beside it (they are part of the seeded input).  The cache holds
    only files this module wrote."""
    path = os.path.join(_root(seed), f"expected-{name}.pickle")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    value = compute()
    with open(path + ".tmp", "wb") as f:
        pickle.dump(value, f)
    os.replace(path + ".tmp", path)
    return value


#: The pages table as ``datagen.pages_df`` declares it.
PAGES_SCHEMA = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
                          ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())])
PAGES_FILES = 4


def generate(seed: int) -> None:
    """Write the pages table and the Spark-side point id of every page.

    The rows are ``datagen.pages_pdf(PAGES, seed)``, the same rows
    ``datagen.pages_df`` renders, written without Spark as four parquet
    files in doc-id order (as ``pages_df`` with four partitions writes
    them), so no JVM runs before the measured one.  Generation writes to a
    temporary directory renamed into place, so an interrupted run never
    leaves a half-written cache entry."""
    root = _root(seed)
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "pages"))
    pdf = datagen.pages_pdf(PAGES, seed)
    table = pa.Table.from_pandas(pdf, schema=PAGES_SCHEMA, preserve_index=False, safe=True)
    bounds = np.linspace(0, PAGES, PAGES_FILES + 1).astype(int)
    for k in range(PAGES_FILES):
        pq.write_table(table.slice(bounds[k], bounds[k + 1] - bounds[k]),
                       os.path.join(tmp, "pages", f"part-{k:05d}.snappy.parquet"),
                       compression="snappy")
    pid = np.array([xxhash64(url.encode("utf-8")) for url in pdf["url"]], dtype=np.int64)
    np.save(os.path.join(tmp, "pid.npy"), pid)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump({"seed": seed, "pages": PAGES}, f)
    shutil.rmtree(root, ignore_errors=True)
    os.rename(tmp, root)


_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
                           0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5)


def _rotl(v: int, r: int) -> int:
    return ((v << r) | (v >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as a signed 64-bit integer: the value of Spark's
    ``xxhash64`` (default seed 42) on a string column."""
    n, i = len(data), 0
    word = lambda at, size: int.from_bytes(data[at:at + size], "little")  # noqa: E731
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i + 32 <= n:
            v = [_round(v[j], word(i + 8 * j, 8)) for j in range(4)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for lane in v:
            h = ((h ^ _round(0, lane)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h = (_rotl(h ^ _round(0, word(i, 8)), 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ (word(i, 4) * _P1 & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h = _rotl(h ^ (data[i] * _P5 & _M64), 11) * _P1 & _M64
        i += 1
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


# --------------------------------------------------------------- queries ---

def batch_queries(seed: int, variant: int) -> dict:
    """One round of session-batch queries: a large batch per family.  The
    distance and polygon batches feed the traced run's kernel replay."""
    s = lambda k: _seed_for(seed, 10 * variant + k)  # noqa: E731
    return {
        "range": wl.rectangles(n_per_tier=60, seed=s(1)),
        "distance": wl.distance_queries(n=60, seed=s(2)),
        "pip": wl.polygons(n=16, seed=s(3)),
        "knn": wl.knn_queries(n=30, seed=s(4)),
    }


def single_queries(c: Corpus, count: int) -> dict:
    """Single-query pools for tiled-interactive: ``count`` queries per
    family, each sent as its own job.  Ranges cycle through the three
    selectivity tiers; point lookups alternate hits and misses."""
    seed = c.seed
    rects = wl.rectangles(n_per_tier=count, seed=_seed_for(seed, 101))
    tiers = [rects[t * count:(t + 1) * count] for t in range(3)]
    ranges = [tiers[i % 3][i // 3] for i in range(count)]
    hits = wl.point_queries(c.x, c.y, n_hits=count, n_misses=count,
                            seed=_seed_for(seed, 102))
    points = [hits[i // 2] if i % 2 == 0 else hits[count + i // 2] for i in range(count)]
    return {
        "range": [[r] for r in ranges],
        "point": [[p] for p in points],
        "knn": [[q] for q in wl.knn_queries(n=count, seed=_seed_for(seed, 104))],
    }


#: join parameters: the distance self-join radius, and the kNN join's
#: k and radius over a 1/8 sample of the points (left) against all (right).
PAIRS_RADIUS_M = 2_000.0
KNN_K = 10
KNN_RADIUS_M = 20_000.0
KNN_LEFT_MOD = 8
