"""Deterministic Common-Crawl-style pages corpus generator (FIXTURES.md §1).

Schema = exactly the BASELINE.json input hint:
``url:string, warc_ts:timestamp, html:binary, text:string, lang:string``.

Everything is a pure function of ``doc_id`` + seed (no wall clock, no
Python ``hash``): the html is a fixed template rendered from the url with
an embedded ``geo:{lat},{lon}`` string, so text extraction is reproducible
byte-for-byte and coordinates parse exactly.  Coordinate distributions mix
uniform + Gaussian clusters (skew) + quantized duplicates (the learned-
index edge case, include/ds/radix_spline/example.cpp:79-121).
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

SEED = 8128
LANGS = ["en", "de", "fr", "es", "pt"]
EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

HTML_TEMPLATE = (
    "<html><head><title>page {doc_id}</title>"
    '<meta name="geo.position" content="{lat};{lon}"/></head>'
    "<body><h1>doc {doc_id}</h1><p>site page {doc_id} geo:{lat},{lon} "
    "lang={lang} body text for url {url}</p></body></html>"
)


MASK64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _mix64(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — deterministic 64-bit mixer."""
    h = h.astype(np.uint64)
    h = (h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9) & MASK64
    h = (h ^ (h >> np.uint64(27))) * np.uint64(0x94D049BB133111EB) & MASK64
    return h ^ (h >> np.uint64(31))


def _hash_unit(ids: np.ndarray, salt: int, seed: int) -> np.ndarray:
    """Counter-based uniform(0,1) per id: splitmix64(id ^ salt ^ seed) —
    a pure function of the id, so distributed generation over any
    partitioning is identical to a single-node run (no RNG stream offsets)."""
    mixer = (salt * 0xD1B54A32D192ED03 + seed) & 0xFFFFFFFFFFFFFFFF
    h = _mix64(ids.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
               ^ np.uint64(mixer))
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def coords_for_ids(doc_ids: np.ndarray, seed: int = SEED) -> tuple[np.ndarray, np.ndarray]:
    """lat/lon per doc_id: thirds uniform / clustered / duplicate-heavy.
    Pure counter-based function of id (see _hash_unit)."""
    ids = np.asarray(doc_ids, dtype=np.int64)
    lat = _hash_unit(ids, 1, seed) * 180.0 - 90.0
    lon = _hash_unit(ids, 2, seed) * 360.0 - 180.0
    mode = ids % 3
    # clustered: 8 blobs; approx-normal offsets via Irwin-Hall (sum of 4)
    blob = (_hash_unit(ids, 3, seed) * 8).astype(np.int64)
    cl_lat = (_hash_unit(np.full_like(ids, 777) + blob, 4, seed) * 120.0 - 60.0)
    cl_lon = (_hash_unit(np.full_like(ids, 888) + blob, 5, seed) * 120.0 - 60.0)
    off_lat = sum(_hash_unit(ids, 10 + j, seed) for j in range(4)) - 2.0  # ~N(0, 1/sqrt3)
    off_lon = sum(_hash_unit(ids, 20 + j, seed) for j in range(4)) - 2.0
    lat = np.where(mode == 1, np.clip(cl_lat + off_lat * 3.0, -90, 90), lat)
    lon = np.where(mode == 1, np.clip(cl_lon + off_lon * 4.0, -180, 180), lon)
    # duplicate-heavy: quantize to 0.25 degrees
    lat = np.where(mode == 2, np.round(lat * 4) / 4, lat)
    lon = np.where(mode == 2, np.round(lon * 4) / 4, lon)
    # round everything so text round-trip (repr) is exact
    return np.round(lat, 6), np.round(lon, 6)


def _render(doc_id: int, lat: float, lon: float) -> tuple[str, bytes, str, str]:
    url = f"https://site{doc_id % 1000}.example/page/{doc_id}"
    lang = LANGS[doc_id % len(LANGS)]
    html = HTML_TEMPLATE.format(doc_id=doc_id, lat=repr(float(lat)), lon=repr(float(lon)),
                                lang=lang, url=url)
    return url, html.encode("utf-8"), lang, url


def pages_pdf(n: int, seed: int = SEED) -> pd.DataFrame:
    ids = np.arange(n, dtype=np.int64)
    lat, lon = coords_for_ids(ids, seed)
    urls, htmls, langs, texts = [], [], [], []
    for i in ids:
        url, html, lang, _ = _render(int(i), lat[i], lon[i])
        urls.append(url)
        htmls.append(html)
        langs.append(lang)
        texts.append(extract_text_bytes(html).decode("utf-8"))
    ts = [EPOCH + dt.timedelta(seconds=int(i)) for i in ids]
    return pd.DataFrame({
        "url": urls, "warc_ts": ts, "html": htmls, "text": texts, "lang": langs,
    })


def pages_df(spark: SparkSession, n: int, seed: int = SEED, partitions: int = 8) -> DataFrame:
    """Distributed generation: ids -> mapInPandas render (scales to any n —
    generation is a pure function of id, no driver materialization)."""
    ids = spark.range(0, n, 1, partitions)

    def gen(it):
        for pdf in it:
            sub = pdf["id"].to_numpy()
            lat, lon = coords_for_ids(sub, seed)
            rows = {"url": [], "warc_ts": [], "html": [], "text": [], "lang": []}
            for j, i in enumerate(sub):
                url, html, lang, _ = _render(int(i), lat[j], lon[j])
                rows["url"].append(url)
                rows["warc_ts"].append(EPOCH + dt.timedelta(seconds=int(i)))
                rows["html"].append(html)
                rows["text"].append(extract_text_bytes(html).decode("utf-8"))
                rows["lang"].append(lang)
            yield pd.DataFrame(rows)

    return ids.mapInPandas(gen, schema="url string, warc_ts timestamp, html binary, text string, lang string")


# ------------------------------------------------------------ extraction ---

def extract_text_bytes(html: bytes) -> bytes:
    """Deterministic html -> text extraction (the 'oracle extractor'): strip
    tags, collapse the body text.  Byte-identical per url is the engine
    invariant (BASELINE.json input_hint); tested row-wise vs the Arrow UDF
    in tests/test_pages.py."""
    s = html.decode("utf-8")
    out = []
    depth = 0
    for ch in s:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth = max(0, depth - 1)
        elif depth == 0:
            out.append(ch)
    return ("".join(out)).strip().encode("utf-8")
