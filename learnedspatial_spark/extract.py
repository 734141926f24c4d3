"""Arrow-batched extraction UDFs: html -> text, text -> (x, y).

The engine's production input is the pages table (url, warc_ts, html,
text, lang); points derive from it (BASELINE.json north_star).  Extraction
is an Arrow-batched pandas UDF (mapInPandas) — batches cross the JVM/Python
boundary once per ~64k rows, the per-row work is pure-Python string
stripping (no vectorizable form exists for tag stripping; the batch shape
keeps overhead amortized).  The invariant: output text is byte-identical
to the oracle extractor ``datagen.extract_text_bytes`` per url (tier-4
test, SURVEY.md §5).

The coordinate parse ``points_from_pages`` is Column-only (regexp_extract
+ cast); the streaming path (streaming/ingest.py) calls it too, so batch
and stream agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .datagen import extract_text_bytes

# geo:{lat},{lon} extraction — the pattern datagen.HTML_TEMPLATE embeds.
# Coordinates are Python float reprs, so the exponent may follow the
# integer part directly (``9e-06``), not only a fraction.
_NUM_RE = r"-?[0-9]+(?:\.[0-9]*)?(?:[eE][+-]?[0-9]+)?"
GEO_RE = rf"geo:({_NUM_RE}),({_NUM_RE})"


def with_extracted_text(pages: DataFrame) -> DataFrame:
    """Recompute ``text`` from ``html`` (replaces the stored column; the
    two agree byte-for-byte per url —
    tests/test_pages.py::test_arrow_extraction_udf_byte_identical_per_url)."""
    cols = pages.columns

    def fn(it):
        for pdf in it:
            pdf = pdf.copy()
            pdf["text"] = [extract_text_bytes(bytes(h)).decode("utf-8") for h in pdf["html"]]
            yield pdf

    schema = pages.schema
    return pages.mapInPandas(fn, schema=schema)[cols]


def points_from_pages(pages: DataFrame, *carry: str) -> DataFrame:
    """pages (batch or stream) -> (url, *carry, x, y): coordinate parse
    from extracted text.  Rows without a geo tag drop out (a 100 TB crawl
    is mostly untagged — the filter prunes early, before any shuffle)."""
    return (
        pages.select(
            "url", *carry,
            F.regexp_extract("text", GEO_RE, 1).alias("lat_s"),
            F.regexp_extract("text", GEO_RE, 2).alias("lon_s"),
        )
        .where((F.col("lat_s") != "") & (F.col("lon_s") != ""))
        .select("url", *carry,
                F.col("lat_s").cast("double").alias("x"),
                F.col("lon_s").cast("double").alias("y"))
    )
