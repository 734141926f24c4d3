"""Table-vs-table within-radius distance JOIN (band-co-located, exact refine).

The reference answers distance queries from a driver-side query LIST
(include/queries/distance.h:25-45 haversine; src/main.cpp distance
workload).  These operators are the table x table generalizations a
production pipeline needs: every unordered pair within ``radius_m``
great-circle meters (:func:`distance_join_pairs`), and the k nearest
right-table points within the radius per left-table point
(:func:`knn_join`) — both without an all-pairs join.

Plan (one per join): the JVM computes only a latitude band per row,
``band = floor((lat + 90) / band_deg(r))``; one ``repartition`` on the
band co-locates every band with its neighbours' copies, a
``sortWithinPartitions`` on it makes each band one contiguous run, and
one ``mapInPandas`` kernel finds, refines and (for kNN) ranks the pairs.
No join, no broadcast and no window runs.

- **Adjacent bands, from the latitude bound.**  Band height is the exact
  latitude bound (haversine(a, b) >= R * |delta lat|, with equality at
  delta lon = 0), inflated by ``SAFETY``, so a pair within the radius
  sits in the same band or in two adjacent ones.  The self-join sends
  each point to its band and, as a copy, to band + 1; the kNN join sends
  left points to their band and right points to bands b - 1, b and
  b + 1.
- **The per-band longitude window.**  Inside band b's group every pair's
  latitudes lie in ``[lo(b - 1), hi(b)]`` (self-join) or
  ``[lo(b - 1), hi(b + 1)]`` (kNN), so their WRAPPED longitude
  difference is at most the exact bound at that interval's most poleward
  latitude, ``2 * asin(sin(r / 2R) / cos(phi_max))``, SAFETY-inflated
  (:func:`_window_deg`, the NumPy form of :func:`_w_expr`).  Where that
  bound reaches 180 degrees the window is the whole band.  The kernel
  searches the window vectorised across every band of a chunk: one
  sorted composite key ``band * KEY_STRIDE + canonical lon``, with the
  targets near the 0/360 seam copied one turn around where the window is
  narrower than the band, and an absolute margin of a few ulps of the
  key, so rounding can only ADD candidates, never drop a true pair.
- **Exactly once.**  The self-join's band-b group holds its own points
  and the copies of band b - 1.  Own x own pairs are met from both ends
  and keep ``l_pid < r_pid``; own x copy pairs are met once, in the
  higher band's group, and are emitted as ``(least, greatest)``; copy x
  copy pairs belong to band b - 1's own group and are never emitted.
  The kNN join meets each (left point, right point) pair once, in the
  left point's band, and keeps the top k per left point by
  ``(dist_m, r_pid)``.
- **Exact refine** uses :func:`operators.probes.haversine_m` — the same
  kernel the graded distance queries use, so the DuckDB oracle parity
  rests on the same measured NumPy==DuckDB trig identity.  Spark's JVM
  trig carries no such guarantee, which is why the refine is not a
  Column expression.  The window is NumPy too, so no trig tree enters a
  Catalyst plan (the former stencil put one into ~10 analysed trees).
- **Unit of work: one latitude band** (before: one (band, longitude
  cell) block).  A task holds at most one band plus one Arrow batch: the
  kernel carries each batch's last, possibly open band into the next
  batch (:func:`_whole_bands`).  A band that is hot for its radius is
  one task's work; the join-size pre-flight of ROADMAP item 5 (open) is
  the planned guard.

Correctness is property-tested against an O(n^2) NumPy oracle in
tests/test_distjoin.py (seam, poles, bands split across Arrow batches,
distance ties).

Input domain: latitudes must be geographic ([-90, 90] degrees);
longitudes of ANY convention (0..360, unwrapped) are canonicalized into
[0, 360) for the window only, while the exact refine always evaluates
the RAW coordinates (haversine is exactly periodic in longitude), so the
wrap can never change a result — only route it.  Rows with a null or NaN
coordinate are within no radius of anything; they are dropped before
the exchange.

:func:`block_key_cols` and :func:`stencil_keys` are the former 3 x 3
(band, cell) blocking, kept as public helpers: perfbench counts its
candidates in a traced run.
"""

from __future__ import annotations

import math
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from ..functions.geo import EARTH_RADIUS_M
from . import probes

#: Multiplicative inflation applied to every blocking threshold.  The
#: closed-form bounds are exact in real arithmetic; one ulp of rounding
#: in the double evaluation could otherwise drop a pair sitting exactly
#: on the radius.  2^-10 is ~10^9 ulps of margin at these magnitudes and
#: costs <0.1% extra candidates.
SAFETY = 1.0 + 2.0**-10

#: Composite-key distance between adjacent bands.  A band's keys,
#: seam copies included, span (-180, 540) past its base, so a stride of
#: 2000 keeps every window (at most WHOLE_BAND wide on either side) inside
#: its own band.
KEY_STRIDE = 2000.0
#: Half-window that covers a whole band's keys and none of a neighbour's.
WHOLE_BAND = 1000.0


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
    """(pid, x, y) rows with both coordinates set: a null or NaN
    coordinate is within no radius of anything, and its band key must not
    reach the kernel."""
    x, y = F.col(lat_col).cast("double"), F.col(lon_col).cast("double")
    return points.select(F.col(id_col).alias("pid"), x.alias("x"), y.alias("y")).where(
        F.col("x").isNotNull() & F.col("y").isNotNull()
        & ~F.isnan(F.col("x")) & ~F.isnan(F.col("y")))


def _window_deg(band: np.ndarray, radius_m: float, above: int) -> np.ndarray:
    """Longitude window (degrees, wrapped difference) of band ``band``'s
    group whose latitudes span ``[lo(band - 1), hi(band + above)]``: the
    NumPy form of :func:`_w_expr` (which is this with ``above=1``).  360
    where the bound reaches the antipode — the whole band."""
    bd = band_deg(radius_m)
    sinr = math.sin(radius_m / (2.0 * EARTH_RADIUS_M))
    b = band.astype(np.float64)
    reach = np.minimum(
        np.maximum(np.abs((b - 1) * bd - 90.0), np.abs((b + 1 + above) * bd - 90.0)), 90.0)
    cosmin = np.cos(np.radians(reach))
    with np.errstate(divide="ignore", invalid="ignore"):
        w = np.degrees(2.0 * np.arcsin(sinr / cosmin)) * SAFETY
    return np.where(cosmin <= sinr, 360.0, np.minimum(w, 360.0))


def _window_candidates(band: np.ndarray, lon: np.ndarray, query: np.ndarray,
                       target: np.ndarray, window: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(query row, target row) index pairs of one chunk of whole bands:
    every target in the query's band group whose wrapped longitude
    difference is within the group's ``window``.  Conservative: the
    margin of a few ulps of the composite key only adds candidates."""
    q, t = np.flatnonzero(query), np.flatnonzero(target)
    if q.size == 0 or t.size == 0:
        return q[:0], t[:0]
    c = np.mod(lon + 180.0, 360.0)
    key = band * KEY_STRIDE + c
    half = window + 4.0 * np.spacing(np.abs(key).max() + KEY_STRIDE)
    whole = half >= 180.0
    half = np.where(whole, WHOLE_BAND, half)
    # seam copies, one turn around, only where the window is narrower than
    # the band (so no window can hold a target and its copy)
    west = t[~whole[t] & (c[t] > 360.0 - half[t])]
    east = t[~whole[t] & (c[t] < half[t])]
    keys = np.concatenate([key[t], key[west] - 360.0, key[east] + 360.0])
    rows = np.concatenate([t, west, east])
    order = np.argsort(keys, kind="stable")
    keys, rows = keys[order], rows[order]
    start = np.searchsorted(keys, key[q] - half[q], "left")
    n = np.searchsorted(keys, key[q] + half[q], "right") - start
    at = np.repeat(start - (np.cumsum(n) - n), n) + np.arange(n.sum())
    return np.repeat(q, n), rows[at]


def _whole_bands(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Regroup band-sorted Arrow batches into chunks of whole bands.  Each
    batch's last band may continue in the next batch, so it is carried
    over: a task holds at most one band plus one batch."""
    open_: list[pd.DataFrame] = []
    for pdf in batches:
        if len(pdf) == 0:
            continue
        band = pdf["band"].to_numpy()
        cut = int(np.searchsorted(band, band[-1], "left"))
        if cut > 0 or (open_ and open_[0]["band"].iat[0] != band[-1]):
            done = [*open_, pdf.iloc[:cut]] if cut else open_
            yield pd.concat(done, ignore_index=True) if len(done) > 1 else done[0]
            open_ = []
        open_.append(pdf.iloc[cut:])
    if open_:
        yield pd.concat(open_, ignore_index=True)


def _dist_m(x: np.ndarray, y: np.ndarray, qi: np.ndarray, ti: np.ndarray) -> np.ndarray:
    """Exact haversine meters between rows ``qi`` and ``ti`` (degrees in)."""
    return probes.haversine_m(probes.deg2rad(x[qi]), probes.deg2rad(y[qi]),
                              probes.deg2rad(x[ti]), probes.deg2rad(y[ti]))


Kernel = Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]


def _pairs_kernel(radius_m: float) -> Kernel:
    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _whole_bands(it):
            band, pid = pdf["band"].to_numpy(), pdf["pid"].to_numpy()
            copy = pdf["copy"].to_numpy() != 0
            x, y = pdf["x"].to_numpy(), pdf["y"].to_numpy()
            qi, ti = _window_candidates(band, y, ~copy, np.ones_like(copy),
                                        _window_deg(band, radius_m, 0))
            pq, pt = pid[qi], pid[ti]
            keep = np.where(copy[ti], pq != pt, pq < pt)
            qi, ti, pq, pt = qi[keep], ti[keep], pq[keep], pt[keep]
            d = _dist_m(x, y, qi, ti)
            m = d <= radius_m
            if m.any():
                pq, pt = pq[m], pt[m]
                lt = pq < pt
                yield pd.DataFrame({"l_pid": np.where(lt, pq, pt), "r_pid": np.where(lt, pt, pq)})
    return kernel


def _knn_kernel(k: int, radius_m: float, exclude_same_id: bool) -> Kernel:
    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _whole_bands(it):
            band, pid = pdf["band"].to_numpy(), pdf["pid"].to_numpy()
            left = pdf["left"].to_numpy() != 0
            x, y = pdf["x"].to_numpy(), pdf["y"].to_numpy()
            qi, ti = _window_candidates(band, y, left, ~left, _window_deg(band, radius_m, 1))
            if exclude_same_id:
                keep = pid[qi] != pid[ti]
                qi, ti = qi[keep], ti[keep]
            d = _dist_m(x, y, qi, ti)
            m = d <= radius_m
            qi, ti, d = qi[m], ti[m], d[m]
            order = np.lexsort((pid[ti], d, qi))
            qi, ti = qi[order], ti[order]
            first = np.r_[True, qi[1:] != qi[:-1]]
            rank = np.arange(qi.size) - np.maximum.accumulate(np.where(first, np.arange(qi.size), 0))
            top = rank < k
            if top.any():
                yield pd.DataFrame({"l_pid": pid[qi[top]], "r_pid": pid[ti[top]]})
    return kernel


def _band_colocated(rows: DataFrame, kernel: Kernel, id_type: str) -> DataFrame:
    """The one plan shape of both joins: one exchange on the band, the
    band as one contiguous run per partition, one NumPy kernel."""
    return (rows.repartition("band").sortWithinPartitions("band")
            .mapInPandas(kernel, schema=f"l_pid {id_type}, r_pid {id_type}"))


def distance_join_pairs(
    points: DataFrame,
    radius_m: float,
    id_col: str = "pid",
    lat_col: str = "x",
    lon_col: str = "y",
) -> DataFrame:
    """All unordered point pairs within ``radius_m`` great-circle meters:
    ``(l_pid, r_pid)`` with ``l_pid < r_pid``, each pair exactly once.

    Each point goes to its band and, as a copy, to band + 1; the kernel
    emits a pair of two own points once, by ``l_pid < r_pid``, and an own
    x copy pair (met only in the higher band) as ``(least, greatest)``.

    Precondition: ``id_col`` is unique.  Two points sharing an id never
    pair, whatever their distance.  The DuckDB twin has the same
    semantics.
    """
    base = _normalize(points, id_col, lat_col, lon_col)
    band = _band(F.col("x"), radius_m)
    rows = base.select("pid", "x", "y", F.posexplode(F.array(band, band + 1)).alias("copy", "band"))
    return _band_colocated(rows, _pairs_kernel(radius_m),
                           base.schema["pid"].dataType.simpleString())


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

    The radius bound is what makes the join EXACT under banding (an
    unbounded kNN would need expanding re-probes for isolated points);
    it is also what a production dedup/enrichment pass wants — a
    neighbor beyond the radius is no neighbor.  Left points go to their
    band and right points to bands b - 1, b and b + 1, so every
    candidate of a left point sits in its band's group and the kernel
    takes the top k there: no second exchange, no window.  Ties break on
    (dist_m, r_pid), deterministic on both engines.

    Precondition: ``id_col`` is unique within ``left``; the top k is
    taken per left ROW.  The DuckDB twin partitions by the left id.
    Both sides' ids share one column in the exchange, so they must have
    types Spark can union; the output ids take the union's type.
    """
    l = _normalize(left, id_col, lat_col, lon_col)
    r = _normalize(right, id_col, lat_col, lon_col)
    band = _band(F.col("x"), radius_m)
    rows = l.select("pid", "x", "y", band.alias("band"), F.lit(1).alias("left")).unionByName(
        r.select("pid", "x", "y", F.explode(F.array(band - 1, band, band + 1)).alias("band"),
                 F.lit(0).alias("left")))
    return _band_colocated(rows, _knn_kernel(k, radius_m, exclude_same_id),
                           rows.schema["pid"].dataType.simpleString())
