"""k-nearest-neighbors over cell grids (north rule).

The reference has no kNN; the north rule adds it as "H3 k-ring expansion
with a salted sort-merge fallback for hot cells". Every kNN path here has
one shape: generate candidates, rank them, certify the result by a
distance bound.

* Brute force (``knn_brute``, ``knn_brute_haversine``): every point against
  the broadcast query side, then a per-query top-k. Exact; the oracle
  baseline and the fallback of the doubling loop. Each point partition
  streams independently (no shuffle until the top-k).
* k-ring (``knn_kring``): each query explodes to the (2r+1)^2 grid cells
  around it, equi-joined against the cell-keyed point table. A query is
  exact iff its k-th distance <= r*min(cell_w, cell_h): the nearest
  excluded cell starts r cells away.
* H3 (``knn_h3``): each query explodes to the real H3 cells of a sampled
  cover of its search disc. A query is exact iff its k-th neighbor lies
  inside the disc.

Three metrics (``_metric``): ``planar`` squared degrees (k-ring and
``knn_brute``, column ``dist2``), ``equirect`` squared cos(qlat)-scaled
degrees (``knn_h3``'s default, ``dist2``) and ``haversine`` great-circle
meters (``dist_m``, :func:`geodesy.haversine_m_col`). Ties break on point
id for determinism.

One doubling loop (``_until_exact``) backs ``knn_kring_exact`` and
``knn_h3_exact``: it re-runs only the still-inexact queries with a doubled
ring or disc, and brute-forces the rest once the radii run out or the
plan-time cover budget fires. The driver touches only a one-row-per-query
set, never the data.

Hot cells (dense urban analog): the candidate join key is the CELL, so a
hot cell makes one partition huge. AQE skew-join splitting (enabled in
session.py) splits it at runtime; ``salt`` adds explicit pre-salting of the
point side for the pathological case (every query in one cell).
"""

from __future__ import annotations

import functools
import itertools
import math

# module-level: pandas_udf type-hint resolution needs pd importable here
import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from simple_osm_queries_spark.functions import cells as C
from simple_osm_queries_spark.operators.geodesy import EARTH_RADIUS_M, haversine_m_col

# ---------------------------------------------------------------------------
# one query side, one metric, one ranking
# ---------------------------------------------------------------------------


def _query_side(queries: DataFrame, k: int | None) -> DataFrame:
    """(qid, qlon, qlat, k) of ``queries`` (qid, lon, lat[, k]); a given
    ``k`` overrides the per-query column."""
    return queries.select(
        "qid",
        F.col("lon").alias("qlon"),
        F.col("lat").alias("qlat"),
        (F.lit(k) if k is not None else F.col("k")).alias("k"),
    )


def _metric(metric: str) -> tuple[str, Column]:
    """(distance column, expression) of ``metric`` from the query
    (qlon, qlat) to the point (lon, lat)."""
    qlon, qlat, lon, lat = F.col("qlon"), F.col("qlat"), F.col("lon"), F.col("lat")
    if metric == "planar":
        return "dist2", (qlon - lon) * (qlon - lon) + (qlat - lat) * (qlat - lat)
    if metric == "equirect":
        dx = (lon - qlon) * F.cos(F.radians(qlat))
        dy = lat - qlat
        return "dist2", dx * dx + dy * dy
    return "dist_m", haversine_m_col(qlon, qlat, lon, lat)


def _topk(
    cand: DataFrame,
    k_col: str = "k",
    prefilter_buckets: int = 16,
    dist_col: str = "dist2",
) -> DataFrame:
    """Per-query top-k. Two-phase: a local top-k per (qid, id-bucket) first,
    so a hot query's candidate pile (hundreds of thousands of rows for a
    query inside a dense cell) is sorted in ``prefilter_buckets`` parallel
    partitions instead of one; the global window then ranks at most
    buckets*k rows per query."""
    if prefilter_buckets > 1:
        w_local = Window.partitionBy("qid", "__b").orderBy(
            F.col(dist_col).asc(), F.col("id").asc()
        )
        cand = (
            cand.withColumn("__b", F.pmod(F.col("id"), F.lit(prefilter_buckets)))
            .withColumn("__lr", F.row_number().over(w_local))
            .filter(F.col("__lr") <= F.col(k_col))
            .drop("__b", "__lr")
        )
    w = Window.partitionBy("qid").orderBy(F.col(dist_col).asc(), F.col("id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col(k_col))
    )


def _brute(points: DataFrame, queries: DataFrame, k: int | None, metric: str) -> DataFrame:
    """Exact kNN under ``metric``: every point against the broadcast query
    side, per-query top-k. Every row is ``exact``."""
    dist_col, dist = _metric(metric)
    cand = points.select("id", "lon", "lat").crossJoin(F.broadcast(_query_side(queries, k)))
    return (
        _topk(cand.withColumn(dist_col, dist), dist_col=dist_col)
        .select("qid", "id", "lon", "lat", dist_col, "rank")
        .withColumn("exact", F.lit(True))
    )


def knn_brute(points: DataFrame, queries: DataFrame, k: int | None = None) -> DataFrame:
    """Exact kNN; query side broadcast. ``queries``: (qid, lon, lat[, k])."""
    return _brute(points, queries, k, "planar").drop("exact")


def knn_brute_haversine(points: DataFrame, queries: DataFrame, k: int | None = None) -> DataFrame:
    """Public exact haversine kNN baseline: (qid, id, lon, lat, dist_m, rank)."""
    return _brute(points, queries, k, "haversine").drop("exact")


def _rank_and_certify(
    pts: DataFrame, qcells: DataFrame, salt: int, metric: str, cap: float
) -> DataFrame:
    """Join the cell-keyed points ``pts`` (id, lon, lat, cell) to the
    exploded query cells ``qcells`` (qid, qlon, qlat, k, cell), rank each
    query's candidates by ``metric`` and flag it ``exact`` iff it found k
    of them and the k-th lies within ``cap`` (in the metric's unit)."""
    # the exploded query-cell side is tiny (|queries| x cells) but comes
    # from a local relation Spark won't size-estimate — without the explicit
    # broadcast it plans a SortMergeJoin that shuffles the whole point table
    if salt > 1:
        # replicate each query row over every salt bucket; points pick one
        # bucket — bounds the per-(cell,salt) partition size for hot cells
        qcells = qcells.withColumn(
            "__salt", F.explode(F.array(*[F.lit(s) for s in range(salt)]))
        )
        pts = pts.withColumn("__salt", F.pmod(F.col("id"), F.lit(salt)).cast("int"))
        cand = pts.join(F.broadcast(qcells), ["cell", "__salt"]).drop("__salt")
    else:
        cand = pts.join(F.broadcast(qcells), "cell")
    dist_col, dist = _metric(metric)
    found = _topk(cand.withColumn(dist_col, dist), dist_col=dist_col)
    # per-query max-dist and count as window aggregates over the SAME
    # partitioning the top-k window just created — one pass, no re-shuffle,
    # no recomputation of the candidate join (groupBy+join-back would
    # evaluate `found` twice)
    w_all = Window.partitionBy("qid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        found.withColumn("__maxd", F.max(dist_col).over(w_all))
        .withColumn("__n", F.count("*").over(w_all))
        .withColumn("exact", (F.col("__n") >= F.col("k")) & (F.col("__maxd") <= F.lit(cap)))
        .select("qid", "id", "lon", "lat", dist_col, "rank", "exact")
    )


def _doublings(start: float, stop: float):
    """start, 2*start, 4*start, ... while <= stop."""
    r = start
    while r <= stop:
        yield r
        r *= 2


def _until_exact(queries: DataFrame, step, radii, brute) -> DataFrame:
    """Run ``step(pending, radius)`` over ``radii`` until every query is
    ``exact``; ``brute(rest)`` answers the queries still pending when the
    radii run out or a round's plan-time cover budget fires.

    Each round recomputes only the still-inexact queries (usually a
    shrinking handful near sparse regions); the loop inspects a one-row-
    per-query set, not the data."""
    pending = queries
    results: list[DataFrame] = []
    for radius in radii:
        try:
            ranked = step(pending, radius).cache()
        except CoverBudgetExceeded:
            break
        # the cached round feeds done_q, the survivors and pending; an eager
        # localCheckpoint cuts the survivors' and pending's lineage (both
        # are <= n_queries x k rows — tiny next to the candidate join), and
        # the immediate unpersist keeps at most ONE round's candidates cached
        done_q = ranked.filter(F.col("exact")).select("qid").distinct()
        results.append(ranked.join(done_q, "qid", "left_semi").localCheckpoint())
        pending = pending.join(done_q, "qid", "left_anti").localCheckpoint()
        ranked.unpersist()
        if pending.isEmpty():
            return functools.reduce(DataFrame.unionByName, results)
    return functools.reduce(DataFrame.unionByName, [*results, brute(pending)])


# ---------------------------------------------------------------------------
# kNN over the rectangular cell grid
# ---------------------------------------------------------------------------


def knn_kring(
    points: DataFrame,
    queries: DataFrame,
    k: int | None = None,
    ring: int = 1,
    cell_w: float = C.DEFAULT_CELL_W,
    cell_h: float = C.DEFAULT_CELL_H,
    salt: int = 1,
) -> DataFrame:
    """One-pass k-ring kNN. Exact for every query whose k-th neighbor lies
    within r*min(cell_w,cell_h); ``exact`` column reports the guarantee.
    Queries with fewer than k candidates in the ring return what was found.

    The cell key is recomputed from lon/lat at THIS operator's granularity —
    kNN wants a much finer grid than the reference's 0.1-degree query grid
    (a ring over coarse cells degenerates to a full scan per query), and the
    key must be consistent between both join sides regardless of what cell
    column the table was partitioned by.
    """
    qx = C.cell_x(F.col("qlon"), cell_w)
    qy = C.cell_y(F.col("qlat"), cell_h)
    ring_cells = [
        C.pack_cell(qx + F.lit(dx), qy + F.lit(dy))
        for dx in range(-ring, ring + 1)
        for dy in range(-ring, ring + 1)
    ]
    qcells = _query_side(queries, k).withColumn("cell", F.explode(F.array(*ring_cells)))
    pts = points.select(
        "id", "lon", "lat",
        C.cell_of(F.col("lon"), F.col("lat"), cell_w, cell_h).alias("cell"),
    )
    return _rank_and_certify(pts, qcells, salt, "planar", (ring * min(cell_w, cell_h)) ** 2)


def knn_kring_exact(
    points: DataFrame,
    queries: DataFrame,
    k: int | None = None,
    ring: int = 1,
    max_ring: int = 64,
    cell_w: float = C.DEFAULT_CELL_W,
    cell_h: float = C.DEFAULT_CELL_H,
    salt: int = 1,
) -> DataFrame:
    """``knn_kring`` with the ring doubled from ``ring`` up to ``max_ring``
    until every query is guaranteed exact; the rest is brute-forced."""
    return _until_exact(
        queries,
        lambda pending, r: knn_kring(points, pending, k, r, cell_w, cell_h, salt),
        _doublings(ring, max_ring),
        lambda rest: _brute(points, rest, k, "planar"),
    )


# ---------------------------------------------------------------------------
# kNN over REAL H3 cells (the north rule's wording verbatim: "kNN via H3
# k-ring expansion with a salted sort-merge fallback for hot cells")
# ---------------------------------------------------------------------------

# Conservative global H3 cell-size bounds in radians at resolution r, from
# the gnomonic geometry of functions/h3_encode.py: lattice spacing is one
# plane unit u = RES0_U_GNOMONIC / sqrt(7)^r; the plane->sphere scale factor
# ranges [cos^2(vertex angle), 1] = [0.631, 1]. Hex inradius_plane = 0.5,
# circumradius_plane = 1/sqrt(3).
_H3_RES0_U = 0.38196601125010500003
_H3_DISTORT_MIN = 0.631


def _h3_unit_rad(res: int) -> float:
    return _H3_RES0_U / (7.0 ** (res / 2.0))


def h3_min_inradius_deg(res: int) -> float:
    return math.degrees(0.5 * _h3_unit_rad(res) * _H3_DISTORT_MIN)


def h3_max_circumradius_deg(res: int) -> float:
    return math.degrees(_h3_unit_rad(res) / math.sqrt(3.0))


def _cover_step(res: int) -> float:
    """Sample spacing in arc degrees that puts a sample inside every cell's
    inradius disk at ``res``."""
    return h3_min_inradius_deg(res) / math.sqrt(2.0) * 0.99


def h3_max_disc_deg(res: int) -> float:
    """Largest search disc the cover sampler accepts at ``res`` (the
    (2*63+1)^2 = 16129-sample budget); beyond it, coarsen the resolution or
    brute-force (knn_h3_exact does the latter automatically)."""
    return (63 * _cover_step(res) - h3_max_circumradius_deg(res)) / 1.05


class CoverBudgetExceeded(ValueError):
    """Raised by the cover samplers BEFORE expanding the sample arrays when
    the count would exceed the caller's budget (so a hemisphere-at-res-8
    attempt costs a counts sum, not a multi-GB allocation), and by
    ``knn_h3``'s plan-time cover checks. The exact-kNN doubling loop catches
    it to brute-force the remaining queries."""

    def __init__(self, total: int):
        self.total = total
        super().__init__(f"cover sampler needs {total} samples")


def _expand_rows(half, dl, max_samples: int | None):
    """(row_index, lon_offset) samples of rows with half-extents ``half``
    and spacings ``dl``: each row spans -half..+half in steps of dl. The
    budget is checked on the counts, before any sample array exists."""
    counts = np.ceil(2.0 * half / dl).astype(np.int64) + 1
    total = int(counts.sum())
    if max_samples is not None and total > max_samples:
        raise CoverBudgetExceeded(total)
    ridx = np.repeat(np.arange(len(half)), counts)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    within = np.arange(total) - np.repeat(starts, counts)
    return ridx, -half[ridx] + within * dl[ridx]


def banded_lon_offsets(
    lat_rows, arc_half, step: float, base_half_deg: float = 0.0,
    max_samples: int | None = None,
):
    """Per-latitude-ROW lon sample offsets for superset cell covers.

    One shared implementation of the r4 sampling fix (ADVICE r3 #1/#5):
    scaling every row's lon spacing by a single cos(lat) under-samples rows
    nearer the equator than the reference latitude. Each row instead uses
    its own +-``step`` band: spacing from the band's largest cos (tightest
    constraint), east-west extent from its smallest (widest reach), capped
    at the full circle. ``arc_half`` is the per-row half-extent in ARC
    degrees (divided by the band cos); ``base_half_deg`` a latitude-
    independent extra half-extent in LON degrees (e.g. a bbox's own span).

    Returns (row_index, lon_offset) arrays: sample i sits at latitude
    ``lat_rows[row_index[i]]`` and longitude ``center + lon_offset[i]``.
    Used by knn's disc cover and spatial_join.h3_polyfill — a sampling fix
    here fixes both."""
    lat_rows = np.asarray(lat_rows, dtype=np.float64)
    arc_half = np.broadcast_to(np.asarray(arc_half, dtype=np.float64), lat_rows.shape)
    band_abs = np.abs(lat_rows)
    c_hi = np.cos(np.radians(np.clip(band_abs - step, 0.0, 89.95)))
    c_lo = np.maximum(np.cos(np.radians(np.minimum(band_abs + step, 89.95))), 1e-9)
    halfw = np.minimum(base_half_deg + arc_half / c_lo, 180.0)
    return _expand_rows(halfw, step / c_hi, max_samples)


def _equirect_disc_offsets(
    qlat: float, R: float, step: float, max_samples: int | None = None
):
    """Sample positions covering the equirectangular disc of radius ``R``
    (lon/lat degrees) around a query at latitude ``qlat``: latitude rows
    spaced ``step`` apart, each sampled by :func:`banded_lon_offsets`. Rows
    are clipped to +-89.9 (knn_h3 routes pole-adjacent queries to brute
    force before this runs).

    Returns (lat_rows, lon_offsets) arrays of equal length, like
    :func:`spherical_disc_offsets`."""
    n_side = int(math.ceil(R / step))
    offs = np.arange(-n_side, n_side + 1, dtype=np.float64) * step
    rows = qlat + offs
    ridx, lon_off = banded_lon_offsets(
        rows, np.sqrt(np.maximum(R * R - offs * offs, 0.0)), step, max_samples=max_samples
    )
    return np.clip(rows[ridx], -89.9, 89.9), lon_off


def spherical_disc_offsets(
    qlat: float, R_deg: float, step: float, max_samples: int | None = None
):
    """Sample positions covering the SPHERICAL cap of arc radius ``R_deg``
    around a query at latitude ``qlat`` — wrap-aware: rows may exceed |90|
    (pole crossing) and offsets may exceed |180| (antimeridian crossing);
    the H3 encoder is wrap-transparent (cos/sin periodicity carries an
    unnormalized (lat, lon) to the reflected point exactly — verified by
    test_h3_encode wrap cases), so no normalization is needed.

    Geometry (all in arc degrees): latitude rows spaced ``step`` apart span
    qlat +- R. Per-row lon half-extent H_i comes from the exact spherical
    cap/parallel intersection with radius padded by step/2: a cell center c
    with arc(c, q) <= R and |lat_c - row_i| <= step/2 moves to row_i's
    parallel along a meridian, growing its arc distance by at most step/2
    (triangle inequality), so cos(dlon) >= (cos(R + step/2) -
    sin(qlat) sin(row_i)) / (cos(qlat) cos(row_i)). Evaluating with the
    UNNORMALIZED row latitude is exact on both sides of a pole (sin/cos of
    the reflected latitude fold the lon+180 shift in automatically). Lon
    spacing per row is step / (largest |cos lat| within the row's +-step
    band), so east-west arc gaps stay <= step.

    Returns (lat_rows, lon_offsets) arrays of equal length: sample i sits at
    (lat_rows[i], qlon + lon_offsets[i])."""
    n_side = int(math.ceil(R_deg / step))
    rows = qlat + np.arange(-n_side, n_side + 1, dtype=np.float64) * step
    phi_q = math.radians(qlat)
    phi = np.radians(rows)
    Rp = math.radians(R_deg + step / 2.0)
    denom = math.cos(phi_q) * np.cos(phi)
    num = math.cos(Rp) - math.sin(phi_q) * np.sin(phi)
    with np.errstate(divide="ignore", invalid="ignore"):
        ratio = np.where(np.abs(denom) > 1e-12, num / denom, np.nan)
    H = np.degrees(np.arccos(np.clip(ratio, -1.0, 1.0)))
    if abs(math.cos(phi_q)) <= 1e-12:  # query at a pole: caps are lat bands
        H = np.where(np.abs(rows - qlat) <= R_deg + step / 2.0, 180.0, 0.0)
    # a row exactly at a pole degenerates to a point: one sample suffices
    H = np.where(np.abs(np.cos(phi)) <= 1e-12, 0.0, np.nan_to_num(H, nan=180.0))
    c_hi = np.maximum(
        np.maximum(
            np.abs(np.cos(np.radians(rows - step))),
            np.abs(np.cos(np.radians(rows + step))),
        ),
        1e-9,
    )
    ridx, lon_off = _expand_rows(H, step / c_hi, max_samples)
    return rows[ridx], lon_off


def haversine_m_np(qlon, qlat, plon, plat):
    """Numpy twin of :func:`geodesy.haversine_m_col` (property-test oracle)."""
    sp = np.sin(np.radians(plat - qlat) / 2.0)
    sl = np.sin(np.radians(plon - qlon) / 2.0)
    a = sp * sp + np.cos(np.radians(qlat)) * np.cos(np.radians(plat)) * sl * sl
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


# ONE definition of each cover's geometry and budget, shared by the
# plan-time pre-check and the executor UDF — editing either side of a
# duplicated formula/budget would silently desynchronize them and
# reintroduce the opaque executor-side failure the pre-check pre-empts
# (code-review r5 finding).
EQUIRECT_COVER_BUDGET = 65536
SPHERICAL_COVER_BUDGET = 131072


def _equirect_cover_radius(res: int, disc_deg: float) -> float:
    """Padded radius (lon/lat degrees) of the equirect cover's samples."""
    return 1.05 * disc_deg + h3_max_circumradius_deg(res)


def _cover_too_big(total: int, what: str, res: int) -> CoverBudgetExceeded:
    e = CoverBudgetExceeded(total)
    e.args = (
        f"{what} needs {total} samples per query at res {res}; use a coarser "
        "resolution for discs this large",
    )
    return e


def _disc_sampler(res: int, disc: float, metric: str):
    """The per-query sampler of the ``metric`` disc cover of radius
    ``disc`` (degrees for equirect, meters for haversine): ``lat -> (sample
    lats, lon offsets)``. Every cell intersecting the disc has its center
    within the padded radius R of the query, and a sample spacing <=
    min_inradius/sqrt(2) puts a sample inside each such cell, so encoding
    the samples yields a superset of the intersecting cells."""
    step = _cover_step(res)
    if metric == "haversine":
        arc = math.degrees(disc / EARTH_RADIUS_M)
        R, offsets = arc + h3_max_circumradius_deg(res), spherical_disc_offsets
        budget, what = SPHERICAL_COVER_BUDGET, f"disc {arc} arc-deg"
    else:
        R, offsets = _equirect_cover_radius(res, disc), _equirect_disc_offsets
        budget, what = EQUIRECT_COVER_BUDGET, f"disc {disc} deg"
        n_rows = 2 * int(math.ceil(R / step)) + 1
        if n_rows * n_rows > 16384:
            raise _cover_too_big(n_rows * n_rows, what, res)

    def sample(lat):
        try:
            return offsets(lat, R, step, max_samples=budget)
        except CoverBudgetExceeded as e:
            raise _cover_too_big(e.total, f"{what} at lat {lat:.2f}", res) from None

    return sample


def _h3_disc_cells_col(qlon, qlat, res: int, disc: float, metric: str = "equirect"):
    """array<long> of H3 cells guaranteed to cover the ``metric`` search
    disc of radius ``disc`` around each query (see :func:`_disc_sampler`).
    The whole Arrow batch is encoded in ONE vectorized call."""
    sample = _disc_sampler(res, disc, metric)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _cover(lon: pd.Series, lat: pd.Series) -> pd.Series:
        from simple_osm_queries_spark.functions import h3_encode as E

        if not len(lon):
            return pd.Series([], dtype=object)
        per_query = [sample(la) for la in lat.to_numpy(dtype=np.float64)]
        sample_lon = [
            lo + lon_off
            for lo, (_, lon_off) in zip(lon.to_numpy(dtype=np.float64), per_query)
        ]
        cells = E.lnglat_to_cell(
            np.concatenate(sample_lon), np.concatenate([s for s, _ in per_query]), res
        ).view(np.int64)
        ends = np.cumsum([len(s) for s, _ in per_query])[:-1]
        return pd.Series([np.unique(c).tolist() for c in np.split(cells, ends)])

    return _cover(qlon, qlat)


def _precheck_cover(max_abs_lat: float, res: int, disc: float, metric: str) -> None:
    """Plan-time budget check of the disc cover on the DRIVER (ADVICE r4
    #4): an oversized disc fails here with a clean message instead of as an
    opaque PythonException after the job launches. The equirect sample
    count grows monotonically with |lat| (arc extent / band cos), so the
    batch's max |lat| is its worst case; the spherical count is not monotone
    (extent and spacing both scale with 1/cos and mostly cancel until the
    180-deg wrap cap), so the equator is probed as well."""
    sample = _disc_sampler(res, disc, metric)
    for lat in {max_abs_lat} if metric == "equirect" else {0.0, max_abs_lat}:
        sample(lat)


def _h3_disc(res: int, metric: str, disc_deg: float | None, disc_m: float | None) -> float:
    """The search disc of ``metric`` in its unit (degrees for equirect,
    meters for haversine), two max circumradii at ``res`` by default."""
    if metric not in ("equirect", "haversine"):
        raise ValueError(f"unknown metric {metric!r}")
    # each metric takes ITS radius parameter only — silently ignoring the
    # other one would run a wildly different search disc than the caller
    # asked for (code-review r5 finding)
    if metric == "haversine" and disc_deg is not None:
        raise ValueError("metric='haversine' takes disc_m (meters), not disc_deg")
    if metric == "equirect" and disc_m is not None:
        raise ValueError("metric='equirect' takes disc_deg (degrees), not disc_m")
    if metric == "haversine":
        if disc_m is None:
            return math.radians(2.0 * h3_max_circumradius_deg(res)) * EARTH_RADIUS_M
        return float(disc_m)
    return 2.0 * h3_max_circumradius_deg(res) if disc_deg is None else float(disc_deg)


def _knn_h3(
    points: DataFrame,
    queries: DataFrame,
    k: int | None,
    res: int,
    disc: float,
    salt: int,
    cell_col: str | None,
    metric: str,
) -> DataFrame:
    """:func:`knn_h3` over a validated ``disc`` (see :func:`_h3_disc`)."""
    # one tiny agg (query side is small by contract) instead of an
    # isEmpty + two filters: the common no-polar case pays a single job and
    # reuses `queries` untouched, and knn_h3_exact's per-round calls don't
    # recompute the query plan three times
    max_abs_lat = queries.agg(F.max(F.abs(F.col("lat")))).first()[0]
    if metric == "equirect":
        # queries whose padded disc reaches a pole go to the exact brute path
        polar_cut = 89.5 - _equirect_cover_radius(res, disc)
        if max_abs_lat is not None and float(max_abs_lat) >= polar_cut:
            polar = queries.filter(F.abs(F.col("lat")) >= F.lit(polar_cut))
            rest = queries.filter(F.abs(F.col("lat")) < F.lit(polar_cut))
            return _knn_h3(points, rest, k, res, disc, salt, cell_col, metric).unionByName(
                _brute(points, polar, k, "equirect")
            )
    if max_abs_lat is not None:
        _precheck_cover(float(max_abs_lat), res, disc, metric)
    cover = _h3_disc_cells_col(F.col("qlon"), F.col("qlat"), res, disc, metric)
    qcells = _query_side(queries, k).withColumn("cell", F.explode(cover))
    pts = points.select(
        "id", "lon", "lat",
        (F.col(cell_col) if cell_col is not None
         else C.cell_h3(F.col("lon"), F.col("lat"), res)).alias("cell"),
    )
    cap = disc ** 2 if metric == "equirect" else disc
    return _rank_and_certify(pts, qcells, salt, metric, cap)


def knn_h3(
    points: DataFrame,
    queries: DataFrame,
    k: int | None = None,
    res: int = 8,
    disc_deg: float | None = None,
    salt: int = 1,
    cell_col: str | None = None,
    metric: str = "equirect",
    disc_m: float | None = None,
) -> DataFrame:
    """kNN via H3 cell cover: points are keyed by their real H3 cell at
    ``res``; each query explodes to the cells covering its search disc, the
    two sides equi-join on the cell id, and a per-query top-k ranks by the
    chosen metric. ``exact`` reports the disc guarantee: true iff >= k
    candidates were found and the k-th lies inside the disc. Hot cells: AQE
    skew splitting by default; ``salt`` > 1 pre-salts the point side like
    knn_kring.

    ``metric='equirect'`` (default): ranks by the cos-scaled local-degree
    metric; fine within a small window, distorted near poles / across the
    antimeridian. Queries whose padded disc reaches a pole are split off to
    the exact equirect brute path (ADVICE r3 #5); ``disc_deg`` is the
    search radius in degrees. Returns ``dist2`` (squared local degrees).

    ``metric='haversine'``: globally correct great-circle ranking in METERS
    (``dist_m`` column); the disc is ``disc_m`` meters of arc, the cover is
    the wrap-aware spherical sampler (poles and antimeridian handled — no
    brute routing), and the exactness guarantee reads "the k-th neighbor
    lies within disc_m meters". VERDICT r4 #1.

    Both paths pre-check the cover's sample budget on the DRIVER at the
    batch's worst-case latitude, so oversized discs fail at plan time with
    :class:`CoverBudgetExceeded` (a ``ValueError``).

    ``cell_col``: name of a PRECOMPUTED res-``res`` H3 column on ``points``
    (e.g. the cells-CLI layout's ``h3``) — skips the per-call re-encode and,
    on a cell-partitioned/sorted layout, lets the cover join prune
    partitions/row groups.
    """
    disc = _h3_disc(res, metric, disc_deg, disc_m)
    return _knn_h3(points, queries, k, res, disc, salt, cell_col, metric)


def knn_h3_exact(
    points: DataFrame,
    queries: DataFrame,
    k: int | None = None,
    res: int = 8,
    disc_deg: float | None = None,
    max_doublings: int = 6,
    salt: int = 1,
    metric: str = "equirect",
    disc_m: float | None = None,
) -> DataFrame:
    """``knn_h3`` with the disc doubled (at most ``max_doublings`` rounds)
    until every query is guaranteed exact; the rest is brute-forced under
    the same metric, as are all pending queries once the disc outgrows the
    cover sampler or its plan-time budget fires. With ``metric='haversine'``
    the loop doubles ``disc_m`` (meters) — globally correct results at any
    latitude/longitude."""
    disc = _h3_disc(res, metric, disc_deg, disc_m)
    # the wrap-aware sampler serves any disc whose row count fits the
    # budget; a 60-degree arc is the natural cap beyond which brute force
    # reads less data than the cover join
    max_disc = (
        math.radians(60.0) * EARTH_RADIUS_M if metric == "haversine" else h3_max_disc_deg(res)
    )
    return _until_exact(
        queries,
        lambda pending, d: _knn_h3(points, pending, k, res, d, salt, None, metric),
        itertools.islice(_doublings(disc, max_disc), max(max_doublings, 0)),
        lambda rest: _brute(points, rest, k, metric),
    )
