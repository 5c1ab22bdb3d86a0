"""kNN and radius joins.

``match_closest_vec_pts`` (reference:
python/rsgislib/vectorutils/__init__.py:3482-3599) computes a FULL
distance matrix and its own docstring says "not intended to be used
with large datasets". Our scalable plan:

- small site table (the usual case — sites ≪ points): broadcast the
  sites into an Arrow-batched pandas UDF that argmins per batch —
  zero shuffle, embarrassingly parallel over point partitions;
- large site table: one bounded join (the partition-bound kNN join of
  "Distributed Stream KNN Join", SIGMOD 2021). A small collect of
  site occupancy per cell gives every point cell an upper bound on its
  nearest-site distance; one lazy join of each point cell's bounded
  window of cells against the sites, then an argmin, is exact by
  construction.

Tie-break: the reference RAISES on distance ties
(vectorutils/__init__.py:3552-3557). We instead break ties
deterministically by lowest site id — a documented divergence
(SURVEY.md §7 hard parts).

Distances: planar squared degrees by default (bit-reproducible
arithmetic: products/sums only — the gated correctness path);
haversine_m available for metric radii.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (DoubleType, IntegerType, LongType,
                               StructField, StructType)

from ..cells import quadcell
from ..geometry.predicates import haversine_m


def knn_broadcast(points: DataFrame, sites: DataFrame, k: int = 1,
                  lon: str = "lon", lat: str = "lat",
                  site_id: str = "site_id", site_lon: str = "site_lon",
                  site_lat: str = "site_lat",
                  max_dist: float | None = None,
                  metric: str = "planar") -> DataFrame:
    """Nearest site(s) per point, sites broadcast (k=1 default mirrors
    match_closest_vec_pts; max_dist is its tolerance cut).

    metric='planar' (default): planar squared degrees in the layer
    CRS — PARITY with the reference, whose match_closest_vec_pts is
    planar in layer coordinates (vectorutils/__init__.py:3529), and
    bit-reproducible (products/sums only). Output column nn_dist_sq.
    metric='haversine': great-circle METERS — what a WGS84 user
    actually expects from "nearest"; a documented divergence from the
    reference. Output column nn_dist_m; max_dist is then in meters.

    Output: points columns + nn_site_id, nn_dist_sq|nn_dist_m,
    nn_rank (1..k). Points with no site within max_dist are dropped
    for k rows (reference drops them from the attribute copy)."""
    if metric not in {"planar", "haversine"}:
        raise ValueError(f"metric must be planar/haversine, got {metric}")
    site_rows = sites.select(site_id, site_lon, site_lat).collect()
    s_id = np.array([r[0] for r in site_rows], dtype=np.int64)
    s_lon = np.array([r[1] for r in site_rows], dtype=np.float64)
    s_lat = np.array([r[2] for r in site_rows], dtype=np.float64)
    # pre-sort by id so lexical argmin tie-breaks on lowest id
    order = np.argsort(s_id, kind="stable")
    s_id, s_lon, s_lat = s_id[order], s_lon[order], s_lat[order]
    kk = int(k)
    dist_col = "nn_dist_sq" if metric == "planar" else "nn_dist_m"

    def _nn(batches):
        for pdf in batches:
            px = pdf[lon].to_numpy(dtype=np.float64)
            py = pdf[lat].to_numpy(dtype=np.float64)
            if metric == "haversine":
                d2 = haversine_m(px[:, None], py[:, None],
                                 s_lon[None, :], s_lat[None, :])
            else:
                dx = px[:, None] - s_lon[None, :]
                dy = py[:, None] - s_lat[None, :]
                d2 = dx * dx + dy * dy
            if kk == 1:
                best = np.argmin(d2, axis=1)  # first (lowest id) on ties
                out = pdf.copy()
                out["nn_site_id"] = s_id[best]
                out[dist_col] = d2[np.arange(len(best)), best]
                out["nn_rank"] = 1
            else:
                idx = np.argsort(d2, axis=1, kind="stable")[:, :kk]
                rows = np.repeat(np.arange(len(px)), idx.shape[1])
                out = pdf.iloc[rows].reset_index(drop=True)
                out["nn_site_id"] = s_id[idx.ravel()]
                out[dist_col] = d2[rows, idx.ravel()]
                out["nn_rank"] = np.tile(np.arange(1, idx.shape[1] + 1), len(px))
            if max_dist is not None:
                cut = max_dist * max_dist if metric == "planar" else max_dist
                out = out[out[dist_col] <= cut]
            yield out

    schema = StructType(list(points.schema.fields) + [
        StructField("nn_site_id", LongType()),
        StructField(dist_col, DoubleType()),
        StructField("nn_rank", IntegerType())])
    # spread the point side: the O(|pts| * |sites|) distance kernel is
    # the whole cost of this operator, and a few-row-group parquet
    # source would hand it to one or two tasks (each row is
    # independent, so the exchange changes nothing else). Round-robin,
    # not a hash of (lon, lat): grid-snapped or duplicated coordinates
    # would funnel to a few tasks, and the local sort round-robin pays
    # is small next to the distance kernel
    from ..session import spread_scan

    return spread_scan(points).mapInPandas(_nn, schema=schema)


# Pad (degrees) on the distance bound and the window. The cell formula
# is monotone in the coordinate (every IEEE step in it is), so each
# computed cell is an interval whose edges lie within ~1e-13 degrees of
# the exact edges for |coord| < 1e3: the pad covers that, so no whole
# cell of margin is needed.
_PAD = 1e-9


def knn_kring(points: DataFrame, sites: DataFrame, res: int | None = None,
              lon: str = "lon", lat: str = "lat",
              site_id: str = "site_id", site_lon: str = "site_lon",
              site_lat: str = "site_lat",
              pt_id_col: str | None = None,
              with_payload: bool = True) -> DataFrame:
    """k=1 nearest site per point in ONE bounded, exact join — the
    shuffle path for site tables too large to broadcast.

    The partition-bound kNN join of "Distributed Stream KNN Join"
    (SIGMOD 2021): bound each point cell's nearest-site distance once
    from site occupancy, then join each point only to the sites that
    can be within that bound.

    1. One eager action, a small collect: the site count per cell at
       res 12 (or at ``res``, used as given). ``res=None`` picks the
       coarsest res with at most ~4 sites per occupied cell, then
       coarsens it until the bound table (one row per cell of the
       sites' bounding box) fits the session's broadcast threshold.
    2. Driver: for every cell of that box, the Chebyshev distance k to
       the nearest occupied cell (numpy dilation, no longitude wrap —
       d2 is planar). A point cell outside the box adds its Chebyshev
       distance to the box. Every point of a cell at distance k has a
       site within D = (k+1)·hypot(w, h), and every site within D of
       it lies in the window ±ceil(D/w) × ±ceil(D/h) of its cell,
       clipped to the box (no site lies outside it).
    3. One lazy plan: distinct point cells ⋈ broadcast bounds, explode
       the window, ⋈ sites on cell, ⋈ points on cell, keep d2 <= D²,
       then min(struct(d2, site_id)) per point: exact by construction,
       ties to the lowest site id.

    The join runs on a slim (key, lon, lat) frame and the payload is
    joined back once at the end. The key is ``pt_id_col``, or (lon,
    lat) without one: the answer depends on nothing else, so duplicate
    coordinates share it. Points without coordinates are dropped, and
    an empty site table gives an empty result. Nothing is persisted.

    with_payload=False skips the payload join and returns the slim
    (pt_id_col, nn_site_id, nn_dist_sq) frame.
    """
    if not with_payload and pt_id_col is None:
        raise ValueError("with_payload=False requires pt_id_col (a "
                         "(lon, lat) key would be meaningless to the caller)")
    from ..session import _parse_bytes

    spark = points.sparkSession
    occ_res = 12 if res is None else res
    sx, sy = quadcell.cell_xy_cols(site_lon, site_lat, occ_res)
    occ = (sites.groupBy(sx.alias("x"), sy.alias("y")).count()
           .dropna().toPandas())
    x, y = occ["x"].to_numpy(np.int64), occ["y"].to_numpy(np.int64)

    def at(r):  # the res-r cells of the sites, exactly
        return x >> (occ_res - r), y >> (occ_res - r)

    def box(r):
        xr, yr = at(r)
        return (int(xr.max() - xr.min() + 1), int(yr.max() - yr.min() + 1)) \
            if len(xr) else (0, 0)

    if res is None:
        n_sites = int(occ["count"].sum())
        res = next((r for r in range(occ_res) if n_sites <= 4 * len(
            np.unique(np.stack(at(r)), axis=1).T)), occ_res)
        thr = _parse_bytes(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
        # ~32 B a bounds row; a disabled threshold (-1) means Spark's
        # default of 10 MB, since the bounds are broadcast regardless
        max_cells = (thr if thr > 0 else 10 << 20) // 32
        while res > 0 and np.prod(box(res)) > max_cells:
            res -= 1
    xr, yr = at(res)
    x0, y0 = (int(xr.min()), int(yr.min())) if len(xr) else (0, 0)
    reach = np.zeros(box(res), bool)
    reach[xr - x0, yr - y0] = True
    k = np.where(reach, 0, -1)
    step = 0
    while not reach.all():  # one Chebyshev step: 3x3 max, separable
        step += 1
        g = reach.copy()
        g[1:] |= reach[:-1]
        g[:-1] |= reach[1:]
        reach = g.copy()
        reach[:, 1:] |= g[:, :-1]
        reach[:, :-1] |= g[:, 1:]
        k[reach & (k < 0)] = step
    bx, by = np.indices(k.shape)
    bounds = spark.createDataFrame(
        pd.DataFrame({"bx": (bx + x0).ravel(), "by": (by + y0).ravel(),
                      "k": k.ravel()}), "bx BIGINT, by BIGINT, k BIGINT")

    c = F.col
    w, h = 360.0 / (1 << res), 180.0 / (1 << res)
    keys = [pt_id_col] if pt_id_col else [lon, lat]
    cx, cy = quadcell.cell_xy_cols(lon, lat, res)
    pts = points.select(*dict.fromkeys(keys + [lon, lat]),
                        cx.alias("_cx"), cy.alias("_cy"))
    dist = (c("k") + F.greatest(F.abs(c("_cx") - c("bx")),
                                F.abs(c("_cy") - c("by"))) + 1) \
        * F.lit(float(np.hypot(w, h))) + F.lit(_PAD)

    def clamp(col, lo, hi):
        return F.least(F.greatest(col, F.lit(lo)), F.lit(hi))

    def span(col, size, lo, hi):  # the window's cells inside the box
        r = F.ceil((c("_D") + F.lit(_PAD)) / F.lit(size))
        return F.explode(F.sequence(clamp(col - r, lo, hi),
                                    clamp(col + r, lo, hi)))

    x1, y1 = x0 + k.shape[0] - 1, y0 + k.shape[1] - 1
    win = (
        pts.select("_cx", "_cy").distinct()
        .withColumn("bx", clamp(c("_cx"), x0, x1))
        .withColumn("by", clamp(c("_cy"), y0, y1))
        .join(F.broadcast(bounds), ["bx", "by"])
        .withColumn("_D", dist)
        .withColumn("_sx", span(c("_cx"), w, x0, x1))
        .withColumn("_sy", span(c("_cy"), h, y0, y1))
        .select("_cx", "_cy", "_D", "_sx", "_sy")
    )
    sx, sy = quadcell.cell_xy_cols(site_lon, site_lat, res)
    sts = sites.select(c(site_id).alias("_sid"), c(site_lon).alias("_slon"),
                       c(site_lat).alias("_slat"), sx.alias("_sx"),
                       sy.alias("_sy"))
    d2 = ((c(lon) - c("_slon")) * (c(lon) - c("_slon"))
          + (c(lat) - c("_slat")) * (c(lat) - c("_slat")))
    best = (
        pts.join(win.join(sts, ["_sx", "_sy"]), ["_cx", "_cy"])
        .withColumn("_d2", d2)
        .where(c("_d2") <= c("_D") * c("_D"))
        .groupBy(*keys)
        .agg(F.min(F.struct("_d2", "_sid")).alias("_b"))
        .select(*keys, c("_b._sid").alias("nn_site_id"),
                c("_b._d2").alias("nn_dist_sq"))
    )
    if not with_payload:
        return best
    return points.join(best, keys).select(*points.columns, "nn_site_id",
                                          "nn_dist_sq")


def radius_count_haversine(points: DataFrame, radius_m: float,
                           id_col: str = "pt_id", lon: str = "lon",
                           lat: str = "lat") -> DataFrame:
    """calc_npts_in_radius with a METRIC radius (meters, great
    circle) — the WGS84-honest variant of radius_count (documented
    divergence: the reference's KDTree is planar in layer CRS).

    Completeness is pole-safe: great-circle distance >= R * |dlat|,
    so any pair within radius_m differs by <= radius_m / M_PER_DEG
    degrees of latitude — a 1-D LATITUDE-BAND self-join (band, band±1)
    never misses a pair, with no cos(lat) blowup at the poles (a cell
    k-ring in lon/lat would need unboundedly many lon neighbours near
    90°). Exact haversine filter via the shared SQL template
    (predicates.HAVERSINE_SQL — same expression tree as the oracle).
    """
    from ..geometry.predicates import HAVERSINE_SQL, M_PER_DEG

    band_h = radius_m / M_PER_DEG  # degrees of latitude
    band = lambda c: F.floor(F.col(c) / F.lit(band_h))  # noqa: E731
    a = points.select(
        F.col(id_col).alias("_ida"), F.col(lon).alias("_lona"),
        F.col(lat).alias("_lata"),
    ).withColumn("aband", band("_lata"))
    b = points.select(
        F.col(id_col).alias("_idb"), F.col(lon).alias("_lonb"),
        F.col(lat).alias("_latb"),
    ).withColumn(
        "jband",
        F.explode(F.array(*[band("_latb") + F.lit(d) for d in (-1, 0, 1)])),
    )
    dist = F.expr(HAVERSINE_SQL.format(
        lon1="_lona", lat1="_lata", lon2="_lonb", lat2="_latb"))
    pairs = (
        a.join(b, a["aband"] == b["jband"])
        .where(F.col("_ida") != F.col("_idb"))
        .where(dist <= F.lit(float(radius_m)))
    )
    counts = pairs.groupBy("_ida").agg(F.count("*").alias("n_in_radius"))
    return (
        points.join(counts, points[id_col] == F.col("_ida"), "left")
        .drop("_ida")
        .withColumn("n_in_radius", F.coalesce("n_in_radius", F.lit(0)))
    )


def radius_count(points: DataFrame, radius_deg: float,
                 id_col: str = "pt_id", lon: str = "lon",
                 lat: str = "lat", res: int | None = None) -> DataFrame:
    """calc_npts_in_radius (vectorattrs/__init__.py:1104-1157): per
    point, how many OTHER points lie within radius (KDTree ball query
    minus self). Distributed as a self-join on k-ring(cell, 1) at a
    res where the cell is at least the radius — every pair within the
    radius shares a ring — then exact distance filter.
    """
    if res is None:
        # coarsest cell is 180 deg tall at res 0; the k-ring-1
        # guarantee needs cell height >= radius, so radii above 180
        # have no valid res (and would silently under-count)
        if radius_deg > 180.0:
            raise ValueError(
                f"radius_deg={radius_deg} exceeds 180 — no cell "
                "resolution satisfies the k-ring-1 completeness bound")
        res = 0
        while 180.0 / (1 << (res + 1)) >= radius_deg and res < 12:
            res += 1
    a = points.select(
        F.col(id_col).alias("_ida"), F.col(lon).alias("_lona"),
        F.col(lat).alias("_lata"),
    ).withColumn("acell", quadcell.cell_col("_lona", "_lata", res))
    b = points.select(
        F.col(id_col).alias("_idb"), F.col(lon).alias("_lonb"),
        F.col(lat).alias("_latb"),
    ).withColumn(
        "jcell",
        F.explode(quadcell.kring_col(quadcell.cell_col("_lonb", "_latb", res), 1, res)),
    )
    r2 = radius_deg * radius_deg
    pairs = (
        a.join(b, a["acell"] == b["jcell"])
        .where(F.col("_ida") != F.col("_idb"))
        .where(
            (F.col("_lona") - F.col("_lonb")) * (F.col("_lona") - F.col("_lonb"))
            + (F.col("_lata") - F.col("_latb")) * (F.col("_lata") - F.col("_latb"))
            <= F.lit(r2)
        )
    )
    counts = pairs.groupBy("_ida").agg(F.count("*").alias("n_in_radius"))
    return (
        points.join(counts, points[id_col] == F.col("_ida"), "left")
        .drop("_ida")
        .withColumn("n_in_radius", F.coalesce("n_in_radius", F.lit(0)))
    )
