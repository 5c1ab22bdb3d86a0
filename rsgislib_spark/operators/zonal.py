"""Zonal statistics — the reference's group-by.

Replicates ``calc_zonal_band_stats``
(python/rsgislib/zonalstats/__init__.py:166-520) semantics exactly
(SURVEY.md §2.4 "semantic traps"):

- values masked BEFORE aggregation (:433-445): NULL and no-data
  dropped (NULL whether or not ``no_data_val`` is set), only
  min_thres <= v <= max_thres kept (both bounds inclusive);
- stddev is numpy ``.std()`` = POPULATION stddev (:458);
- median is exact, not approximate (:473, numpy.ma.median);
- mode is the SMALLEST modal value on ties (:467,
  scipy.stats.mstats.mode);
- empty groups get ``out_no_data_val`` sentinels, not dropped
  (:475-497) — realized as a left join from the zone list + coalesce.

One input pass: the masked rows become a (zone, value, count)
histogram and one groupBy(zone) over it yields every statistic —
the exact median as ``percentile(value, 0.5, count)``, the mode as
``min_by`` over (-count, value), the moments as count-weighted sums.

For bit-reproducibility against the DuckDB oracle, variance is
written as the explicit two-moment formula over integer-valued
doubles (sums exact < 2^53 → identical IEEE results regardless of
summation order); see data/derived.py. Under the same condition
Σ v·n equals Σ v exactly; for non-integer values the weighted sums
can differ from a raw-row sum in the last ulps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

ZONAL_STATS = ["min", "max", "mean", "stddev", "sum", "count", "median", "mode"]


def masked(values: DataFrame, value_col: str = "value",
           no_data_val: float | None = None,
           min_thres: float | None = None,
           max_thres: float | None = None) -> DataFrame:
    """The pixel mask of zonalstats/__init__.py:433-445: drop NULL and
    no-data, drop < min_thres, drop > max_thres."""
    out = values.where(F.col(value_col).isNotNull())
    if no_data_val is not None:
        out = out.where(F.col(value_col) != no_data_val)
    if min_thres is not None:
        out = out.where(F.col(value_col) >= min_thres)
    if max_thres is not None:
        out = out.where(F.col(value_col) <= max_thres)
    return out


def zonal_stats(joined: DataFrame, zone_col: str = "poly_id",
                value_col: str = "meas",
                zones: DataFrame | None = None,
                out_no_data_val: float = -9999.0,
                no_data_val: float | None = None,
                min_thres: float | None = None,
                max_thres: float | None = None) -> DataFrame:
    """Aggregate already-joined (zone, value) rows with reference
    semantics. ``joined`` is typically the output of
    spatial_join(..., 'inner') or a pixel⋈zone join.

    Returns one row per zone in ``zones`` (or per observed zone) with
    columns min/max/mean/stddev/sum/count/median/mode (+sentinels).
    """
    v, n = F.col(value_col), F.col("_n")
    hist = masked(joined, value_col, no_data_val, min_thres, max_thres) \
        .groupBy(zone_col, value_col).agg(F.count("*").alias("_n"))
    s, cnt = F.sum(v * n), F.sum(n)
    aggs = hist.groupBy(zone_col).agg(
        F.min(v).alias("min"),
        F.max(v).alias("max"),
        (s / cnt).alias("mean"),
        F.sqrt(F.sum(v * v * n) / cnt - (s / cnt) * (s / cnt)).alias("stddev"),
        s.alias("sum"),
        cnt.cast("double").alias("count"),
        F.expr(f"CAST(percentile({value_col}, 0.5, _n) AS DOUBLE)").alias("median"),
        # smallest-tie mode: argmin over (-count, value)
        F.min_by(v, F.struct((-n).alias("a"), v.alias("b"))).alias("mode"),
    )

    if zones is not None:
        sentinel = F.lit(float(out_no_data_val))
        out = zones.join(aggs, zone_col, "left")
        for c in ZONAL_STATS:
            out = out.withColumn(c, F.coalesce(F.col(c), sentinel))
        return out
    return aggs


def zonal_stats_hybrid(joined: DataFrame, zones: DataFrame, grid: DataFrame,
                       origin_x: float, origin_y: float, res: float,
                       zone_col: str = "poly_id", value_col: str = "value",
                       centroid_lon: str = "centroid_x",
                       centroid_lat: str = "centroid_y", band: int = 1,
                       out_no_data_val: float = -9999.0,
                       no_data_val: float | None = None,
                       min_thres: float | None = None,
                       max_thres: float | None = None) -> DataFrame:
    """calc_zonal_band_stats_test_poly_pts
    (zonalstats/__init__.py:885): zones with >= 1 intersecting pixel
    get full zonal stats; zones with NONE fall back to the value at
    their centroid pixel (min=max=mean=median=mode=sum=value,
    stddev=0, count=1), and the sentinel only when the centroid
    misses the raster too.

    Plan: the stats aggregation and the centroid point-extract are two
    independent joins unioned by a coalesce — no per-zone Python, no
    second pass over the pixels.
    """
    from .raster import extract_point_values

    stats = zonal_stats(joined, zone_col=zone_col, value_col=value_col,
                        no_data_val=no_data_val, min_thres=min_thres,
                        max_thres=max_thres)
    pts = zones.select(zone_col, F.col(centroid_lon).alias("lon"),
                       F.col(centroid_lat).alias("lat"))
    ctr = extract_point_values(pts, grid, origin_x, origin_y, res,
                               band=band, out_no_data=out_no_data_val,
                               no_data_val=no_data_val)
    ctr = ctr.select(zone_col, F.col("pix_val").alias("_ctr_val"))

    out = zones.select(zone_col).join(stats, zone_col, "left") \
        .join(ctr, zone_col, "left")
    has_ctr = F.col("_ctr_val") != F.lit(float(out_no_data_val))
    sentinel = F.lit(float(out_no_data_val))
    value_like = ["min", "max", "mean", "sum", "median", "mode"]
    for c in value_like:
        out = out.withColumn(
            c, F.coalesce(F.col(c),
                          F.when(has_ctr, F.col("_ctr_val"))
                          .otherwise(sentinel)))
    out = out.withColumn(
        "stddev", F.coalesce(F.col("stddev"),
                             F.when(has_ctr, F.lit(0.0)).otherwise(sentinel)))
    out = out.withColumn(
        "count", F.coalesce(F.col("count"),
                            F.when(has_ctr, F.lit(1.0)).otherwise(sentinel)))
    return out.drop("_ctr_val")
