"""Deterministic fixtures: polygon layer, synthetic raster grid.

Mirrors the *shape* of the reference's pytest fixtures
(/root/reference/python_tests/data/: 6-polygon + 6-point GeoJSON
layers, one small Sentinel-2 raster — see test_zonalstats.py:20-64):
a handful of literal polygons covering the convex / concave / holed /
multipolygon / antimeridian cases, and an arithmetic raster grid with
no-data blocks. Everything is a literal or a closed-form integer
formula so the DuckDB oracle can evaluate the identical expression.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, DoubleType, LongType, StringType,
                               StructField, StructType)

from ..geometry import predicates, wkb

# ---------------------------------------------------------------- polygons
# rings are (lon, lat); shell first, holes after. Kept big (tens of
# degrees) so globally-uniform derived points give ~5-10% selectivity.
POLYGONS = [
    dict(poly_id=1, name="amazonia", category="forest",
         rings=[[(-70.0, -15.0), (-45.0, -15.0), (-45.0, 5.0), (-70.0, 5.0), (-70.0, -15.0)]]),
    dict(poly_id=2, name="sahara", category="desert",
         rings=[[(-10.0, 15.0), (30.0, 15.0), (30.0, 30.0), (-10.0, 30.0), (-10.0, 15.0)]]),
    dict(poly_id=3, name="europa", category="temperate",
         rings=[[(10.0, 45.0), (25.0, 55.0), (10.0, 65.0), (-5.0, 55.0), (10.0, 45.0)]]),
    dict(poly_id=4, name="altiplano", category="highland",
         rings=[[(60.0, 10.0), (100.0, 10.0), (80.0, 40.0), (60.0, 10.0)]]),
    dict(poly_id=5, name="crescent", category="concave",
         rings=[[(-140.0, -60.0), (-100.0, -60.0), (-100.0, -20.0), (-140.0, -20.0),
                 (-140.0, -30.0), (-110.0, -30.0), (-110.0, -50.0), (-140.0, -50.0),
                 (-140.0, -60.0)]]),
    dict(poly_id=6, name="atoll", category="holed",
         rings=[[(120.0, -45.0), (160.0, -45.0), (160.0, -15.0), (120.0, -15.0), (120.0, -45.0)],
                [(135.0, -35.0), (145.0, -35.0), (145.0, -25.0), (135.0, -25.0), (135.0, -35.0)]]),
    # MultiPolygon: stored as concatenated rings (even-odd safe since disjoint)
    dict(poly_id=7, name="boreal_twin", category="multi",
         rings=[[(-180.0, 50.0), (-160.0, 50.0), (-160.0, 70.0), (-180.0, 70.0), (-180.0, 50.0)],
                [(-150.0, 50.0), (-130.0, 50.0), (-130.0, 70.0), (-150.0, 70.0), (-150.0, 50.0)]],
         multi=True),
    # raw coords cross the antimeridian (width > 180 when read naively)
    dict(poly_id=8, name="dateline", category="antimeridian",
         rings=[[(170.0, -5.0), (-175.0, -5.0), (-175.0, 15.0), (170.0, 15.0), (170.0, -5.0)]]),
]


def poly_rings(poly: dict) -> list:
    """Rings as float64 arrays, antimeridian-unwrapped (the engine's
    canonical form; reference unwrap:
    vectorutils/__init__.py:2973)."""
    rings = [np.asarray(r, dtype=np.float64) for r in poly["rings"]]
    return predicates.unwrap_antimeridian(rings)


def poly_is_unwrapped(poly: dict) -> bool:
    raw = [np.asarray(r, dtype=np.float64) for r in poly["rings"]]
    return any(r[:, 0].max() - r[:, 0].min() > 180.0 for r in raw)


def poly_inside_sql(poly: dict, x: str, y: str) -> str:
    """Oracle-side boolean: point inside this fixture polygon — the
    same crossing formula the engine's spatial-join refine runs."""
    rings = poly_rings(poly)
    if poly_is_unwrapped(poly):
        x = (f"(CASE WHEN {x} < CAST(0 AS DOUBLE)"
             f" THEN {x} + CAST(360 AS DOUBLE) ELSE {x} END)")
    return predicates.raycast_sql(x, y, rings)


def polygons_df(spark):
    """Polygon fixture as a DataFrame with WKB geometry + bbox cols
    (pop_bbox_cols semantics, vectorattrs/__init__.py:278)."""
    schema = StructType([
        StructField("poly_id", LongType()),
        StructField("name", StringType()),
        StructField("category", StringType()),
        StructField("geometry", BinaryType()),
        StructField("xmin", DoubleType()),
        StructField("ymin", DoubleType()),
        StructField("xmax", DoubleType()),
        StructField("ymax", DoubleType()),
    ])
    rows = []
    for p in POLYGONS:
        rings = poly_rings(p)
        if p.get("multi"):
            geom = wkb.multipolygon_to_wkb([[r] for r in rings])
        else:
            geom = wkb.polygon_to_wkb(rings)
        bb = predicates.ring_bbox(rings)
        rows.append((p["poly_id"], p["name"], p["category"], bytearray(geom),
                     bb[0], bb[1], bb[2], bb[3]))
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------- raster grid
# Synthetic raster (FIXTURES.md §4): origin (-1.0, 52.0), res 0.001
# deg, north-up. value is integer-valued with -99.0 no-data blocks —
# the masking semantics of calc_zonal_band_stats
# (zonalstats/__init__.py:433-445).
GRID_W = 128
GRID_H = 128
GRID_ORIGIN_X = -1.0
GRID_ORIGIN_Y = 52.0
GRID_RES = 0.001
GRID_NODATA = -99.0

# shared SQL: pixel value as a function of (x, y, band)
GRID_VALUE_SQL = (
    "(CASE WHEN (CAST(FLOOR(CAST({x} AS DOUBLE) / CAST(16 AS DOUBLE)) AS BIGINT)"
    " + CAST(FLOOR(CAST({y} AS DOUBLE) / CAST(16 AS DOUBLE)) AS BIGINT)) % 7 = 0"
    " THEN CAST(-99 AS DOUBLE)"
    " ELSE CAST(({x} * 31 + {y} * 17 + {band} * 101) % 1000 AS DOUBLE) END)"
)

GRID_DUCKDB_SQL = (
    "SELECT CAST(a.i AS BIGINT) AS x, CAST(b.i AS BIGINT) AS y, 1 AS band, "
    + GRID_VALUE_SQL.format(x="a.i", y="b.i", band="1") + " AS value "
    + f"FROM generate_series(0, {GRID_W - 1}) a(i), "
    + f"generate_series(0, {GRID_H - 1}) b(i)"
)


def grid_df(spark, bands=(1,)):
    """Long-format pixel table built from spark.range (no data files
    — the create_blank_img analog, python/src/imageutils.cpp:2389)."""
    # 8 partitions: the fixture is 16k rows — 32 scheduler tasks of
    # 512 rows each would cost more than the compute
    base = spark.range(0, GRID_W * GRID_H, 1, 8).selectExpr(
        f"CAST(id % {GRID_W} AS BIGINT) AS x",
        f"CAST(FLOOR(id / {GRID_W}.0) AS BIGINT) AS y",
    )
    dfs = []
    for b in bands:
        dfs.append(base.selectExpr(
            "x", "y", f"{b} AS band",
            GRID_VALUE_SQL.format(x="x", y="y", band=b) + " AS value",
        ))
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


# Small polygons inside the grid extent (lon [-1,-0.872], lat
# [51.872,52]) for rasterization tests — the 6-polygon zonal fixture
# shape at raster scale (reference fixture:
# data/zonalstats/sen2_20210527_aber_polygons.geojson). gp3 overlaps
# gp1 to exercise the burn-order rule (highest id wins).
GRID_POLYGONS = [
    dict(poly_id=1, name="gp_rect",
         rings=[[(-0.98, 51.95), (-0.95, 51.95), (-0.95, 51.98),
                 (-0.98, 51.98), (-0.98, 51.95)]]),
    dict(poly_id=2, name="gp_tri",
         rings=[[(-0.94, 51.90), (-0.90, 51.90), (-0.92, 51.94),
                 (-0.94, 51.90)]]),
    dict(poly_id=3, name="gp_overlap",
         rings=[[(-0.96, 51.96), (-0.93, 51.96), (-0.93, 51.99),
                 (-0.96, 51.99), (-0.96, 51.96)]]),
]


def grid_value_np(x: np.ndarray, y: np.ndarray, band: int) -> np.ndarray:
    """Numpy mirror of GRID_VALUE_SQL."""
    nod = ((np.floor(x / 16.0).astype(np.int64)
            + np.floor(y / 16.0).astype(np.int64)) % 7) == 0
    val = ((x * 31 + y * 17 + band * 101) % 1000).astype(np.float64)
    return np.where(nod, GRID_NODATA, val)


def pixel_center_lonlat(x, y):
    lon = GRID_ORIGIN_X + (np.asarray(x) + 0.5) * GRID_RES
    lat = GRID_ORIGIN_Y - (np.asarray(y) + 0.5) * GRID_RES
    return lon, lat
