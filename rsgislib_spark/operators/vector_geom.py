"""Vector-geometry operators over a WKB geometry column.

Reference: pop_bbox_cols / add_geom_bbox_cols
(vectorattrs/__init__.py:278,403), calc_vec_area (:1873),
calc_vec_length (:1906), calc_poly_centroids, explode_vec_lyr,
remove_polygon_holes, vec_lyr_simplify, buffer_vec_geoms,
dissolve_vector and create_alpha_shape
(vectorgeoms/__init__.py:1221,1831,2041,1953,3276,3585,1587).

Two cores carry every operator but the codegen ``point_dist_angle``:

- ``_per_geometry``: one mapInArrow pass that decodes each row's WKB
  once into its polygons and maps them to zero, one or several output
  rows (measures, explode, hole removal, simplify, buffer). The other
  columns ride along by one Arrow ``take`` per batch.
- ``_per_group``: one groupBy + applyInPandas whose group yields
  (pieces, area), finished as (by, area, n_pieces, piece MultiPolygon
  WKB) — dissolve and alpha_shape.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (BinaryType, DoubleType, IntegerType,
                               StructField, StructType)

from ..geometry import delaunay, edit, predicates, wkb
from ..geometry import overlay as boolean


def point_dist_angle(df: DataFrame, lon: str, lat: str,
                     ref_lon: float, ref_lat: float) -> DataFrame:
    """calc_vec_pt_dist_angle (vectorattrs/__init__.py:1939): planar
    distance + bearing (degrees, clockwise from north) from a
    reference point — pure codegen columns."""
    dx = F.col(lon) - F.lit(ref_lon)
    dy = F.col(lat) - F.lit(ref_lat)
    return df.withColumn(
        "dist", F.sqrt(dx * dx + dy * dy)
    ).withColumn(
        "angle", (F.degrees(F.atan2(dx, dy)) + 360.0) % 360.0
    )


def _per_geometry(df: DataFrame, geom_col: str, fn, add: list) -> DataFrame:
    """The one per-geometry pass: a mapInArrow over ``df`` that decodes
    each row's WKB once (``wkb.wkb_to_polygons``). ``fn(polys)`` returns
    the row's output rows, each ``(geometry WKB, or None to keep the
    row's own, *values of the add fields)``: an empty list drops the
    row, several explode it. The input columns are carried by one
    ``take`` of row indices per batch; the output schema is the input
    fields plus ``add``."""
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = StructType(list(df.schema.fields) + add)
    types = to_arrow_schema(StructType(add)).types
    gi = df.columns.index(geom_col)

    def run(batches):
        for b in batches:
            idx, geoms, vals = [], [], []
            for i, blob in enumerate(b.column(gi).to_pylist()):
                for g, *v in fn(wkb.wkb_to_polygons(blob)):
                    idx.append(i)
                    geoms.append(blob if g is None else g)
                    vals.append(v)
            cols = b.take(pa.array(idx, pa.int64())).columns
            cols[gi] = pa.array(geoms, b.column(gi).type)
            cols += [pa.array([v[j] for v in vals], t)
                     for j, t in enumerate(types)]
            yield pa.RecordBatch.from_arrays(cols, names=schema.names)

    return df.mapInArrow(run, schema)


def _doubles(*names: str) -> list:
    return [StructField(n, DoubleType()) for n in names]


def add_geom_stats(df: DataFrame, geom_col: str = "geometry") -> DataFrame:
    """Adds xmin/ymin/xmax/ymax, area, perimeter, centroid_x/y. The
    area is summed over the parts (each part's shell minus its holes);
    the perimeter sums every ring. The centroid is the shell-only
    area-weighted centroid, which for a MultiPolygon is its first
    part's shell."""
    def stats(polys):
        rings = [r for p in polys for r in p]
        return [(None, *predicates.ring_bbox(rings),
                 sum(predicates.shoelace_area(p) for p in polys),
                 predicates.ring_length(rings),
                 *predicates.centroid(polys[0]))]

    return _per_geometry(df, geom_col, stats, _doubles(
        "xmin", "ymin", "xmax", "ymax", "area", "perimeter",
        "centroid_x", "centroid_y"))


def explode_multipolygon(df: DataFrame, geom_col: str = "geometry",
                         part_col: str = "part_id") -> DataFrame:
    """explode_vec_lyr / multi->single (vectorgeoms/__init__.py:1831):
    one output row per polygon part of a MultiPolygon, part_id 0..n-1.
    One map pass — no shuffle."""
    return _per_geometry(
        df, geom_col,
        lambda polys: [(wkb.polygon_to_wkb(r), i) for i, r in enumerate(polys)],
        [StructField(part_col, IntegerType())])


def drop_holes(df: DataFrame, geom_col: str = "geometry",
               area_thres: float | None = None) -> DataFrame:
    """remove_polygon_holes (vectorgeoms/__init__.py:2041): strip
    interior rings (optionally only holes below area_thres)."""
    def keep(hole):
        return (area_thres is not None
                and abs(predicates.shoelace_area([hole])) >= area_thres)

    def fix(polys):
        return [(wkb.polygons_to_wkb(
            [[r[0]] + [h for h in r[1:] if keep(h)] for r in polys]),)]

    return _per_geometry(df, geom_col, fix, [])


def simplify(df: DataFrame, tol: float,
             geom_col: str = "geometry") -> DataFrame:
    """vec_lyr_simplify (vectorgeoms/__init__.py:1953): Douglas-Peucker
    per ring (geometry/edit.py); empty-collapsed geometries dropped."""
    def simp(polys):
        new = [p for p in (edit.simplify_polygon(r, tol) for r in polys) if p]
        return [(wkb.polygons_to_wkb(new),)] if new else []

    return _per_geometry(df, geom_col, simp, [])


def buffer_polygons(df: DataFrame, dist: float, k: int = 16,
                    geom_col: str = "geometry") -> DataFrame:
    """buffer_vec_geoms (vectorgeoms/__init__.py:3276): positive
    Minkowski-disk buffer per row of every part, unioned once
    (geometry/edit.buffer_polygon); adds buf_area and replaces the
    geometry with the piece partition."""
    def buf(polys):
        pieces, area = edit.buffer_polygon(polys, dist, k)
        # no pieces (a k below 3 on a shell of one repeated vertex): an
        # empty MultiPolygon, not the input geometry
        return [(wkb.pieces_to_wkb(pieces) or wkb.multipolygon_to_wkb([]),
                 area)]

    return _per_geometry(df, geom_col, buf, _doubles("buf_area"))


def _per_group(df: DataFrame, by: str, cols: list, fn) -> DataFrame:
    """The group finish of dissolve and alpha_shape: one
    groupBy(by).applyInPandas over (by, *cols), where ``fn(pdf)``
    yields the group's (pieces, area). Output: (by, area, n_pieces,
    geometry as piece MultiPolygon WKB, null for no pieces), ``by``
    typed as in ``df``."""
    def finish(key, pdf):
        pieces, area = fn(pdf)
        return pd.DataFrame(
            [(key[0], float(area), len(pieces), wkb.pieces_to_wkb(pieces))],
            columns=[by, "area", "n_pieces", "geometry"])

    schema = StructType([df.schema[by], *_doubles("area"),
                         StructField("n_pieces", IntegerType()),
                         StructField("geometry", BinaryType())])
    return df.select(by, *cols).groupBy(by).applyInPandas(finish, schema)


def dissolve(df: DataFrame, by: str, geom_col: str = "geometry") -> DataFrame:
    """dissolve_vector (vectorgeoms/__init__.py:3585, geopandas
    dissolve): per attribute value, the geometric UNION of the group's
    polygons (scanline boolean union — overlaps counted once).
    One groupBy shuffle; each group unions locally in numpy."""
    return _per_group(df, by, [geom_col], lambda pdf: boolean.boolean_pieces(
        [wkb.wkb_to_rings(bytes(b)) for b in pdf[geom_col]], [], "union"))


def alpha_shape(df: DataFrame, by: str, alpha: float,
                lon: str = "lon", lat: str = "lat") -> DataFrame:
    """create_alpha_shape (vectorgeoms/__init__.py:1587): per group,
    the alpha shape of its points — Bowyer-Watson Delaunay + circum-
    radius filter + scanline union (geometry/delaunay.py; no
    scipy/alphashape in the sandbox). alpha <= 0 gives the convex
    hull region. One groupBy; each group triangulates locally, the
    same per-feature shape as the reference."""
    return _per_group(df, by, [lon, lat], lambda pdf: delaunay.alpha_shape(
        np.column_stack([pdf[lon].to_numpy(dtype=np.float64),
                         pdf[lat].to_numpy(dtype=np.float64)]), alpha))
