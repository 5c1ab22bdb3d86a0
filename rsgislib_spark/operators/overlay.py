"""Layer-level geometric overlay operators.

Re-expresses the reference's geopandas/GEOS overlay family
(vec_lyr_intersection_gp / _difference_gp / _sym_difference_gp /
_identity_gp / _union_gp, python/rsgislib/vectorgeoms/__init__.py:
1292,1344,1396,1450,1505 and the OGR loop variants :2229,2375) as a
Spark plan over WKB geometry columns:

  A ── cover cells (mapInPandas, Arrow) ─┐
                                         ├─ hash join on cell ── bbox
  B ── cover cells ──────────────────────┘  overlap prefilter ──
      dedupe (a_id, b_id) ── per-pair/per-group scanline boolean
      (geometry/overlay.py) in Arrow batches

Scale notes:
- candidate pairs come from the same quadcell equi-join the spatial
  join uses — never a cross join; the bbox prefilter runs JVM-side.
- intersection / sym_difference are per-PAIR: a pure mapInPandas over
  the deduped pair rows (embarrassingly parallel).
- difference needs a's full clipper set: one groupBy(a_id) whose
  groups are "polygons overlapping one polygon" — bounded fan-in.
- Pieces output is a trapezoid partition (exact area), returned as
  MultiPolygon WKB for downstream ops; the reference returns dissolved
  GEOS geometries — a documented representation divergence (areas and
  coverage are identical; tests assert area equality).
- Coordinates are treated as PLANAR: antimeridian-crossing polygons
  must be unwrapped first (predicates.unwrap_antimeridian, the same
  ingest step the spatial join uses) — identical caveat to the
  reference's geopandas overlays.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..cells import quadcell
from ..geometry import overlay as geom_overlay
from ..geometry import predicates, wkb

PAIR_SCHEMA = ("a_id BIGINT, b_id BIGINT, area DOUBLE, n_pieces INT, "
               "pieces BINARY")
DIFF_SCHEMA = "a_id BIGINT, area DOUBLE, n_pieces INT, pieces BINARY"


def _pieces_wkb(pieces: list) -> bytes | None:
    if not pieces:
        return None
    return wkb.multipolygon_to_wkb([[p] for p in pieces])


def _cover_side(df: DataFrame, id_col: str, geom_col: str, res: int,
                prefix: str) -> DataFrame:
    """(id, geom) → one row per cover cell with bbox columns. The
    Python loop is over POLYGONS (the small side of every overlay),
    inside Arrow batches — pages never pass through here."""
    def gen(batches):
        for pdf in batches:
            ids, cells, geoms = [], [], []
            bx0, by0, bx1, by1 = [], [], [], []
            for pid, g in zip(pdf[id_col], pdf[geom_col]):
                rings = wkb.wkb_to_rings(bytes(g))
                xmin, ymin, xmax, ymax = predicates.ring_bbox(rings)
                for c in quadcell.cover_bbox(xmin, ymin, xmax, ymax,
                                             res).tolist():
                    ids.append(pid)
                    cells.append(c)
                    geoms.append(bytes(g))
                    bx0.append(xmin)
                    by0.append(ymin)
                    bx1.append(xmax)
                    by1.append(ymax)
            yield pd.DataFrame({
                f"{prefix}_id": pd.array(ids, dtype="int64"),
                "cell": pd.array(cells, dtype="int64"),
                f"{prefix}_geom": geoms,
                f"{prefix}_xmin": bx0, f"{prefix}_ymin": by0,
                f"{prefix}_xmax": bx1, f"{prefix}_ymax": by1,
            })

    return df.select(id_col, geom_col).mapInPandas(
        gen,
        schema=(f"{prefix}_id BIGINT, cell BIGINT, {prefix}_geom BINARY, "
                f"{prefix}_xmin DOUBLE, {prefix}_ymin DOUBLE, "
                f"{prefix}_xmax DOUBLE, {prefix}_ymax DOUBLE"),
    )


def candidate_pairs(a: DataFrame, b: DataFrame, res: int = 6,
                    id_a: str = "a_id", geom_a: str = "geometry",
                    id_b: str = "b_id", geom_b: str = "geometry"
                    ) -> DataFrame:
    """Distinct (a_id, b_id, a_geom, b_geom) whose cell covers touch
    and whose bboxes overlap — the filter stage of every overlay.

    The covers are taken from the raw planar bbox, not from the
    spatial join's polygon pass: that pass unwraps rings wider than
    180°, which would move a wide planar polygon's cover off its
    geometry. The b cover is always broadcast: a mapInPandas output
    has no size estimate for Spark to plan by."""
    ac = _cover_side(a, id_a, geom_a, res, "a")
    bc = F.broadcast(_cover_side(b, id_b, geom_b, res, "b"))
    pairs = (
        ac.join(bc, "cell")
        .where(
            (F.col("a_xmin") <= F.col("b_xmax"))
            & (F.col("a_xmax") >= F.col("b_xmin"))
            & (F.col("a_ymin") <= F.col("b_ymax"))
            & (F.col("a_ymax") >= F.col("b_ymin"))
        )
        .groupBy("a_id", "b_id")
        .agg(F.first("a_geom").alias("a_geom"),
             F.first("b_geom").alias("b_geom"))
    )
    return pairs


def _pair_op(pairs: DataFrame, op: str, keep_empty: bool) -> DataFrame:
    def gen(batches):
        for pdf in batches:
            rows = []
            for aid, bid, ga, gb in zip(pdf["a_id"], pdf["b_id"],
                                        pdf["a_geom"], pdf["b_geom"]):
                pieces, area = geom_overlay.boolean_pieces(
                    [wkb.wkb_to_rings(bytes(ga))],
                    [wkb.wkb_to_rings(bytes(gb))], op)
                if area == 0.0 and not keep_empty:
                    continue
                rows.append((aid, bid, area, len(pieces),
                             _pieces_wkb(pieces)))
            yield pd.DataFrame(
                rows, columns=["a_id", "b_id", "area", "n_pieces",
                               "pieces"])

    return pairs.mapInPandas(gen, schema=PAIR_SCHEMA)


def intersection(a: DataFrame, b: DataFrame, res: int = 6,
                 **kw) -> DataFrame:
    """vec_lyr_intersection_gp: one row per overlapping (a, b) pair
    with the intersection pieces + exact area."""
    return _pair_op(candidate_pairs(a, b, res, **kw), "intersection",
                    keep_empty=False)


def sym_difference(a: DataFrame, b: DataFrame, res: int = 6,
                   id_a: str = "a_id", geom_a: str = "geometry",
                   id_b: str = "b_id", geom_b: str = "geometry") -> DataFrame:
    """vec_lyr_sym_difference_gp — LAYER-level symmetric difference
    (union minus intersection): the a−(union of B) pieces (b_id null)
    plus the b−(union of A) pieces (a_id null). Composing from the two
    multi-clipper differences keeps non-overlapping polygons whole and
    never double-counts multi-clipper overlaps (a per-PAIR sym-diff
    would do both)."""
    kw = dict(id_a=id_a, geom_a=geom_a, id_b=id_b, geom_b=geom_b)
    a_rem = difference(a, b, res, **kw).withColumn(
        "b_id", F.lit(None).cast("bigint"))
    b_rem = (
        difference(b, a, res, id_a=id_b, geom_a=geom_b,
                   id_b=id_a, geom_b=geom_a)
        .withColumnRenamed("a_id", "b_id")
        .withColumn("a_id", F.lit(None).cast("bigint"))
    )
    cols = ["a_id", "b_id", "area", "n_pieces", "pieces"]
    return a_rem.select(*cols).unionByName(b_rem.select(*cols))


def difference(a: DataFrame, b: DataFrame, res: int = 6,
               id_a: str = "a_id", geom_a: str = "geometry",
               id_b: str = "b_id", geom_b: str = "geometry") -> DataFrame:
    """vec_lyr_difference_gp: each a-polygon minus the UNION of every
    b-polygon overlapping it (per-polygon parity in the scanline makes
    overlapping clippers union correctly). a-polygons with no
    overlapping b keep their full geometry/area."""
    pairs = candidate_pairs(a, b, res, id_a=id_a, geom_a=geom_a,
                            id_b=id_b, geom_b=geom_b)

    def per_a(key, pdf):
        ga = bytes(pdf["a_geom"].iloc[0])
        polys_b = [wkb.wkb_to_rings(bytes(g)) for g in pdf["b_geom"]]
        pieces, area = geom_overlay.boolean_pieces(
            [wkb.wkb_to_rings(ga)], polys_b, "difference")
        return pd.DataFrame(
            [(key[0], area, len(pieces), _pieces_wkb(pieces))],
            columns=["a_id", "area", "n_pieces", "pieces"])

    clipped = pairs.groupBy("a_id").applyInPandas(per_a, schema=DIFF_SCHEMA)

    # untouched a's: full polygon passes through (anti-join on a_id).
    # Decode with wkb_to_polygons (NOT wkb_to_rings — flattening a
    # MultiPolygon would treat every ring after the first, including
    # other parts' shells, as a hole) and run the same trapezoid
    # decomposition as the clipped path so area/n_pieces/pieces use
    # one consistent representation.
    def full(batches):
        for pdf in batches:
            rows = []
            for aid, g in zip(pdf[id_a], pdf[geom_a]):
                polys = wkb.wkb_to_polygons(bytes(g))
                pieces, area = geom_overlay.boolean_pieces(
                    polys, [], "union")
                rows.append((aid, area, len(pieces), _pieces_wkb(pieces)))
            yield pd.DataFrame(
                rows, columns=["a_id", "area", "n_pieces", "pieces"])

    hit = pairs.select(F.col("a_id").alias("_hit_id")).distinct()
    untouched = (
        a.join(hit, a[id_a] == F.col("_hit_id"), "left_anti")
        .select(id_a, geom_a)
        .mapInPandas(full, schema=DIFF_SCHEMA)
    )
    return clipped.unionByName(untouched)


def identity(a: DataFrame, b: DataFrame, res: int = 6, **kw) -> DataFrame:
    """vec_lyr_identity_gp: a split by b's boundaries — the a∩b pieces
    (tagged with b_id) plus the a−B remainder (b_id null)."""
    inter = intersection(a, b, res, **kw)
    diff = difference(a, b, res, **kw).withColumn(
        "b_id", F.lit(None).cast("bigint"))
    return inter.unionByName(diff.select("a_id", "b_id", "area",
                                         "n_pieces", "pieces"))


def union_overlay(a: DataFrame, b: DataFrame, res: int = 6,
                  id_a: str = "a_id", geom_a: str = "geometry",
                  id_b: str = "b_id", geom_b: str = "geometry") -> DataFrame:
    """vec_lyr_union_gp (geopandas overlay 'union'): a∩b pieces +
    a−B pieces (b_id null) + b−A pieces (a_id null)."""
    kw = dict(id_a=id_a, geom_a=geom_a, id_b=id_b, geom_b=geom_b)
    inter = intersection(a, b, res, **kw)
    a_rem = difference(a, b, res, **kw).withColumn(
        "b_id", F.lit(None).cast("bigint"))
    b_rem = (
        difference(b, a, res, id_a=id_b, geom_a=geom_b,
                   id_b=id_a, geom_b=geom_a)
        .withColumnRenamed("a_id", "b_id")
        .withColumn("a_id", F.lit(None).cast("bigint"))
    )
    cols = ["a_id", "b_id", "area", "n_pieces", "pieces"]
    return (
        inter.select(*cols)
        .unionByName(a_rem.select(*cols))
        .unionByName(b_rem.select(*cols))
    )
