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
- one core, ``_overlay``, builds the pair set ONCE per call and
  returns the union of the parts an operator names: a∩b (a per-pair
  mapInPandas, embarrassingly parallel), a−B and b−A (a groupBy on
  that side's id — bounded fan-in — plus its untouched polygons).
  difference is a−B, sym_difference a−B + b−A, identity a∩b + a−B,
  union all three.
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

import functools

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..cells import quadcell
from ..geometry import overlay as geom_overlay
from ..geometry import predicates, wkb

COLS = ["a_id", "b_id", "area", "n_pieces", "pieces"]
PAIR_SCHEMA = ("a_id BIGINT, b_id BIGINT, area DOUBLE, n_pieces INT, "
               "pieces BINARY")


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
    geometry. Each cover is a lazy localCheckpoint: its Python pass
    runs once per action, whatever reads the pairs, with no job while
    building on exchange-free inputs. The b cover is always broadcast:
    a mapInPandas output has no size estimate for Spark to plan by."""
    ac = _cover_side(a, id_a, geom_a, res, "a").localCheckpoint(eager=False)
    bc = _cover_side(b, id_b, geom_b, res, "b").localCheckpoint(eager=False)
    return (
        ac.join(F.broadcast(bc), "cell")
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


def _pair_op(pairs: DataFrame) -> DataFrame:
    """a∩b: one row per candidate pair whose intersection has area."""
    def gen(batches):
        for pdf in batches:
            rows = []
            for aid, bid, ga, gb in zip(pdf["a_id"], pdf["b_id"],
                                        pdf["a_geom"], pdf["b_geom"]):
                pieces, area = geom_overlay.boolean_pieces(
                    [wkb.wkb_to_rings(bytes(ga))],
                    [wkb.wkb_to_rings(bytes(gb))], "intersection")
                if area == 0.0:
                    continue
                rows.append((aid, bid, area, len(pieces),
                             wkb.pieces_to_wkb(pieces)))
            yield pd.DataFrame(rows, columns=COLS)

    return pairs.mapInPandas(gen, schema=PAIR_SCHEMA)


def _remainder(layer: DataFrame, pairs: DataFrame, side: str,
               id_col: str, geom_col: str) -> DataFrame:
    """a−B (``side`` "a") or b−A ("b"), the other side's id null: each
    polygon minus the UNION of the other side's polygons overlapping it
    (per-polygon parity in the scanline makes overlapping clippers
    union correctly); polygons with no pair keep their full geometry."""
    other = "b" if side == "a" else "a"
    sid = f"{side}_id"
    cols = [sid, "area", "n_pieces", "pieces"]
    schema = f"{sid} BIGINT, area DOUBLE, n_pieces INT, pieces BINARY"

    def clip(key, pdf):
        g = wkb.wkb_to_rings(bytes(pdf[f"{side}_geom"].iloc[0]))
        clippers = [wkb.wkb_to_rings(bytes(c)) for c in pdf[f"{other}_geom"]]
        pieces, area = geom_overlay.boolean_pieces([g], clippers, "difference")
        return pd.DataFrame(
            [(key[0], area, len(pieces), wkb.pieces_to_wkb(pieces))],
            columns=cols)

    clipped = pairs.groupBy(sid).applyInPandas(clip, schema=schema)

    # untouched polygons: the full polygon passes through (anti-join on
    # the id). Decode with wkb_to_polygons (NOT wkb_to_rings — flattening
    # a MultiPolygon would treat every ring after the first, including
    # other parts' shells, as a hole) and run the same trapezoid
    # decomposition as the clipped path so area/n_pieces/pieces use
    # one consistent representation.
    def full(batches):
        for pdf in batches:
            rows = []
            for pid, g in zip(pdf[id_col], pdf[geom_col]):
                polys = wkb.wkb_to_polygons(bytes(g))
                pieces, area = geom_overlay.boolean_pieces(polys, [], "union")
                rows.append((pid, area, len(pieces), wkb.pieces_to_wkb(pieces)))
            yield pd.DataFrame(rows, columns=cols)

    hit = pairs.select(F.col(sid).alias("_hit_id")).distinct()
    untouched = (
        layer.join(hit, layer[id_col] == F.col("_hit_id"), "left_anti")
        .select(id_col, geom_col)
        .mapInPandas(full, schema=schema)
    )
    return (clipped.unionByName(untouched)
            .withColumn(f"{other}_id", F.lit(None).cast("bigint"))
            .select(*COLS))


def _overlay(a: DataFrame, b: DataFrame, res: int, parts: tuple,
             id_a: str = "a_id", geom_a: str = "geometry",
             id_b: str = "b_id", geom_b: str = "geometry") -> DataFrame:
    """The one overlay core: build the candidate pairs once and return
    the union of the asked ``parts`` over them — "a&b" (the per-pair
    intersection pieces), "a-B" and "b-A" (the two remainders)."""
    pairs = candidate_pairs(a, b, res, id_a, geom_a, id_b, geom_b)
    built = {
        "a&b": lambda: _pair_op(pairs),
        "a-B": lambda: _remainder(a, pairs, "a", id_a, geom_a),
        "b-A": lambda: _remainder(b, pairs, "b", id_b, geom_b),
    }
    return functools.reduce(DataFrame.unionByName,
                            [built[p]() for p in parts])


def intersection(a: DataFrame, b: DataFrame, res: int = 6,
                 **kw) -> DataFrame:
    """vec_lyr_intersection_gp: one row per overlapping (a, b) pair
    with the intersection pieces + exact area."""
    return _pair_op(candidate_pairs(a, b, res, **kw))


def difference(a: DataFrame, b: DataFrame, res: int = 6,
               id_a: str = "a_id", geom_a: str = "geometry",
               id_b: str = "b_id", geom_b: str = "geometry") -> DataFrame:
    """vec_lyr_difference_gp: each a-polygon minus the UNION of every
    b-polygon overlapping it. a-polygons with no overlapping b keep
    their full geometry/area."""
    return _overlay(a, b, res, ("a-B",), id_a, geom_a, id_b,
                    geom_b).drop("b_id")


def sym_difference(a: DataFrame, b: DataFrame, res: int = 6,
                   id_a: str = "a_id", geom_a: str = "geometry",
                   id_b: str = "b_id", geom_b: str = "geometry") -> DataFrame:
    """vec_lyr_sym_difference_gp — LAYER-level symmetric difference
    (union minus intersection): the a−B pieces (b_id null) plus the
    b−A pieces (a_id null). The two multi-clipper remainders keep
    non-overlapping polygons whole and never double-count
    multi-clipper overlaps."""
    return _overlay(a, b, res, ("a-B", "b-A"), id_a, geom_a, id_b, geom_b)


def identity(a: DataFrame, b: DataFrame, res: int = 6, **kw) -> DataFrame:
    """vec_lyr_identity_gp: a split by b's boundaries — the a∩b pieces
    (tagged with b_id) plus the a−B remainder (b_id null)."""
    return _overlay(a, b, res, ("a&b", "a-B"), **kw)


def union_overlay(a: DataFrame, b: DataFrame, res: int = 6,
                  id_a: str = "a_id", geom_a: str = "geometry",
                  id_b: str = "b_id", geom_b: str = "geometry") -> DataFrame:
    """vec_lyr_union_gp (geopandas overlay 'union'): a∩b pieces +
    a−B pieces (b_id null) + b−A pieces (a_id null)."""
    return _overlay(a, b, res, ("a&b", "a-B", "b-A"), id_a, geom_a, id_b,
                    geom_b)
