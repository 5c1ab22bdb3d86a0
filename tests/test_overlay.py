"""General polygon overlay: scanline boolean core + Spark operators.

Core oracle: an independent convex Sutherland–Hodgman clipper (half-
plane successive clipping + shoelace) — a completely different
algorithm from the scanline trapezoid decomposition under test.
"""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from rsgislib_spark.geometry.overlay import (
    boolean_area, boolean_pieces, polygons_area, ring_signed_area,
)


def rect(x0, y0, x1, y1):
    return [np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], float)]


# ---------------------------------------------------------------- core

def test_rect_rect_all_ops():
    A, B = [rect(0, 0, 10, 10)], [rect(5, 5, 15, 15)]
    assert boolean_area(A, B, "intersection") == 25.0
    assert boolean_area(A, B, "difference") == 75.0
    assert boolean_area(A, B, "union") == 175.0
    assert boolean_area(A, B, "sym_difference") == 150.0


def test_disjoint_and_contained():
    A, B = [rect(0, 0, 4, 4)], [rect(10, 10, 12, 12)]
    assert boolean_area(A, B, "intersection") == 0.0
    assert boolean_area(A, B, "union") == 20.0
    # B inside A
    A, B = [rect(0, 0, 10, 10)], [rect(2, 2, 4, 4)]
    assert boolean_area(A, B, "intersection") == 4.0
    assert boolean_area(A, B, "difference") == 96.0


def test_concave_subject():
    # L-shape: bottom arm (10x4) + left column (4x6) = 64
    L = [[np.array([[0, 0], [10, 0], [10, 4], [4, 4], [4, 10], [0, 10]],
                   float)]]
    R = [rect(2, 2, 8, 8)]
    assert boolean_area(L, R, "intersection") == 20.0
    assert boolean_area(L, R, "difference") == 44.0


def test_polygon_with_hole():
    donut = [[np.asarray(rect(0, 0, 10, 10)[0]),
              np.asarray(rect(3, 3, 7, 7)[0])]]
    Q = [rect(2, 2, 8, 8)]
    # Q∩shell = 36, minus the 16 hole = 20
    assert boolean_area(donut, Q, "intersection") == 20.0
    assert boolean_area(donut, Q, "difference") == 84.0 - 20.0


def test_overlapping_clippers_union():
    # A minus union of two OVERLAPPING b rects (per-polygon parity:
    # even-odd across the pair would wrongly cancel the overlap)
    A = [rect(0, 0, 10, 10)]
    B = [rect(0, 0, 6, 10), rect(4, 0, 8, 10)]
    assert boolean_area(A, B, "difference") == 20.0
    assert boolean_area(A, B, "intersection") == 80.0


def test_pieces_partition_exactly():
    A = [rect(0, 0, 10, 10)]
    B = [rect(5, 0, 15, 10)]
    pieces, area = boolean_pieces(A, B, "intersection")
    assert area == 50.0
    assert sum(abs(ring_signed_area(p)) for p in pieces) == 50.0


# -------------------------------------- hypothesis vs convex S-H oracle

def _convex_clip(subject: np.ndarray, clipper: np.ndarray) -> np.ndarray:
    """Independent oracle: Sutherland–Hodgman against a CCW convex
    clipper (half-plane at each clipper edge)."""
    out = subject
    n = len(clipper)
    for i in range(n):
        a, b = clipper[i], clipper[(i + 1) % n]
        if len(out) == 0:
            break
        res = []
        m = len(out)
        for j in range(m):
            p, c = out[j - 1], out[j]
            side = lambda q: (b[0] - a[0]) * (q[1] - a[1]) - \
                (b[1] - a[1]) * (q[0] - a[0])
            sp, sc = side(p), side(c)
            if sc >= 0:
                if sp < 0:
                    t = sp / (sp - sc)
                    res.append(p + t * (c - p))
                res.append(c)
            elif sp >= 0:
                t = sp / (sp - sc)
                res.append(p + t * (c - p))
        out = np.array(res) if res else np.empty((0, 2))
    return out


def _shoelace(pts: np.ndarray) -> float:
    if len(pts) < 3:
        return 0.0
    x, y = pts[:, 0], pts[:, 1]
    return 0.5 * abs(float(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y)))


def _convex_poly(cx, cy, r, rot, n):
    ang = rot + np.linspace(0.0, 2 * np.pi, n, endpoint=False)
    return np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])


@settings(max_examples=60, deadline=None)
@given(
    cx=st.floats(-5, 5), cy=st.floats(-5, 5), r1=st.floats(1, 6),
    r2=st.floats(1, 6), rot1=st.floats(0, 6.28), rot2=st.floats(0, 6.28),
    n1=st.integers(3, 8), n2=st.integers(3, 8),
)
def test_convex_intersection_matches_sh_oracle(cx, cy, r1, r2, rot1, rot2,
                                               n1, n2):
    pa = _convex_poly(0.0, 0.0, r1, rot1, n1)
    pb = _convex_poly(cx, cy, r2, rot2, n2)
    got = boolean_area([[pa]], [[pb]], "intersection")
    want = _shoelace(_convex_clip(pa, pb))
    assert got == pytest.approx(want, abs=1e-9)
    # set identities (union/sym from independent predicates)
    aa, ab = _shoelace(pa), _shoelace(pb)
    assert boolean_area([[pa]], [[pb]], "union") == \
        pytest.approx(aa + ab - want, abs=1e-9)
    assert boolean_area([[pa]], [[pb]], "sym_difference") == \
        pytest.approx(aa + ab - 2 * want, abs=1e-9)
    assert boolean_area([[pa]], [[pb]], "difference") == \
        pytest.approx(aa - want, abs=1e-9)


# ------------------------------------------------------ Spark operators

def _layer(spark, rows):
    """rows: (id, x0, y0, x1, y1) → (id, geometry) DataFrame."""
    import pandas as pd

    from rsgislib_spark.geometry import wkb

    data = [(int(i), wkb.polygon_to_wkb(rect(x0, y0, x1, y1)))
            for i, x0, y0, x1, y1 in rows]
    return spark.createDataFrame(data, "a_id BIGINT, geometry BINARY")


def test_spark_intersection_and_difference(spark):
    from rsgislib_spark.operators import overlay as ovl

    a = _layer(spark, [(1, 0, 0, 10, 10), (2, 20, 20, 30, 30),
                       (3, 50, 50, 60, 60)])
    b = _layer(spark, [(7, 5, 5, 15, 15), (8, 25, 25, 28, 28)]) \
        .withColumnRenamed("a_id", "b_id")
    inter = {(r.a_id, r.b_id): r.area
             for r in ovl.intersection(a, b, res=6).collect()}
    assert inter == {(1, 7): 25.0, (2, 8): 9.0}
    diff = {r.a_id: r.area for r in ovl.difference(a, b, res=6).collect()}
    # poly 3 has no clipper: full area passes through untouched
    assert diff == {1: 75.0, 2: 91.0, 3: 100.0}


def test_spark_overlay_wide_planar_polygon(spark):
    """A polygon wider than 180° that does not cross the antimeridian
    is planar input like any other: its cover and bbox must contain
    it, so clippers anywhere under it are paired with it."""
    from rsgislib_spark.operators import overlay as ovl

    a = _layer(spark, [(1, -100, 0, 100, 10)])
    b = _layer(spark, [(7, -50, 2, -40, 12), (8, 0, 0, 10, 10)]) \
        .withColumnRenamed("a_id", "b_id")
    inter = {(r.a_id, r.b_id): r.area
             for r in ovl.intersection(a, b, res=6).collect()}
    assert inter == {(1, 7): 80.0, (1, 8): 100.0}
    diff = {r.a_id: r.area for r in ovl.difference(a, b, res=6).collect()}
    assert diff == {1: 2000.0 - 180.0}


def test_spark_union_and_identity_areas(spark):
    """One overlapping pair plus one untouched polygon on each side:
    every part of union and identity is checked by its ids."""
    from rsgislib_spark.operators import overlay as ovl

    a = _layer(spark, [(1, 0, 0, 10, 10), (3, 40, 40, 44, 44)])
    b = _layer(spark, [(2, 5, 0, 15, 10), (4, 60, 60, 62, 62)]) \
        .withColumnRenamed("a_id", "b_id")
    for op, want in (
        (ovl.union_overlay, {(1, 2): 50.0, (1, None): 50.0, (3, None): 16.0,
                             (None, 2): 50.0, (None, 4): 4.0}),
        (ovl.identity, {(1, 2): 50.0, (1, None): 50.0, (3, None): 16.0}),
    ):
        rows = op(a, b, res=6).collect()
        assert {(r.a_id, r.b_id): r.area for r in rows} == want, op
        assert len(rows) == len(want), op


def test_spark_overlay_one_cover_pass_per_action(spark, monkeypatch):
    """Each overlay builds its candidate pairs once: building starts no
    job, and each layer's cover rows are emitted once per action
    however many parts (a∩b, a−B, b−A) read the pairs."""
    from rsgislib_spark.cells import quadcell
    from rsgislib_spark.operators import overlay as ovl

    boxes = {"a": [(i, i, 0, i + 5, 5) for i in range(0, 40, 2)],
             "b": [(i, i, 0, i + 5, 5) for i in range(1, 40, 2)]}
    a = _layer(spark, boxes["a"])
    b = _layer(spark, boxes["b"]).withColumnRenamed("a_id", "b_id")
    one_pass = {side: sum(len(quadcell.cover_bbox(x0, y0, x1, y1, 6))
                          for _, x0, y0, x1, y1 in rows)
                for side, rows in boxes.items()}
    accs = {side: spark.sparkContext.accumulator(0) for side in boxes}
    cover_side = ovl._cover_side

    def counted(df, id_col, geom_col, res, prefix):
        out = cover_side(df, id_col, geom_col, res, prefix)
        acc = accs[prefix]

        def gen(batches):
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf

        return out.mapInPandas(gen, schema=out.schema)

    monkeypatch.setattr(ovl, "_cover_side", counted)
    sc = spark.sparkContext
    for op in (ovl.difference, ovl.sym_difference, ovl.identity,
               ovl.union_overlay):
        for acc in accs.values():
            acc.value = 0
        group = f"overlay_build_{op.__name__}"
        sc.setJobGroup(group, "overlay build")
        try:
            out = op(a, b, res=6)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], group
        out.collect()
        assert {s: acc.value for s, acc in accs.items()} == one_pass, group


@settings(max_examples=25, deadline=None)
@given(st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 40),
              st.integers(1, 12), st.integers(1, 12)),
    min_size=1, max_size=6))
def test_rect_set_union_matches_grid_oracle(rects):
    """Union of arbitrary overlapping INTEGER rectangles vs a dumb
    per-cell rasterization oracle — exercises parity bookkeeping with
    many coincident/crossing edges."""
    polys = [rect(x0, y0, x0 + w, y0 + h) for x0, y0, w, h in rects]
    got = boolean_area(polys, [], "union")
    M = np.zeros((60, 60), dtype=bool)
    for x0, y0, w, h in rects:
        M[y0:y0 + h, x0:x0 + w] = True
    assert got == float(M.sum())


@settings(max_examples=25, deadline=None)
@given(st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 40),
              st.integers(1, 12), st.integers(1, 12)),
    min_size=1, max_size=4),
    st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 40),
              st.integers(1, 12), st.integers(1, 12)),
    min_size=1, max_size=4))
def test_rect_set_boolean_ops_match_grid_oracle(ra, rb):
    A = [rect(x0, y0, x0 + w, y0 + h) for x0, y0, w, h in ra]
    B = [rect(x0, y0, x0 + w, y0 + h) for x0, y0, w, h in rb]
    MA = np.zeros((60, 60), dtype=bool)
    MB = np.zeros((60, 60), dtype=bool)
    for x0, y0, w, h in ra:
        MA[y0:y0 + h, x0:x0 + w] = True
    for x0, y0, w, h in rb:
        MB[y0:y0 + h, x0:x0 + w] = True
    assert boolean_area(A, B, "intersection") == float((MA & MB).sum())
    assert boolean_area(A, B, "difference") == float((MA & ~MB).sum())
    assert boolean_area(A, B, "sym_difference") == float((MA ^ MB).sum())
    assert boolean_area(A, B, "union") == float((MA | MB).sum())


def test_spark_sym_difference_layer_semantics(spark):
    from rsgislib_spark.operators import overlay as ovl

    # a1 overlaps b1; a2 and b2 are untouched — layer sym-diff keeps
    # both whole and counts the overlap zero times
    a = _layer(spark, [(1, 0, 0, 10, 10), (2, 40, 40, 44, 44)])
    b = _layer(spark, [(7, 5, 0, 15, 10), (8, 60, 60, 62, 62)]) \
        .withColumnRenamed("a_id", "b_id")
    rows = ovl.sym_difference(a, b, res=6).collect()
    total = sum(r.area for r in rows)
    # (100-50) + (100-50) + 16 + 4
    assert total == 120.0
    by_a = {r.a_id: r.area for r in rows if r.a_id is not None}
    by_b = {r.b_id: r.area for r in rows if r.b_id is not None}
    assert by_a == {1: 50.0, 2: 16.0}
    assert by_b == {7: 50.0, 8: 4.0}
