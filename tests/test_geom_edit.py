"""Geometry edits: simplify (Douglas-Peucker), buffer (Minkowski
k-gon disk via scanline union), explode, drop_holes, dissolve."""

import numpy as np
import pytest

from rsgislib_spark.geometry import edit, wkb
from rsgislib_spark.geometry.overlay import polygons_area


def closed(pts):
    a = np.asarray(pts, float)
    return np.vstack([a, a[:1]])


# ------------------------------------------------------------ simplify

def test_dp_removes_collinear_keeps_corners():
    # staircase-free square with redundant midpoints on each edge
    ring = closed([[0, 0], [5, 0], [10, 0], [10, 5], [10, 10],
                   [5, 10], [0, 10], [0, 5]])
    s = edit.simplify_ring(ring, tol=0.5)
    assert {tuple(p) for p in s[:-1]} == {(0, 0), (10, 0), (10, 10), (0, 10)}


def test_dp_respects_tolerance():
    # a bump of height 2 survives tol=1, dies at tol=3
    ring = closed([[0, 0], [5, 2], [10, 0], [10, 10], [0, 10]])
    keep = edit.simplify_ring(ring, tol=1.0)
    assert any((p == [5, 2]).all() for p in keep)
    drop = edit.simplify_ring(ring, tol=3.0)
    assert not any((p == [5, 2]).all() for p in drop)


def test_dp_max_deviation_bound():
    rng = np.random.default_rng(7)
    ang = np.sort(rng.uniform(0, 2 * np.pi, 60))
    rad = 10.0 + rng.uniform(-0.5, 0.5, 60)
    ring = closed(np.column_stack([rad * np.cos(ang), rad * np.sin(ang)]))
    tol = 1.0
    s = edit.simplify_ring(ring, tol)
    # every original vertex is within tol of the simplified boundary
    sv = s[:-1]
    for p in ring[:-1]:
        d = np.inf
        for i in range(len(sv)):
            a, b = sv[i], sv[(i + 1) % len(sv)]
            ab = b - a
            L2 = ab @ ab
            t = 0.0 if L2 == 0 else np.clip((p - a) @ ab / L2, 0, 1)
            d = min(d, np.hypot(*(p - (a + t * ab))))
        assert d <= tol + 1e-9


# -------------------------------------------------------------- buffer

def test_buffer_square_area_bounds():
    sq = [closed([[0, 0], [10, 0], [10, 10], [0, 10]])]
    r, k = 2.0, 32
    pieces, area = edit.buffer_polygon([sq], r, k=k)
    # Minkowski: area = A + perim*r + (disk area); k-gon disk is
    # inscribed in the true disk
    kgon_disk = 0.5 * k * r * r * np.sin(2 * np.pi / k)
    lo = 100 + 40 * r + kgon_disk - 1e-9
    hi = 100 + 40 * r + np.pi * r * r + 1e-9
    assert lo <= area <= hi
    assert sum(abs(edit.boolean.ring_signed_area(p)) for p in pieces) == \
        pytest.approx(area, abs=1e-9)


def test_buffer_contains_original():
    tri = [closed([[0, 0], [8, 0], [4, 6]])]
    _, area = edit.buffer_polygon([tri], 1.0, k=16)
    assert area > polygons_area([tri])


def test_buffer_of_one_repeated_vertex_is_its_kgon():
    """A shell whose vertices are one point buffers to the k-gon disk
    around it: the regular 8-gon of circumradius 1 has area 2*sqrt(2)."""
    pieces, area = edit.buffer_polygon([[[(1, 1)] * 5]], 1.0, 8)
    assert area == pytest.approx(2 * np.sqrt(2), rel=1e-12)
    assert sum(abs(edit.boolean.ring_signed_area(p)) for p in pieces) == \
        pytest.approx(area, rel=1e-12)
    xs = np.concatenate([np.asarray(p)[:, 0] for p in pieces])
    assert (xs.min(), xs.max()) == pytest.approx((0.0, 2.0), abs=1e-12)


# ------------------------------------------------- spark-side operators

def _wkb_layer(spark, rows):
    return spark.createDataFrame(rows, "gid BIGINT, geometry BINARY")


def test_explode_and_drop_holes(spark):
    from rsgislib_spark.operators import vector_geom

    donut = wkb.polygon_to_wkb([
        closed([[0, 0], [10, 0], [10, 10], [0, 10]]),
        closed([[4, 4], [6, 4], [6, 6], [4, 6]]),
    ])
    multi = wkb.multipolygon_to_wkb([
        [closed([[0, 0], [1, 0], [1, 1], [0, 1]])],
        [closed([[5, 5], [7, 5], [7, 7], [5, 7]])],
    ])
    df = _wkb_layer(spark, [(1, donut), (2, multi)])
    parts = vector_geom.explode_multipolygon(df).collect()
    by_gid = {}
    for r in parts:
        by_gid.setdefault(r.gid, []).append(r.part_id)
    assert sorted(by_gid[1]) == [0] and sorted(by_gid[2]) == [0, 1]

    fixed = {r.gid: bytes(r.geometry)
             for r in vector_geom.drop_holes(df).collect()}
    assert polygons_area(wkb.wkb_to_polygons(fixed[1])) == 100.0  # hole gone


def test_spark_simplify_and_buffer(spark):
    from rsgislib_spark.operators import vector_geom

    noisy = wkb.polygon_to_wkb([closed(
        [[0, 0], [5, 0.1], [10, 0], [10, 10], [5, 9.9], [0, 10]])])
    df = _wkb_layer(spark, [(1, noisy)])
    simp = vector_geom.simplify(df, tol=0.5).collect()[0]
    assert len(wkb.wkb_to_rings(bytes(simp.geometry))[0]) == 5  # square+close

    buf = vector_geom.buffer_polygons(df, dist=1.0).collect()[0]
    assert buf.buf_area > 100.0


def test_spark_dissolve_overlap_counted_once(spark):
    from rsgislib_spark.operators import vector_geom

    r1 = wkb.polygon_to_wkb([closed([[0, 0], [10, 0], [10, 10], [0, 10]])])
    r2 = wkb.polygon_to_wkb([closed([[5, 0], [15, 0], [15, 10], [5, 10]])])
    r3 = wkb.polygon_to_wkb([closed([[20, 20], [22, 20], [22, 22], [20, 22]])])
    df = spark.createDataFrame(
        [(7, r1), (7, r2), (9, r3)], "grp BIGINT, geometry BINARY")
    got = {r.grp: r.area
           for r in vector_geom.dissolve(df, by="grp").collect()}
    assert got == {7: 150.0, 9: 4.0}


def test_alpha_shape_core_properties():
    from rsgislib_spark.geometry.delaunay import alpha_shape as ash

    g = np.array([[x, y] for x in range(5) for y in range(5)], float)
    assert ash(g, 0)[1] == 16.0            # convex hull of the grid
    assert ash(g, 1 / 0.8)[1] == 16.0      # unit triangles all kept
    # two distant clusters: tight alpha keeps only intra-cluster area
    c1 = np.array([[0, 0], [1, 0], [0, 1], [1, 1]], float)
    both = np.vstack([c1, c1 + 100.0])
    assert ash(both, 1 / 0.8)[1] == 2.0
    assert ash(both, 0)[1] > 100.0         # hull spans the gap


def test_alpha_shape_spark_groups(spark):
    from rsgislib_spark.operators import vector_geom

    rows = []
    for gid, off in [(1, 0.0), (2, 50.0)]:
        for x in range(4):
            for y in range(4):
                rows.append((gid, off + x, off + y))
    df = spark.createDataFrame(rows, "gid BIGINT, lon DOUBLE, lat DOUBLE")
    out = {r.gid: r.area for r in
           vector_geom.alpha_shape(df, by="gid", alpha=1 / 0.8).collect()}
    assert out == {1: 9.0, 2: 9.0}  # 3x3 unit squares each


def _square(x, y, w):
    return [closed([[x, y], [x + w, y], [x + w, y + w], [x, y + w]])]


def test_add_geom_stats_multipart_area(spark):
    from rsgislib_spark.operators import vector_geom

    multi = wkb.multipolygon_to_wkb([_square(0, 0, 1), _square(5, 5, 2)])
    r = vector_geom.add_geom_stats(_wkb_layer(spark, [(1, multi)])).collect()[0]
    assert r.area == 5.0  # summed over the parts
    assert r.perimeter == 12.0
    assert (r.centroid_x, r.centroid_y) == (0.5, 0.5)  # first part's shell
    assert (r.xmin, r.ymin, r.xmax, r.ymax) == (0.0, 0.0, 7.0, 7.0)


@pytest.mark.parametrize("gap", [10.0, 0.1])
def test_buffer_polygons_every_part(spark, gap):
    from rsgislib_spark.operators import vector_geom

    a, b = _square(0, 0, 1), _square(1 + gap, 0, 2)
    df = _wkb_layer(spark, [(1, wkb.multipolygon_to_wkb([a, b])),
                            (2, wkb.polygon_to_wkb(a)),
                            (3, wkb.polygon_to_wkb(b))])
    got = {r.gid: r.buf_area
           for r in vector_geom.buffer_polygons(df, dist=0.5, k=8).collect()}
    if gap > 2 * 0.5:   # disjoint buffers: the sum of the parts
        assert got[1] == pytest.approx(got[2] + got[3], rel=1e-12)
    else:               # overlapping buffers count once
        assert max(got[2], got[3]) < got[1] < got[2] + got[3] - 1e-9


def test_buffer_polygons_of_one_repeated_vertex(spark):
    """The k-gon is written, not an empty MultiPolygon."""
    from rsgislib_spark.operators import vector_geom

    df = _wkb_layer(spark, [(1, wkb.polygon_to_wkb([[(1.0, 1.0)] * 5]))])
    (row,) = vector_geom.buffer_polygons(df, dist=1.0, k=8).collect()
    assert row.buf_area == pytest.approx(2 * np.sqrt(2), rel=1e-12)
    polys = wkb.wkb_to_polygons(bytes(row.geometry))
    assert polys
    assert polygons_area(polys) == pytest.approx(row.buf_area, rel=1e-12)


def test_explode_quoted_column_name(spark):
    from rsgislib_spark.operators import vector_geom

    multi = wkb.multipolygon_to_wkb([_square(0, 0, 1), _square(5, 5, 2)])
    df = spark.createDataFrame([(3, multi)], "`page id` BIGINT, geometry BINARY")
    out = vector_geom.explode_multipolygon(df).collect()
    assert sorted((r["page id"], r.part_id) for r in out) == [(3, 0), (3, 1)]


_D = "double"
_GEOM_IN = [("gid", "bigint"), ("name", "string"), ("geometry", "binary")]
_GROUP_OUT = [("area", _D), ("n_pieces", "int"), ("geometry", "binary")]


@pytest.mark.parametrize("op, want", [
    ("add_geom_stats", _GEOM_IN + [(c, _D) for c in (
        "xmin", "ymin", "xmax", "ymax", "area", "perimeter",
        "centroid_x", "centroid_y")]),
    ("explode_multipolygon", _GEOM_IN + [("part_id", "int")]),
    ("drop_holes", _GEOM_IN),
    ("simplify", _GEOM_IN),
    ("buffer_polygons", _GEOM_IN + [("buf_area", _D)]),
    ("dissolve", [("name", "string")] + _GROUP_OUT),
    ("alpha_shape", [("gid", "bigint")] + _GROUP_OUT),
])
def test_vector_geom_output_schemas(spark, op, want):
    from rsgislib_spark.operators import vector_geom as vg

    df = spark.createDataFrame(
        [(1, "a", wkb.polygon_to_wkb(_square(0, 0, 1)))],
        "gid BIGINT, name STRING, geometry BINARY")
    pts = spark.createDataFrame([(1, 0.0, 0.0), (1, 1.0, 0.0), (1, 0.0, 1.0)],
                                "gid BIGINT, lon DOUBLE, lat DOUBLE")
    out = {
        "add_geom_stats": lambda: vg.add_geom_stats(df),
        "explode_multipolygon": lambda: vg.explode_multipolygon(df),
        "drop_holes": lambda: vg.drop_holes(df),
        "simplify": lambda: vg.simplify(df, 0.1),
        "buffer_polygons": lambda: vg.buffer_polygons(df, 0.5, k=4),
        "dissolve": lambda: vg.dissolve(df, by="name"),
        "alpha_shape": lambda: vg.alpha_shape(pts, by="gid", alpha=0.0),
    }[op]()
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == want
    assert out.count() == 1
