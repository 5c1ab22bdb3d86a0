"""Raster operators vs numpy oracles (reference semantics:
pixel-center burn, floor point lookup, focal windows)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from rsgislib_spark.data import fixtures
from rsgislib_spark.geometry import predicates
from rsgislib_spark.operators import raster, spatial_join as sj

OX, OY, RES = fixtures.GRID_ORIGIN_X, fixtures.GRID_ORIGIN_Y, fixtures.GRID_RES


@pytest.fixture(scope="module")
def grid(spark):
    g = fixtures.grid_df(spark, bands=(1,))
    g.persist(); g.count()
    return g


@pytest.fixture(scope="module")
def value_mat():
    xs, ys = np.meshgrid(np.arange(128), np.arange(128), indexing="xy")
    return fixtures.grid_value_np(xs, ys, 1)  # [y, x] indexed via ys rows


def test_grid_values_match_numpy(grid):
    rows = grid.collect()
    for r in rows[:500]:
        assert r.value == fixtures.grid_value_np(
            np.array([r.x]), np.array([r.y]), 1)[0]


def test_rasterize_pixel_center_rule(spark, grid):
    got = {(r.x, r.y): r.burn for r in raster.rasterize_polygons(
        grid, fixtures.GRID_POLYGONS, OX, OY, RES).collect()}
    xs = np.arange(128)
    lon = OX + (xs + 0.5) * RES
    for p in fixtures.GRID_POLYGONS:
        rings = [np.asarray(r, dtype=np.float64) for r in p["rings"]]
        for y in range(0, 128, 7):
            lat = OY - (y + 0.5) * RES
            inside = predicates.point_in_rings(lon, np.full(128, lat), rings)
            for x in np.nonzero(inside)[0]:
                assert (int(x), y) in got
                assert got[(int(x), y)] >= p["poly_id"]  # higher id may win


def _burn_zones():
    """A banded, slabbed star, a square with a hole that overlaps it
    and a triangle over both — inside the fixture grid."""
    rng = np.random.default_rng(3)
    ang = np.sort(rng.uniform(0, 2 * np.pi, 300))
    rad = rng.uniform(0.01, 0.05, 300)
    star = np.stack([-0.94 + rad * np.cos(ang), 51.94 + rad * np.sin(ang)], 1)
    square = [(-0.99, 51.89), (-0.91, 51.89), (-0.91, 51.97), (-0.99, 51.97),
              (-0.99, 51.89)]
    hole = [(-0.97, 51.91), (-0.93, 51.91), (-0.93, 51.95), (-0.97, 51.95),
            (-0.97, 51.91)]
    tri = [(-0.96, 51.88), (-0.89, 51.93), (-0.95, 51.99), (-0.96, 51.88)]
    return [dict(poly_id=4, rings=[np.vstack([star, star[:1]])]),
            dict(poly_id=2, rings=[square, hole]),
            dict(poly_id=7, rings=[tri])]


@pytest.mark.parametrize("path", ["codegen", "edges"])
def test_rasterize_two_bands_both_refines(spark, monkeypatch, path):
    """The burn is a spatial join of the pixel centres: on either
    refine, a two-band grid burns each pixel once with the highest id
    whose rings (holes included) hold its centre, as numpy
    point_in_rings says; the plan has no Python node, and building
    the frame runs no Spark job."""
    zones = _burn_zones()
    star = sj.PolygonIndex(zones[:1], res=None)._cover
    assert star["nb"][0].as_py() > 1 and star["ms"][0].as_py() > 1
    monkeypatch.setattr(sj, "_CODEGEN_MAX_EDGES",
                        10 ** 6 if path == "codegen" else 0)
    grid2 = fixtures.grid_df(spark, bands=(1, 2))
    sc = spark.sparkContext
    group = f"rasterize_build_{path}"
    sc.setJobGroup(group, "rasterize_polygons build")
    try:
        burn = raster.rasterize_polygons(grid2, zones, OX, OY, RES)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    plan = burn._jdf.queryExecution().executedPlan().toString()
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, node
    assert ("partial_count" in plan) == (path == "edges")

    xs, ys = np.meshgrid(np.arange(fixtures.GRID_W), np.arange(fixtures.GRID_H))
    lon, lat = fixtures.pixel_center_lonlat(xs.ravel(), ys.ravel())
    want = np.full(lon.shape, -1)
    for p in sorted(zones, key=lambda q: q["poly_id"]):
        rings = [np.asarray(r, dtype=np.float64) for r in p["rings"]]
        want[predicates.point_in_rings(lon, lat, rings)] = p["poly_id"]
    hit = np.flatnonzero(want >= 0)
    assert set(want[hit]) == {2, 4, 7}
    rows = burn.collect()
    assert len(rows) == len({(r.x, r.y) for r in rows})
    assert {(r.x, r.y): r.burn for r in rows} == {
        (int(xs.ravel()[i]), int(ys.ravel()[i])): int(want[i]) for i in hit}


def test_point_extract_sentinels(spark, grid):
    pts = spark.createDataFrame(
        [(1, OX + 0.0205, OY - 0.0105),   # in image -> px=20, py=10 (data block)
         (2, OX - 0.5, OY - 0.01),        # west of image -> sentinel
         (3, OX + 0.02, OY - 0.2),        # south of image -> sentinel
         (4, OX + 0.0005, OY - 0.0005)],  # pixel (0,0): nodata block -> sentinel
        "pt_id BIGINT, lon DOUBLE, lat DOUBLE")
    out = {r.pt_id: r.pix_val for r in raster.extract_point_values(
        pts, grid, OX, OY, RES, band=1, out_no_data=-9999.0,
        no_data_val=fixtures.GRID_NODATA).collect()}
    want_in = fixtures.grid_value_np(np.array([20]), np.array([10]), 1)[0]
    assert out[1] == want_in
    assert out[2] == -9999.0 and out[3] == -9999.0
    assert out[4] == -9999.0  # (0,0) block is nodata ((0+0)%7==0)


def test_focal_mean_matches_numpy(spark, grid, value_mat):
    got = {(r.x, r.y): r.focal for r in
           raster.focal_filter(grid, "mean", k=3, tile=64).collect()}
    V = value_mat
    assert len(got) == 128 * 128
    for (x, y) in [(0, 0), (5, 5), (63, 63), (64, 64), (64, 10), (127, 127),
                   (70, 70), (0, 127), (63, 0), (65, 127)]:
        win = V[max(y - 1, 0):y + 2, max(x - 1, 0):x + 2]
        assert got[(x, y)] == pytest.approx(win.mean(), abs=1e-12), (x, y)


def test_focal_other_stats(spark, grid, value_mat):
    for stat, fn in [("min", np.min), ("max", np.max), ("median", np.median)]:
        got = {(r.x, r.y): r.focal for r in
               raster.focal_filter(grid, stat, k=3, tile=64).collect()}
        V = value_mat
        for (x, y) in [(10, 10), (64, 64), (127, 0)]:
            win = V[max(y - 1, 0):y + 2, max(x - 1, 0):x + 2]
            assert got[(x, y)] == pytest.approx(float(fn(win)), abs=1e-12)


def test_mosaic_rules(spark, grid):
    t1 = grid.where("x < 68").withColumn("tile_id", F.lit("A"))
    t2 = (grid.where("x >= 60").withColumn("value", F.col("value") + 5.0)
          .withColumn("tile_id", F.lit("B")))
    tiles = t1.unionByName(t2)
    got_max = {(r.x, r.y): r.value for r in raster.mosaic(tiles, "max").collect()}
    got_first = {(r.x, r.y): r.value
                 for r in raster.mosaic(tiles, "first").collect()}
    base = {(r.x, r.y): r.value for r in grid.collect()}
    for (x, y), v in list(base.items())[::37]:
        if x < 60:
            assert got_max[(x, y)] == v and got_first[(x, y)] == v
        elif x < 68:
            assert got_max[(x, y)] == v + 5.0
            assert got_first[(x, y)] == v  # tile A sorts first
        else:
            assert got_max[(x, y)] == v + 5.0


def test_histogram_counts_sum(spark, grid):
    h = raster.histogram(grid, band=1, lo=-100.0, hi=1000.0, n_bins=11)
    assert h.agg(F.sum("n")).collect()[0][0] == 128 * 128


def test_band_percentile_exact(spark, grid, value_mat):
    got = raster.band_percentile(grid, 1, 0.5).collect()[0].pct_val
    assert got == pytest.approx(np.percentile(value_mat, 50), abs=1e-9)


def test_focal_conv_sobel_matches_numpy(spark, grid, value_mat):
    got = {(r.x, r.y): r.conv for r in
           raster.focal_conv(grid, "sobel_x", tile=64).collect()}
    V = value_mat
    kern = raster.KERNELS["sobel_x"][0]
    P = np.pad(V, 1, constant_values=0.0)  # zero-pad edge semantics
    for (x, y) in [(0, 0), (5, 5), (63, 63), (64, 64), (127, 127),
                   (0, 127), (63, 0), (65, 127), (31, 96)]:
        want = float((P[y:y + 3, x:x + 3] * kern).sum())
        assert got[(x, y)] == pytest.approx(want, abs=1e-9), (x, y)


_FOCAL_OPS = {
    **{f"focal_filter-{s}": lambda g, t, s=s: raster.focal_filter(
        g, s, k=3, tile=t) for s in sorted(raster.FOCAL_STATS)},
    "focal_conv": lambda g, t: raster.focal_conv(g, "gaussian3", tile=t),
    "focal_argmin": lambda g, t: raster.focal_argmin(g, k=3, tile=t),
    "lee_filter": lambda g, t: raster.lee_filter(g, k=3, tile=t),
    "kuwahara_filter": lambda g, t: raster.kuwahara_filter(g, k=5, tile=t),
}


@pytest.mark.parametrize("op", sorted(_FOCAL_OPS))
def test_focal_tiling_invariance(spark, grid, op):
    """The halo makes every focal output independent of the tiling:
    an odd tile (37) gives exactly the tile=64 values, NaN for NaN."""
    def run(tile):
        rows = _FOCAL_OPS[op](grid, tile).collect()
        return {(r.x, r.y): tuple(r)[2:] for r in rows}, len(rows)

    (a, n_a), (b, n_b) = run(64), run(37)
    assert n_a == n_b == len(a) == 128 * 128
    assert a.keys() == b.keys()
    for key, va in a.items():
        np.testing.assert_array_equal(va, b[key], err_msg=str(key))


def test_lee_filter_matches_numpy(spark, grid, value_mat):
    got = {(r.x, r.y): r.lee for r in
           raster.lee_filter(grid, k=3, noise_var=2.0, tile=64).collect()}
    V = value_mat
    for (x, y) in [(5, 5), (64, 64), (0, 0), (127, 127)]:
        win = V[max(y - 1, 0):y + 2, max(x - 1, 0):x + 2]
        m, v = win.mean(), win.var()
        want = m + v / (v + 2.0) * (V[y, x] - m)
        assert got[(x, y)] == pytest.approx(want, rel=1e-12), (x, y)


def test_kuwahara_matches_numpy(spark, grid, value_mat):
    got = {(r.x, r.y): r.kuwahara for r in
           raster.kuwahara_filter(grid, k=5, tile=64).collect()}
    V = value_mat
    P = np.pad(V.astype(float), 2, constant_values=np.nan)
    for (x, y) in [(10, 10), (64, 64), (2, 2), (120, 3), (63, 64)]:
        r, c = y + 2, x + 2  # padded coords of center
        quads = [P[r - 2:r + 1, c - 2:c + 1], P[r - 2:r + 1, c:c + 3],
                 P[r:r + 3, c - 2:c + 1], P[r:r + 3, c:c + 3]]
        ms = [np.nanmean(q) for q in quads]
        vs = [np.nanvar(q) for q in quads]
        want = ms[int(np.argmin(vs))]
        assert got[(x, y)] == pytest.approx(want, rel=1e-12), (x, y)


def test_distance_dense_matches_sparse_and_never_collects(spark, grid):
    # dense path (distributed EDT) == sparse path (broadcast argmin),
    # both capped; the dense path never touches the driver
    sparse = {(r.x, r.y): r.dist for r in raster.distance_to_value(
        grid, target_value=3.0, max_dist=9.0).collect()}
    dense = {(r.x, r.y): r.dist for r in raster.distance_to_value(
        grid, target_value=3.0, max_dist=9.0, dense=True, tile=32).collect()}
    assert set(sparse) == set(dense)
    for key in sparse:
        assert dense[key] == pytest.approx(sparse[key], abs=1e-9), key


def test_focal_argmin_and_coeff_of_var(spark, grid, value_mat):
    got = {(r.x, r.y): (r.min_x, r.min_y, r.min_val) for r in
           raster.focal_argmin(grid, k=3, tile=64).collect()}
    V = value_mat
    for (x, y) in [(5, 5), (64, 64), (0, 0), (127, 127), (63, 64)]:
        xs = np.arange(max(x - 1, 0), min(x + 2, 128))
        ys = np.arange(max(y - 1, 0), min(y + 2, 128))
        sub = V[np.ix_(ys, xs)]
        want = float(np.min(sub))
        mx, my, mv = got[(x, y)]
        assert mv == want
        assert V[my, mx] == want
    cv = {(r.x, r.y): r.focal for r in
          raster.focal_filter(grid, "coeff_of_var", k=3, tile=64).collect()}
    for (x, y) in [(10, 10), (64, 64)]:
        win = V[max(y - 1, 0):y + 2, max(x - 1, 0):x + 2]
        assert cv[(x, y)] == pytest.approx(win.std() / win.mean(), rel=1e-12)


def test_pixels_to_points_centers(spark, grid, value_mat):
    target = 3.0
    got = {(r.x, r.y): (r.lon, r.lat) for r in raster.pixels_to_points(
        grid, target, OX, OY, RES).collect()}
    V = value_mat
    want = {(int(x), int(y)) for y, x in zip(*np.nonzero(V == target))}
    assert set(got) == want
    for (x, y), (lon, lat) in list(got.items())[:20]:
        assert lon == OX + (x + 0.5) * RES
        assert lat == OY - (y + 0.5) * RES


def test_focal_mode_var_matches_numpy(spark):
    # coarse-valued grid so windows have real ties/modes
    rng = np.random.default_rng(21)
    V = rng.integers(0, 4, size=(40, 40)).astype(float)
    rows = [(int(x), int(y), 1, float(V[y, x]))
            for y in range(40) for x in range(40)]
    g = spark.createDataFrame(rows, "x BIGINT, y BIGINT, band INT, value DOUBLE")
    got_mode = {(r.x, r.y): r.focal for r in
                raster.focal_filter(g, "mode", k=3, tile=16).collect()}
    got_var = {(r.x, r.y): r.focal for r in
               raster.focal_filter(g, "var", k=3, tile=16).collect()}
    for (x, y) in [(0, 0), (5, 5), (15, 16), (39, 39), (16, 15), (20, 3)]:
        win = V[max(y - 1, 0):y + 2, max(x - 1, 0):x + 2].ravel()
        vals, counts = np.unique(win, return_counts=True)
        want_mode = float(vals[np.argmax(counts)])  # smallest on ties
        assert got_mode[(x, y)] == want_mode, (x, y)
        assert got_var[(x, y)] == pytest.approx(win.var(), rel=1e-12)
