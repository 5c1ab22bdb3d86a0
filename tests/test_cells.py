"""Cell-index unit tests (numpy + duckdb; Spark only for the
kring_col and cell_col_at parity tests)."""

import duckdb
import numpy as np
import pytest

from rsgislib_spark.cells import quadcell, s2cell

rng = np.random.default_rng(42)
LON = rng.uniform(-180, 179.999, 500)
LAT = rng.uniform(-90, 89.999, 500)


def test_pack_unpack_roundtrip():
    cells = quadcell.cell_np(LON, LAT, 9)
    assert (quadcell.cell_res(int(cells[0]))) == 9
    cx, cy = quadcell.cell_xy(cells)
    assert np.array_equal(quadcell.pack(9, cx, cy), cells)


def test_cell_sql_matches_numpy():
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES "
                + ",".join(f"({x!r}, {y!r})" for x, y in zip(LON.tolist(), LAT.tolist()))
                + ") v(lon, lat)")
    for res in (5, 9, 13):
        got = np.array([r[0] for r in con.execute(
            f"SELECT {quadcell.cell_sql('lon', 'lat', res)} FROM t").fetchall()])
        assert np.array_equal(got, quadcell.cell_np(LON, LAT, res)), res


def test_parent_contains_child():
    child = quadcell.cell_np(LON, LAT, 11)
    parent = quadcell.parent_np(child, 6)
    direct = quadcell.cell_np(LON, LAT, 6)
    assert np.array_equal(parent, direct)


@pytest.mark.parametrize("child, parent", [(11, 6), (9, 9), (20, 0)])
def test_parent_sql_matches_numpy(spark, child, parent):
    cells = quadcell.cell_np(LON, LAT, child)
    df = spark.createDataFrame([(int(c),) for c in cells], "cell BIGINT")
    got = np.array([r[0] for r in df.selectExpr(
        quadcell.parent_sql("cell", child, parent)).collect()])
    assert np.array_equal(got, quadcell.parent_np(cells, parent))


def test_cell_bounds_contain_point():
    cells = quadcell.cell_np(LON, LAT, 8)
    x0, y0, x1, y1 = quadcell.cell_bounds_np(cells)
    assert np.all((LON >= x0) & (LON < x1) & (LAT >= y0) & (LAT < y1))


def test_kring_includes_self_and_neighbours():
    cells = quadcell.cell_np(LON[:10], LAT[:10], 7)
    rings = quadcell.kring_np(cells, 1)
    assert rings.shape[1] == 9
    for i, c in enumerate(cells):
        assert c in rings[i]


def test_kring_wraps_longitude():
    cell = quadcell.cell_np(np.array([-179.9]), np.array([0.0]), 5)
    ring = quadcell.kring_np(cell, 1)[0]
    ring = ring[ring >= 0]
    xs = {int(quadcell.cell_xy(int(c))[0]) for c in ring}
    n = 1 << 5
    assert (n - 1) in xs and 0 in xs and 1 in xs


@pytest.mark.parametrize("res", [3, 5])
def test_kring_col_matches_numpy(spark, res):
    """The Spark k-ring equals kring_np cell for cell, in order, for
    k in {0, 1, 3, 8}: on the longitude-wrap columns (cx = 0 and
    n-1), the pole rows (cy = 0 and n-1) and an interior cell; at
    res 3 the k=8 ring wraps onto itself."""
    n = 1 << res
    xs, ys = [0, 1, n // 2, n - 1], [0, 1, n // 2, n - 2, n - 1]
    cells = np.array([quadcell.pack(res, x, y) for x in xs for y in ys])
    df = spark.createDataFrame([(int(c),) for c in cells], "cell BIGINT")
    for k in (0, 1, 3, 8):
        got = [r.ring for r in df.select(
            quadcell.kring_col("cell", k, res).alias("ring")).collect()]
        want = quadcell.kring_np(cells, k)
        assert got == [[int(c) for c in row if c >= 0] for row in want], k


def test_cell_col_at_matches_numpy(spark):
    """A res read from a column gives the cell ids of cell_np at that
    res, bit for bit, over every resolution a cover may use."""
    res = np.repeat(np.array(quadcell.COVER_RES), len(LON))
    lon, lat = np.tile(LON, len(quadcell.COVER_RES)), np.tile(LAT, len(quadcell.COVER_RES))
    df = spark.createDataFrame(list(zip(lon.tolist(), lat.tolist(), res.tolist())),
                               "lon DOUBLE, lat DOUBLE, res INT")
    got = np.array([r.cell for r in df.select(
        quadcell.cell_col_at("lon", "lat", "res").alias("cell")).collect()])
    want = np.concatenate([quadcell.cell_np(LON, LAT, r) for r in quadcell.COVER_RES])
    assert np.array_equal(got, want)


def test_cover_bbox_covers_points():
    cover = set(quadcell.cover_bbox(-10.0, -5.0, 20.0, 15.0, 7).tolist())
    inside = (LON >= -10) & (LON <= 20) & (LAT >= -5) & (LAT <= 15)
    cells = quadcell.cell_np(LON[inside], LAT[inside], 7)
    assert set(cells.tolist()) <= cover


def test_cover_bbox_antimeridian():
    cover = set(quadcell.cover_bbox(170.0, -5.0, -175.0, 15.0, 6).tolist())
    # points on both sides of the dateline must be covered
    pl = quadcell.cell_np(np.array([175.0, -179.0]), np.array([0.0, 10.0]), 6)
    assert set(pl.tolist()) <= cover


def test_s2_sql_matches_numpy():
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES "
                + ",".join(f"({x!r}, {y!r})" for x, y in zip(LON.tolist(), LAT.tolist()))
                + ") v(lon, lat)")
    got = np.array([r[0] for r in con.execute(
        f"SELECT {s2cell.cell_sql('lon', 'lat', 10)} FROM t").fetchall()])
    want = s2cell.cell_np(LON, LAT, 10)
    # trig may differ by 1 ulp at cell boundaries — allow none here
    # because the fixture points are generic positions
    assert np.array_equal(got, want)


def test_s2_faces_partition_sphere():
    cells = s2cell.cell_np(LON, LAT, 10)
    faces = cells // s2cell.FACE_SHIFT
    assert set(faces.tolist()) <= set(range(6))
    assert len(set(faces.tolist())) == 6  # 500 uniform points hit all faces


def test_s2_parent_rollup():
    child = s2cell.cell_np(LON, LAT, 12)
    parent = s2cell.parent_np(child, 12, 6)
    direct = s2cell.cell_np(LON, LAT, 6)
    assert np.array_equal(parent, direct)


def test_adaptive_cover_res_bounds():
    r_small = quadcell.adaptive_cover_res(0, 0, 0.1, 0.1)
    r_big = quadcell.adaptive_cover_res(-180, -90, 180, 90)
    assert r_small > r_big
    assert r_big in quadcell.COVER_RES and r_small in quadcell.COVER_RES


def test_hex_assignment_is_nearest_center():
    import numpy as np

    from rsgislib_spark.cells import hexgrid

    rng = np.random.default_rng(6)
    x = rng.uniform(-50, 50, 500)
    y = rng.uniform(-50, 50, 500)
    s = 5.0
    q, r = hexgrid.hex_qr_np(x, y, s)
    cx, cy = hexgrid.hex_center_np(q.astype(float), r.astype(float), s)
    d_own = np.hypot(x - cx, y - cy)
    # no neighbouring hex center is strictly closer
    for dq, dr in [(1, 0), (-1, 0), (0, 1), (0, -1), (1, -1), (-1, 1)]:
        nx, ny = hexgrid.hex_center_np((q + dq).astype(float),
                                       (r + dr).astype(float), s)
        assert (np.hypot(x - nx, y - ny) >= d_own - 1e-9).all(), (dq, dr)
    # all points are within one circumradius of their center
    assert (d_own <= s + 1e-9).all()


def test_hex_grid_cells_cover_bbox():
    import numpy as np

    from rsgislib_spark.cells import hexgrid

    cells = hexgrid.hex_grid_cells(-20, -20, 20, 20, size=5.0)
    assert len(cells) > 10
    q = cells // hexgrid.PACK - hexgrid.HALF
    r = cells % hexgrid.PACK - hexgrid.HALF
    cx, cy = hexgrid.hex_center_np(q.astype(float), r.astype(float), 5.0)
    assert (cx >= -20).all() and (cx <= 20).all()
    assert (cy >= -20).all() and (cy <= 20).all()
    # sql/np parity on the centers' own assignment
    q2, r2 = hexgrid.hex_qr_np(cx, cy, 5.0)
    assert (q2 == q).all() and (r2 == r).all()


def test_hex_sql_matches_numpy_on_spark(spark):
    import numpy as np

    from rsgislib_spark.cells import hexgrid

    rng = np.random.default_rng(17)
    rows = [(i, float(rng.uniform(-170, 170)), float(rng.uniform(-85, 85)))
            for i in range(400)]
    df = spark.createDataFrame(rows, "i BIGINT, lon DOUBLE, lat DOUBLE")
    got = {r.i: r.cell for r in df.select(
        "i", hexgrid.hex_cell_col("lon", "lat", 5.0).alias("cell")).collect()}
    lon = np.array([r[1] for r in rows])
    lat = np.array([r[2] for r in rows])
    q, r_ = hexgrid.hex_qr_np(lon, lat, 5.0)
    want = (q + hexgrid.HALF) * hexgrid.PACK + (r_ + hexgrid.HALF)
    assert [got[i] for i in range(400)] == want.tolist()


def test_h3_interop_probe_gated(spark):
    """Engine cell ids are NOT H3 ids (documented non-interop); real
    H3 assignment is probe-gated on the h3 library — raises with
    guidance here, produces genuine H3 ids where the lib exists."""
    from rsgislib_spark.cells import h3interop

    pts = spark.createDataFrame(
        [(0, -0.1278, 51.5074), (1, 2.3522, 48.8566)],
        "pt_id BIGINT, lon DOUBLE, lat DOUBLE")
    if not h3interop.h3_available():
        import pytest as _pytest
        with _pytest.raises(NotImplementedError, match="pip install h3"):
            h3interop.assign_h3(pts, res=7)
        return
    import h3
    out = {r.pt_id: r.h3_cell
           for r in h3interop.assign_h3(pts, res=7).collect()}
    want = {0: int(h3.str_to_int(h3.latlng_to_cell(51.5074, -0.1278, 7))),
            1: int(h3.str_to_int(h3.latlng_to_cell(48.8566, 2.3522, 7)))}
    assert out == want
