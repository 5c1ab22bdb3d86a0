"""Spatial join end-to-end vs a driver-side python oracle, on the
pages fixture (FIXTURES.md golden_spatial_join style)."""

import re

import numpy as np
import pyarrow.compute as pc
import pytest
from pyspark.sql import functions as F

from rsgislib_spark.data import fixtures, pages
from rsgislib_spark.functions.geoparse import geoparse
from rsgislib_spark.geometry import predicates
from rsgislib_spark.operators import spatial_join as sj

N = 3000


@pytest.fixture(scope="module")
def pts(spark):
    df = geoparse(pages.pages_df(spark, N)).select("url", "lon", "lat")
    df.persist()
    df.count()
    return df


@pytest.fixture(scope="module")
def oracle_pairs(pts):
    rows = pts.collect()
    px = np.array([r.lon for r in rows])
    py = np.array([r.lat for r in rows])
    urls = [r.url for r in rows]
    pairs = set()
    for p in fixtures.POLYGONS:
        rings = fixtures.poly_rings(p)
        x = np.where(px < 0, px + 360.0, px) if fixtures.poly_is_unwrapped(p) else px
        inside = predicates.point_in_rings(x, py, rings)
        for i in np.nonzero(inside)[0]:
            pairs.add((urls[i], p["poly_id"]))
    return pairs


def test_inner_join_matches_oracle(pts, oracle_pairs):
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS)
    got = {(r.url, r.poly_id)
           for r in sj.spatial_join(pts, idx, how="inner").select("url", "poly_id").collect()}
    assert got == oracle_pairs
    assert len(got) > 50  # fixture sanity: the join is non-trivial


def test_inner_join_at_finer_res_same_result(pts, oracle_pairs):
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS, res=8)
    got = {(r.url, r.poly_id)
           for r in sj.spatial_join(pts, idx, how="inner").select("url", "poly_id").collect()}
    assert got == oracle_pairs


def test_left_join_keeps_unmatched(pts, oracle_pairs):
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS)
    out = sj.spatial_join(pts, idx, how="left")
    matched_urls = {u for (u, _) in oracle_pairs}
    rows = out.collect()
    # every point appears; unmatched have null poly_id
    assert {r.url for r in rows} == {r.url for r in pts.collect()}
    for r in rows:
        if r.url not in matched_urls:
            assert r.poly_id is None


def test_right_join_keeps_empty_polygons(pts, oracle_pairs):
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS)
    rows = sj.spatial_join(pts, idx, how="right").collect()
    matched_polys = {p for (_, p) in oracle_pairs}
    got_polys = {r.poly_id for r in rows}
    assert got_polys == {p["poly_id"] for p in fixtures.POLYGONS}
    for r in rows:
        if r.poly_id not in matched_polys:
            assert r.url is None
    n_matched_rows = sum(1 for r in rows if r.url is not None)
    assert n_matched_rows == len(oracle_pairs)


def test_left_semi_dedupes_fanout(pts, oracle_pairs):
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS)
    out = sj.spatial_join(pts, idx, how="left_semi")
    assert out.count() == len({u for (u, _) in oracle_pairs})


def test_annotate_selection_flag(pts, oracle_pairs):
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS)
    out = sj.annotate_selection(pts, idx)
    matched_urls = {u for (u, _) in oracle_pairs}
    for r in out.collect():
        assert r.sel == (r.url in matched_urls)


def test_count_points_per_polygon(pts, oracle_pairs):
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS)
    got = {r.poly_id: r.n_points
           for r in sj.count_points_per_polygon(pts, idx).collect()}
    want = {}
    for (_, pid) in oracle_pairs:
        want[pid] = want.get(pid, 0) + 1
    for p in fixtures.POLYGONS:
        assert got[p["poly_id"]] == want.get(p["poly_id"], None)


def test_dateline_polygon_gets_hits(pts, oracle_pairs):
    """Antimeridian polygon must match points on BOTH sides of 180."""
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS)
    hits = (
        sj.spatial_join(pts, idx, how="inner")
        .where(F.col("poly_id") == 8).select("lon").collect()
    )
    lons = [r.lon for r in hits]
    # oracle agreement is covered above; here assert both sides occur
    if any(l > 0 for l in lons) or any(l < 0 for l in lons):
        assert {(u, p) for (u, p) in oracle_pairs if p == 8} == {
            (r.url, 8) for r in sj.spatial_join(pts, idx, how="inner")
            .where(F.col("poly_id") == 8).select("url").collect()
        }


def test_adaptive_multires_same_result(pts, oracle_pairs):
    """res=None: per-polygon resolution; results identical, index
    selective — a tiny polygon gets fine cells instead of flooding
    the refine with every page in a 5-degree cell."""
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS, res=None)
    assert len(idx.res_set) >= 2  # fixture mixes tiny and huge polys
    got = {(r.url, r.poly_id)
           for r in sj.spatial_join(pts, idx, how="inner")
           .select("url", "poly_id").collect()}
    assert got == oracle_pairs


def test_adaptive_res_selectivity(spark, pts):
    """A city-block-sized polygon must index at fine res and produce
    far fewer refine candidates than a coarse fixed res would."""
    tiny = [dict(poly_id=99, rings=[np.array(
        [[10.0, 50.0], [10.02, 50.0], [10.02, 50.02], [10.0, 50.02],
         [10.0, 50.0]])])]
    idx = sj.PolygonIndex(tiny, res=None)
    assert idx.polys[0]["res"] >= 11
    coarse = sj.PolygonIndex(tiny, res=5)
    fine_cand = pts.withColumn(
        "cell", sj.quadcell.cell_col("lon", "lat", idx.polys[0]["res"])
    ).join(idx.cover_df(spark), "cell").count()
    coarse_cand = pts.withColumn(
        "cell", sj.quadcell.cell_col("lon", "lat", 5)
    ).join(coarse.cover_df(spark), "cell").count()
    assert fine_cand <= coarse_cand
    assert fine_cand < 20  # essentially only true hits survive


def test_plan_is_broadcast_no_shuffle(pts):
    """The 100 TB posture: small polygon side must broadcast — the
    candidate join must not shuffle the points."""
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS)
    plan = sj.spatial_join(pts, idx, how="inner")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_left_join_pages_schema_nulls_and_duplicates(spark):
    """The join-back must key on the temp unique id, never the payload
    columns: duplicate point rows must NOT fan out against each other,
    NULL payload columns must NOT turn matched rows into unmatched
    (the r1 all-columns equi-join failed both)."""
    p = fixtures.POLYGONS[0]
    rings = fixtures.poly_rings(p)
    inside_lon = float(np.mean([pt[0] for pt in rings[0][:-1]]))
    inside_lat = float(np.mean([pt[1] for pt in rings[0][:-1]]))
    rows = [
        # duplicate matched rows with NULL html payload
        ("http://a/x/1", None, None, inside_lon, inside_lat),
        ("http://a/x/1", None, None, inside_lon, inside_lat),
        # unmatched point, NULL text
        ("http://b/y/2", bytearray(b"<html>"), None, 179.0, -89.0),
    ]
    df = spark.createDataFrame(
        rows, "url STRING, html BINARY, text STRING, lon DOUBLE, lat DOUBLE")
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS)
    out = sj.spatial_join(df, idx, how="left").collect()
    # 2 duplicate matched rows stay 2 rows (x matches possible per row
    # only via DISTINCT polygons), 1 unmatched row keeps null poly_id
    matched = [r for r in out if r.url == "http://a/x/1"]
    per_row_polys = sorted(r.poly_id for r in matched)
    # each duplicate row matches the same polygon set independently —
    # count must be 2 * |polys containing the point|, not 2 x 2
    n_polys = len(set(per_row_polys))
    assert len(matched) == 2 * n_polys
    unmatched = [r for r in out if r.url == "http://b/y/2"]
    assert len(unmatched) == 1 and unmatched[0].poly_id is None

    flagged = sj.annotate_selection(df, idx).collect()
    assert sorted(r.sel for r in flagged) == [False, True, True]


# ------------------------------------------------- DataFrame-native path

@pytest.fixture(scope="module")
def polys_wkb_df(spark):
    from rsgislib_spark.geometry import wkb
    return spark.createDataFrame(
        [(p["poly_id"], bytearray(wkb.polygon_to_wkb(fixtures.poly_rings(p))))
         for p in fixtures.POLYGONS], "poly_id BIGINT, geometry BINARY")


@pytest.mark.parametrize("how", ["inner", "left", "left_semi", "right"])
def test_spatial_join_df_matches_index_path(pts, polys_wkb_df, how):
    """spatial_join_df (distributed polygon pass + edge refine, no
    driver collect) == spatial_join (driver PolygonIndex) for every
    join mode, including the antimeridian polygon."""
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS, res=None)
    a = sj.spatial_join(pts, idx, how=how, pt_id_col="url")
    b = sj.spatial_join_df(pts, polys_wkb_df, how=how, pt_id_col="url")
    cols = sorted(set(a.columns) & set(b.columns))
    key = lambda r: tuple(repr(v) for v in r)  # noqa: E731 — None-safe sort
    assert sorted(map(tuple, a.select(*cols).collect()), key=key) == \
        sorted(map(tuple, b.select(*cols).collect()), key=key)


def test_spatial_join_df_slim_pairs_match(pts, polys_wkb_df):
    """with_payload=False returns the same (id, poly_id) pairs as the
    payload-joined inner form — the final join is a row-preserving
    identity for id-only consumers."""
    full = sj.spatial_join_df(pts, polys_wkb_df, how="inner",
                              pt_id_col="url")
    slim = sj.spatial_join_df(pts, polys_wkb_df, how="inner",
                              pt_id_col="url", with_payload=False)
    assert set(slim.columns) == {"url", "poly_id"}
    assert sorted(map(tuple, full.select("url", "poly_id").collect())) == \
        sorted(map(tuple, slim.collect()))


def test_spatial_join_df_temp_id(pts, polys_wkb_df):
    """Without a natural key the temp monotonically-increasing id is
    materialized (localCheckpoint) and dropped from the output."""
    out = sj.spatial_join_df(pts.drop("url"), polys_wkb_df, how="left")
    assert "__sj_pt_id" not in out.columns
    assert out.count() >= pts.count()  # fan-out >= 1 row per point


def test_spatial_join_df_gate_invariance(pts, polys_wkb_df, no_broadcast):
    """Spark's broadcast thresholds only pick a join strategy: with both
    at -1 the cover and the edge table are joined by shuffle and the
    pairs are identical."""
    a = sorted(map(tuple, sj.spatial_join_df(pts, polys_wkb_df, pt_id_col="url")
                   .select("url", "poly_id").collect()))
    with no_broadcast():
        b = sj.spatial_join_df(pts, polys_wkb_df, pt_id_col="url")
        plan = _plan(b)
        assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan
        assert a == sorted(map(tuple, b.select("url", "poly_id").collect()))


def _build_jobs(spark, group, build) -> list:
    """Run ``build`` in a job group; the ids of the Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "spatial join build")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_join_builds_start_no_job(spark, pts, polys_wkb_df, monkeypatch):
    """With a natural key, building a join frame runs no Spark job:
    spatial_join_df for every how (the polygon pass is checkpointed
    lazily and the probe resolutions are read inside the action), and
    spatial_join on both refine paths. A polygon frame whose plan holds
    an exchange is the exception: the lazy checkpoint takes its RDD
    from the adaptive plan, which runs that shuffle stage."""
    for how in sj._HOWS:
        group = f"sjoin_df_build_{how}"
        assert _build_jobs(spark, group, lambda: sj.spatial_join_df(
            pts, polys_wkb_df, how=how, pt_id_col="url")) == [], group
    group = "sjoin_df_build_repartitioned"
    assert len(_build_jobs(spark, group, lambda: sj.spatial_join_df(
        pts, polys_wkb_df.repartition(3), pt_id_col="url"))) == 1
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS)
    for limit in (10 ** 6, 0):  # codegen CASE, edge join
        monkeypatch.setattr(sj, "_CODEGEN_MAX_EDGES", limit)
        for how in sj._HOWS:
            group = f"sjoin_build_{limit}_{how}"
            assert _build_jobs(spark, group, lambda: sj.spatial_join(
                pts, idx, how=how, pt_id_col="url")) == [], group


def test_spatial_join_df_one_pass_per_action(spark, pts, polys_wkb_df, monkeypatch):
    """The polygon pass runs once per polygon, inside the first action,
    and both the cover and the edge branch read its checkpoint."""
    acc = spark.sparkContext.accumulator(0)
    pass_batch = sj._pass_batch

    def counted(batch, res, max_cells):
        acc.add(batch.num_rows)
        return pass_batch(batch, res, max_cells)

    monkeypatch.setattr(sj, "_pass_batch", counted)
    out = sj.spatial_join_df(pts, polys_wkb_df, how="left", pt_id_col="url")
    assert acc.value == 0
    out.count()
    assert acc.value == len(fixtures.POLYGONS)


def test_huge_point_side_is_never_broadcast(spark, polys_wkb_df, tmp_path):
    """Plan only: a point frame Catalyst sizes as huge is never under a
    BroadcastExchange; the polygon side, read from a file Catalyst can
    size, is the one broadcast."""
    polys_wkb_df.write.parquet(str(tmp_path / "polys"))
    polys = spark.read.parquet(str(tmp_path / "polys"))
    huge = spark.range(10 ** 10).selectExpr(
        "id AS pt_id", "CAST(id % 360 AS DOUBLE) - 180 AS lon",
        "CAST(id % 180 AS DOUBLE) - 90 AS lat")
    for how in sj._HOWS:
        lines = _plan(sj.spatial_join_df(huge, polys, how=how,
                                         pt_id_col="pt_id")).splitlines()
        assert any("BroadcastExchange" in ln for ln in lines), how
        depth = [len(ln) - len(ln.lstrip(" :+-")) for ln in lines]
        for i, ln in enumerate(lines):
            if "BroadcastExchange" not in ln:
                continue
            j = i + 1
            while j < len(lines) and depth[j] > depth[i]:
                assert "Range" not in lines[j], (how, lines[j])
                j += 1


def test_spatial_join_df_unsized_polygons_plan(spark, pts, polys_wkb_df):
    """A polygon frame Catalyst cannot size (this RDD-backed list) is
    never broadcast at planning time: the edge join is planned as a
    sort-merge join. AQE broadcasts its polygon side by the size of the
    materialized stage unless most of that stage's partitions are
    empty: 8 polygons over 8 shuffle partitions are broadcast, over 32
    (the session default) they are not. The point side, which Catalyst
    can size, is the broadcast side of the cover join."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    for parts, smj_after in (("8", 0), ("32", 1)):
        spark.conf.set(key, parts)
        try:
            out = sj.spatial_join_df(pts, polys_wkb_df, pt_id_col="url",
                                     with_payload=False)
            out.collect()
        finally:
            spark.conf.set(key, old)
        # the outer adaptive plan's two halves (a cached input nests its own)
        final, initial = re.split(r"(?m)^\+- == Initial Plan ==", _plan(out))
        assert initial.count("SortMergeJoin") == 1, initial
        assert final.count("SortMergeJoin") == smj_after, final
        cover_join = [ln for ln in final.splitlines() if "BroadcastHashJoin [cell" in ln]
        assert len(cover_join) == 1 and "BuildLeft" in cover_join[0], final


def test_poly_cover_df_matches_index_cover(spark, polys_wkb_df):
    """Distributed cover rows == the driver PolygonIndex cover rows
    (same cells, bboxes, adaptive resolutions) at the same max_cells.
    Defaults diverge on purpose: the distributed cover is a shuffled
    table (max_cells=8 keeps it small), the broadcast index wants the
    finer, more selective key (256)."""
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS, res=None)
    got = {(r.poly_id, r.cell, r.xmin, r.ymin, r.xmax, r.ymax)
           for r in sj.poly_cover_df(polys_wkb_df, max_cells=256).collect()}
    want = set(idx.cover_rows())
    assert got == want


def test_poly_cover_df_default_is_small(spark, polys_wkb_df):
    """The distributed-path default (max_cells=8) emits a cover an
    order of magnitude smaller than the broadcast-index default while
    spatial_join_df stays exact (refine removes the bbox overhang)."""
    small = sj.poly_cover_df(polys_wkb_df).count()
    big = sj.poly_cover_df(polys_wkb_df, max_cells=256).count()
    # continent-sized fixtures clamp at the coarsest res, so "<= 8
    # cells" is an estimate target, not a guarantee — the invariant
    # is the order-of-magnitude shrink of the shuffled cover
    assert small <= big / 3


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_spatial_join_df_plan_no_driver_collect(pts, polys_wkb_df):
    """Structural: the large-layer plan refines with a band join and a
    count, with no Python node at all (the polygon pass ran once, into
    its checkpoint), and the polygon side is the checkpointed pass —
    no LocalTableScan of collected rows, no cartesian product."""
    plan = _plan(sj.spatial_join_df(pts, polys_wkb_df, pt_id_col="url"))
    for node in ("EvalPython", "FlatMapCoGroups", "InPandas", "MapInArrow",
                 "LocalTableScan", "CartesianProduct"):
        assert node not in plan, node
    assert "Scan ExistingRDD" in plan and "partial_count" in plan
    # the pass itself is the one Python node of the layer's plan
    cover_plan = _plan(sj.poly_cover_df(polys_wkb_df))
    assert cover_plan.count("MapInArrow") == 1 and "Python" not in cover_plan


def test_codegen_refine_equals_edge_refine(pts, oracle_pairs):
    """The pure-codegen CASE refine and the banded edge refine
    evaluate the identical IEEE crossing formula — same pairs out."""
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS)
    cg = {(r.url, r.poly_id)
          for r in sj._codegen_join(pts, idx)
          .select("url", "poly_id").collect()}
    ed = {(r.url, r.poly_id)
          for r in sj._edge_join(pts, idx)
          .select("url", "poly_id").collect()}
    assert cg == ed == oracle_pairs


def test_codegen_refine_plan_has_no_python(pts):
    """No refine puts Python in the plan: spatial_join picks the codegen CASE
    for a dimension-sized layer, and the forced edge refine is a band
    join plus a count — no ArrowEvalPython / BatchEvalPython."""
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS)
    assert "EvalPython" not in _plan(sj.spatial_join(pts, idx))
    plan_edges = _plan(sj._edge_join(pts, idx))
    assert "EvalPython" not in plan_edges and "partial_count" in plan_edges


def test_codegen_refine_random_concave_polygons(spark):
    """Randomized star-shaped (concave) polygons: the codegen CASE
    refine must agree with the numpy ray-cast on every (point, poly)
    pair — one seeded draw, 24 polys x 1500 points."""
    rng = np.random.default_rng(7)
    polys = []
    for pid in range(24):
        cx, cy = rng.uniform(-170, 170), rng.uniform(-80, 80)
        k = int(rng.integers(5, 12))
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        rad = rng.uniform(0.5, 4.0, k)  # varying radii → concave
        ring = np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], 1)
        ring = np.vstack([ring, ring[:1]])
        polys.append(dict(poly_id=pid, rings=[ring]))
    idx = sj.PolygonIndex(polys, res=None)

    px = rng.uniform(-175, 175, 1500)
    py = rng.uniform(-85, 85, 1500)
    pts_df = spark.createDataFrame(
        [(i, float(px[i]), float(py[i])) for i in range(len(px))],
        "pt_id BIGINT, lon DOUBLE, lat DOUBLE")

    got = {(r.pt_id, r.poly_id)
           for r in sj._codegen_join(pts_df, idx)
           .select("pt_id", "poly_id").collect()}
    want = set()
    for p in polys:
        inside = predicates.point_in_rings(px, py, p["rings"])
        for i in np.nonzero(inside)[0]:
            want.add((int(i), p["poly_id"]))
    assert got == want and len(want) >= 5  # sparse layer: ~10 expected hits


def test_auto_refine_dispatch_by_edge_count(pts, monkeypatch):
    """spatial_join picks the codegen CASE up to _CODEGEN_MAX_EDGES and
    the edge refine above it (a giant CASE would leave JIT'd codegen)."""
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS)
    n_edges = idx.total_edges()
    monkeypatch.setattr(sj, "_CODEGEN_MAX_EDGES", n_edges)
    plan_small = _plan(sj.spatial_join(pts, idx))
    assert "EvalPython" not in plan_small and "partial_count" not in plan_small
    monkeypatch.setattr(sj, "_CODEGEN_MAX_EDGES", n_edges - 1)
    plan_big = _plan(sj.spatial_join(pts, idx))
    assert "EvalPython" not in plan_big and "partial_count" in plan_big


def test_spatial_join_df_int_poly_id(spark, pts, polys_wkb_df, oracle_pairs):
    """INT (not BIGINT) poly_id column: the polygon pass casts the id
    to BIGINT, so the cover, the edges and the candidates share one
    key type and the pairs match the oracle."""
    polys_int = polys_wkb_df.withColumn(
        "poly_id", F.col("poly_id").cast("int"))
    got = {(r.url, r.poly_id)
           for r in sj.spatial_join_df(pts, polys_int, pt_id_col="url")
           .select("url", "poly_id").collect()}
    assert got == oracle_pairs


# ------------------------------------------- polygon pass + edge refine

def _star(rng, cx, cy, k, r0, r1):
    ang = np.sort(rng.uniform(0, 2 * np.pi, k))
    rad = rng.uniform(r0, r1, k)
    ring = np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], 1)
    return np.vstack([ring, ring[:1]])


def _scalar_pass(pid, geom, max_cells):
    """Independent per-polygon reference for the polygon pass: the
    scalar cover (quadcell.cover_bbox) and a loop over the edges."""
    import math

    from rsgislib_spark.cells import quadcell
    from rsgislib_spark.geometry import wkb

    rings = predicates.unwrap_antimeridian(wkb.wkb_to_rings(geom))
    xmin, ymin, xmax, ymax = predicates.ring_bbox(rings)
    res = quadcell.adaptive_cover_res(xmin, ymin, xmax, ymax,
                                      max_cells=max_cells)
    cells = quadcell.cover_bbox(xmin, ymin, xmax - 360.0 if xmax > 180.0
                                else xmax, ymax, res)
    edges = [(a[0], a[1], b[0], b[1]) for r in rings
             for a, b in zip(r[:-1].tolist(), r[1:].tolist()) if a[1] != b[1]]
    nb = max(1, math.ceil(len(edges) / sj.BAND_EDGES))

    def band(v):
        if nb == 1:
            return 0
        return min(max(math.floor((v - ymin) * float(nb) / (ymax - ymin)), 0),
                   nb - 1)

    cover = {(pid, c, xmin, ymin, xmax, ymax, res, nb) for c in cells.tolist()}
    banded = {(pid, b, x1, y1, x2, y2) for x1, y1, x2, y2 in edges
              for b in range(band(min(y1, y2)), band(max(y1, y2)) + 1)}
    return cover, banded


def test_polygon_pass_matches_scalar(spark):
    """The vectorized pass (bulk WKB decode of simple polygons, scalar
    decode of the rest) and the driver index emit exactly the scalar
    cover and banded edges: holes, a multipolygon, an antimeridian
    ring, horizontal and vertical edges, a zero-height ring, and stars
    with many bands."""
    from rsgislib_spark.geometry import wkb

    rng = np.random.default_rng(3)
    layer = [
        [[_star(rng, 10, 10, 40, 0.5, 3.0)]],
        [[[(0, 0), (4, 0), (4, 4), (0, 4)], [(1, 1), (2, 1), (2, 2), (1, 2)]]],
        [[[(20, 20), (21, 20), (21, 21)]], [[(30, 30), (31, 30), (31, 32)]]],
        [[[(170, 0), (-170, 0), (-170, 5), (170, 5)]]],
        [[[(0, 0), (1, 0), (2, 0)]]],
        [[[(5, 5), (5, 6), (6, 6), (6, 5)]]],
        [[_star(rng, -50, 40, 300, 0.01, 0.2)]],
    ]
    geoms = [wkb.polygon_to_wkb(p[0]) if len(p) == 1 else
             wkb.multipolygon_to_wkb(p) for p in layer]
    want_cover, want_edges = set(), set()
    for pid, g in enumerate(geoms):
        c, e = _scalar_pass(pid, g, 8)
        want_cover |= c
        want_edges |= e
    df = spark.createDataFrame([(i, bytearray(g)) for i, g in enumerate(geoms)],
                               "poly_id INT, geometry BINARY")
    rows = sj._polygon_pass(df, None, 8, "poly_id", "geometry").collect()
    got_cover = {(r.poly_id, r.cell, r.xmin, r.ymin, r.xmax, r.ymax, r.res, r.nb)
                 for r in rows if r.cell is not None}
    # every (edge, band) pair is one tested row per slab it may cross
    # (slab -1: every slab); parity rows (x1 = _SURE) stand for edges
    # surely right of a slab
    got_edges = {(r.poly_id, r.band, r.x1, r.y1, r.x2, r.y2)
                 for r in rows if r.band is not None and r.x1 != sj._SURE}
    assert len(rows) == len(got_cover) + sum(r.band is not None for r in rows)
    assert got_cover == want_cover and got_edges == want_edges
    assert max(b for _, b, *_ in got_edges) >= 10  # the stars are banded
    assert max(r.ms for r in rows if r.cell is not None) > 1  # and slabbed

    idx = sj.PolygonIndex.from_df(df, res=None)
    idx = sj.PolygonIndex([dict(poly_id=p["poly_id"], rings=p["rings"])
                           for p in idx.polys], res=None, max_cells=8)
    assert _rows(idx._cover, "poly_id", "cell", "xmin", "ymin", "xmax", "ymax",
                 "res", "nb") == want_cover
    edges = idx._edges.filter(pc.not_equal(idx._edges["x1"], sj._SURE))
    assert _rows(edges, "poly_id", "band", "x1", "y1", "x2", "y2") == want_edges


def _rows(table, *cols) -> set:
    return set(zip(*(table[c].to_pylist() for c in cols)))


def _pairs_numpy(px, py, polys):
    return {(i, p["poly_id"]) for p in polys
            for i in np.flatnonzero(predicates.point_in_rings(px, py, p["rings"])).tolist()}


def _pairs(df, pt_id="pt_id"):
    return {(r[0], r[1]) for r in df.select(pt_id, "poly_id").collect()}


def test_edge_refine_band_boundaries_and_vertices(spark):
    """Points exactly on band and slab boundaries (and one ulp either
    side) and exactly on vertices agree with point_in_rings — a
    candidate's band and slab come from the formula that binned the
    edges, so the half-open crossing rule holds at every boundary."""
    from rsgislib_spark.geometry import wkb

    rng = np.random.default_rng(5)
    ring = _star(rng, 12.0, -7.0, 600, 0.3, 2.5)
    polys = [dict(poly_id=1, rings=[ring])]
    idx = sj.PolygonIndex(polys, res=None)
    nb, ms = idx._cover["nb"][0].as_py(), idx._cover["ms"][0].as_py()
    assert nb > 4 and ms > 1
    (xmin, ymin), (xmax, ymax) = ring.min(0), ring.max(0)

    def bounds(lo, hi, n):
        v = lo + (hi - lo) * np.arange(n + 1) / n
        return np.concatenate([v, np.nextafter(v, np.inf), np.nextafter(v, -np.inf)])

    ys, xs = bounds(ymin, ymax, nb), bounds(xmin, xmax, ms)
    gx, gy = np.meshgrid(xs, ys)
    px = np.concatenate([gx.ravel(), ring[:, 0]])
    py = np.concatenate([gy.ravel(), ring[:, 1]])
    pts_df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(px, py))],
        "pt_id BIGINT, lon DOUBLE, lat DOUBLE")
    want = _pairs_numpy(px, py, polys)
    assert len(want) > 50
    assert _pairs(sj._edge_join(pts_df, idx)) == want
    poly_df = spark.createDataFrame([(1, bytearray(wkb.polygon_to_wkb([ring])))],
                                    "poly_id BIGINT, geometry BINARY")
    assert _pairs(sj.spatial_join_df(pts_df, poly_df, pt_id_col="pt_id")) == want


def test_edge_refine_antimeridian_star(spark):
    """A banded, slabbed star across the antimeridian: points on both
    sides of 180 agree with the numpy ray cast at lon+360 (the wrap
    rule) through both entry points."""
    from rsgislib_spark.geometry import wkb

    rng = np.random.default_rng(17)
    ring = _star(rng, 180.0, 5.0, 400, 1.0, 8.0)  # unwrapped, x up to 188
    polys = [dict(poly_id=3, rings=[ring])]
    px = rng.uniform(-180.0, 180.0, 6000)
    px = np.where(px < 0, -180.0 + (px + 180.0) / 18.0, 170.0 + px / 18.0)
    py = rng.uniform(-4.0, 14.0, 6000)
    want = _pairs_numpy(np.where(px < 0, px + 360.0, px), py, polys)
    assert {px[i] < 0 for i, _ in want} == {True, False}
    pts_df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(px, py))],
        "pt_id BIGINT, lon DOUBLE, lat DOUBLE")
    idx = sj.PolygonIndex(polys, res=None)
    assert idx._cover["ms"][0].as_py() > 1
    assert _pairs(sj._edge_join(pts_df, idx)) == want
    wrapped = np.where(ring[:, 0] > 180.0, ring[:, 0] - 360.0, ring[:, 0])
    poly_df = spark.createDataFrame(
        [(3, bytearray(wkb.polygon_to_wkb([np.stack([wrapped, ring[:, 1]], 1)])))],
        "poly_id BIGINT, geometry BINARY")
    assert _pairs(sj.spatial_join_df(pts_df, poly_df, pt_id_col="pt_id")) == want


def test_huge_star_polygon_matches_numpy(spark):
    """A 6000-vertex spiky star polygon (auto picks the edge refine;
    long edges span many bands, so x-slabs and parity rows do most of
    the work) agrees with the numpy ray cast through both entry
    points."""
    from rsgislib_spark.geometry import wkb

    rng = np.random.default_rng(11)
    ring = _star(rng, -30.0, 20.0, 6000, 1.0, 8.0)
    polys = [dict(poly_id=7, rings=[ring])]
    px = rng.uniform(-39.0, -21.0, 20000)
    py = rng.uniform(11.0, 29.0, 20000)
    pts_df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(px, py))],
        "pt_id BIGINT, lon DOUBLE, lat DOUBLE")
    want = _pairs_numpy(px, py, polys)
    assert len(want) > 1000
    idx = sj.PolygonIndex(polys, res=None)
    assert idx._cover["ms"][0].as_py() > 1
    assert sj._SURE in idx._edges["x1"].to_pylist()  # parity rows
    got = sj.spatial_join(pts_df, idx)
    assert "partial_count" in _plan(got)
    assert _pairs(got) == want
    poly_df = spark.createDataFrame([(7, bytearray(wkb.polygon_to_wkb([ring])))],
                                    "poly_id BIGINT, geometry BINARY")
    assert _pairs(sj.spatial_join_df(pts_df, poly_df, pt_id_col="pt_id")) == want


def test_spatial_join_df_leaves_no_cache(spark, polys_wkb_df):
    """No CacheManager entry outlives spatial_join_df or its action:
    the pass is materialized by a localCheckpoint, not a persist."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()
    pts_df = spark.range(500).selectExpr(
        "id AS pt_id", "CAST(id AS DOUBLE) * 0.7 - 175 AS lon",
        "CAST(id AS DOUBLE) * 0.3 - 75 AS lat")
    out = sj.spatial_join_df(pts_df, polys_wkb_df, how="left")
    assert cm.numCachedEntries() == before
    out.count()
    assert cm.numCachedEntries() == before


def test_polygon_id_frames_keep_fingerprint(spark):
    """how='right' and count_points_per_polygon build their polygon-id
    frame from Arrow (a local relation identified by its rows), so a
    rebuilt frame keeps its lineage fingerprint and can resume."""
    from rsgislib_spark.plans import checkpoint

    pts_df = spark.range(50).selectExpr(
        "id AS pt_id", "CAST(id AS DOUBLE) - 25 AS lon", "CAST(id AS DOUBLE) AS lat")

    def right():
        return sj.spatial_join(pts_df, sj.PolygonIndex.from_fixture(
            fixtures.POLYGONS), how="right", pt_id_col="pt_id")

    def counts():
        return sj.count_points_per_polygon(
            pts_df, sj.PolygonIndex.from_fixture(fixtures.POLYGONS))

    fp = checkpoint.lineage_fingerprint
    assert fp(right()) == fp(right())
    assert fp(counts()) == fp(counts())
