"""kNN + radius joins vs brute-force numpy oracles."""

import numpy as np
import pytest

from rsgislib_spark.data import derived, pages
from rsgislib_spark.functions.geoparse import geoparse
from rsgislib_spark.operators import knn

N = 800


@pytest.fixture(scope="module")
def pts(spark):
    # a local relation: stable ids without a persist, so the cache
    # hygiene test below can demand an empty cache
    return spark.createDataFrame(
        geoparse(pages.pages_df(spark, N))
        .selectExpr("monotonically_increasing_id() AS pt_id", "lon", "lat")
        .toPandas())


@pytest.fixture(scope="module")
def brute(pts, spark):
    rows = pts.collect()
    sites = derived.sites_df(spark).collect()
    s_id = np.array([s.site_id for s in sites])
    sx = np.array([s.site_lon for s in sites])
    sy = np.array([s.site_lat for s in sites])
    order = np.argsort(s_id)
    s_id, sx, sy = s_id[order], sx[order], sy[order]
    want = {}
    for r in rows:
        d2 = (r.lon - sx) ** 2 + (r.lat - sy) ** 2
        i = int(np.argmin(d2))
        want[r.pt_id] = (int(s_id[i]), float(d2[i]))
    return want


def test_knn_broadcast_matches_brute(spark, pts, brute):
    got = {r.pt_id: (r.nn_site_id, r.nn_dist_sq)
           for r in knn.knn_broadcast(pts, derived.sites_df(spark)).collect()}
    assert got == brute


def test_knn_k3_ordering(spark, pts):
    out = knn.knn_broadcast(pts.limit(50), derived.sites_df(spark), k=3).collect()
    by_pt = {}
    for r in out:
        by_pt.setdefault(r.pt_id, []).append((r.nn_rank, r.nn_dist_sq))
    for pt, rows in by_pt.items():
        rows.sort()
        assert [r[0] for r in rows] == [1, 2, 3]
        assert rows[0][1] <= rows[1][1] <= rows[2][1]


def test_knn_kring_matches_broadcast(spark, pts, brute):
    got = {r.pt_id: (r.nn_site_id, r.nn_dist_sq)
           for r in knn.knn_kring(pts, derived.sites_df(spark), res=4).collect()}
    assert got == brute


def test_knn_kring_slim_output_matches(spark, pts, brute):
    """with_payload=False returns the same (id, nn_site_id,
    nn_dist_sq) triples as the payload-joined form — the final inner
    join is a row-preserving identity for id-only consumers."""
    out = knn.knn_kring(pts, derived.sites_df(spark), res=4,
                        pt_id_col="pt_id", with_payload=False)
    assert set(out.columns) == {"pt_id", "nn_site_id", "nn_dist_sq"}
    got = {r.pt_id: (r.nn_site_id, r.nn_dist_sq) for r in out.collect()}
    assert got == brute


def test_knn_max_dist_tolerance(spark, pts, brute):
    out = knn.knn_broadcast(pts, derived.sites_df(spark), max_dist=5.0).collect()
    got = {r.pt_id for r in out}
    want = {pt for pt, (_, d2) in brute.items() if d2 <= 25.0}
    assert got == want


def test_radius_count_matches_brute(spark, pts):
    rows = pts.limit(200).collect()
    sub = pts.limit(200)
    px = np.array([r.lon for r in rows])
    py = np.array([r.lat for r in rows])
    ids = [r.pt_id for r in rows]
    got = {r.pt_id: r.n_in_radius for r in knn.radius_count(sub, 3.0).collect()}
    for i, pid in enumerate(ids):
        d2 = (px - px[i]) ** 2 + (py - py[i]) ** 2
        want = int(np.sum(d2 <= 9.0)) - 1  # exclude self
        assert got[pid] == want, pid


def test_knn_haversine_matches_brute(spark, pts):
    """metric='haversine' ranks by great-circle meters (numpy brute
    force as the oracle); lowest-id tie-break preserved."""
    from rsgislib_spark.geometry.predicates import haversine_m

    sites = derived.sites_df(spark).collect()
    s_id = np.array([r.site_id for r in sites])
    s_lon = np.array([r.site_lon for r in sites])
    s_lat = np.array([r.site_lat for r in sites])
    order = np.argsort(s_id)
    s_id, s_lon, s_lat = s_id[order], s_lon[order], s_lat[order]
    rows = pts.limit(300).collect()
    out = {r.pt_id: (r.nn_site_id, r.nn_dist_m) for r in
           knn.knn_broadcast(pts.limit(300), derived.sites_df(spark),
                             metric="haversine").collect()}
    for r in rows:
        d = haversine_m(np.full_like(s_lon, r.lon),
                        np.full_like(s_lat, r.lat), s_lon, s_lat)
        j = int(np.argmin(d))
        assert out[r.pt_id][0] == s_id[j]
        assert out[r.pt_id][1] == d[j]


def test_radius_count_haversine_matches_brute(spark, pts):
    """Latitude-band self-join + haversine filter == brute force,
    including any near-pole points (band join is pole-safe)."""
    from rsgislib_spark.geometry.predicates import haversine_m

    rows = pts.limit(200).collect()
    sub = pts.limit(200)
    px = np.array([r.lon for r in rows])
    py = np.array([r.lat for r in rows])
    ids = [r.pt_id for r in rows]
    R = 1_500_000.0
    got = {r.pt_id: r.n_in_radius for r in
           knn.radius_count_haversine(sub, R).collect()}
    for i, pid in enumerate(ids):
        d = haversine_m(px, py, px[i], py[i])
        want = int(np.sum(d <= R)) - 1  # exclude self
        assert got[pid] == want, pid


# ---------------------------------------------------------------- knn_kring exactness

def _brute_nn(pts, sites):
    """{pt_id: (site_id, d2)} by brute force; lowest id wins ties."""
    s = sorted(sites)
    s_id = np.array([r[0] for r in s])
    sx = np.array([r[1] for r in s], dtype=np.float64)
    sy = np.array([r[2] for r in s], dtype=np.float64)
    want = {}
    for pid, x, y in pts:
        d2 = (x - sx) * (x - sx) + (y - sy) * (y - sy)
        i = int(np.argmin(d2))
        want[pid] = (int(s_id[i]), float(d2[i]))
    return want


def _kring_vs_brute(spark, pts, sites, **kw):
    p = spark.createDataFrame(pts, "pt_id BIGINT, lon DOUBLE, lat DOUBLE")
    s = spark.createDataFrame(sites,
                              "site_id BIGINT, site_lon DOUBLE, site_lat DOUBLE")
    got = {r.pt_id: (r.nn_site_id, r.nn_dist_sq)
           for r in knn.knn_kring(p, s, **kw).collect()}
    assert got == _brute_nn(pts, sites)


@pytest.mark.parametrize("res", [None, 6])
def test_knn_kring_far_points(spark, res):
    """Points whose nearest site is more than 10 cell heights away (a
    cluster of sites near the origin; at res 6, h = 2.8 deg) stay
    exact."""
    rng = np.random.default_rng(1)
    sites = [(i, float(x), float(y)) for i, (x, y) in
             enumerate(rng.uniform(-2.0, 2.0, (60, 2)))]
    pts = [(i, float(x), float(y)) for i, (x, y) in
           enumerate(rng.uniform([30.0, -80.0], [120.0, 80.0], (300, 2)))]
    _kring_vs_brute(spark, pts, sites, res=res)


@pytest.mark.parametrize("res", [None, 3, 8])
def test_knn_kring_equidistant_lowest_id_wins(spark, res):
    """Sites on an integer lattice with shuffled ids, points at the
    centres between four of them and on lattice lines and cell edges:
    every tie goes to the lowest site id."""
    rng = np.random.default_rng(2)
    grid = [(float(x), float(y)) for x in range(-4, 5) for y in range(-4, 5)]
    ids = rng.permutation(len(grid)) * 7 + 3
    sites = [(int(i), x, y) for i, (x, y) in zip(ids, grid)]
    pts = [(i, x + 0.5, y + 0.5) for i, (x, y) in enumerate(grid)]
    pts += [(1000 + i, x + 0.5, y) for i, (x, y) in enumerate(grid)]
    pts += [(2000, 0.0, 0.0), (2001, 45.0, 0.0), (2002, -180.0, -90.0)]
    _kring_vs_brute(spark, pts, sites, res=res)


def test_knn_kring_sites_in_small_region(spark):
    """500 sites inside a 0.5-degree box, points across the globe: the
    auto res must follow the occupied cells, not the globe's area."""
    rng = np.random.default_rng(3)
    sites = [(i, float(x), float(y)) for i, (x, y) in
             enumerate(rng.uniform([10.0, 40.0], [10.5, 40.5], (500, 2)))]
    pts = [(i, float(x), float(y)) for i, (x, y) in
           enumerate(rng.uniform([-179.9, -89.9], [179.9, 89.9], (400, 2)))]
    pts += [(1000 + i, float(x), float(y)) for i, (x, y) in
            enumerate(rng.uniform([9.9, 39.9], [10.6, 40.6], (200, 2)))]
    _kring_vs_brute(spark, pts, sites)


def test_knn_kring_empty_sites(spark, pts):
    sites = spark.createDataFrame(
        [], "site_id BIGINT, site_lon DOUBLE, site_lat DOUBLE")
    assert knn.knn_kring(pts, sites).collect() == []
    slim = knn.knn_kring(pts, sites, pt_id_col="pt_id", with_payload=False)
    assert slim.columns == ["pt_id", "nn_site_id", "nn_dist_sq"]
    assert slim.collect() == []


def _executions_in_group(spark, group):
    """SQL executions (actions) that ran a job under job group ``group``."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    n = 0
    for i in range(execs.size()):
        it = execs.apply(i).jobs().keys().iterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        n += bool(ids & jobs)
    return n


def test_knn_kring_leaves_no_cache(spark, pts, brute):
    """One eager action inside the call, nothing persisted after it."""
    spark.catalog.clearCache()
    sc = spark.sparkContext
    for rdd_id in list(sc._jsc.getPersistentRDDs().keySet().toArray()):
        sc._jsc.getPersistentRDDs().get(rdd_id).unpersist(True)
    cache = spark._jsparkSession.sharedState().cacheManager()
    sc.setJobGroup("knn_kring_call", "knn_kring call")
    try:
        out = knn.knn_kring(pts, derived.sites_df(spark))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _executions_in_group(spark, "knn_kring_call") == 1
    got = {r.pt_id: (r.nn_site_id, r.nn_dist_sq) for r in out.collect()}
    assert got == brute
    assert sc._jsc.getPersistentRDDs().isEmpty()
    assert cache.isEmpty()


def test_knn_broadcast_spreads_duplicate_points(spark):
    """2k points snapped to one grid node still spread over several
    tasks (a hash of (lon, lat) sent them all to one) and match brute
    force."""
    p = spark.range(2000, numPartitions=1).selectExpr(
        "id AS pt_id", "CAST(12.5 AS DOUBLE) AS lon", "CAST(-3.0 AS DOUBLE) AS lat")
    out = knn.knn_broadcast(p, derived.sites_df(spark))
    sizes = out.rdd.glom().map(len).collect()
    assert sum(1 for n in sizes if n) > 1
    sites = [(r.site_id, r.site_lon, r.site_lat)
             for r in derived.sites_df(spark).collect()]
    want = _brute_nn([(i, 12.5, -3.0) for i in range(2000)], sites)
    assert {r.pt_id: (r.nn_site_id, r.nn_dist_sq)
            for r in out.collect()} == want


def test_knn_kring_matches_duckdb_oracle(spark):
    """knn_kring on the sf0.001 tables against the DuckDB cross-join
    oracle of the knn queries, by the order-free value hash of
    tools/compare_oracle.py."""
    import os
    import sys

    import duckdb

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import compare_oracle
    import __spark_entry__ as entry
    from test_similarity import SF  # the sf0.001 tables

    con = duckdb.connect()
    for t in compare_oracle.TABLES:
        if os.path.exists(f"{SF}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    want = con.execute(entry.q_knn_nearest_site_sql()).fetch_arrow_table()
    got = entry.q_knn_kring(spark, SF)
    srows = got.collect()
    drows = list(zip(*(want.column(c).to_pylist() for c in want.column_names)))
    assert len(srows) == len(drows) > 0
    assert (compare_oracle.table_hash(srows, got.columns)
            == compare_oracle.table_hash(drows, want.column_names))


def test_knn_broadcast_quoted_column_name(spark):
    # the output schema is built from StructFields, so a column name
    # that DDL would have to quote passes through
    pts = spark.createDataFrame([(1, 0.0, 0.0)],
                                "`page id` BIGINT, lon DOUBLE, lat DOUBLE")
    sites = spark.createDataFrame([(7, 0.5, 0.0)],
                                  "site_id BIGINT, site_lon DOUBLE, site_lat DOUBLE")
    r = knn.knn_broadcast(pts, sites).collect()[0]
    assert (r["page id"], r.nn_site_id, r.nn_dist_sq) == (1, 7, 0.25)
