"""Attribute-space kNN, per-group trend fits, distributed clump, ML
wrappers — each vs an independent numpy oracle."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from rsgislib_spark.operators import attr_knn, clump, timeseries


# ------------------------------------------------------------------ attr kNN

@pytest.fixture(scope="module")
def knn_data(spark):
    rng = np.random.default_rng(3)
    Xt = rng.uniform(0, 10, (80, 2))
    yt = (Xt[:, 0] > 5).astype(float) * 10 + rng.integers(0, 3, 80)
    Xa = rng.uniform(0, 10, (40, 2))
    train = spark.createDataFrame(
        [(float(a), float(b), float(y)) for (a, b), y in zip(Xt, yt)],
        "f1 DOUBLE, f2 DOUBLE, target DOUBLE")
    apply_df = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(Xa)],
        "rid BIGINT, f1 DOUBLE, f2 DOUBLE")
    return train, apply_df, Xt, yt, Xa


def _np_knn(Xt, yt, Xa, k, metric, how, p=3.0, vi=None):
    out = []
    for q in Xa:
        d = Xt - q
        if metric == "euclidean":
            D = np.sqrt((d ** 2).sum(1))
        elif metric == "manhattan":
            D = np.abs(d).sum(1)
        elif metric == "chebyshev":
            D = np.abs(d).max(1)
        elif metric == "minkowski":
            D = (np.abs(d) ** p).sum(1) ** (1 / p)
        else:
            D = np.sqrt(np.einsum("nd,de,ne->n", d, vi, d))
        idx = np.argsort(D, kind="stable")[:k]
        v = yt[idx]
        if how == "mode":
            u, c = np.unique(v, return_counts=True)
            out.append(float(u[c == c.max()].min()))
        elif how == "mean":
            out.append(float(v.mean()))
        elif how == "median":
            out.append(float(np.median(v)))
    return out


@pytest.mark.parametrize("metric", ["euclidean", "manhattan", "chebyshev",
                                    "minkowski", "mahalanobis"])
def test_attr_knn_metrics(spark, knn_data, metric):
    train, apply_df, Xt, yt, Xa = knn_data
    vi = np.linalg.inv(np.cov(Xt, rowvar=False))
    got = {r.rid: r.knn_pred for r in attr_knn.apply_knn(
        apply_df, train, ["f1", "f2"], "target", k=5, metric=metric,
        summarise="mean").collect()}
    want = _np_knn(Xt, yt, Xa, 5, metric, "mean", vi=vi)
    for i in range(len(Xa)):
        assert got[i] == pytest.approx(want[i], abs=1e-9), (metric, i)


def test_attr_knn_mode_and_threshold(spark, knn_data):
    train, apply_df, Xt, yt, Xa = knn_data
    got = {r.rid: r.knn_pred for r in attr_knn.apply_knn(
        apply_df, train, ["f1", "f2"], "target", k=7, summarise="mode",
        max_dist=1.5).collect()}
    for i, q in enumerate(Xa):
        D = np.sqrt(((Xt - q) ** 2).sum(1))
        idx = np.argsort(D, kind="stable")[:7]
        idx = idx[D[idx] <= 1.5]
        if len(idx) == 0:
            assert np.isnan(got[i])
        else:
            u, c = np.unique(yt[idx], return_counts=True)
            assert got[i] == float(u[c == c.max()].min())


# ------------------------------------------------------------------ timeseries

def test_fit_linear_trend(spark):
    rows = []
    for key, slope, icept in [(1, 2.0, 1.0), (2, -0.5, 10.0)]:
        for t in range(10):
            rows.append((key, float(t), slope * t + icept))
    rows.append((3, 5.0, 7.0))  # single point -> NaN fit
    df = spark.createDataFrame(rows, "pix BIGINT, t DOUBLE, v DOUBLE")
    got = {r.pix: r for r in timeseries.fit_linear_trend(
        df, ["pix"], "t", "v").collect()}
    assert got[1].slope == pytest.approx(2.0) and got[1].r2 == pytest.approx(1.0)
    assert got[2].slope == pytest.approx(-0.5)
    assert got[2].intercept == pytest.approx(10.0)
    # NaN crosses Arrow as null
    assert (got[3].slope is None or np.isnan(got[3].slope)) and got[3].n_obs == 1


def test_fit_matches_polyfit(spark):
    rng = np.random.default_rng(5)
    t = np.arange(20, dtype=float)
    v = 3.0 * t + rng.normal(0, 1, 20)
    df = spark.createDataFrame(
        [(1, float(a), float(b)) for a, b in zip(t, v)],
        "pix BIGINT, t DOUBLE, v DOUBLE")
    got = timeseries.fit_linear_trend(df, ["pix"], "t", "v").collect()[0]
    slope, icept = np.polyfit(t, v, 1)
    assert got.slope == pytest.approx(slope, abs=1e-9)
    assert got.intercept == pytest.approx(icept, abs=1e-9)


# ------------------------------------------------------------------ clump

def np_cc(vals: dict, no_data=None):
    """Independent BFS connected components over sparse pixels."""
    seen, label = {}, {}
    for (x, y), v in vals.items():
        if (x, y) in seen or (no_data is not None and v == no_data):
            continue
        comp, stack = [], [(x, y)]
        seen[(x, y)] = True
        while stack:
            cx, cy = stack.pop()
            comp.append((cx, cy))
            for nx, ny in ((cx+1, cy), (cx-1, cy), (cx, cy+1), (cx, cy-1)):
                if (nx, ny) not in seen and vals.get((nx, ny)) == v:
                    seen[(nx, ny)] = True
                    stack.append((nx, ny))
        lab = min(py * clump.COORD + px for px, py in comp)
        for p in comp:
            label[p] = lab
    return label


@pytest.fixture(scope="module")
def clump_grid(spark):
    # checkerboard blocks + a stripe crossing every tile + nodata holes
    rows = []
    for y in range(96):
        for x in range(96):
            if 40 <= y < 44:
                v = 2.0                     # stripe spans all tiles
            elif (x // 16 + y // 16) % 2 == 0:
                v = 1.0
            else:
                v = 0.0
            if (x + y) % 37 == 0:
                v = -99.0                   # nodata holes
            rows.append((x, y, v))
    return spark.createDataFrame(rows, "x BIGINT, y BIGINT, value DOUBLE")


def test_clump_matches_bfs_oracle(spark, clump_grid):
    got = {(r.x, r.y): r.clump_id
           for r in clump.clump(clump_grid, tile=32, no_data=-99.0).collect()}
    vals = {(r.x, r.y): r.value for r in clump_grid.collect()}
    want = np_cc(vals, no_data=-99.0)
    assert got == want


def test_clump_tiling_invariant(spark, clump_grid):
    a = {(r.x, r.y): r.clump_id
         for r in clump.clump(clump_grid, tile=32, no_data=-99.0).collect()}
    b = {(r.x, r.y): r.clump_id
         for r in clump.clump(clump_grid, tile=128, no_data=-99.0).collect()}
    assert a == b  # tiled == untiled (single tile)


def test_clump_relabel_dense(spark, clump_grid):
    out = clump.relabel_dense(clump.clump(clump_grid, tile=32, no_data=-99.0))
    ids = [r.clump_id for r in out.select("clump_id").distinct().collect()]
    assert sorted(ids) == list(range(1, len(ids) + 1))


def test_union_of_clumps(spark):
    a = spark.createDataFrame(
        [(x, 0, 1.0, 10 if x < 2 else 20) for x in range(4)],
        "x BIGINT, y BIGINT, value DOUBLE, clump_id BIGINT")
    b = spark.createDataFrame(
        [(x, 0, 1.0, 30 if x < 3 else 40) for x in range(4)],
        "x BIGINT, y BIGINT, value DOUBLE, clump_id BIGINT")
    out = {r.x: r.clump_id for r in clump.union_of_clumps(a, b).collect()}
    # boundaries of BOTH labelings preserved: {0,1} | {2} | {3}
    assert out[0] == out[1]
    assert len({out[0], out[2], out[3]}) == 3
    assert sorted(set(out.values())) == [1, 2, 3]  # dense ids


def test_pixel_stat_across_images(spark):
    from rsgislib_spark.operators import raster

    rows = []
    for img in (1, 2, 3):
        for x in range(4):
            rows.append((img, x, 0, float(img * 10 + (x if img == 2 else 0))))
    imgs = spark.createDataFrame(rows, "img_id INT, x BIGINT, y BIGINT, value DOUBLE")
    am = {r.x: r.img_id for r in
          raster.pixel_stat_across_images(imgs, "argmax").collect()}
    assert all(v == 3 for v in am.values())
    an = {r.x: r.img_id for r in
          raster.pixel_stat_across_images(imgs, "argmin").collect()}
    assert all(v == 1 for v in an.values())
    md = {r.x: r.median for r in
          raster.pixel_stat_across_images(imgs, "median").collect()}
    assert md[0] == 20.0 and md[3] == 23.0
    order = raster.order_images_by_valid_fraction(
        imgs.withColumn("value", F.when((F.col("img_id") == 1) & (F.col("x") < 2),
                                        -99.0).otherwise(F.col("value"))),
        no_data=-99.0).collect()
    assert [r.img_id for r in order][-1] == 1  # most-invalid image last


def test_stratified_sample(spark):
    from rsgislib_spark.operators import vector_ops as V

    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(2000)],
        "k BIGINT, s STRING")
    out = V.stratified_sample(df, "s", "k", {"a": 50, "b": 10}).collect()
    na = sum(1 for r in out if r.s == "a")
    nb = sum(1 for r in out if r.s == "b")
    assert 400 < na < 600 and 40 < nb < 160
    # deterministic: same rows every time
    out2 = V.stratified_sample(df, "s", "k", {"a": 50, "b": 10}).collect()
    assert sorted(r.k for r in out) == sorted(r.k for r in out2)


def test_train_test_split_matches_pandas(spark):
    from rsgislib_spark.operators import vector_ops as V

    pdf = pd.DataFrame({"k": np.arange(2000, dtype=np.int64),
                        "v": np.arange(2000) % 7})
    train, test = V.train_test_split(spark.createDataFrame(pdf), "k", 30)
    in_test = (pdf["k"] * 2654435761) % 100 < 30
    assert sorted(r.k for r in test.collect()) == \
        pdf.loc[in_test, "k"].tolist()
    assert sorted(r.k for r in train.collect()) == \
        pdf.loc[~in_test, "k"].tolist()


def test_find_replace_str_matches_pandas(spark):
    """A literal replace in each named column; other columns and
    nulls are untouched."""
    from rsgislib_spark.operators import vector_ops as V

    pdf = pd.DataFrame({"a": ["x.y.z", "xyz", None, "..."],
                        "b": ["a.b", ".", "q", None],
                        "c": ["1.2", "3.4", "5", "6."]})
    got = V.find_replace_str(spark.createDataFrame(pdf), ["a", "b"], ".", "--")
    want = pdf.assign(**{c: pdf[c].str.replace(".", "--", regex=False)
                         for c in ("a", "b")})
    assert got.toPandas().to_dict("list") == \
        want.astype(object).where(want.notna(), None).to_dict("list")


# ------------------------------------------------------------------ ML wrappers

def test_kmeans_and_pca(spark):
    from rsgislib_spark.operators import ml

    rng = np.random.default_rng(11)
    a = rng.normal(0, 0.3, (60, 2))
    b = rng.normal(5, 0.3, (60, 2))
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(np.vstack([a, b]))],
        "rid BIGINT, f1 DOUBLE, f2 DOUBLE")
    out = ml.kmeans_cluster(df, ["f1", "f2"], k=2)
    labels = {r.rid: r.cluster for r in out.collect()}
    la = {labels[i] for i in range(60)}
    lb = {labels[i] for i in range(60, 120)}
    assert len(la) == 1 and len(lb) == 1 and la != lb  # perfect separation

    proj, pc = ml.pca_project(df, ["f1", "f2"], n_components=1)
    assert pc.shape == (2, 1)
    vals = np.array([r.pca[0] for r in proj.collect()])
    # the cluster axis dominates variance: projections split cleanly
    assert (vals[:60].max() < vals[60:].min()) or (vals[:60].min() > vals[60:].max())


def test_isodata_splits_and_merges(spark):
    import numpy as np

    from rsgislib_spark.operators import ml

    rng = np.random.default_rng(4)
    blobs = [(0.0, 0.0), (50.0, 0.0), (0.0, 50.0)]
    rows = []
    for cx, cy in blobs:
        for _ in range(200):
            rows.append((float(cx + rng.normal(0, 1.0)),
                         float(cy + rng.normal(0, 1.0))))
    df = spark.createDataFrame(rows, "f1 DOUBLE, f2 DOUBLE")

    # start with too FEW clusters: max_std_dev forces splits up to 3
    out, centers = ml.isodata_cluster(
        df, ["f1", "f2"], n_clusters=2, max_n_iters=6,
        max_std_dev=5.0, min_dist_clusters=3.0)
    assert len(centers) == 3
    got = sorted((round(c[0] / 10) * 10, round(c[1] / 10) * 10)
                 for c in centers)
    assert got == [(0, 0), (0, 50), (50, 0)]

    # start with too MANY: near-duplicate centroids merge back to 3
    out2, centers2 = ml.isodata_cluster(
        df, ["f1", "f2"], n_clusters=8, max_n_iters=6,
        max_std_dev=5.0, min_dist_clusters=6.0)
    assert len(centers2) == 3
    # every blob maps to exactly one cluster id
    import collections
    labels = [r[2] for r in out2.collect()]
    per_blob = [set(labels[i * 200:(i + 1) * 200]) for i in range(3)]
    assert all(len(s) == 1 for s in per_blob)
    assert len(set().union(*per_blob)) == 3


def test_clump_distributed_merge_equals_driver(spark):
    import numpy as np

    from rsgislib_spark.operators import clump as cl

    rng = np.random.default_rng(13)
    V = rng.integers(0, 2, size=(48, 48)).astype(float)
    rows = [(int(x), int(y), float(V[y, x]))
            for y in range(48) for x in range(48)]
    grid = spark.createDataFrame(rows, "x BIGINT, y BIGINT, value DOUBLE")
    a = {(r.x, r.y): r.clump_id
         for r in cl.clump(grid, tile=16).collect()}
    b = {(r.x, r.y): r.clump_id
         for r in cl.clump(grid, tile=16, driver_edge_limit=0).collect()}
    assert a == b


def test_fit_linear_trend_sql_matches_pandas(spark):
    import numpy as np

    from rsgislib_spark.operators import timeseries

    rng = np.random.default_rng(8)
    rows = []
    for key in range(20):
        for t in range(30):
            rows.append((key, float(t), float(key * t + rng.normal(0, 1))))
    df = spark.createDataFrame(rows, "pix BIGINT, t DOUBLE, v DOUBLE")
    a = {r.pix: r for r in timeseries.fit_linear_trend(
        df, ["pix"], "t", "v").collect()}
    b = {r.pix: r for r in timeseries.fit_linear_trend_sql(
        df, ["pix"], "t", "v").collect()}
    for k in a:
        assert b[k].slope == pytest.approx(a[k].slope, rel=1e-9)
        assert b[k].intercept == pytest.approx(a[k].intercept, rel=1e-9, abs=1e-9)
        assert b[k].r2 == pytest.approx(a[k].r2, rel=1e-9)
        assert b[k].n_obs == a[k].n_obs


@pytest.mark.parametrize("metric", ["euclidean", "mahalanobis"])
def test_attr_knn_distributed_matches_broadcast(spark, knn_data, metric):
    """Block nested-loop path (train never collected, 4 blocks) ==
    broadcast path, with random float features (no distance ties, so
    the tie-break divergence can't bite)."""
    train, apply_df, Xt, yt, Xa = knn_data
    got_b = {r.rid: r.knn_pred for r in attr_knn.apply_knn(
        apply_df, train, ["f1", "f2"], "target", k=5, metric=metric,
        summarise="mean").collect()}
    got_d = {r.rid: r.knn_pred for r in attr_knn.apply_knn_distributed(
        apply_df, train, ["f1", "f2"], "target", k=5, metric=metric,
        summarise="mean", apply_id_col="rid",
        rows_per_block=max(2, len(yt) // 4)).collect()}
    assert set(got_b) == set(got_d)
    for rid, v in got_b.items():
        assert abs(got_d[rid] - v) < 1e-9, rid


def test_attr_knn_distributed_threshold_nulls(spark, knn_data):
    """max_dist leaves out-of-range rows NULL (broadcast path: NaN) —
    same rows in both."""
    train, apply_df, Xt, yt, Xa = knn_data
    b = {r.rid: r.knn_pred for r in attr_knn.apply_knn(
        apply_df, train, ["f1", "f2"], "target", k=5,
        max_dist=0.3, summarise="mean").collect()}
    d = {r.rid: r.knn_pred for r in attr_knn.apply_knn_distributed(
        apply_df, train, ["f1", "f2"], "target", k=5,
        max_dist=0.3, summarise="mean", apply_id_col="rid",
        rows_per_block=7).collect()}
    miss_b = {rid for rid, v in b.items() if v is None or v != v}
    miss_d = {rid for rid, v in d.items() if v is None or v != v}
    assert miss_b == miss_d
    for rid in set(b) - miss_b:
        assert abs(d[rid] - b[rid]) < 1e-9
