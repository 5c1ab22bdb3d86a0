"""Scale-path equivalence + plan-shape assertions: the shuffle join
path matches broadcast, the rasterized zonal path matches the
point-join path, and the headline plan prunes/pushes correctly."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from rsgislib_spark.data import derived, fixtures, pages
from rsgislib_spark.functions.geoparse import geoparse
from rsgislib_spark.operators import raster, spatial_join as sj, zonal


@pytest.fixture(scope="module")
def pts(spark):
    df = geoparse(pages.pages_df(spark, 2000)).select("url", "lon", "lat")
    df.persist(); df.count()
    return df


def test_shuffle_join_path_matches_broadcast(spark, pts, no_broadcast):
    """Both broadcast thresholds at -1 force shuffled joins (the large-
    polygon-set path). Same results, different physical plan."""
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS)
    b = {(r.url, r.poly_id) for r in
         sj.spatial_join(pts, idx, how="inner").select("url", "poly_id").collect()}
    # with auto-broadcast off neither Catalyst nor AQE broadcasts the
    # tiny fixture — this is what the plan looks like with a huge cover
    with no_broadcast():
        shuffled = sj.spatial_join(pts, idx, how="inner")
        s = {(r.url, r.poly_id)
             for r in shuffled.select("url", "poly_id").collect()}
        assert s == b
        plan = shuffled._jdf.queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan


def test_zonal_via_rasterize_matches_point_join(spark):
    """SURVEY §7 M5: zonal stats through the rasterized path must
    agree with the point-join path on a grid whose 'points' are pixel
    centers."""
    grid = fixtures.grid_df(spark, bands=(1,))
    # rasterized path: burn polygons, join pixels on (x, y), aggregate
    burn = raster.rasterize_polygons(
        grid, fixtures.GRID_POLYGONS, fixtures.GRID_ORIGIN_X,
        fixtures.GRID_ORIGIN_Y, fixtures.GRID_RES)
    rast = (
        grid.join(burn, ["x", "y"])
        .select(F.col("burn").alias("poly_id"), "value")
    )
    a = {r.poly_id: (r["min"], r["max"], r["sum"], r["count"])
         for r in zonal.zonal_stats(rast, value_col="value",
                                    no_data_val=fixtures.GRID_NODATA).collect()}

    # point-join path: pixel centers as points through the spatial join
    centers = grid.selectExpr(
        "value",
        f"CAST({fixtures.GRID_ORIGIN_X!r} AS DOUBLE)"
        f" + (CAST(x AS DOUBLE) + CAST(0.5 AS DOUBLE))"
        f" * CAST({fixtures.GRID_RES!r} AS DOUBLE) AS lon",
        f"CAST({fixtures.GRID_ORIGIN_Y!r} AS DOUBLE)"
        f" - (CAST(y AS DOUBLE) + CAST(0.5 AS DOUBLE))"
        f" * CAST({fixtures.GRID_RES!r} AS DOUBLE) AS lat",
    )
    idx = sj.PolygonIndex(
        [dict(poly_id=p["poly_id"], rings=p["rings"])
         for p in fixtures.GRID_POLYGONS], res=13)
    joined = sj.spatial_join(centers, idx, how="inner")
    # burn picks ONE polygon (highest id) per pixel; replicate for the
    # overlap region before comparing
    from pyspark.sql import Window

    w = Window.partitionBy("lon", "lat").orderBy(F.desc("poly_id"))
    top = (joined.withColumn("rn", F.row_number().over(w))
           .where("rn = 1"))
    b = {r.poly_id: (r["min"], r["max"], r["sum"], r["count"])
         for r in zonal.zonal_stats(top, value_col="value",
                                    no_data_val=fixtures.GRID_NODATA).collect()}
    assert a == b


def test_headline_plan_prunes_and_broadcasts(spark, tmp_path):
    """The 100 TB checklist on the actual plan: column-pruned scan,
    broadcast join, no sort-merge."""
    path = str(tmp_path / "pp")
    pages.pages_df(spark, 500).drop("lon_true", "lat_true").write.parquet(path)
    pts = geoparse(spark.read.parquet(path))
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS)
    plan = (
        sj.spatial_join(pts.where("lon IS NOT NULL"), idx, how="inner")
        .groupBy().count()
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ReadSchema: struct<url:string,text:string>" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_parquet_filter_pushdown(spark, tmp_path):
    path = str(tmp_path / "fp")
    derived.points_df(spark, "/root/testdata/sf0.001").write.parquet(path)
    plan = (
        spark.read.parquet(path).where("pt_id = 42")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [IsNotNull(pt_id), EqualTo(pt_id,42)]" in plan


def test_check_str_col_strips_and_caps(spark):
    from rsgislib_spark.operators import vector_ops

    df = spark.createDataFrame(
        [("a" * 300,), ("he!!o wörld",)], "s STRING")
    out = [r.s for r in vector_ops.check_str_col(df, "s", max_len=10)
           .collect()]
    assert out[0] == "a" * 10
    assert out[1] == "heo wrld"


def test_spread_scan_gates(spark, tmp_path):
    """spread_scan decides from file bytes (no RDD materialization):
    big few-row-group files get the parallelism floor, sub-2MB files
    are returned untouched, non-file sources use the partition gate."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rsgislib_spark.session import _parse_bytes, spread_scan

    target = spark.sparkContext.defaultParallelism
    rng = np.random.RandomState(0)
    big = pa.table({"x": rng.randint(0, 1 << 60, 400_000),
                    "y": rng.randint(0, 1 << 60, 400_000)})
    pq.write_table(big, str(tmp_path / "big.parquet"),
                   row_group_size=1 << 30, compression=None)
    df = spark.read.parquet(str(tmp_path / "big.parquet"))
    out = spread_scan(df)
    assert out is not df
    assert out.rdd.getNumPartitions() == target
    assert out.count() == 400_000

    small = pa.table({"x": list(range(10))})
    pq.write_table(small, str(tmp_path / "small.parquet"))
    df2 = spark.read.parquet(str(tmp_path / "small.parquet"))
    assert spread_scan(df2) is df2

    rng_df = spark.range(0, 100, 1, numPartitions=2)
    assert spread_scan(rng_df).rdd.getNumPartitions() == target

    assert _parse_bytes("134217728") == 134217728
    assert _parse_bytes("128m") == 128 << 20
    assert _parse_bytes("128MB") == 128 << 20
    assert _parse_bytes("1g") == 1 << 30
    assert _parse_bytes("4194304b") == 4 << 20


def test_spread_scan_deleted_input_falls_back(spark, tmp_path):
    """A file deleted after planning must not crash spread_scan: it
    falls back to the partition probe (one split < parallelism)."""
    import shutil

    from rsgislib_spark.session import spread_scan

    path = str(tmp_path / "gone")
    spark.range(0, 100, 1, numPartitions=1).write.parquet(path)
    df = spark.read.parquet(path)
    shutil.rmtree(path)
    out = spread_scan(df)  # no action: the input is gone
    assert "Repartition" in out._jdf.queryExecution().logical().toString()


def test_spread_scan_remote_path_falls_back(spark, tmp_path, monkeypatch):
    """An hdfs:// input is never stat-ed locally: the partition probe
    decides, as for a non-file source."""
    from rsgislib_spark.session import spread_scan

    path = str(tmp_path / "remote")
    spark.range(0, 100, 1, numPartitions=1).write.parquet(path)
    df = spark.read.parquet(path)
    monkeypatch.setattr(df, "inputFiles",
                        lambda: ["hdfs://namenode:8020/data/part-0.parquet"])
    out = spread_scan(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
