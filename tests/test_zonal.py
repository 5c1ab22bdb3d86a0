"""Zonal stats vs a numpy oracle implementing the reference
algorithm (zonalstats/__init__.py:433-497): masking, population
stddev, exact median, smallest-tie mode, empty-zone sentinels."""

import numpy as np
import pytest

from rsgislib_spark.operators import zonal


@pytest.fixture(scope="module")
def joined(spark):
    # (zone, value) rows incl. a no-data value, out-of-threshold rows,
    # a tie for mode, and a zone (4) with no surviving rows
    rows = [
        (1, 5.0), (1, 5.0), (1, 7.0), (1, 7.0), (1, 3.0), (1, -99.0),
        (2, 10.0), (2, 20.0), (2, 30.0), (2, 40.0),
        (3, 1.0), (3, 2000.0),  # 2000 above max_thres
        (4, -99.0),             # only no-data → sentinel zone
        # non-integer values: the count-weighted histogram sums round
        # differently from raw-row sums, so compared with a tolerance
        (6, 0.1), (6, 0.7), (6, 0.7), (6, 2.35), (6, -1.9), (6, 0.1),
        (6, 0.1),
    ]
    return spark.createDataFrame(rows, "poly_id BIGINT, meas DOUBLE")


def numpy_zonal(rows, no_data=-99.0, max_thres=1000.0):
    out = {}
    by_zone = {}
    for z, v in rows:
        by_zone.setdefault(z, []).append(v)
    for z, vals in by_zone.items():
        a = np.array([v for v in vals if v != no_data and v <= max_thres])
        if len(a) == 0:
            out[z] = None
            continue
        vals_u, counts = np.unique(a, return_counts=True)
        mode = vals_u[counts == counts.max()].min()  # smallest tie
        out[z] = dict(
            min=a.min(), max=a.max(), mean=a.mean(),
            stddev=a.std(),  # population
            sum=a.sum(), count=float(len(a)),
            median=float(np.median(a)), mode=float(mode),
        )
    return out


def test_zonal_matches_numpy_oracle(spark, joined):
    zones = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 6]],
                                  "poly_id BIGINT")
    got = {
        r.poly_id: r.asDict()
        for r in zonal.zonal_stats(
            joined, value_col="meas", zones=zones, out_no_data_val=-9999.0,
            no_data_val=-99.0, max_thres=1000.0,
        ).collect()
    }
    rows = [(r.poly_id, r.meas) for r in joined.collect()]
    want = numpy_zonal(rows)
    for z in [1, 2, 3, 6]:
        for k, v in want[z].items():
            assert got[z][k] == pytest.approx(v, abs=1e-9), (z, k)
    # zones 4 (all masked) and 5 (absent) → sentinels everywhere
    for z in [4, 5]:
        for k in zonal.ZONAL_STATS:
            assert got[z][k] == -9999.0, (z, k)


@pytest.mark.parametrize("no_data_val", [None, -1.0])
def test_null_values_masked_like_no_data(spark, no_data_val):
    """A NULL value is dropped like no-data whether or not no_data_val
    is set: it never wins the mode, never counts, and a zone of only
    NULLs gets the sentinel in every column (:475-497)."""
    rows = [(1, 1.0), (1, None), (2, 2.0), (2, None), (2, None), (3, None)]
    joined = spark.createDataFrame(rows, "poly_id BIGINT, meas DOUBLE")
    zones = spark.createDataFrame([(1,), (2,), (3,)], "poly_id BIGINT")
    got = {r.poly_id: r.asDict() for r in zonal.zonal_stats(
        joined, value_col="meas", zones=zones, no_data_val=no_data_val
    ).collect()}
    for z, v in [(1, 1.0), (2, 2.0)]:
        for k in ["min", "max", "mean", "sum", "median", "mode"]:
            assert got[z][k] == v, (z, k)
        assert got[z]["count"] == 1.0 and got[z]["stddev"] == 0.0, z
    for k in zonal.ZONAL_STATS:
        assert got[3][k] == -9999.0, k


def test_zonal_plan_one_scan_no_join_no_build_job(spark, tmp_path):
    """On a file input the executed plan reads it once and holds no
    join (one histogram, one aggregate), and building the frame runs
    no Spark job."""
    path = str(tmp_path / "joined.parquet")
    spark.createDataFrame([(z, float(v)) for z in range(4) for v in range(9)],
                          "poly_id BIGINT, meas DOUBLE").write.parquet(path)
    joined = spark.read.parquet(path)
    sc = spark.sparkContext
    sc.setJobGroup("zonal_build", "zonal_stats build")
    try:
        out = zonal.zonal_stats(joined, value_col="meas")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("zonal_build")) == []
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert {r.poly_id: r.mode for r in out.collect()} == {z: 0.0 for z in range(4)}


def test_mode_smallest_tie(spark, joined):
    got = {r.poly_id: r.mode for r in zonal.zonal_stats(
        joined, value_col="meas", no_data_val=-99.0, max_thres=1000.0).collect()}
    # zone 1: 5.0 and 7.0 both occur twice → smallest wins
    assert got[1] == 5.0


def test_population_stddev_not_sample(spark, joined):
    got = {r.poly_id: r.stddev for r in zonal.zonal_stats(
        joined, value_col="meas", no_data_val=-99.0, max_thres=1000.0).collect()}
    a = np.array([10.0, 20.0, 30.0, 40.0])
    assert got[2] == pytest.approx(a.std(), abs=1e-12)      # population
    assert got[2] != pytest.approx(a.std(ddof=1), abs=1e-6)  # not sample


def test_zonal_stats_hybrid_centroid_fallback(spark):
    from rsgislib_spark.operators import zonal

    # raster: 10x10, value = x + y (integers)
    grid = spark.createDataFrame(
        [(x, y, 1, float(x + y)) for y in range(10) for x in range(10)],
        "x BIGINT, y BIGINT, band INT, value DOUBLE")
    # zone 1 has pixels; zone 2 has NONE but its centroid hits (3, 4);
    # zone 3 has none and its centroid is off-raster
    joined = spark.createDataFrame(
        [(1, 2.0), (1, 4.0), (1, 6.0)], "poly_id BIGINT, value DOUBLE")
    # origin (0, 0), res 1, north-up: lon=x+eps, lat=-(y+eps)
    zones = spark.createDataFrame(
        [(1, 0.5, -0.5), (2, 3.5, -4.5), (3, 55.0, -55.0)],
        "poly_id BIGINT, centroid_x DOUBLE, centroid_y DOUBLE")
    out = {r.poly_id: r for r in zonal.zonal_stats_hybrid(
        joined, zones, grid, origin_x=0.0, origin_y=0.0, res=1.0,
        value_col="value").collect()}
    assert out[1]["mean"] == 4.0 and out[1]["count"] == 3.0
    # zone 2: centroid pixel (3,4) value 7 fills every stat
    z2 = out[2]
    assert z2["min"] == z2["max"] == z2["mean"] == z2["median"] == 7.0
    assert z2["stddev"] == 0.0 and z2["count"] == 1.0
    # zone 3: sentinel everywhere
    assert out[3]["mean"] == -9999.0 and out[3]["count"] == -9999.0
