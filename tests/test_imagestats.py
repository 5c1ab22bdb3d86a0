"""Image-pair histograms (calc_img_mutual_info, calc_img_earth_move_dist)
vs numpy on a small two-band grid; building either frame runs no
Spark job."""

import numpy as np
import pytest

from rsgislib_spark.operators import imagestats

N_BINS, LO, HI = 8, -10.0, 50.0


@pytest.fixture(scope="module")
def bands():
    rng = np.random.default_rng(3)
    a = rng.integers(-20, 60, size=(20, 25)).astype(np.float64)
    b = np.round(0.6 * a + rng.normal(0.0, 6.0, size=a.shape))
    return a, b


@pytest.fixture(scope="module")
def pairs(spark, bands):
    rows = [(x, y, band, float(arr[y, x]))
            for band, arr in ((1, bands[0]), (2, bands[1]))
            for y in range(arr.shape[0]) for x in range(arr.shape[1])]
    grid = spark.createDataFrame(rows, "x BIGINT, y BIGINT, band INT, value DOUBLE")
    return imagestats.pair_table(grid, 1, 2)


def _buckets(v):
    width = (HI - LO) / N_BINS
    return np.clip(np.floor((v.ravel() - LO) / width), 0, N_BINS - 1).astype(int)


def _build_without_jobs(spark, build):
    sc = spark.sparkContext
    group = f"imagestats_build_{build.__name__}"
    sc.setJobGroup(group, "imagestats frame build")
    try:
        df = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    return df


def test_mutual_information_matches_numpy_without_build_jobs(spark, pairs, bands):
    def mutual_information():
        return imagestats.mutual_information(pairs, N_BINS, LO, HI)

    df = _build_without_jobs(spark, mutual_information)
    joint = np.zeros((N_BINS, N_BINS))
    np.add.at(joint, (_buckets(bands[0]), _buckets(bands[1])), 1)
    p = joint / joint.sum()
    pa, pb = p.sum(axis=1), p.sum(axis=0)
    nz = p > 0
    want = float((p[nz] * np.log(p[nz] / np.outer(pa, pb)[nz])).sum())
    assert df.collect()[0]["mi"] == pytest.approx(want, abs=2e-6)


def test_emd_1d_matches_numpy_without_build_jobs(spark, pairs, bands):
    def emd_1d():
        return imagestats.emd_1d(pairs, N_BINS, LO, HI)

    df = _build_without_jobs(spark, emd_1d)
    ha = np.bincount(_buckets(bands[0]), minlength=N_BINS)
    hb = np.bincount(_buckets(bands[1]), minlength=N_BINS)
    ca, cb = np.cumsum(ha) / ha.sum(), np.cumsum(hb) / hb.sum()
    want = float(np.abs(ca - cb).sum() * (HI - LO) / N_BINS)
    assert df.collect()[0]["emd"] == pytest.approx(want, abs=2e-6)
