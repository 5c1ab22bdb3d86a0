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


def test_emd_1d_counts_buckets_empty_in_both(spark):
    """An interior bucket empty in both histograms still carries the
    CDF gap: 4 pairs (0.5, 2.5) over 3 unit bins move all mass 2 bins."""
    pairs = spark.createDataFrame([(0.5, 2.5)] * 4, "va DOUBLE, vb DOUBLE")
    assert imagestats.emd_1d(pairs, 3, 0.0, 3.0).collect()[0]["emd"] == 2.0


def test_emd_1d_matches_numpy_with_empty_interior_bucket(spark):
    """Values on a grid that leaves interior buckets empty in both
    bands (and one empty in only one) match the closed form over all
    bins."""
    rng = np.random.default_rng(11)
    a = rng.choice([0.5, 1.5, 6.5, 7.5], size=200)
    b = rng.choice([1.5, 4.5, 7.5], size=200)
    pairs = spark.createDataFrame([(float(x), float(y)) for x, y in zip(a, b)],
                                  "va DOUBLE, vb DOUBLE")
    ha = np.bincount(np.floor(a).astype(int), minlength=8)
    hb = np.bincount(np.floor(b).astype(int), minlength=8)
    assert ((ha == 0) & (hb == 0))[2:4].all()
    want = float(np.abs(np.cumsum(ha) - np.cumsum(hb)).sum() / 200)
    got = imagestats.emd_1d(pairs, 8, 0.0, 8.0).collect()[0]["emd"]
    assert got == pytest.approx(want, abs=2e-6)
