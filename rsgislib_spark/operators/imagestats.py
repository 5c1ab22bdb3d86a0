"""Pairwise band/image statistics — calc_img_correlation
(imagecalc/__init__.py:2011), calc_img_mutual_info (:2113),
calc_img_earth_move_dist (:2230).

All three are aggregations over the joined pixel pair table
(band A value, band B value per pixel) — pure groupBy/window SQL, no
UDFs. Formulas written explicitly (not engine built-ins) so the
DuckDB oracle evaluates the identical expression tree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def pair_table(grid: DataFrame, band_a: int, band_b: int) -> DataFrame:
    a = grid.where(F.col("band") == band_a).select("x", "y", F.col("value").alias("va"))
    b = grid.where(F.col("band") == band_b).select("x", "y", F.col("value").alias("vb"))
    return a.join(b, ["x", "y"])


def correlation(pairs: DataFrame, a: str = "va", b: str = "vb") -> DataFrame:
    """Pearson r via explicit moment sums (exact on integer-valued
    doubles — bit-reproducible, unlike engine-native corr())."""
    n = F.count("*").cast("double")
    sa, sb = F.sum(a), F.sum(b)
    saa = F.sum(F.col(a) * F.col(a))
    sbb = F.sum(F.col(b) * F.col(b))
    sab = F.sum(F.col(a) * F.col(b))
    r = (n * sab - sa * sb) / (
        F.sqrt(n * saa - sa * sa) * F.sqrt(n * sbb - sb * sb))
    return pairs.agg(r.alias("corr"))


def _bucket(c: str, n_bins: int, lo: float, width: float):
    return F.least(
        F.greatest(F.floor((F.col(c) - lo) / width).cast("long"), F.lit(0)),
        F.lit(n_bins - 1))


def mutual_information(pairs: DataFrame, n_bins: int, lo: float, hi: float,
                       a: str = "va", b: str = "vb",
                       round_to: int = 6) -> DataFrame:
    """MI over an n_bins x n_bins joint histogram (nats). Rounded:
    LN differs by ulps across engines. The total and both marginals
    are window sums over the joint histogram (<= n_bins² rows), so
    the input is read once and building the frame runs no job."""
    width = (hi - lo) / n_bins
    joint = pairs.groupBy(
        _bucket(a, n_bins, lo, width).alias("ba"),
        _bucket(b, n_bins, lo, width).alias("bb"),
    ).agg(F.count("*").alias("nab"))
    nab = F.col("nab")
    n_total = F.sum(nab).over(Window.partitionBy())
    na = F.sum(nab).over(Window.partitionBy("ba"))
    nb = F.sum(nab).over(Window.partitionBy("bb"))
    j = joint.select(nab, n_total.alias("nt"), na.alias("na"), nb.alias("nb"))
    term = (nab / F.col("nt")) * F.log(
        (nab.cast("double") * F.col("nt"))
        / (F.col("na").cast("double") * F.col("nb").cast("double")))
    return j.agg(F.round(F.sum(term), round_to).alias("mi"))


def emd_1d(pairs: DataFrame, n_bins: int, lo: float, hi: float,
           a: str = "va", b: str = "vb", round_to: int = 6) -> DataFrame:
    """1-D earth mover's distance between the two value histograms:
    sum |CDF_a - CDF_b| * binwidth over all n_bins (public closed form).
    Each pair becomes its a-bucket and its b-bucket, one groupBy(bucket)
    counts both histograms, and the total is a window sum over them:
    one input pass, no job while building the frame. The CDFs hold
    over buckets empty in both histograms, so each present bucket
    weighs for the buckets up to the next present one."""
    width = (hi - lo) / n_bins
    h = pairs.select(F.inline(F.array(
        F.struct(_bucket(a, n_bins, lo, width).alias("bucket"),
                 F.lit(1).alias("ia"), F.lit(0).alias("ib")),
        F.struct(_bucket(b, n_bins, lo, width).alias("bucket"),
                 F.lit(0).alias("ia"), F.lit(1).alias("ib")),
    ))).groupBy("bucket").agg(F.sum("ia").alias("na"), F.sum("ib").alias("nb"))
    w = Window.orderBy("bucket")
    upto = w.rowsBetween(Window.unboundedPreceding, 0)
    n_total = F.sum("na").over(Window.partitionBy())
    cdf = h.select(
        (F.lead("bucket", 1, n_bins).over(w) - F.col("bucket")).alias("gap"),
        (F.sum("na").over(upto) / n_total).alias("ca"),
        (F.sum("nb").over(upto) / n_total).alias("cb"),
    )
    return cdf.agg(
        F.round(F.sum(F.abs(F.col("ca") - F.col("cb")) * F.col("gap") * width),
                round_to).alias("emd"))


def window_correlation(pairs: DataFrame, win: int = 32,
                       a: str = "va", b: str = "vb") -> DataFrame:
    """correlation_window (python/src/imagecalc.cpp:2101): Pearson r
    between two bands PER win x win window — one map-side-combinable
    groupBy on the window key, explicit moment sums (bit-reproducible
    like correlation())."""
    n = F.count("*").cast("double")
    sa, sb = F.sum(a), F.sum(b)
    saa = F.sum(F.col(a) * F.col(a))
    sbb = F.sum(F.col(b) * F.col(b))
    sab = F.sum(F.col(a) * F.col(b))
    r = (n * sab - sa * sb) / (
        F.sqrt(n * saa - sa * sa) * F.sqrt(n * sbb - sb * sb))
    return (
        pairs.groupBy(
            F.expr(f"x DIV {win}").alias("wx"),
            F.expr(f"y DIV {win}").alias("wy"))
        .agg(n.alias("n_pix"), r.alias("corr"))
    )


# ------------------------------------------------- split-window thresholds

def _otsu(vals, bins: int = 256) -> float:
    """Otsu threshold (public formula): maximize inter-class variance
    over a histogram; returns the bin-center threshold."""
    import numpy as np

    hist, edges = np.histogram(vals, bins=bins)
    centers = (edges[:-1] + edges[1:]) / 2.0
    w0 = np.cumsum(hist).astype(np.float64)
    w1 = w0[-1] - w0
    m = np.cumsum(hist * centers)
    mu0 = np.where(w0 > 0, m / np.maximum(w0, 1), 0.0)
    mu1 = np.where(w1 > 0, (m[-1] - m) / np.maximum(w1, 1), 0.0)
    between = w0 * w1 * (mu0 - mu1) ** 2
    return float(centers[int(np.argmax(between))])


def _isodata_threshold(vals, max_iter: int = 100) -> float:
    """Ridler–Calvard iterative intermeans threshold."""
    import numpy as np

    t = float(vals.mean())
    for _ in range(max_iter):
        lo, hi = vals[vals <= t], vals[vals > t]
        if len(lo) == 0 or len(hi) == 0:
            break
        nt = 0.5 * (float(lo.mean()) + float(hi.mean()))
        if abs(nt - t) < 1e-9:
            return nt
        t = nt
    return t


def _yen(vals, bins: int = 256) -> float:
    """Yen's maximum-correlation threshold over a histogram."""
    import numpy as np

    hist, edges = np.histogram(vals, bins=bins)
    centers = (edges[:-1] + edges[1:]) / 2.0
    p = hist.astype(np.float64) / max(hist.sum(), 1)
    p1 = np.cumsum(p)
    p2 = np.cumsum(p ** 2)
    with np.errstate(divide="ignore", invalid="ignore"):
        crit = (2.0 * np.log(p1 * (1.0 - p1))
                - np.log(p2 * (p2[-1] - p2)))
    # splits where one class is empty are not candidates (p1 can sit
    # at 1-ulp from float error while the suffix square-sum is exactly
    # zero, which would otherwise produce a spurious +inf criterion)
    crit[(p1 <= 0.0) | (p1 >= 1.0) | (p2 <= 0.0)
         | (p2[-1] - p2 <= 0.0)] = -np.inf
    return float(centers[int(np.argmax(crit))])


THRES_METHODS = {"otsu": _otsu, "isodata": _isodata_threshold, "yen": _yen}


def split_window_thresholds(grid: DataFrame, win: int = 64,
                            method: str = "otsu", band: int = 1,
                            no_data: float | None = None,
                            lower_valid: float | None = None,
                            upper_valid: float | None = None,
                            min_n_vals: int = 100) -> DataFrame:
    """calc_split_win_thresholds (imagecalc/__init__.py:1783): one
    threshold per win x win window (otsu / isodata / yen — public
    formulas mirroring rsgislib.tools.stats), windows with fewer than
    min_n_vals valid pixels dropped, like the reference. Distribution:
    one groupBy(window); thresholds computed vectorized per group."""
    import numpy as np
    import pandas as pd

    if method not in THRES_METHODS:
        raise ValueError(f"method must be one of {sorted(THRES_METHODS)}")
    fn = THRES_METHODS[method]

    px = grid.where(F.col("band") == band)
    if no_data is not None:
        px = px.where(F.col("value") != no_data)
    if lower_valid is not None:
        px = px.where(F.col("value") > lower_valid)
    if upper_valid is not None:
        px = px.where(F.col("value") < upper_valid)
    px = px.select(
        F.expr(f"x DIV {win}").alias("wx"),
        F.expr(f"y DIV {win}").alias("wy"), "value")

    def _thres(key, pdf):
        vals = pdf["value"].to_numpy(dtype=np.float64)
        if len(vals) < min_n_vals:  # keep windows with exactly min_n
            return pd.DataFrame({"wx": pd.array([], dtype="int64"),
                                 "wy": pd.array([], dtype="int64"),
                                 "n_pix": pd.array([], dtype="int64"),
                                 "threshold": pd.array([], dtype="float64")})
        return pd.DataFrame([(key[0], key[1], len(vals), fn(vals))],
                            columns=["wx", "wy", "n_pix", "threshold"])

    return px.groupBy("wx", "wy").applyInPandas(
        _thres, schema="wx BIGINT, wy BIGINT, n_pix BIGINT, threshold DOUBLE")
