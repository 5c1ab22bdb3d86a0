"""Attribute-space kNN — apply_rat_knn semantics
(python/src/rastergis.cpp:2096-2127): k-nearest training rows in
numeric-attribute space (k=12 default), distance metric in
{euclidean, manhattan, chebyshev, minkowski, mahalanobis}, summarise
in {mode, mean, median, min, max, stddev}, optional distance
threshold.

Plan: training rows broadcast (the RAT is small relative to apply
rows — exactly the reference's in-memory RAT assumption), apply rows
stream through one Arrow-batched mapInPandas that computes the
distance matrix per batch and summarises the k nearest. Mahalanobis
precomputes the inverse covariance on the driver from the training
set (numpy, public formula).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StructField, StructType

METRICS = {"euclidean", "manhattan", "chebyshev", "minkowski", "mahalanobis"}
SUMMARIES = {"mode", "mean", "median", "min", "max", "stddev"}


def _dist_matrix(Q: np.ndarray, X: np.ndarray, metric: str, p: float,
                 vi) -> np.ndarray:
    d = Q[:, None, :] - X[None, :, :]
    if metric == "euclidean":
        return np.sqrt(np.sum(d * d, axis=2))
    if metric == "manhattan":
        return np.sum(np.abs(d), axis=2)
    if metric == "chebyshev":
        return np.max(np.abs(d), axis=2)
    if metric == "minkowski":
        return np.sum(np.abs(d) ** p, axis=2) ** (1.0 / p)
    return np.sqrt(np.einsum("qnd,de,qne->qn", d, vi, d))  # mahalanobis


def _summarise(vals: np.ndarray, how: str) -> float:
    if how == "mode":
        u, c = np.unique(vals, return_counts=True)
        return float(u[c == c.max()].min())  # smallest tie, scipy-mstats rule
    return float({
        "mean": np.mean, "median": np.median, "min": np.min,
        "max": np.max, "stddev": np.std,
    }[how](vals))


def apply_knn(apply_df: DataFrame, train_df: DataFrame, feat_cols: list,
              target_col: str, k: int = 12, metric: str = "euclidean",
              summarise: str = "mean", p: float = 3.0,
              max_dist: float | None = None,
              out_col: str = "knn_pred") -> DataFrame:
    """Adds ``out_col`` = summary of the k nearest training targets.

    Rows with no neighbour within max_dist get NaN (the reference
    leaves the RAT column at its init value, rastergis.cpp threshold
    semantics)."""
    if metric not in METRICS:
        raise ValueError(f"metric must be one of {sorted(METRICS)}")
    if summarise not in SUMMARIES:
        raise ValueError(f"summarise must be one of {sorted(SUMMARIES)}")

    rows = train_df.select(*feat_cols, target_col).collect()
    X = np.array([[r[c] for c in feat_cols] for r in rows], dtype=np.float64)
    yv = np.array([r[target_col] for r in rows], dtype=np.float64)
    vi = None
    if metric == "mahalanobis":
        cov = np.cov(X, rowvar=False)
        vi = np.linalg.inv(np.atleast_2d(cov))
    kk, mm, pp, cap, how = int(k), metric, float(p), max_dist, summarise

    def _apply(batches):
        for pdf in batches:
            Q = pdf[feat_cols].to_numpy(dtype=np.float64)
            D = _dist_matrix(Q, X, mm, pp, vi)
            # ONE argsort over the whole batch (row-wise stable sort
            # — identical selection to the previous per-row argsort
            # loop, which cost ~30 µs/row of numpy-call overhead)
            idx = np.argsort(D, axis=1, kind="stable")[:, :kk]
            if cap is None and how == "mean":
                # vectorized mean: np.add.reduce over the same k
                # elements — same pairwise blocking as the 1-D
                # np.mean per row, so bit-identical
                out = yv[idx].mean(axis=1)
            else:
                out = np.empty(len(Q))
                for i in range(len(Q)):
                    ii = idx[i]
                    if cap is not None:
                        ii = ii[D[i, ii] <= cap]
                    out[i] = _summarise(yv[ii], how) if len(ii) else np.nan
            res = pdf.copy()
            res[out_col] = out
            yield res

    from ..session import spread_scan

    schema = StructType(list(apply_df.schema.fields)
                        + [StructField(out_col, DoubleType())])
    return spread_scan(apply_df).mapInPandas(_apply, schema=schema)


def apply_knn_distributed(apply_df: DataFrame, train_df: DataFrame,
                          feat_cols: list, target_col: str, k: int = 12,
                          metric: str = "euclidean",
                          summarise: str = "mean", p: float = 3.0,
                          max_dist: float | None = None,
                          out_col: str = "knn_pred",
                          apply_id_col: str | None = None,
                          rows_per_block: int = 65536) -> DataFrame:
    """apply_rat_knn for a training set TOO LARGE TO COLLECT — the
    exact block nested-loop kNN (the reference's in-memory RAT
    assumption, rastergis.cpp:2096, lifted):

    1. train rows hash into B = ceil(n/rows_per_block) blocks;
    2. each apply row is replicated to every block (the inherent
       O(N_apply x N_train) distance work, spread across B x P
       tasks); a cogrouped applyInPandas computes the BLOCK-LOCAL
       top-k (vectorized distance matrix, k rows out per apply row
       per block — the map-side combine of kNN);
    3. global top-k per apply row over the B*k survivors (window
       rank on a slim (id, dist, target) frame);
    4. summarise the k targets (same mode/mean/median/... rules).

    Tie-break divergence (documented): equal distances rank by
    (dist, target) here, vs training-row order in the broadcast path
    — distributed blocks have no global row order.

    The apply-side payload never shuffles: blocks see only
    (id, features); the prediction joins back on the id key.
    """
    from pyspark.sql import Window, functions as F
    from pyspark.sql.types import DoubleType

    if metric not in METRICS:
        raise ValueError(f"metric must be one of {sorted(METRICS)}")
    if summarise not in SUMMARIES:
        raise ValueError(f"summarise must be one of {sorted(SUMMARIES)}")

    temp_id = apply_id_col is None
    aid = apply_id_col if apply_id_col is not None else "__knn_aid"
    if temp_id:
        apply_df = apply_df.withColumn(
            aid, F.monotonically_increasing_id()).localCheckpoint()

    n_train = train_df.count()
    n_blocks = max(1, -(-n_train // rows_per_block))
    train_b = train_df.select(*feat_cols, target_col).withColumn(
        "_blk", F.pmod(F.xxhash64(*feat_cols, target_col), F.lit(n_blocks))
        .cast("int"))

    vi = None
    if metric == "mahalanobis":
        # distributed covariance from first/second moments (ddof=1,
        # np.cov parity): only the d x d moment matrix reaches the
        # driver
        aggs = [F.count("*").alias("_n")]
        aggs += [F.sum(F.col(c)).alias(f"_s_{i}")
                 for i, c in enumerate(feat_cols)]
        aggs += [F.sum(F.col(a) * F.col(b)).alias(f"_q_{i}_{j}")
                 for i, a in enumerate(feat_cols)
                 for j, b in enumerate(feat_cols) if j >= i]
        m = train_df.agg(*aggs).collect()[0]
        n = m["_n"]
        d = len(feat_cols)
        s = np.array([m[f"_s_{i}"] for i in range(d)])
        cov = np.empty((d, d))
        for i in range(d):
            for j in range(d):
                q = m[f"_q_{min(i, j)}_{max(i, j)}"]
                cov[i, j] = (q - s[i] * s[j] / n) / (n - 1)
        vi = np.linalg.inv(np.atleast_2d(cov))

    ap = apply_df.select(aid, *feat_cols).withColumn(
        "_blk", F.explode(F.array(*[F.lit(b) for b in range(n_blocks)])))
    kk, mm, pp = int(k), metric, float(p)
    aid_type = dict(apply_df.dtypes)[aid]

    def local_topk(a_pdf: pd.DataFrame, t_pdf: pd.DataFrame) -> pd.DataFrame:
        if a_pdf.empty or t_pdf.empty:
            out = a_pdf.iloc[:0][[aid]].copy()
            out["_dist"] = pd.Series([], dtype="float64")
            out["_tgt"] = pd.Series([], dtype="float64")
            return out
        Q = a_pdf[feat_cols].to_numpy(dtype=np.float64)
        X = t_pdf[feat_cols].to_numpy(dtype=np.float64)
        yv = t_pdf[target_col].to_numpy(dtype=np.float64)
        D = _dist_matrix(Q, X, mm, pp, vi)
        take = min(kk, D.shape[1])
        idx = np.argpartition(D, take - 1, axis=1)[:, :take]
        rows_ix = np.repeat(np.arange(len(Q)), take)
        return pd.DataFrame({
            aid: a_pdf[aid].to_numpy()[rows_ix],
            "_dist": D[rows_ix, idx.ravel()],
            "_tgt": yv[idx.ravel()],
        })

    cand = (
        ap.groupBy("_blk").cogroup(train_b.groupBy("_blk"))
        .applyInPandas(local_topk, f"`{aid}` {aid_type}, _dist DOUBLE, _tgt DOUBLE")
    )
    if max_dist is not None:
        cand = cand.where(F.col("_dist") <= float(max_dist))
    w = Window.partitionBy(aid).orderBy("_dist", "_tgt")
    topk = cand.withColumn("_rn", F.row_number().over(w)) \
        .where(F.col("_rn") <= kk)

    @F.pandas_udf(DoubleType())
    def _summ(arrs: pd.Series) -> pd.Series:
        return pd.Series([
            _summarise(np.asarray(a, dtype=np.float64), summarise)
            for a in arrs])

    preds = topk.groupBy(aid).agg(
        _summ(F.collect_list("_tgt")).alias(out_col))
    out = apply_df.join(preds, aid, "left")
    return out.drop(aid) if temp_id else out
