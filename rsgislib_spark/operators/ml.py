"""Matrix-decomposition / clustering wrappers — the imagecalc ML ops
(pca python/src/imagecalc.cpp:2005, get_pca_eigen_vector
imagecalc/__init__.py:628, kmeans_clustering imagecalc.cpp:1889,
isodata_clustering :1916) re-expressed on Spark ML (the distributed
twin of the reference's single-node Shark/OpenCV kernels).

The reference trains on a random pixel sample and applies per pixel;
we do the same: deterministic hash sample for training, transform for
application.
"""

from __future__ import annotations

from pyspark.ml.clustering import KMeans
from pyspark.ml.feature import PCA, VectorAssembler
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import IntegerType, StructField, StructType


def _assemble(df: DataFrame, feat_cols: list) -> DataFrame:
    return VectorAssembler(inputCols=feat_cols, outputCol="_fv").transform(df)


def kmeans_cluster(df: DataFrame, feat_cols: list, k: int = 8,
                   seed: int = 42, sample_pct: int | None = None,
                   key_col: str | None = None,
                   out_col: str = "cluster") -> DataFrame:
    """kmeans_clustering semantics: fit on a (deterministic) sample,
    assign every row. Returns df + cluster id column."""
    av = _assemble(df, feat_cols)
    train = av
    if sample_pct is not None and key_col is not None:
        train = av.where((F.col(key_col) * 2654435761) % 100 < sample_pct)
    model = KMeans(k=k, seed=seed, featuresCol="_fv",
                   predictionCol=out_col).fit(train)
    return model.transform(av).drop("_fv")


def isodata_cluster(df: DataFrame, feat_cols: list, n_clusters: int = 8,
                    max_n_iters: int = 5, min_dist_clusters: float = 0.5,
                    max_std_dev: float | None = None,
                    min_n_feats: int = 1, seed: int = 42,
                    out_col: str = "cluster") -> tuple:
    """isodata_clustering (python/src/imagecalc.cpp:1916): k-means
    with split/merge rounds — clusters whose per-dim stddev exceeds
    max_std_dev are SPLIT along their widest dimension; centroid pairs
    closer than min_dist_clusters are MERGED; clusters with fewer than
    min_n_feats members are dropped.

    Distribution: each round is one Spark ML k-means (itself
    distributed Lloyd iterations) plus a tiny per-cluster stats agg;
    split/merge runs driver-side on the k centroids (k rows — the same
    driver-scale work the reference does single-threaded).

    Returns (assigned_df, centroids list)."""
    import numpy as np
    import pandas as pd

    feats = df.select(*df.columns).persist()

    def assign(centers: np.ndarray) -> DataFrame:
        ctr = centers.copy()  # broadcast via closure (k x d, tiny)
        schema = StructType(list(feats.schema.fields)
                            + [StructField(out_col, IntegerType())])

        def gen(batches):
            for pdf in batches:
                X = pdf[feat_cols].to_numpy(dtype=np.float64)
                d2 = ((X[:, None, :] - ctr[None, :, :]) ** 2).sum(axis=2)
                out = pdf.copy()
                out[out_col] = np.argmin(d2, axis=1).astype(np.int32)
                yield out

        return feats.mapInPandas(gen, schema=schema)

    # deterministic diagonal init (the reference's
    # INITCLUSTER_DIAGONAL_* family): k points along the feature-space
    # diagonal between the per-dim min and max
    rng_stats = feats.agg(
        *[F.min(c).alias(f"lo_{c}") for c in feat_cols],
        *[F.max(c).alias(f"hi_{c}") for c in feat_cols]).collect()[0]
    lo = np.array([rng_stats[f"lo_{c}"] for c in feat_cols], dtype=np.float64)
    hi = np.array([rng_stats[f"hi_{c}"] for c in feat_cols], dtype=np.float64)
    ts = (np.arange(n_clusters, dtype=np.float64) + 0.5) / n_clusters
    centers = lo[None, :] + ts[:, None] * (hi - lo)[None, :]

    for _ in range(max_n_iters):
        assigned = assign(centers)
        stats = sorted(
            assigned.groupBy(out_col)
            .agg(F.count("*").alias("n"),
                 *[F.avg(c).alias(f"m_{c}") for c in feat_cols],
                 *[F.stddev_pop(c).alias(f"s_{c}") for c in feat_cols])
            .collect(),
            key=lambda r: r[out_col],  # collect() order is partition-
            # arrival: sort so split/merge order (and thus the final
            # centroids) is deterministic run-to-run
        )
        new_centers = []
        for r in stats:
            if r["n"] < min_n_feats:
                continue  # drop tiny cluster
            mean = np.array([r[f"m_{c}"] for c in feat_cols])
            sd = np.array([(r[f"s_{c}"] or 0.0) for c in feat_cols])
            if max_std_dev is not None and sd.max() > max_std_dev \
                    and r["n"] >= 2 * min_n_feats:
                off = np.zeros(len(feat_cols))
                off[int(np.argmax(sd))] = sd.max()
                new_centers.append(mean + off)  # split widest dim
                new_centers.append(mean - off)
            else:
                new_centers.append(mean)
        # merge near centroid pairs (greedy, deterministic order)
        merged: list = []
        for c in new_centers:
            for i, m in enumerate(merged):
                if float(np.linalg.norm(c - m)) < min_dist_clusters:
                    merged[i] = (m + c) / 2.0
                    break
            else:
                merged.append(c)
        new = np.array(merged)
        if new.shape == centers.shape and np.allclose(new, centers):
            break
        centers = new
    out = assign(centers)
    feats.unpersist()
    return out, centers.tolist()


def pca_project(df: DataFrame, feat_cols: list, n_components: int = 2,
                out_col: str = "pca") -> DataFrame:
    """pca / get_pca_eigen_vector semantics: project rows onto the
    top-n principal components (vector column out)."""
    av = _assemble(df, feat_cols)
    model = PCA(k=n_components, inputCol="_fv", outputCol=out_col).fit(av)
    return model.transform(av).drop("_fv"), model.pc.toArray()
