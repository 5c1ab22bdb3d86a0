"""Per-group time-series model fitting — the timeseries module's
season-trend regressions (python/rsgislib/timeseries/modelfitting.py:
167,269: per-pixel OLS over a stack of dated rasters via the RIOS
block applier).

Spark shape: groupBy(key).applyInPandas(fit) — each group's
observations arrive as one pandas frame, numpy does the closed-form
OLS. This is the reference's block-applier pattern with executors
instead of RIOS.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType


def fit_linear_trend(df: DataFrame, key_cols: list, t_col: str,
                     value_col: str) -> DataFrame:
    """Per key: OLS slope/intercept/r2/n of value over t (t numeric,
    e.g. days since epoch). Groups with < 2 points get NaN slope."""

    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        out = {c: [pdf[c].iloc[0]] for c in key_cols}
        t = pdf[t_col].to_numpy(dtype=np.float64)
        v = pdf[value_col].to_numpy(dtype=np.float64)
        n = len(t)
        if n >= 2 and np.ptp(t) > 0:
            tm, vm = t.mean(), v.mean()
            sxx = np.sum((t - tm) ** 2)
            sxy = np.sum((t - tm) * (v - vm))
            slope = sxy / sxx
            intercept = vm - slope * tm
            ss_res = np.sum((v - (slope * t + intercept)) ** 2)
            ss_tot = np.sum((v - vm) ** 2)
            r2 = 1.0 - ss_res / ss_tot if ss_tot > 0 else 1.0
        else:
            slope = intercept = r2 = np.nan
        out.update(slope=[slope], intercept=[intercept], r2=[r2], n_obs=[n])
        return pd.DataFrame(out)

    schema = StructType(
        [f for f in df.schema.fields if f.name in key_cols]
        + [StructField(n, DoubleType()) for n in ("slope", "intercept", "r2")]
        + [StructField("n_obs", LongType())])
    return df.groupBy(*key_cols).applyInPandas(_fit, schema=schema)


def fit_linear_trend_sql(df: DataFrame, key_cols: list, t_col: str,
                         value_col: str) -> DataFrame:
    """Pure-codegen OLS — no Arrow, no Python: two map-side-combinable
    aggregations (means, then centered moments) + closed forms. At
    10^12 rows this is strictly better than the applyInPandas variant:
    the raw observations never leave the JVM and both aggregations get
    partial (map-side) combine. r2 = sxy^2/(sxx*syy); degenerate
    groups (n<2 or zero t-variance) yield NULL instead of NaN."""
    t, v = F.col(t_col), F.col(value_col)
    m = df.groupBy(*key_cols).agg(
        (F.sum(t) / F.count(t)).alias("_tm"),
        (F.sum(v) / F.count(v)).alias("_vm"),
        F.count("*").alias("n_obs"),
    )
    j = df.join(m, key_cols)
    ct, cv = t - F.col("_tm"), v - F.col("_vm")
    fit = j.groupBy(*key_cols).agg(
        (F.sum(ct * cv) / F.sum(ct * ct)).alias("slope"),
        (F.sum(ct * cv) * F.sum(ct * cv)
         / (F.sum(ct * ct) * F.sum(cv * cv))).alias("r2"),
        F.any_value("_tm").alias("_tm"),
        F.any_value("_vm").alias("_vm"),
        F.any_value("n_obs").alias("n_obs"),
    )
    return fit.select(
        *key_cols, "slope",
        (F.col("_vm") - F.col("slope") * F.col("_tm")).alias("intercept"),
        "r2", "n_obs",
    )
