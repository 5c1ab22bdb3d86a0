"""Attribute-table operators — the vectorutils/vectorattrs surface.

Each function cites the reference operator it re-expresses
(SURVEY.md §2.2/2.6/2.7). These are thin by design: the reference
needed 40-120 LoC of OGR feature loops per operator; in Spark each is
a one-expression transformation that Catalyst fuses into scans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.types import DoubleType, StructField, StructType


def subset_by_attribute(df: DataFrame, col: str, values: list,
                        match: str = "equals") -> DataFrame:
    """subset_by_attribute (vectorutils/__init__.py:2688): keep rows
    where col equals / contains / starts with any listed value."""
    c = F.col(col)
    if match == "equals":
        cond = c.isin(values)
    elif match == "contains":
        cond = F.lit(False)
        for v in values:
            cond = cond | c.contains(v)
    elif match == "start":
        cond = F.lit(False)
        for v in values:
            cond = cond | c.startswith(v)
    else:
        raise ValueError("match must be equals/contains/start")
    return df.where(cond)


def drop_rows_by_attribute(df: DataFrame, col: str, values: list,
                           match: str = "equals") -> DataFrame:
    """drop_rows_by_attribute (vectorutils/__init__.py:2794): the
    inverse filter of subset_by_attribute."""
    c = F.col(col)
    if match == "equals":
        cond = c.isin(values)
    elif match == "contains":
        cond = F.lit(False)
        for v in values:
            cond = cond | c.contains(v)
    elif match == "start":
        cond = F.lit(False)
        for v in values:
            cond = cond | c.startswith(v)
    else:
        raise ValueError("match must be equals/contains/start")
    return df.where(~cond)


def dense_ids(df: DataFrame, cols: list, out_col: str) -> DataFrame:
    """1..N dense ids over the distinct values of ``cols`` with NO
    single-partition exchange anywhere in the plan.

    ``dense_rank().over(Window.orderBy(col))`` moves the whole input
    to ONE partition — the classic global-Window scale-killer. The
    scalable idiom (two-pass histogram rank):

    1. distinct values → repartitionByRange (ordered range partitions)
    2. tiny per-partition histogram → driver cumsum → offset table
    3. row_number WITHIN each range partition + broadcast offset

    Returns (cols..., out_col) — broadcast-join it back to the input.
    The distinct side is persisted so both passes see identical range
    boundaries; the cache is the distinct VALUES only (small) and is
    left to Spark's LRU eviction because the returned frame still
    references it lazily (callers doing many id assignments in one
    session can spark.catalog.clearCache() between stages)."""
    spark = df.sparkSession
    vals = (
        df.select(*cols).distinct()
        .repartitionByRange(*[F.col(c) for c in cols])
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    hist = vals.groupBy("_pid").agg(F.count("*").alias("_n")).collect()
    sizes = {int(r["_pid"]): int(r["_n"]) for r in hist}
    offsets, run = [], 0
    for pid in sorted(sizes):
        offsets.append((pid, run))
        run += sizes[pid]
    off_df = F.broadcast(
        spark.createDataFrame(offsets or [(0, 0)], "_pid INT, _off BIGINT"))
    w = Window.partitionBy("_pid").orderBy(*cols)
    # BIGINT, never INT: past 2^31 distinct values (plausible at
    # 100 TB, e.g. union_of_clumps pair ids) a non-ANSI int cast
    # silently wraps to negative/duplicate ids
    return (
        vals.withColumn("_rn", F.row_number().over(w))
        .join(off_df, "_pid")
        .withColumn(out_col, (F.col("_off") + F.col("_rn")).cast("bigint"))
        .drop("_pid", "_rn", "_off")
    )


def add_unq_numeric_col(df: DataFrame, col: str,
                        out_col: str = "unq_id") -> DataFrame:
    """add_unq_numeric_col (vectorattrs/__init__.py:580): unique id
    per distinct value of a column. Ranks only the small distinct side
    (dense_ids — no global Window over the full table) and
    broadcast-joins the id map back; null values keep the dense_rank
    semantics via a null-safe join key."""
    ids = dense_ids(df, [col], out_col).withColumnRenamed(col, "_v")
    return (
        df.join(F.broadcast(ids), F.col(col).eqNullSafe(F.col("_v")))
        .drop("_v")
    )


def add_fid_col(df: DataFrame, out_col: str = "fid") -> DataFrame:
    """add_fid_col (vectorattrs/__init__.py:846). Sequential ids need
    a global ordering — monotonically_increasing_id is the
    shuffle-free Spark idiom (unique, not dense; documented
    divergence from the reference's 1..N)."""
    return df.withColumn(out_col, F.monotonically_increasing_id())


def find_replace_str(df: DataFrame, cols: list, find: str,
                     replace: str) -> DataFrame:
    """find_replace_str_vec_lyr (vectorattrs/__init__.py:974)."""
    out = df
    for c in cols:
        out = out.withColumn(c, F.replace(F.col(c), F.lit(find), F.lit(replace)))
    return out


def check_str_col(df: DataFrame, col: str, max_len: int = 254,
                  strip_chars: str = r"[^A-Za-z0-9 _\-]") -> DataFrame:
    """check_str_col (vectorattrs/__init__.py:1783): length cap +
    character strip."""
    return df.withColumn(
        col, F.substring(F.regexp_replace(F.col(col), strip_chars, ""), 1, max_len)
    )


def sort_by(df: DataFrame, cols: list, ascending: list) -> DataFrame:
    """sort_vec_lyr (vectorattrs/__init__.py:920): multi-column sort,
    per-column direction."""
    order = [F.col(c).asc() if a else F.col(c).desc()
             for c, a in zip(cols, ascending)]
    return df.orderBy(*order)


def rm_duplicates(df: DataFrame, col: str, order_col: str) -> DataFrame:
    """rm_attrib_duplicates (vectorutils/__init__.py:3666) with a
    DETERMINISTIC keeper (lowest order_col) — dropDuplicates keeps an
    arbitrary row, which would not be reproducible."""
    w = Window.partitionBy(col).orderBy(order_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1).drop("_rn")
    )


def deterministic_sample(df: DataFrame, key: str, pct: int,
                         salt: int = 2654435761) -> DataFrame:
    """split_vec_lyr_random_subset (vectorutils/__init__.py:3248)
    semantics with a hash-based deterministic sample (reproducible
    across engines and runs; Spark's sample() is seed-stable only
    per-partitioning)."""
    return df.where((F.col(key) * salt) % 100 < pct)


def train_test_split(df: DataFrame, key: str, test_pct: int = 20) -> tuple:
    """create_train_test_smpls (vectorutils/__init__.py:3301),
    hash-split for determinism."""
    test = deterministic_sample(df, key, test_pct)
    train = df.join(test.select(key), key, "left_anti")
    return train, test


def range_lut(df: DataFrame, col: str, lut: list, out_col: str,
              default=None) -> DataFrame:
    """add_numeric_col_range_lut (vectorattrs/__init__.py:1687): LUT
    of [lower, upper) ranges -> value, as one CASE chain (no join
    needed when the LUT is literal; a non-equi range join covers the
    table-driven variant)."""
    expr = F.lit(default)
    for lo, hi, val in reversed(lut):
        expr = F.when((F.col(col) >= lo) & (F.col(col) < hi), F.lit(val)).otherwise(expr)
    return df.withColumn(out_col, expr)


def range_lut_join(df: DataFrame, col: str, lut_df: DataFrame,
                   lo: str = "lo", hi: str = "hi") -> DataFrame:
    """Table-driven range LUT as a broadcast non-equi join (the
    interval-join member of the join-type rubric)."""
    return df.join(
        F.broadcast(lut_df),
        (F.col(col) >= F.col(lo)) & (F.col(col) < F.col(hi)),
        "left",
    )


def stratified_sample(df: DataFrame, strata_col: str, key: str,
                      fractions: dict) -> DataFrame:
    """histo_sampling / sampleBy semantics (python/src/rastergis.cpp:
    2128: histogram-stratified sample) with the deterministic hash
    sampler — per-stratum percentage, reproducible across runs and
    engines."""
    expr = F.lit(-1)
    for stratum, pct in fractions.items():
        expr = F.when(F.col(strata_col) == stratum, F.lit(int(pct))).otherwise(expr)
    return df.where((F.col(key) * 2654435761) % 100 < expr)


def merge_tables(dfs: list) -> DataFrame:
    """merge_vector_layers (vectorutils/__init__.py:2906): UNION ALL
    with schema alignment (allowMissingColumns mirrors OGR's
    create-missing-fields behaviour)."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def merge_utm_vecs_wgs84(dfs: list, easting: str = "easting",
                         northing: str = "northing", zone: str = "zone",
                         south: bool = False) -> DataFrame:
    """merge_utm_vecs_wgs84 (vectorutils/__init__.py:3092): layers in
    (possibly different) UTM zones are canonicalized to WGS84 lon/lat
    at ingest (inverse transverse-Mercator, crs.utm_inverse_np, as a
    vectorized Arrow batch) and UNION ALL'd — the engine's
    one-global-CRS design note made real."""
    import numpy as np
    import pandas as pd

    from ..functions import crs

    def to_wgs84(df: DataFrame) -> DataFrame:
        schema = StructType(list(df.schema.fields) + [
            StructField("lon", DoubleType()), StructField("lat", DoubleType())])

        def gen(batches):
            for pdf in batches:
                lon, lat = crs.utm_inverse_np(
                    pdf[easting].to_numpy(dtype=np.float64),
                    pdf[northing].to_numpy(dtype=np.float64),
                    pdf[zone].to_numpy(dtype=np.float64), south)
                out = pdf.copy()
                out["lon"] = lon
                out["lat"] = lat
                yield out

        return df.mapInPandas(gen, schema=schema)

    return merge_tables([to_wgs84(d) for d in dfs])


def count_per_value(df: DataFrame, col: str) -> DataFrame:
    """count_feats_per_att_val (vectorutils/__init__.py:323)."""
    return df.groupBy(col).agg(F.count("*").alias("n_feats"))
