"""Tiling / partitioning: tile assignment, skew salting, halo
duplication. Tiles are written by ``sources/catalog.write_partitioned``
(resumable: ``plans/checkpoint.checkpointed_write``).

The reference's unit of distribution is the tile file
(create_tiles, python/src/imageutils.cpp:2061;
create_tiles_multi_core names x{i}y{j} and fans out over a
multiprocessing Pool, imageutils/__init__.py:2813-2935). Our unit is
the Spark partition keyed by cell id; "overlap" becomes halo
duplication before the shuffle; "tile files" become cell-keyed
partitioned parquet (the Iceberg-partition layout of the north star —
partitionBy(cell) is the same physical layout an Iceberg identity
partition produces, minus the catalog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..cells import quadcell


def assign_tiles(df: DataFrame, lon: str = "lon", lat: str = "lat",
                 res_list=(5, 6, 7, 8, 9), s2_res: int | None = 10) -> DataFrame:
    """Add cell_r{r} columns (+ s2_cell) — the tile-assignment stage
    of the north star. Pure codegen."""
    exprs = ["*"] + [
        quadcell.cell_sql(lon, lat, r) + f" AS cell_r{r}" for r in res_list
    ]
    if s2_res is not None:
        from ..cells import s2cell

        exprs.append(s2cell.cell_sql(lon, lat, s2_res) + " AS s2_cell")
    return df.selectExpr(*exprs)


def tile_name(cell_col: str = "cell") -> F.Column:
    """Deterministic tile-name string from the cell id — mirrors the
    reference's coordinate-derived names (x{i}y{j},
    imageutils/__init__.py:2865; create_wgs84_vector_grid tile_names,
    createvectors.py:981)."""
    c = F.col(cell_col)
    res = (c / F.lit(quadcell.RES_SHIFT)).cast("long")
    cx = F.shiftright(c, 28).bitwiseAND(F.lit((1 << 28) - 1))
    cy = c.bitwiseAND(F.lit((1 << 28) - 1))
    return F.concat(F.lit("r"), res, F.lit("x"), cx, F.lit("y"), cy)


def hot_cells(df: DataFrame, cell_col: str, threshold_rows: int) -> DataFrame:
    """Cells whose row count exceeds the threshold — the dense-city
    skew detector."""
    return (
        df.groupBy(cell_col).agg(F.count("*").alias("n_rows"))
        .where(F.col("n_rows") > threshold_rows)
    )


def salt_hot_cells(df: DataFrame, cell_col: str = "cell",
                   threshold_rows: int = 1_000_000,
                   salt_buckets: int = 16,
                   salted_col: str = "cell_salted",
                   hot: DataFrame | None = None) -> DataFrame:
    """Salted repartition key for skewed cells: rows in hot cells get
    cell||salt (salt = deterministic hash bucket), cold cells keep
    salt 0, so downstream repartition/groupBy on the salted key splits
    the city cells across ``salt_buckets`` tasks. The aggregate-then-
    merge pattern (partial agg on salted key, final agg on cell) is
    free because Spark's hash aggregates are already two-phase; the
    salt exists for JOIN and WRITE fan-out, where AQE's skew splitting
    only covers sort-merge joins (and REBALANCE-origin exchanges).

    ``hot``: optional precomputed hot-cell DataFrame (must contain
    ``cell_col``). The inline default detects hot cells with a
    groupBy count over ``df`` — which RE-EXECUTES df's upstream
    pipeline when df isn't cached; at scale pass the known list
    instead (catalog column stats, the previous run's tile manifest,
    or a cheap sampled count). NB for the plain cell-keyed WRITE-BACK
    exchange specifically, prefer df.hint('rebalance', cell_col):
    AQE splits oversized REBALANCE partitions natively (a
    partitionBy(cell) write tolerates one cell across several files);
    the salt is for shapes where the key must stay exact (equi-JOIN
    fan out, strict one-task-per-tile kernels).
    """
    if hot is None:
        hot = hot_cells(df, cell_col, threshold_rows)
    hot = hot.select(cell_col).withColumn("_hot", F.lit(True))
    out = df.join(F.broadcast(hot), cell_col, "left")
    salt = F.when(
        F.col("_hot"),
        F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt_buckets)),
    ).otherwise(F.lit(0))
    return (
        out.withColumn(
            salted_col,
            F.concat_ws("_", F.col(cell_col).cast("string"), salt.cast("string")),
        )
        .drop("_hot")
    )


def repartition_by_cell(df: DataFrame, cell_col: str = "cell",
                        n_partitions: int | None = None,
                        threshold_rows: int | None = None,
                        hot: DataFrame | None = None) -> DataFrame:
    """Co-locate rows by tile for per-tile work, salting hot cells
    first when a threshold is given (create_tiles + Pool fan-out,
    executor edition). ``hot`` forwards a precomputed hot-cell list
    to salt_hot_cells (see its docstring for when that matters)."""
    key = cell_col
    out = df
    if threshold_rows is not None or hot is not None:
        out = salt_hot_cells(df, cell_col, threshold_rows or 1_000_000,
                             hot=hot)
        key = "cell_salted"
    return out.repartition(n_partitions, key) if n_partitions else out.repartition(key)


def halo_explode(df: DataFrame, cell_col: str, res: int, k: int = 1) -> DataFrame:
    """Duplicate each row into its k-ring neighbour tiles (halo) —
    the reference's tile overlap (imageutils.cpp:2061 overlap param;
    calc_dist_to_img_vals_tiled overlap = ceil(max_dist/res)+10,
    imagecalc/__init__.py:366-377). Downstream per-tile operators
    (focal, distance, clustering) then never need cross-tile reads:
    rows arrive with ``home_cell`` (owner) and ``tile_cell`` (the
    tile that sees them, possibly as halo)."""
    return (
        df.withColumn("home_cell", F.col(cell_col))
        .withColumn("tile_cell", F.explode(quadcell.kring_col(cell_col, k, res)))
    )
