"""Structured Streaming ingest path.

The reference is batch-only (SURVEY §2.11) — this module is the
engine's addition for live crawl feeds: a file-source stream of pages
flows through the SAME geoparse + cell-assignment transformations
(they are plain Column expressions, batch/stream agnostic), with
event-time windowed counts per tile and a watermark for late WARC
timestamps. Resumability here is Spark's own checkpointLocation; the
batch path's manifest resume is plans/checkpoint.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..cells import quadcell
from ..functions.geoparse import geoparse


def stream_pages(spark, path: str, schema: str | None = None) -> DataFrame:
    schema = schema or ("url STRING, warc_ts TIMESTAMP, html BINARY, "
                        "text STRING, lang STRING")
    return spark.readStream.schema(schema).parquet(path)


def windowed_tile_counts(pages: DataFrame, res: int = 5,
                         window: str = "10 minutes",
                         watermark: str = "30 minutes") -> DataFrame:
    """Per (event-time window, tile) page counts with late-data
    tolerance — the streaming twin of the batch tile rollup."""
    pts = geoparse(pages).where("lon IS NOT NULL")
    cells = pts.withColumn("cell", quadcell.cell_col("lon", "lat", res))
    return (
        cells.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "cell")
        .agg(F.count("*").alias("n_pages"))
        .select(F.col("w.start").alias("window_start"), "cell", "n_pages")
    )


def run_available_now(stream_df: DataFrame, out_path: str,
                      checkpoint: str) -> None:
    """Drain everything currently available (the batch-parity trigger
    used in tests), then stop."""
    q = (
        stream_df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_spatial_join(pages: DataFrame, index) -> DataFrame:
    """Streaming geoparse → cell assign → spatial join.

    The engine's live-crawl twin of the batch flagship: every stage is
    a narrow Column expression or a broadcast hash join against the
    polygon cover, so the stream needs no watermark and runs in plain
    append mode — Structured Streaming executes the identical
    codegen-refine plan the batch path uses. The edge refine, which
    spatial_join takes for indexes above
    ``spatial_join._CODEGEN_MAX_EDGES`` edges, counts crossings per
    point, an aggregation append mode rejects without a watermark:
    keep streamed layers under that limit.

    Inner-join semantics only: the other hows rejoin matches to the
    input — a stream-stream join Spark rejects without
    watermark+time-bound machinery. For left/anti semantics on a
    stream, land the inner pairs and reconcile in batch.
    """
    from ..operators import spatial_join as sj

    pts = geoparse(pages).where("lon IS NOT NULL")
    return sj.spatial_join(pts, index, how="inner", pt_id_col="url")
