"""The north-star job as a spark-submit entry point.

    spark-submit --master local[8] \
        --py-files /tmp/rsgislib_spark.zip \
        tools/submit_job.py --pages 100000 --out /tmp/tiles

The session gets the engine's ``session.DEFAULTS`` except the master
and the driver memory, which spark-submit sets; a ``--conf`` value
wins over a default. README shows how to start the driver JVM with the
class archive of ``session.class_archive``.

Generates (or reads) the pages table, geoparses, assigns quad r5-r9 +
S2 cells, spatial-joins the polygon layer, and writes cell-partitioned
tile assignments through the resumable checkpoint layer. Prints one
JSON line with row counts + manifest stats.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=100_000)
    ap.add_argument("--pages-path", default=None,
                    help="existing pages parquet, one row per url "
                         "(else synthesize --pages rows)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--partition-res", type=int, default=5)
    args = ap.parse_args()

    from pyspark import SparkConf, SparkContext
    from pyspark.sql import SparkSession

    # imports resolve from --py-files on executors
    from rsgislib_spark.data import fixtures, pages
    from rsgislib_spark.session import DEFAULTS

    # attach to the JVM spark-submit started, so SparkConf() reads its
    # --conf values
    SparkContext._ensure_initialized()
    conf = SparkConf()
    for k, v in DEFAULTS.items():
        if k != "spark.driver.memory" and not conf.contains(k):
            conf.set(k, v)
    spark = (SparkSession.builder.appName("rsgislib-spark-tile-assign")
             .config(conf=conf).getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    from rsgislib_spark.functions.geoparse import geoparse
    from rsgislib_spark.operators import spatial_join as sj
    from rsgislib_spark.operators import tiling
    from rsgislib_spark.plans import checkpoint

    if args.pages_path:
        pg = spark.read.parquet(args.pages_path)
    else:
        pg = pages.pages_df(spark, args.pages).drop("lon_true", "lat_true")

    pts = geoparse(pg).where("lon IS NOT NULL")
    assigned = tiling.assign_tiles(pts)
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS)
    # url is the pages table's key: joining back on it keeps the plan
    # free of a checkpointed temp id, so a re-run can resume
    joined = sj.spatial_join(assigned, idx, how="left", pt_id_col="url")

    cell_col = f"cell_r{args.partition_res}"
    # prune_stale=True: this job OWNS args.out exclusively, so tiles
    # from a superseded lineage (e.g. a different --pages) must not
    # survive to mix into reads; the library default stays False for
    # shared/append paths
    stats = checkpoint.checkpointed_write(
        joined.select("url", "lon", "lat", "poly_id", cell_col),
        args.out, cell_col, prune_stale=True)

    print(json.dumps({
        "pages": pg.count(),
        "geolocated": pts.count(),
        "tiles_written": stats["written"],
        "tiles_skipped": stats["skipped"],
        "rows_written": stats["rows"],
        "lineage": stats["lineage"],
    }))
    spark.stop()


if __name__ == "__main__":
    main()
